package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

/** Parquet footers of directories the engine wrote itself, read on the
  * driver with no Spark job: the Spark schema a read of them would infer,
  * and a key column's per-directory range from row-group statistics. This
  * is how Iceberg plans (from schemas and column stats held in metadata);
  * here the metadata is the data files' own footers. A call lists the
  * directory's `part-*.parquet` files (partition subdirectories included,
  * `_`/`.` entries skipped as Spark's file index skips them) and opens
  * their footers with the session's Hadoop conf.
  */
private[graft] object ParquetFooters {

  private def dataFiles(conf: Configuration, dir: String): Seq[Path] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def walk(p: Path): Seq[Path] = fs.listStatus(p).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (st.isDirectory) walk(st.getPath)
      else if (name.startsWith("part-") && name.endsWith(".parquet")) Seq(st.getPath)
      else Nil
    }
    walk(root).sortBy(_.toString)
  }

  private def footer(conf: Configuration, file: Path): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFooter finally reader.close()
  }

  private def sparkSchema(spark: SparkSession, file: Path, md: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, md),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** The schema `spark.read.parquet(dirs: _*)` infers with mergeSchema
    * off: the footer of the first data file by sorted path, through its
    * `org.apache.spark.sql.parquet.row.metadata` JSON when present, else
    * the parquet-schema converter. Partition columns are not included;
    * `spark.read.schema(s)` still discovers them from the paths. */
  def schema(spark: SparkSession, dirs: Seq[String]): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val files = dirs.flatMap(dataFiles(conf, _))
    require(files.nonEmpty, s"no parquet data files under ${dirs.mkString(", ")}")
    val first = files.minBy(_.toString)
    sparkSchema(spark, first, footer(conf, first))
  }

  /** Range of the top-level column `key` over every row of `dir`, from
    * row-group statistics, as values of the key's Spark type:
    *  - `Some(Some((min, max)))`: the range of the non-null keys;
    *  - `Some(None)`: the directory holds no non-null key (no rows, or
    *    only nulls), so no key can fall inside it;
    *  - `None`: unknown. A row group lacks statistics for the key, or the
    *    key's type has no exact footer min/max. Only the signed integral
    *    types and UTF-8 strings (unsigned byte order, as Spark compares
    *    strings) qualify; floating point (NaN, signed zeros), decimals,
    *    dates and timestamps do not. */
  def keyRange(spark: SparkSession, dir: String, key: String): Option[Option[(Any, Any)]] = {
    val conf = spark.sessionState.newHadoopConf()
    val footers = dataFiles(conf, dir).map(f => f -> footer(conf, f))
    val toSpark = footers.headOption.flatMap { case (f, md) =>
      val fileSchema = md.getFileMetaData.getSchema
      val keyType = if (fileSchema.containsField(key))
        Some(fileSchema.getType(fileSchema.getFieldIndex(key))) else None
      keyType.collect { case pt: PrimitiveType => pt }.flatMap(exactValue(_,
        sparkSchema(spark, f, md).find(_.name == key).map(_.dataType)))
    }
    val chunks = for ((_, md) <- footers; b <- md.getBlocks.asScala if b.getRowCount > 0)
      yield b.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(key))).orNull
    def described(c: ColumnChunkMetaData) = c != null && c.getStatistics != null &&
      !c.getStatistics.isEmpty && (c.getStatistics.hasNonNullValue ||
        (c.getStatistics.isNumNullsSet && c.getStatistics.getNumNulls == c.getValueCount))
    toSpark.filter(_ => chunks.forall(described)).map { conv =>
      chunks.map(_.getStatistics).filter(_.hasNonNullValue) match {
        case Seq() => None
        case first +: rest =>
          val acc = first.copy()
          rest.foreach(acc.mergeStatistics)
          Some((conv(acc.genericGetMin), conv(acc.genericGetMax)))
      }
    }
  }

  /** Footer value → Spark external value, for the key types whose footer
    * min/max are exact in Spark's own ordering. */
  private def exactValue(pt: PrimitiveType, sparkType: Option[DataType]): Option[Any => Any] = {
    val logical = pt.getLogicalTypeAnnotation
    val signedInt = logical == null || (logical match {
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    })
    (pt.getPrimitiveTypeName, sparkType) match {
      case (PrimitiveTypeName.INT32, Some(IntegerType)) if signedInt => Some(identity)
      case (PrimitiveTypeName.INT32, Some(ShortType)) if signedInt =>
        Some(v => v.asInstanceOf[Int].toShort)
      case (PrimitiveTypeName.INT32, Some(ByteType)) if signedInt =>
        Some(v => v.asInstanceOf[Int].toByte)
      case (PrimitiveTypeName.INT64, Some(LongType)) if signedInt => Some(identity)
      case (PrimitiveTypeName.BINARY, Some(StringType))
          if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(v => v.asInstanceOf[Binary].toStringUsingUTF8)
      case _ => None
    }
  }
}
