package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition checkpoint lineage (north rule): a job writes its output
  * partition-by-partition together with a commit log
  * `(partition_id, status, rows, cell_min, cell_max)`; a restarted job
  * skips the committed partitions and processes only the rest.
  *
  * This emulates Iceberg-style snapshot/manifest semantics over plain
  * parquet (no Iceberg jars offline — SURVEY.md §7.4 item 5): the data
  * sink is partitioned by `part_id`, the manifest is the source of truth
  * for which partitions are durable, and re-running is idempotent because
  * each partition overwrites its own directory.
  */
object Lineage {

  /** Compute the partition manifest of `df` keyed by `partCol` (a stable
    * content-derived partition id, e.g. a cell range bucket). */
  def manifest(df: DataFrame, partCol: String): DataFrame =
    df.groupBy(col(partCol).as("part_id"))
      .agg(count(lit(1)).as("rows"),
           min(col("cell")).as("cell_min"), max(col("cell")).as("cell_max"))
      .withColumn("status", lit("committed"))

  /** Run `df` to a checkpointed sink: writes data partitioned by partCol
    * plus the manifest. Returns (partitions written this run, total).
    *
    * Job plan: when a manifest exists, one read of its `part_id`s
    * (manifest-sized, with the manifest's schema given, so no inference
    * job); one aggregate over the partitions still to do, collected on the
    * driver — it is the new manifest (one row per partition), and its
    * length is the partition count; the data write; the collected rows
    * appended to the manifest as one file. Nothing is read back or
    * counted: total = old manifest rows + new ones.
    *
    * Crash order: the data is written before the manifest, so a crash
    * between the two leaves partitions on disk that the manifest does not
    * name; the next run recomputes them and dynamic overwrite replaces
    * their directories. The manifest names a partition only once its data
    * is durable. */
  def runWithCheckpoint(spark: SparkSession, df: DataFrame, partCol: String,
                        outDir: String): (Long, Long) = {
    val manifestPath = s"$outDir/_manifest"
    val manifestSchema = manifest(df, partCol).schema
    val done: Array[Any] =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(manifestPath)))
        spark.read.schema(manifestSchema).parquet(manifestPath)
          .select(col("part_id")).collect().map(_.get(0))
      else Array.empty
    // a null key equals no manifest entry, as in an anti-join: coalesce
    // keeps those rows
    val todo =
      if (done.isEmpty) df
      else df.where(!coalesce(col(partCol).isin(done.toIndexedSeq: _*), lit(false)))
    val newRows = manifest(todo, partCol).collect()
    if (newRows.nonEmpty) {
      // idempotent per-partition write: dynamic overwrite replaces exactly
      // the partition dirs this run writes, so a resume re-running a
      // partition whose manifest entry was lost does not duplicate its rows
      todo.withColumn("part_id", col(partCol))
        .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id").parquet(s"$outDir/data")
      spark.createDataFrame(java.util.Arrays.asList(newRows: _*), manifestSchema)
        .coalesce(1).write.mode(SaveMode.Append).parquet(manifestPath)
    }
    (newRows.length.toLong, done.length.toLong + newRows.length)
  }
}
