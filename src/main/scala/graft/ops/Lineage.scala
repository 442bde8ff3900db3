package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-partition checkpoint lineage (north rule): a job writes its output
  * partition-by-partition together with a commit log
  * `(partition_id, status, rows, cell_min, cell_max)`; a restarted job
  * anti-joins the committed partition set and processes only the rest.
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
    * plus the manifest. Returns (partitions written this run, total). */
  def runWithCheckpoint(spark: SparkSession, df: DataFrame, partCol: String,
                        outDir: String): (Long, Long) = {
    val manifestPath = s"$outDir/_manifest"
    val done: DataFrame =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(manifestPath)))
        spark.read.parquet(manifestPath).select(col("part_id"))
      else spark.emptyDataFrame.withColumn("part_id", lit(0L)).limit(0)

    val todo = df.join(done, df(partCol) === done("part_id"), "left_anti")
    val newParts = todo.select(col(partCol)).distinct().count()
    if (newParts > 0) {
      // idempotent per-partition write: dynamic overwrite replaces exactly
      // the partition dirs this run writes, so a resume re-running a
      // partition whose manifest entry was lost does not duplicate its rows
      todo.withColumn("part_id", col(partCol))
        .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_id").parquet(s"$outDir/data")
      manifest(todo, partCol)
        .write.mode(SaveMode.Append).parquet(manifestPath)
    }
    val total = spark.read.parquet(manifestPath).count()
    (newParts, total)
  }
}
