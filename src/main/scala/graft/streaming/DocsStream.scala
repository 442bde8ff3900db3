package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger

import graft.io.{GeoTables, ParquetFooters}
import graft.ops.SpatialJoin

/** Structured-Streaming ingest of the interleaved docs table (SURVEY.md
  * §2.11 — the reference has only chunked-batch incrementality; we expose
  * the same pipeline as an incremental stream).
  *
  * Shape: `readStream.parquet(docsDir)` → explode spans → zonal aggregate
  * per polygon ([[SpatialJoin.zonalAgg]]) → per-batch zonal counts folded
  * into a result sink via foreachBatch (the `MultiprocConfig(outfile=...)`
  * analog: tiles/batches land as they complete). `Trigger.AvailableNow`
  * drains the backlog and stops — the resumable-batch mode a 10^12-doc
  * backfill wants; checkpointLocation gives exactly-once across restarts.
  */
object DocsStream {

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", IntegerType)))))))

  /** Stream docs parquet from `docsDir`, sum each batch's zonal aggregate
    * over `polys` ([[SpatialJoin.zonalAgg]]) per `zone_id`, write these
    * per-batch partials to a DURABLE batchId-keyed parquet sink under
    * `sinkDir` and register the roll-up view `sinkTable`.
    *
    * Exactly-once: foreachBatch is at-least-once on retry, so the sink is
    * idempotent per batch — each batch (over)writes its OWN partition
    * `batch_id=<id>` (dynamic partition overwrite); a retried or
    * restarted batch replaces, never double-counts, and completed batches
    * survive restarts on disk (unlike a driver-memory accumulator). */
  def runAvailableNow(spark: SparkSession, docsDir: String, polys: DataFrame,
                      checkpointDir: String, sinkTable: String,
                      sinkDir: String): Unit = {
    val docs = spark.readStream.schema(docsSchema).parquet(docsDir)
    val pts = GeoTables.pointSpans(
      docs.select(col("doc_id"), explode(col("spans")).as("s")), col("doc_id"))

    val q = pts.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        SpatialJoin.zonalAgg(batch, polys, GeoTables.JoinLevel, Nil, col("value"))
          .groupBy(col("zone_id"))
          .agg(sum(col("n_pts")).as("n_pts"), sum(col("sum_val")).as("sum_val"))
          .withColumn("batch_id", lit(batchId))
          .write
          .partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(sinkDir)
        ()
      }
      .start()
    q.awaitTermination()

    // the sink's schema from its footers: no inference job
    spark.read.schema(ParquetFooters.schema(spark, Seq(sinkDir))).parquet(sinkDir)
      .groupBy(col("zone_id"))
      .agg(sum(col("n_pts")).as("n_pts"), sum(col("sum_val")).as("sum_val"))
      .createOrReplaceTempView(sinkTable)
  }
}
