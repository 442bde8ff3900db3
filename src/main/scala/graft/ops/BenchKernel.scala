package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.GeoTables

/** The BASELINE bench kernel (BASELINE.md "Bench kernel definition"):
  *
  *   interleaved docs → explode spans → cell cover → PIP spatial join →
  *   tile assignment → per-partition row-count + cell-histogram metrics
  *
  * measured end-to-end in docs/sec, input generation excluded. This is the
  * kernel whose throughput must scale ≥0.8 from N to 4N cores.
  */
object BenchKernel {

  /** Tile assignment: the fixed 8×8 dem tile of a matched point, as two
    * int columns `tr`, `tc` — a primitive grouping key (a struct key turns
    * off Spark's fast primitive-key aggregation map). */
  private def tileOf(xc: String, yc: String) = Seq(
    least(lit(7), floor((lit(100.0) - col(yc)) / 12.5).cast("int")).as("tr"),
    least(lit(7), floor(col(xc) / 12.5).cast("int")).as("tc"))

  /** Build the docs input once (excluded from timing). `replicas` scales
    * the corpus deterministically (distinct doc keys, identical spans) so
    * the scaling evidence can use a job long enough that per-run fixed
    * overhead (~1s of stage scheduling) doesn't dominate the 32-core wall. */
  def prepareInput(spark: SparkSession, sfDir: String, replicas: Int = 1): DataFrame = {
    val base = GeoTables.docs(spark, sfDir)
    (1 until replicas).foldLeft(base) { (acc, r) =>
      acc.unionByName(base.select(
        format_string("doc-%09d",
          substring(col("doc_id"), 5, 9).cast("long") + r.toLong * 500000000L).as("doc_id"),
        col("spans")))
    }
  }

  /** The kernel's tile aggregate over a prepared docs table:
    * (poly_doc, tr, tc, n_pts, sum_val), one row per polygon and tile its
    * matched points fall in. `level` is the PIP join's cell-cover level. */
  private[graft] def assigned(docs: DataFrame, level: Int): DataFrame = {
    // long doc keys through the hot join/agg path: hashing + row width of
    // a bigint beats a 13-char string at 10^8-row scale
    val spans = docs.select(
      substring(col("doc_id"), 5, 9).cast("long").as("doc_key"),
      explode(col("spans")).as("s"))

    val polys = GeoTables.polySpans(spans, col("doc_key"))
    val pts = GeoTables.pointSpans(spans, col("doc_key"))

    // PIP spatial join + tile assignment. The point side is the join's
    // hash build (`PipPlan.PointBuild`). At or below Spark's broadcast
    // threshold it is broadcast: the poly-cell side is never exchanged, and
    // each polygon's groups are complete in the task that exploded its
    // cells, so the partial aggregate already emits the final groups. On a
    // 4-core host at perfbench kernel scale (90k points, a 6.6 MB estimated
    // point side) this and the primitive (tr, tc) key took the median task
    // CPU per pass from 3.4 s to 1.6 s and the shuffle write from 14.1 MB to
    // 0.6 MB (BENCH.md); either half alone fell short. Above the threshold
    // (graft.Bench at sf0.1: 44 MB) the shuffle-hash build on `cell` stays.
    SpatialJoin.pip(pts, polys, level)
      .groupBy(col("poly_doc") +: tileOf("x", "y"): _*)
      .agg(count(lit(1)).as("n_pts"), sum(col("value")).as("sum_val"))
  }

  /** Run the kernel over a prepared docs table. Returns
    * (result rows, per-partition metric rows). `level` is the PIP join's
    * cell-cover level (default = the GeoTables production setting). */
  def run(spark: SparkSession, docs: DataFrame,
          level: Int = GeoTables.JoinLevel): (Long, Long) = {
    // per-partition metrics (north rule): row count + level-4 cell histogram
    val metrics = assigned(docs, level)
      .withColumn("cell", graft.functions.GeoFunctions.cell_of(
        col("tc") * 12.5 + 6.25, lit(100.0) - col("tr") * 12.5 - 6.25, lit(4)))
      .groupBy(spark_partition_id().as("partition_id"), col("cell"))
      .agg(count(lit(1)).as("rows"))

    // one action computes both: total assigned rows + metric cardinality
    val m = metrics.agg(sum(col("rows")).as("total"), count(lit(1)).as("mrows")).first()
    (m.getLong(0), m.getLong(1))
  }
}
