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
  private[graft] def tileOf(xc: String, yc: String) = Seq(
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
    * (poly_doc, wkt, tr, tc, n_pts, sum_val), one row per polygon and tile
    * its matched points fall in. `level` is the PIP join's cell-cover level. */
  private[graft] def assigned(docs: DataFrame, level: Int): DataFrame = {
    // long doc keys through the hot join/agg path: hashing + row width of
    // a bigint beats a 13-char string at 10^8-row scale
    val spans = docs.select(
      substring(col("doc_id"), 5, 9).cast("long").as("doc_key"),
      explode(col("spans")).as("s"))

    val polys = GeoTables.polySpans(spans, col("doc_key"))
    val pts = GeoTables.pointSpans(spans, col("doc_key"))

    // PIP spatial join + tile assignment as one zonal aggregate keyed on
    // the primitive (tr, tc). At or below Spark's broadcast threshold
    // (perfbench kernel scale: 90k points, a 6.6 MB estimated point side)
    // it is fused: the point side is collected and broadcast as a
    // cell-sorted index, and one pass over the polygon rows probes it per
    // polygon and emits that polygon's final tile groups, with no hash
    // join, hash aggregate or exchange. The probe finds each cover cell in
    // a hashed directory and adds whole-cell totals where a cell's points
    // all lie inside the polygon, a rectangle here; at perfbench kernel
    // scale 7.7M of the 10.1M points in cells it does not skip are counted
    // that way (BENCH.md). Above the threshold (graft.Bench at sf0.1:
    // 44 MB) it is the point-side shuffle-hash join plus a hash aggregate.
    SpatialJoin.zonalAgg(pts, polys, level, tileOf("x", "y"), col("value"))
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
