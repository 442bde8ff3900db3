package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.CellIndex
import graft.io.GeoTables

/** The BASELINE bench kernel (BASELINE.md "Bench kernel definition"):
  *
  *   interleaved docs → explode spans → cell cover → PIP spatial join →
  *   tile assignment → per-partition row-count + cell-histogram metrics
  *
  * measured end-to-end in docs/sec, input generation excluded. This is the
  * kernel whose throughput must scale ≥0.8 from N to 4N cores.
  *
  * A run is two Spark jobs with no exchange under the broadcast threshold:
  * the point-side collect of the fused zonal aggregate, then one pass over
  * the polygon rows that probes the broadcast index and counts the
  * per-partition metrics in the partitions that produce the tile rows.
  */
object BenchKernel {

  /** The fixed 8×8 dem tile grid: tile side, and the y of its top edge. */
  private val TileSide = 12.5
  private val TileTop = 100.0

  /** Tile assignment: the fixed 8×8 dem tile of a matched point, as two
    * int columns `tr`, `tc` — a primitive grouping key (a struct key turns
    * off Spark's fast primitive-key aggregation map). */
  private[graft] def tileOf(xc: String, yc: String) = Seq(
    least(lit(7), floor((lit(TileTop) - col(yc)) / TileSide).cast("int")).as("tr"),
    least(lit(7), floor(col(xc) / TileSide).cast("int")).as("tc"))

  /** The level-4 histogram cell of tile (tr, tc): the cell of its centre. */
  private def histogramCell(tr: Int, tc: Int): Long = CellIndex.cellOf(
    tc * TileSide + TileSide / 2, TileTop - tr * TileSide - TileSide / 2, 4)

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

  /** The (tr, tc) of each row of [[assigned]]: all that the metrics read.
    * Above the broadcast threshold this prunes the polygon geometry out of
    * the tile aggregate, whose `first(wkt)` string buffer would turn Spark's
    * hash aggregate into a sort aggregate. */
  private[graft] def tiles(docs: DataFrame, level: Int): DataFrame =
    assigned(docs, level).select("tr", "tc")

  /** Run the kernel over a prepared docs table. Returns
    * (result rows, per-partition metric rows): the tile rows, and the
    * distinct (partition, level-4 histogram cell) pairs among them, where
    * the partition is that of the stage producing the rows. `level` is the
    * PIP join's cell-cover level (default = the GeoTables production setting). */
  def run(spark: SparkSession, docs: DataFrame,
          level: Int = GeoTables.JoinLevel): (Long, Long) = {
    // per-partition metrics (north rule): row count + level-4 cell
    // histogram, counted in the partition that produces the rows, so one
    // job with no exchange computes both. tr and tc are never null: a
    // point with a null coordinate matches no polygon
    tiles(docs, level).queryExecution.toRdd.mapPartitions { rows =>
      val cells = new scala.collection.mutable.LongMap[Unit]
      var n = 0L
      rows.foreach { r =>
        cells.update(histogramCell(r.getInt(0), r.getInt(1)), ())
        n += 1
      }
      Iterator((n, cells.size.toLong))
    }.collect().foldLeft((0L, 0L)) { case ((n, m), (pn, pm)) => (n + pn, m + pm) }
  }
}
