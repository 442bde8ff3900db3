package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions.st_contains_xy
import graft.io.GeoTables
import graft.ops.{BenchKernel, SpatialJoin}

/** `SpatialJoin.zonalAgg` on both of its paths — fused (the point side
  * under the broadcast threshold) and the join + aggregate fallback
  * (threshold -1) — against a brute-force reference. */
class ZonalAggSpec extends SparkSpec {

  /** Every point against every polygon row by `containsXy`, with no cell
    * cover; a row id keeps equal polygon rows apart. */
  private def reference(points: DataFrame, polys: DataFrame, keys: Seq[Column],
                        value: Column): Map[Seq[Any], Int] = {
    val pts = points.select(Seq(col("x"), col("y"), value.cast("double").as("v")) ++ keys: _*)
    val keyNames = pts.columns.drop(3).toSeq
    multiset(pts.crossJoin(polys.withColumn("rid", monotonically_increasing_id()))
      .where(st_contains_xy(col("wkt"), col("x"), col("y")))
      .groupBy((Seq("rid") ++ polys.columns ++ keyNames).map(col): _*)
      .agg(count(lit(1)).as("n_pts"), sum(col("v")).as("sum_val"))
      .select((polys.columns.toSeq ++ keyNames :+ "n_pts" :+ "sum_val").map(col): _*))
  }

  /** The fused and the fallback result, each checked to have taken its
    * path: the fused plan is one RDD scan, with no join and no aggregate. */
  private def bothPaths(points: DataFrame, polys: DataFrame, keys: Seq[Column],
                        value: Column): (Map[Seq[Any], Int], Map[Seq[Any], Int]) = {
    def run() = SpatialJoin.zonalAgg(points, polys, GeoTables.JoinLevel, keys, value)
    val fused = run()
    val fusedPlan = fused.queryExecution.executedPlan.toString
    assert(fusedPlan.contains("ExistingRDD") && !fusedPlan.contains("Join") &&
      !fusedPlan.contains("Aggregate"), fusedPlan)
    withBroadcastThreshold("-1") {
      val fallback = run()
      assert(!fallback.queryExecution.executedPlan.toString.contains("ExistingRDD"))
      assert(fallback.schema.map(f => (f.name, f.dataType)) == fused.schema.map(f => (f.name, f.dataType)))
      (multiset(fused), multiset(fallback))
    }
  }

  test("zonalAgg on the sf0.001 kernel docs: fused == fallback == brute force") {
    val docs = BenchKernel.prepareInput(spark, sf001)
    val spans = docs.select(
      substring(col("doc_id"), 5, 9).cast("long").as("doc_key"), explode(col("spans")).as("s"))
    val polys = GeoTables.polySpans(spans, col("doc_key"))
    val pts = GeoTables.pointSpans(spans, col("doc_key"))
    val keys = BenchKernel.tileOf("x", "y")
    val expected = reference(pts, polys, keys, col("value"))
    val (fused, fallback) = bothPaths(pts, polys, keys, col("value"))
    assert(expected.nonEmpty)
    assert(fused == expected, "fused zonalAgg differs from the brute-force reference")
    assert(fallback == expected, "fallback zonalAgg differs from the brute-force reference")
  }

  test("zonalAgg: non-rectangles, null values, edges and corners, duplicate and empty polygons") {
    import spark.implicits._
    // an integer grid, so points lie exactly on the box edges and corners
    // and on the triangle's sloped edges; every fifth value is null, and
    // one point has no x
    val grid = for (x <- 0 to 20; y <- 0 to 20)
      yield (Option(x.toDouble), y.toDouble, Option((x * 3 + y).toDouble).filter(_ => (x + y) % 5 != 0), x % 3)
    val pts = (grid ++ Seq(
        (Option(30.5), 30.5, Option.empty[Double], 0), // the only point of zone 6
        (Option.empty[Double], 5.5, Option(1.0), 0)))
      .toDF("x", "y", "value", "k")
    val box = "POLYGON ((2 2, 8 2, 8 8, 2 8, 2 2))"
    val polys = Seq(
      (1, box),
      (1, box), // a duplicate row: its own groups
      (2, "POLYGON ((10 0, 20 0, 15 10, 10 0))"), // triangle: the JTS refine
      (3, "POLYGON ((0 10, 6 10, 6 13, 3 13, 3 16, 0 16, 0 10))"), // L-shape
      (5, "POLYGON ((100 100, 101 100, 101 101, 100 101, 100 100))"), // no hit
      (6, "POLYGON ((30 30, 31 30, 31 31, 30 31, 30 30))")) // all values null
      .toDF("zone_id", "wkt")
    // an int key, a double key whose -0.0 and 0.0 are one group, no key
    val signed = when(col("k") === 0, lit(-0.0)).otherwise(lit(0.0)).as("z")
    for (keys <- Seq(Seq(col("k")), Seq(col("k"), signed), Nil)) {
      val expected = reference(pts, polys, keys, col("value"))
      val (fused, fallback) = bothPaths(pts, polys, keys, col("value"))
      assert(fused == expected, s"fused, keys $keys")
      assert(fallback == expected, s"fallback, keys $keys")
      val rows = expected.keys.toSeq
      assert(rows.forall(_.head != 5), "a polygon with no hit has no row")
      assert(expected.filter(_._1.head == 1).values.forall(_ == 2), "a duplicate polygon row doubles")
      assert(rows.exists(r => r.head == 2) && rows.exists(r => r.head == 3))
      assert(rows.filter(_.head == 6).map(_.takeRight(2)) == Seq(Seq(1L, null)),
        "a group of null values counts them and has a null sum")
    }
    // box interior only: 5 x 5 grid points, edges and corners excluded
    assert(reference(pts, polys.where(col("zone_id") === 1).limit(1), Nil, lit(1)).keys.toSeq
      .map(_.takeRight(2)) == Seq(Seq(25L, 25.0)))

    // an empty point side gives no rows on either path
    val none = pts.where(lit(false))
    assert(bothPaths(none, polys, Seq(col("k")), col("value")) == ((Map.empty, Map.empty)))
  }
}
