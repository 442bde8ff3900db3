package graft

import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions._

/** Invariant tests for the §2.9 geometric-transform and §2.4 predicate
  * UDF surface. */
class GeoFunctionsSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  def one(df: DataFrame): org.apache.spark.sql.Row = df.collect()(0)

  lazy val box: DataFrame = {
    import spark.implicits._
    Seq("POLYGON((0 0,4 0,4 2,0 2,0 0))").toDF("wkt")
  }

  test("scalar geometry functions: area/length/centroid/buffer/simplify/hull") {
    val r = one(box.select(
      st_area(col("wkt")), st_length(col("wkt")),
      st_centroid_x(col("wkt")), st_centroid_y(col("wkt")),
      st_area(st_buffer(col("wkt"), lit(1.0))),
      st_npoints(st_simplify(st_buffer(col("wkt"), lit(1.0)), lit(1.0))),
      st_area(st_convex_hull(col("wkt")))))
    assert(r.getDouble(0) == 8.0 && r.getDouble(1) == 12.0)
    assert(r.getDouble(2) == 2.0 && r.getDouble(3) == 1.0)
    assert(r.getDouble(4) > 8.0 && r.getDouble(4) < 8 + 12 + math.Pi + 1e-6)
    assert(r.getInt(5) <= 9)
    assert(r.getDouble(6) == 8.0)
  }

  test("affine transforms: rotate/scale/translate preserve area scaling laws") {
    val r = one(box.select(
      st_area(st_rotate(col("wkt"), lit(math.Pi / 3), lit(0.0), lit(0.0))),
      st_area(st_scale(col("wkt"), lit(2.0), lit(3.0))),
      st_area(st_translate(col("wkt"), lit(10.0), lit(-5.0))),
      st_envelope(st_translate(col("wkt"), lit(10.0), lit(-5.0)))))
    assert(math.abs(r.getDouble(0) - 8.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 48.0) < 1e-9)
    assert(math.abs(r.getDouble(2) - 8.0) < 1e-9)
    assert(r.getSeq[Double](3) == Seq(10.0, -5.0, 14.0, -3.0))
  }

  test("segmentize/interpolate/reverse/representative point") {
    import spark.implicits._
    val line = Seq("LINESTRING(0 0,10 0)").toDF("wkt")
    val r = one(line.select(
      st_npoints(st_segmentize(col("wkt"), lit(2.5))),
      st_interpolate(col("wkt"), lit(0.3)),
      st_interpolate(st_reverse(col("wkt")), lit(0.3))))
    assert(r.getInt(0) == 5)
    assert(r.getSeq[Double](1) == Seq(3.0, 0.0))
    assert(r.getSeq[Double](2) == Seq(7.0, 0.0))
    val rp = one(box.select(st_representative_point(col("wkt")))).getSeq[Double](0)
    assert(rp(0) > 0 && rp(0) < 4 && rp(1) > 0 && rp(1) < 2)
  }

  test("delaunay/min rectangle/bounding circle on a point set") {
    import spark.implicits._
    val mp = Seq("MULTIPOINT((0 0),(4 0),(0 3),(4 3),(2 1))").toDF("wkt")
    val r = one(mp.select(
      st_area(st_delaunay(col("wkt"))),
      st_num_geometries(st_delaunay(col("wkt"))),
      st_min_bounding_circle_radius(col("wkt")),
      st_area(st_min_rotated_rect(col("wkt")))))
    assert(math.abs(r.getDouble(0) - 12.0) < 1e-9) // hull area tiled exactly
    assert(r.getInt(1) == 4)
    assert(math.abs(r.getDouble(2) - 2.5) < 1e-9)  // circumcircle of 4x3 rect
    assert(math.abs(r.getDouble(3) - 12.0) < 1e-9)
  }

  test("distance joins: hausdorff/frechet/shortest line/dwithin") {
    import spark.implicits._
    val pair = Seq(("LINESTRING(0 0,4 0)", "LINESTRING(0 1,4 1)")).toDF("a", "b")
    val r = one(pair.select(
      st_hausdorff(col("a"), col("b")), st_frechet(col("a"), col("b")),
      st_distance(col("a"), col("b")), st_shortest_line(col("a"), col("b")),
      st_dwithin(col("a"), col("b"), lit(1.5)), st_dwithin(col("a"), col("b"), lit(0.5))))
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0 && r.getDouble(2) == 1.0)
    assert(math.abs(r.getSeq[Double](3)(1)) < 1e-9)
    assert(r.getBoolean(4) && !r.getBoolean(5))
  }

  test("predicate series on touching/overlapping boxes") {
    import spark.implicits._
    val df = Seq((
      "POLYGON((0 0,2 0,2 2,0 2,0 0))",
      "POLYGON((2 0,4 0,4 2,2 2,2 0))",   // touches a along x=2
      "POLYGON((1 1,3 1,3 3,1 3,1 1))"    // overlaps a
    )).toDF("a", "b", "c")
    val r = one(df.select(
      st_touches(col("a"), col("b")), st_overlaps(col("a"), col("b")),
      st_overlaps(col("a"), col("c")), st_crosses(col("a"), col("c")),
      st_covers(col("a"), col("a")), st_covered_by(col("a"), col("a")),
      st_disjoint(col("a"), col("b")),
      st_relate_pattern(col("a"), col("b"), lit("FF2F1****")),
      st_relate(col("a"), col("c"))))
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getBoolean(4) && r.getBoolean(5) && !r.getBoolean(6))
    assert(r.getBoolean(7))
    assert(r.getString(8) == "212101212")
  }

}
