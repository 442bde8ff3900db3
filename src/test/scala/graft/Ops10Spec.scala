package graft

import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions._
import graft.ops.Geometric

/** Specs for geometric stragglers + buffer_without_overlap. */
class Ops10Spec extends SparkSpec {

  private def one(wkt: String, c: org.apache.spark.sql.Column): String = {
    import spark.implicits._
    Seq(wkt).toDF("wkt").select(c.as("out")).collect()(0).getString(0)
  }

  test("geometric transform stragglers behave (concave/offset/2d3d/build/precision/clip/points)") {
    import spark.implicits._
    val sq = "POLYGON((0 0,10 0,10 10,0 10,0 0))"

    // concave hull of an L-shaped point set is smaller than the convex hull
    val lpts = "MULTIPOINT(0 0,1 0,2 0,3 0,4 0,4 1,0 1,0 2,0 3,0 4,1 4,1 1)"
    val concave = parse(one(lpts, st_concave_hull(col("wkt"), lit(0.3)))).getArea
    val convex = parse(one(lpts, st_convex_hull(col("wkt")))).getArea
    assert(concave > 0 && concave < convex)

    // offset curve of a horizontal line at +2 is the line shifted up
    val oc = parse(one("LINESTRING(0 0,10 0)", st_offset_curve(col("wkt"), lit(2.0))))
    assert(oc.getCoordinates.forall(c => math.abs(c.y - 2.0) < 1e-9))

    // force_3d sets z everywhere; force_2d drops it
    val g3 = one("LINESTRING(0 0,1 1)", st_force_3d(col("wkt"), lit(7.0)))
    assert(g3.contains("7"))
    assert(parse(one(Seq(g3).head, st_force_2d(col("wkt")))).getCoordinates
      .forall(c => c.getZ.isNaN))

    // build_area: a closed ring's linework becomes the polygon
    val ring = "LINESTRING(0 0,10 0,10 10,0 10,0 0)"
    assert(parse(one(ring, st_build_area(col("wkt")))).getArea == 100.0)

    // set_precision snaps to the grid
    val snapped = one("POINT(1.2345 5.6789)", st_set_precision(col("wkt"), lit(0.5)))
    val sc = parse(snapped).getCoordinate
    assert(sc.x == 1.0 && sc.y == 5.5)

    // clip_by_rect == intersection with the rect
    val clipped = parse(one(sq, st_clip_by_rect(col("wkt"), lit(5), lit(5), lit(20), lit(20))))
    assert(clipped.getArea == 25.0)

    // extract_unique_points dedups
    val up = parse(one("POLYGON((0 0,1 0,1 1,0 0))", st_extract_unique_points(col("wkt"))))
    assert(up.getNumGeometries == 3)

    // polygonize(node): crossing linework yields the individual faces
    val lines = "MULTILINESTRING((0 0,10 0),(10 0,10 10),(10 10,0 10),(0 10,0 0),(5 0,5 10))"
    val faces = parse(one(lines, st_polygonize(col("wkt"))))
    assert(faces.getNumGeometries == 2)
    assert(math.abs(faces.getArea - 100.0) < 1e-9)
  }

  test("per-row accessors/predicates (vector.py:453-651)") {
    import spark.implicits._
    def b(wkt: String, c: org.apache.spark.sql.Column): Boolean =
      Seq(wkt).toDF("wkt").select(c.as("o")).collect()(0).getBoolean(0)
    assert(b("LINESTRING(0 0,1 0,1 1,0 0)", st_is_ring(col("wkt"))))
    assert(!b("LINESTRING(0 0,1 0)", st_is_ring(col("wkt"))))
    assert(b("LINESTRING(0 0,1 0,1 1,0 0)", st_is_closed(col("wkt"))))
    assert(b("POLYGON((0 0,1 0,1 1,0 0))", st_is_ccw(col("wkt"))))
    assert(!b("POLYGON((0 0,0 1,1 1,0 0))", st_is_ccw(col("wkt"))))
    assert(!b("LINESTRING(0 0,1 1,0 1,1 0)", st_is_simple(col("wkt"))))
    assert(!b("POINT(1 2)", st_has_z(col("wkt"))))
    assert(one("POINT(1 2)", st_geom_type(col("wkt"))) == "Point")
    assert(one("POLYGON((0 0,1 0,1 1,0 0))", st_is_valid_reason(col("wkt"))) == "Valid Geometry")
    assert(one("POLYGON((0 0,1 1,1 0,0 1,0 0))", st_is_valid_reason(col("wkt")))
      .contains("Self-intersection"))
    // donut: exterior + 1 interior ring
    val donut = "POLYGON((0 0,10 0,10 10,0 10,0 0),(4 4,6 4,6 6,4 6,4 4))"
    assert(parse(one(donut, st_exterior(col("wkt")))).getLength == 40.0)
    val nInt = Seq(donut).toDF("wkt")
      .select(st_count_interior_rings(col("wkt")).as("n")).collect()(0).getInt(0)
    assert(nInt == 1)
    val ints = Seq(donut).toDF("wkt")
      .select(st_interiors(col("wkt")).as("r")).collect()(0).getSeq[String](0)
    assert(ints.length == 1 && parse(ints.head).getLength == 8.0)
  }

  test("rasterize default burn index: lexicographic feature rank, last wins, partition-invariant") {
    import spark.implicits._
    import graft.ops.{RasterOps, Rasterize}
    val geoms = Seq(
      "POLYGON((0 0,4 0,4 4,0 4,0 0))",   // rank 1 (lexicographically first)
      "POLYGON((2 2,6 2,6 6,2 6,2 2))")   // rank 2 — wins the overlap
      .toDF("wkt")
    def run(p: Int) = RasterOps.cells(Rasterize.rasterize(
        geoms.repartition(p), None, 1, 1, 0, 8, 8, 8, 4, 4))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val got = run(1)
    // overlap cells [2,4)x[2,4) take burn 2; r1-only cells take 1
    assert(got((7, 0)) == 1.0) // (x,y)=(0.5,0.5) → row 7
    assert(got((4, 3)) == 2.0, "overlap must take the later feature index")
    assert(got((3, 5)) == 2.0)
    assert(got.values.toSet == Set(1.0, 2.0))
    assert(run(5) == got, "dense index must be partition-invariant")
  }

  test("subdivide_array: count unique near-equal blocks (test_tiling.py:14-30)") {
    import graft.geo.Tiling
    val g = Tiling.subdivideArray(6, 4, 4)
    assert(g.length == 6 && g(0).length == 4)
    assert(g.flatten.toSet.size == 4)
    assert(Tiling.subdivideArray(3, 3, 3).flatten.toSet.size == 3)
    // block sizes near-equal for an exact split
    val counts = g.flatten.groupBy(identity).values.map(_.length).toSeq
    assert(counts.max - counts.min <= counts.min, s"blocks too unequal: $counts")
    intercept[IllegalArgumentException](Tiling.subdivideArray(5, 2, 15))
    assert(Tiling.closestRectangle(4) == (2, 2))
    assert(Tiling.closestRectangle(3) == (2, 2))
    assert(Tiling.closestRectangle(55) == (7, 8))
    assert(Tiling.closestRectangle(24) == (5, 5))
  }

  test("tiling job resumes MID-RUN from a partial lineage manifest (north rule)") {
    import spark.implicits._
    import graft.ops.Lineage
    import graft.io.GeoTables
    import org.apache.spark.sql.functions.{col, lit, floor => ffloor}
    val dir = java.nio.file.Files.createTempDirectory("lineage-midrun").toString
    // the tile-assignment output shape of the flagship kernel
    val pts = GeoTables.points(spark, sf001)
      .withColumn("cell", graft.plans.CellOfExpr.cellOfNative(col("x"), col("y"), lit(7)))
      .withColumn("tile", ffloor(col("x") / 12.5).cast("int") * 8 +
        ffloor((lit(100.0) - col("y")) / 12.5).cast("int"))
    val (n1, t1) = Lineage.runWithCheckpoint(spark, pts, "tile", dir)
    assert(n1 == t1 && n1 > 10)
    // simulate a mid-run crash: drop 3 partitions from the manifest
    val m = spark.read.parquet(s"$dir/_manifest")
    val keep = m.orderBy(col("part_id")).limit((n1 - 3).toInt).collect()
    val kept = spark.createDataFrame(
      spark.sparkContext.parallelize(keep.toSeq), m.schema)
    kept.write.mode("overwrite").parquet(s"$dir/_manifest")
    // resume: exactly the 3 uncommitted partitions re-process
    val (n2, t2) = Lineage.runWithCheckpoint(spark, pts, "tile", dir)
    assert(n2 == 3, s"resume should process exactly the missing partitions, got $n2")
    assert(t2 == t1)
    // the resumed data equals the uninterrupted run: re-run partitions
    // replace their directories instead of appending a second copy
    val rows = spark.read.parquet(s"$dir/data").count()
    assert(rows == pts.count(), s"resumed data holds $rows rows, want ${pts.count()}")
  }

  test("buffer_without_overlap: pieces disjoint, cover the ring, touch their feature (geometric.py:58-199)") {
    import spark.implicits._
    // two nearby squares whose plain buffers would overlap
    val feats = Seq(
      (1L, "POLYGON((0 0,10 0,10 10,0 10,0 0))"),
      (2L, "POLYGON((14 0,24 0,24 10,14 10,14 0))"),
      (3L, "POLYGON((0 20,10 20,10 30,0 30,0 20))")).toDF("geom_id", "wkt")
    val out = Geometric.bufferWithoutOverlap(feats, 3.0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    val gs = out.map { case (id, w) => id -> parse(w) }

    // pairwise disjoint interiors
    for (a <- gs.keys; b <- gs.keys if a < b)
      assert(gs(a).intersection(gs(b)).getArea < 1e-9, s"buffers $a,$b overlap")

    // each buffer touches its own source geometry and no other's interior
    val src = feats.collect().map(r => r.getLong(0) -> parse(r.getString(1))).toMap
    gs.foreach { case (id, g) =>
      assert(g.distance(src(id)) < 1e-9, s"buffer $id detached")
      assert(g.getArea > 0)
      src.foreach { case (oid, s) => assert(g.intersection(s).getArea < 1e-9,
        s"buffer $id eats feature $oid") }
    }

    // pieces cover the merged ring exactly
    val merged = src.values.reduce(_ union _)
    val ringArea = merged.buffer(3.0).difference(merged).getArea
    val total = gs.values.map(_.getArea).sum
    assert(math.abs(total - ringArea) < 1e-6, s"$total vs $ringArea")
  }
}
