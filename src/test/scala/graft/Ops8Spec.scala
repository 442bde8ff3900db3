package graft

import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions
import graft.io.GeoTables
import graft.ops.{Overlay, Proximity, SpatialJoin}

/** Specs for round-2 operators: adaptive sjoin + how modes, overlay modes,
  * vector-target proximity. */
class Ops8Spec extends SparkSpec {

  private def zonesA = GeoTables.zones(spark, sf001)
    .where(col("zone_id") % 10 === 1)
    .select(col("zone_id").as("id_a"), col("wkt").as("wkt_a"))
  private def zonesB = GeoTables.zones(spark, sf001)
    .where(col("zone_id") % 10 === 3)
    .select(col("zone_id").as("id_b"), col("wkt").as("wkt_b"))

  private def localZones(mod: Long): Seq[(Long, Double, Double, Double, Double)] =
    GeoTables.zones(spark, sf001).where(col("zone_id") % 10 === mod).collect()
      .map(r => (r.getAs[Long]("zone_id"), r.getAs[Double]("zxmin"),
        r.getAs[Double]("zymin"), r.getAs[Double]("zxmax"), r.getAs[Double]("zymax")))

  test("adaptive sjoin(intersects) matches brute-force envelope pairs") {
    val a = localZones(1); val b = localZones(3)
    val exp = (for {
      (ia, ax0, ay0, ax1, ay1) <- a; (ib, bx0, by0, bx1, by1) <- b
      if ax0 <= bx1 && bx0 <= ax1 && ay0 <= by1 && by0 <= ay1
    } yield (ia, ib)).toSet
    val got = SpatialJoin.sjoin(zonesA, zonesB, "intersects")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp)
    assert(exp.nonEmpty)
  }

  test("sjoin handles wildly mixed geometry sizes (adaptive levels)") {
    import spark.implicits._
    // one giant polygon + a grid of small ones; brute-force oracle via JTS
    def rect(id: Long, x0: Double, y0: Double, x1: Double, y1: Double) =
      (id, s"POLYGON(($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))")
    val small = for (i <- 0 until 12; j <- 0 until 12)
      yield rect(i * 12L + j, i * 8 + 0.5, j * 8 + 0.5, i * 8 + 2.5, j * 8 + 2.5)
    val big = Seq(rect(1000L, 10, 10, 90, 90), rect(1001L, 0, 0, 3, 127))
    val all = small ++ big
    val exp = (for {
      (ia, wa) <- all; (ib, wb) <- all
      if ia < ib && GeoFunctions.parse(wa).intersects(GeoFunctions.parse(wb))
    } yield (ia, ib)).toSet
    val df = all.toDF("id", "wkt")
    val got = SpatialJoin.sjoin(
        df.select(col("id").as("id_a"), col("wkt").as("wkt_a")),
        df.select(col("id").as("id_b"), col("wkt").as("wkt_b")), "intersects")
      .where(col("id_a") < col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp)
    assert(exp.nonEmpty)
  }

  test("sjoin how=semi/anti/left consistent with inner") {
    val inner = SpatialJoin.sjoin(zonesA, zonesB, "intersects")
      .collect().map(_.getLong(0)).toSet
    val allA = zonesA.collect().map(_.getLong(0)).toSet
    val semi = SpatialJoin.sjoin(zonesA, zonesB, "intersects", how = "semi")
      .collect().map(_.getLong(0)).toSet
    val anti = SpatialJoin.sjoin(zonesA, zonesB, "intersects", how = "anti")
      .collect().map(_.getLong(0)).toSet
    assert(semi == inner)
    assert(anti == allA -- inner)
    val left = SpatialJoin.sjoin(zonesA, zonesB, "intersects", how = "left")
    assert(left.where(col("id_b").isNull).collect().map(_.getLong(0)).toSet == anti)
  }

  test("sjoin dwithin/touches predicates match brute JTS") {
    val a = localZones(1).take(40); val b = localZones(3).take(40)
    import spark.implicits._
    val da = a.map { case (id, x0, y0, x1, y1) =>
      (id, s"POLYGON(($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))") }.toDF("id_a", "wkt_a")
    val db = b.map { case (id, x0, y0, x1, y1) =>
      (id, s"POLYGON(($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))") }.toDF("id_b", "wkt_b")
    def brute(p: (org.locationtech.jts.geom.Geometry, org.locationtech.jts.geom.Geometry) => Boolean) =
      (for {
        (ia, ax0, ay0, ax1, ay1) <- a; (ib, bx0, by0, bx1, by1) <- b
        ga = GeoFunctions.parse(s"POLYGON(($ax0 $ay0,$ax1 $ay0,$ax1 $ay1,$ax0 $ay1,$ax0 $ay0))")
        gb = GeoFunctions.parse(s"POLYGON(($bx0 $by0,$bx1 $by0,$bx1 $by1,$bx0 $by1,$bx0 $by0))")
        if p(ga, gb)
      } yield (ia, ib)).toSet
    val gotT = SpatialJoin.sjoin(da, db, "touches")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotT == brute((x, y) => x.touches(y)))
    val gotD = SpatialJoin.sjoin(da, db, "dwithin", dist = 3.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotD == brute((x, y) => x.isWithinDistance(y, 3.0)))
    assert(gotD.nonEmpty)
  }

  test("overlay union/identity/difference match local JTS") {
    val a = localZones(1).take(60); val b = localZones(3).take(60)
    import spark.implicits._
    def wkt(z: (Long, Double, Double, Double, Double)) =
      s"POLYGON((${z._2} ${z._3},${z._4} ${z._3},${z._4} ${z._5},${z._2} ${z._5},${z._2} ${z._3}))"
    val da = a.map(z => (z._1, wkt(z))).toDF("id_a", "wkt_a")
    val db = b.map(z => (z._1, wkt(z))).toDF("id_b", "wkt_b")

    // local expected pieces
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    def gOf(z: (Long, Double, Double, Double, Double)) = GeoFunctions.parse(wkt(z))
    val interExp = (for {
      za <- a; zb <- b
      g = gOf(za).intersection(gOf(zb))
      if g.getArea > 0
    } yield (Option(za._1), Option(zb._1), g.getArea)).toSet
    def diffExp(src: Seq[(Long, Double, Double, Double, Double)],
                other: Seq[(Long, Double, Double, Double, Double)], aSide: Boolean) =
      (for {
        z <- src
        partners = other.filter(o => gOf(z).intersects(gOf(o)))
        g = partners.foldLeft(gOf(z))((acc, o) => acc.difference(gOf(o)))
        if g.getArea > 0
      } yield if (aSide) (Option(z._1), Option.empty[Long], g.getArea)
              else (Option.empty[Long], Option(z._1), g.getArea)).toSet

    val expUnion = interExp ++ diffExp(a, b, aSide = true) ++ diffExp(b, a, aSide = false)
    def got(how: String) = Overlay.overlay(da, db, how).collect().map { r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
       if (r.isNullAt(1)) None else Some(r.getLong(1)),
       r.getAs[Double]("area"))
    }.toSet
    assert(got("union") == expUnion)
    assert(got("intersection") == interExp)
    assert(got("difference") == diffExp(a, b, aSide = true))
    assert(got("identity") == interExp ++ diffExp(a, b, aSide = true))
    assert(got("symmetric_difference") ==
      diffExp(a, b, aSide = true) ++ diffExp(b, a, aSide = false))
    assert(interExp.nonEmpty)

    // areaOnly path (rectilinear sweep, no difference geometry): identical
    // (ids, area) sets for every how
    def gotAreaOnly(how: String) =
      Overlay.overlay(da, db, how, areaOnly = true).collect().map { r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
         if (r.isNullAt(1)) None else Some(r.getLong(1)),
         r.getAs[Double]("area"))
      }.toSet
    assert(gotAreaOnly("union") == expUnion)
    assert(gotAreaOnly("difference") == diffExp(a, b, aSide = true))
  }

  test("rectDiffArea sweep matches JTS difference area on random rect sets") {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
      gf.createPolygon(Array(
        new org.locationtech.jts.geom.Coordinate(x0, y0),
        new org.locationtech.jts.geom.Coordinate(x1, y0),
        new org.locationtech.jts.geom.Coordinate(x1, y1),
        new org.locationtech.jts.geom.Coordinate(x0, y1),
        new org.locationtech.jts.geom.Coordinate(x0, y0)))
    var seed = 12345L
    def nx(m: Int): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % m).toInt + m) % m }
    for (trial <- 0 until 50) {
      val src = (0.0, 0.0, (nx(20) + 5).toDouble, (nx(20) + 5).toDouble)
      val k = nx(6)
      val cuts0 = (0 until k).map { _ =>
        val x0 = nx(22) - 2.0; val y0 = nx(22) - 2.0
        (x0, y0, x0 + nx(10) + 1.0, y0 + nx(10) + 1.0)
      }
      // clip to src (the UDF pre-clips the same way); a cut outside src
      // clips to an empty one, which the sweep must skip
      val cuts = cuts0.map { case (x0, y0, x1, y1) =>
        Array(math.max(x0, src._1), math.max(y0, src._2),
              math.min(x1, src._3), math.min(y1, src._4))
      }.toArray
      // degenerate cuts (zero width, inverted x, zero height) have no area
      val degenerate = Array(Array(3.0, 1.0, 3.0, 4.0), Array(4.0, 2.0, 1.0, 3.0),
                             Array(1.0, 3.0, 4.0, 3.0))
      val got = Overlay.rectDiffArea(src._1, src._2, src._3, src._4, cuts ++ degenerate)
      val exp = cuts0.map { case (x0, y0, x1, y1) => rect(x0, y0, x1, y1) }
        .foldLeft(rect(src._1, src._2, src._3, src._4): org.locationtech.jts.geom.Geometry)(
          (acc, c) => acc.difference(c)).getArea
      assert(math.abs(got - exp) < 1e-9, s"trial $trial: $got vs $exp")
    }
  }

  test("vectorProximity matches brute force with in/out masking") {
    import spark.implicits._
    // two rects on a 40×40 unit grid (res 1, xmin 0, ymax 40)
    val zs = Seq((1L, 4.0, 4.0, 12.0, 10.0), (2L, 20.0, 18.0, 30.0, 34.0))
    val geoms = zs.map { case (_, x0, y0, x1, y1) =>
      Tuple1(s"POLYGON(($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))") }.toDF("wkt")
    // local: inner-boundary target cells
    def inside(z: (Long, Double, Double, Double, Double), cx: Double, cy: Double) =
      cx > z._2 && cx < z._4 && cy > z._3 && cy < z._5
    val targets = (for {
      z <- zs; i <- 0 until 40; j <- 0 until 40
      cx = j + 0.5; cy = 40 - i - 0.5
      if inside(z, cx, cy)
      if !inside(z, cx - 1, cy) || !inside(z, cx + 1, cy) ||
         !inside(z, cx, cy - 1) || !inside(z, cx, cy + 1)
    } yield (cx, cy)).distinct
    assert(targets.nonEmpty)
    for (mode <- Seq("both", "in", "out")) {
      val got = Proximity.vectorProximity(geoms, 1, 1, 0, 40, 40, 40, inOrOut = mode)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      for (i <- 0 until 40; j <- 0 until 40) {
        val cx = j + 0.5; val cy = 40 - i - 0.5
        val d = targets.map { case (tx, ty) =>
          math.sqrt((tx - cx) * (tx - cx) + (ty - cy) * (ty - cy)) }.min
        val in = zs.exists(z => inside(z, cx, cy))
        val exp = mode match {
          case "both" => d
          case "in"   => if (in) d else 0.0
          case "out"  => if (in) 0.0 else d
        }
        assert(math.abs(got((i, j)) - exp) < 1e-9, s"$mode ($i,$j)")
      }
    }
  }

  test("gaussian filter matches local normalized convolution") {
    import spark.implicits._
    import graft.model.{RasterTile, TileCodec}
    import graft.geo.CellIndex
    // 20×20 raster, tiles 5×5, with holes
    def v(i: Int, j: Int) = ((i * 3 + j * 7) % 23).toDouble
    def ok(i: Int, j: Int) = (i * 5 + j * 11) % 29 != 0
    val tiles = spark.createDataset(for { tr <- 0 until 4; tc <- 0 until 4 } yield {
      val data = new Array[Double](25); val valid = new Array[Boolean](25)
      for (di <- 0 until 5; dj <- 0 until 5) {
        val i = tr * 5 + di; val j = tc * 5 + dj
        valid(di * 5 + dj) = ok(i, j)
        data(di * 5 + dj) = if (ok(i, j)) v(i, j) else -9999
      }
      RasterTile("g", 0, tr, tc, 5, 5, 1.0, 1.0, tc * 5, 20 - tr * 5,
        "EPSG:32645", -9999, "Area", "float64",
        TileCodec.packDoubles(data), TileCodec.packMask(valid),
        CellIndex.cellOf(tc * 5, 20 - tr * 5 - 5, 3))
    })
    val sigma = 1.0
    val r = 4 // round(truncate*sigma)
    val w = (-r to r).map(k => math.exp(-(k * k) / (2 * sigma * sigma))).toArray
    val got = graft.ops.RasterOps.cells(
        graft.ops.Filters.gaussian(tiles, sigma, 4, 4, 5, 5))
      .collect().map(x => (x.getInt(0), x.getInt(1)) -> x.getDouble(2)).toMap
    for (i <- 0 until 20; j <- 0 until 20) {
      var num = 0.0; var den = 0.0
      for (di <- -r to r; dj <- -r to r) {
        val ii = i + di; val jj = j + dj
        if (ii >= 0 && ii < 20 && jj >= 0 && jj < 20 && ok(ii, jj)) {
          val wt = w(di + r) * w(dj + r)
          num += wt * v(ii, jj); den += wt
        }
      }
      if (den > 0) assert(math.abs(got((i, j)) - num / den) < 1e-9, s"($i,$j)")
      else assert(!got.contains((i, j)))
    }
    // gaussian output is DEFINED at invalid input cells with valid
    // neighbors (filters.py: only normalization==0 yields NaN)
    val someInvalid = (for (i <- 0 until 20; j <- 0 until 20 if !ok(i, j)) yield (i, j)).head
    assert(got.contains(someInvalid))
  }
}
