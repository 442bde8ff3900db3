package graft

import org.apache.spark.sql.functions._
import graft.model.GridSpec
import graft.ops.{Overlay, Polygonize, Rasterize}

/** Round-4 specs: bounded (skew-safe) overlay partner aggregation, the
  * reliable-checkpoint switch, and rasterize equal-order tie determinism. */
class Ops11Spec extends SparkSpec {

  private def rectWkt(x0: Double, y0: Double, x1: Double, y1: Double) =
    s"POLYGON(($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))"
  private def triWkt(x0: Double, y0: Double, x1: Double, y1: Double) =
    s"POLYGON(($x0 $y0,$x1 $y0,$x0 $y1,$x0 $y0))"

  /** Fixture with two HOT features (>8 partners at cap=8):
    *  - feature 1: rectangle with 20 rectangular partners → strip path
    *  - feature 3: rectangle with 12 TRIANGLE partners → hierarchical-union
    *  - feature 2: one partner (cold path) and feature 4: no partner. */
  private def hotFixture = {
    import spark.implicits._
    val a = Seq(
      (1L, rectWkt(0, 0, 100, 100)),
      (2L, rectWkt(200, 0, 210, 10)),
      (3L, rectWkt(300, 0, 400, 100)),
      (4L, rectWkt(500, 0, 510, 10))).toDF("id_a", "wkt_a")
    val bRects = (0 until 20).map(i =>
      (100L + i, rectWkt(i * 5, 10, i * 5 + 4, 90)))
    val bTris = (0 until 12).map(i =>
      (200L + i, triWkt(300 + i * 8, 20, 300 + i * 8 + 7, 80)))
    val bCold = Seq((300L, rectWkt(205, 5, 215, 15)))
    val b = (bRects ++ bTris ++ bCold).toDF("id_b", "wkt_b")
    (a, b)
  }

  private def runUnion(areaOnly: Boolean): Set[(Option[Long], Option[Long], Double)] = {
    val (a, b) = hotFixture
    Overlay.overlay(a, b, "union", areaOnly = areaOnly).collect().map { r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
       if (r.isNullAt(1)) None else Some(r.getLong(1)),
       // strip/bucket association differs from the single sweep in ulps
       math.rint(r.getAs[Double]("area") * 1e6) / 1e6)
    }.toSet
  }

  test("bounded diffSide (cap=8 strip + hierarchical-union) == single-buffer plan") {
    val expArea = runUnion(areaOnly = true)     // default cap: all-cold plan
    val expGeom = runUnion(areaOnly = false)
    assert(expArea == expGeom)                  // sanity: areaOnly is consistent
    spark.conf.set("spark.graft.overlay.maxPartnersPerBuffer", "8")
    try {
      assert(runUnion(areaOnly = true) == expArea,
        "hot strip-decomposition path diverged")
      assert(runUnion(areaOnly = false) == expGeom,
        "hot hierarchical-union path diverged")
    } finally spark.conf.unset("spark.graft.overlay.maxPartnersPerBuffer")
    // the fixture really exercises the hot paths: one difference row each
    // for the strip feature (3600 = 100² − 20·4·80) and the triangle one
    assert(expArea.exists { case (id, o, ar) => id.contains(1L) && o.isEmpty && ar == 3600.0 })
    assert(expArea.count { case (id, o, _) => id.contains(3L) && o.isEmpty } == 1)
    assert(expArea.exists { case (id, o, ar) => id.contains(4L) && o.isEmpty && ar == 100.0 })
  }

  test("reliable checkpoint mode: identical overlay + polygonize output") {
    val (a, b) = hotFixture
    def unionSet = Overlay.overlay(a, b, "union", areaOnly = true).collect().map { r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
       if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getAs[Double]("area"))
    }.toSet
    val arr = Array(
      Array(0.0, 1, 0, 0),
      Array(0.0, 1, 0, 1),
      Array(1.0, 0, 1, 1),
      Array(0.0, 0, 0, 1))
    def polySet = {
      import spark.implicits._
      val ts = for { tr <- 0 until 2; tc <- 0 until 2 } yield {
        val data = new Array[Double](4); val valid = Array.fill(4)(true)
        for (i <- 0 until 2; j <- 0 until 2)
          data(i * 2 + j) = arr(tr * 2 + i)(tc * 2 + j)
        graft.model.RasterTile("t", 0, tr, tc, 2, 2, 1.0, 1.0, tc * 2, 4 - tr * 2,
          "EPSG:32645", -9999, "Area", "float64",
          graft.model.TileCodec.packDoubles(data), graft.model.TileCodec.packMask(valid),
          graft.geo.CellIndex.cellOf(tc * 2, tr * 2, 3))
      }
      // ufThreshold=0 forces the distributed hash-min rounds (the
      // checkpointed iteration)
      Polygonize.polygonize(spark.createDataset(ts), 4, tileW = 2, tileH = 2,
          tilesX = 2, tilesY = 2, ufThreshold = 0L)
        .select("raster_value", "wkt").collect().map(r => (r.getDouble(0), r.getString(1))).toSet
    }
    val expU = unionSet
    val expP = polySet
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.set("spark.graft.checkpoint.dir",
      java.nio.file.Files.createTempDirectory("graft-ckpt-spec").toString)
    try {
      assert(unionSet == expU, "reliable-checkpoint overlay diverged")
      assert(polySet == expP, "reliable-checkpoint polygonize diverged")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      spark.conf.unset("spark.graft.checkpoint.dir")
    }
  }

  test("get_xy_rotated matches the reference recipe on a 3×3 golden") {
    import spark.implicits._
    // single 3×3 tile, res 1; reference (`raster/array.py:105-130`):
    // ll-corner offsets xx=j, yy=2−i, rotate by 30°, re-zero at minima
    val t = graft.model.RasterTile("r", 0, 0, 0, 3, 3, 1.0, 1.0, 0, 3,
      "EPSG:32645", -9999, "Area", "float64",
      graft.model.TileCodec.packDoubles(Array.fill(9)(1.0)),
      graft.model.TileCodec.packMask(Array.fill(9)(true)),
      graft.geo.CellIndex.cellOf(0, 0, 3))
    val got = graft.ops.RasterOps.xyRotated(
        spark.createDataset(Seq(t)), 30.0, 3, 3, 1.0, 1.0)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    val c = math.cos(math.Pi / 6); val s = math.sin(math.Pi / 6)
    for (i <- 0 until 3; j <- 0 until 3) {
      val xx = j.toDouble; val yy = 2.0 - i
      // independent replication: subtract the grid-wide minima directly
      val xr = xx * c - yy * s - (0 * c - 2 * s)   // min at (j=0, yy=2)
      val yr = xx * s + yy * c - 0.0               // min at (j=0, yy=0)
      assert(math.abs(got((i, j))._1 - xr) < 1e-12, s"x_along ($i,$j)")
      assert(math.abs(got((i, j))._2 - yr) < 1e-12, s"y_cross ($i,$j)")
    }
    assert(got((0, 0))._1 == 0.0 || math.abs(got((0, 0))._1) < 1e-12)
  }

  test("reproject average equals local block mean; lanczos matches local kernel") {
    import spark.implicits._
    import graft.ops.Reproject
    import graft.io.RasterGen
    val srcGrid = GridSpec(0.25, 0.25, 0, 100, 400, 400, 50, 50, "EPSG:32645")
    val dst = GridSpec(0.5, 0.5, 0, 100, 200, 200, 50, 50, "EPSG:32645")
    def v(i: Int, j: Int) = ((i * 7 + j * 13) % 97).toDouble
    def ok(i: Int, j: Int) = (i * 31 + j * 17) % 101 != 0

    val avg = graft.ops.RasterOps.cells(
        Reproject.resample(RasterGen.tiles(spark), srcGrid, dst, "average"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (i <- 0 until 200; j <- 0 until 200) {
      val vs = for (di <- 0 to 1; dj <- 0 to 1 if ok(2 * i + di, 2 * j + dj))
        yield v(2 * i + di, 2 * j + dj)
      if (vs.isEmpty) assert(!avg.contains((i, j)), s"($i,$j) should be nodata")
      else assert(avg((i, j)) == vs.sum / vs.size, s"($i,$j)")
    }

    // lanczos: independent local replication on a fully-valid sub-window
    def lw(t0: Double): Double = {
      val t = math.abs(t0)
      if (t < 1e-12) 1.0 else if (t >= 3.0) 0.0
      else { val pt = math.Pi * t; 3.0 * math.sin(pt) * math.sin(pt / 3.0) / (pt * pt) }
    }
    val lz = graft.ops.RasterOps.cells(
        Reproject.resample(RasterGen.tiles(spark), srcGrid, dst, "lanczos"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    var checked = 0
    for (i <- 50 until 60; j <- 50 until 60) {
      val fi = 2 * i + 0.5; val fj = 2 * j + 0.5
      val i0 = math.floor(fi).toInt; val j0 = math.floor(fj).toInt
      val sup = for (a <- -2 to 3; b <- -2 to 3) yield (i0 + a, j0 + b)
      if (sup.forall { case (si, sj) => ok(si, sj) }) {
        var acc = 0.0; var ws = 0.0
        for ((si, sj) <- sup) {
          val w = lw(fi - si) * lw(fj - sj)
          acc += w * v(si, sj); ws += w
        }
        assert(math.abs(lz((i, j)) - acc / ws) < 1e-9, s"($i,$j)")
        checked += 1
      } else assert(!lz.contains((i, j)), s"($i,$j) nodata spreading")
    }
    assert(checked > 10)

    // cubic_spline: B-spline smoother, replicated locally on the same
    // fully-valid sub-windows (4×4 support)
    def bw(t0: Double): Double = {
      val t = math.abs(t0)
      if (t < 1) (4.0 - 6.0 * t * t + 3.0 * t * t * t) / 6.0
      else if (t < 2) { val u = 2.0 - t; u * u * u / 6.0 }
      else 0.0
    }
    val bs = graft.ops.RasterOps.cells(
        Reproject.resample(RasterGen.tiles(spark), srcGrid, dst, "cubic_spline"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    var bsChecked = 0
    for (i <- 50 until 60; j <- 50 until 60) {
      val fi = 2 * i + 0.5; val fj = 2 * j + 0.5
      val i0 = math.floor(fi).toInt; val j0 = math.floor(fj).toInt
      val sup = for (a <- -1 to 2; b <- -1 to 2) yield (i0 + a, j0 + b)
      if (sup.forall { case (si, sj) => ok(si, sj) }) {
        var acc = 0.0; var ws = 0.0
        for ((si, sj) <- sup) {
          val w = bw(fi - si) * bw(fj - sj)
          acc += w * v(si, sj); ws += w
        }
        assert(math.abs(bs((i, j)) - acc / ws) < 1e-9, s"cubic_spline ($i,$j)")
        bsChecked += 1
      } else assert(!bs.contains((i, j)), s"cubic_spline ($i,$j) nodata spreading")
    }
    assert(bsChecked > 10)

    // gauss: 3×3 [1,2,1]⊗[1,2,1] at src center (2i+1, 2j+1), valid-
    // renormalized (nodata skipped, not spread)
    val ga = graft.ops.RasterOps.cells(
        Reproject.resample(RasterGen.tiles(spark), srcGrid, dst, "gauss"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (i <- 30 until 40; j <- 30 until 40) {
      var num = 0.0; var den = 0.0
      for (a <- -1 to 1; b <- -1 to 1 if ok(2 * i + 1 + a, 2 * j + 1 + b)) {
        val w = (if (a == 0) 2 else 1) * (if (b == 0) 2 else 1)
        num += w * v(2 * i + 1 + a, 2 * j + 1 + b); den += w
      }
      if (den == 0) assert(!ga.contains((i, j)), s"gauss ($i,$j)")
      else assert(ga((i, j)) == num / den, s"gauss ($i,$j)")
    }

    // footprint reducers over the 2×2 blocks: mode (count tie → smallest
    // value == min on all-distinct blocks), min/max/sum, and the
    // linear-interp quantile med
    def blockOf(i: Int, j: Int) =
      for (di <- 0 to 1; dj <- 0 to 1 if ok(2 * i + di, 2 * j + dj))
        yield v(2 * i + di, 2 * j + dj)
    def run(m: String) = graft.ops.RasterOps.cells(
        Reproject.resample(RasterGen.tiles(spark), srcGrid, dst, m))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val reduced = Seq("mode", "min", "max", "sum", "med", "rms", "q1", "q3")
      .map(m => m -> run(m)).toMap
    for (i <- 20 until 40; j <- 20 until 40) {
      val vs = blockOf(i, j)
      if (vs.isEmpty) reduced.values.foreach(m => assert(!m.contains((i, j))))
      else {
        val s = vs.sorted
        def quant(q: Double) = {
          val pos = q * (s.length - 1); val lo = pos.toInt
          val hi = math.min(lo + 1, s.length - 1)
          s(lo) + (pos - lo) * (s(hi) - s(lo))
        }
        assert(reduced("mode")((i, j)) ==
          vs.groupBy(identity).toSeq.map { case (x, g) => (-g.size, x) }.min._2, s"mode ($i,$j)")
        assert(reduced("min")((i, j)) == vs.min, s"min ($i,$j)")
        assert(reduced("max")((i, j)) == vs.max, s"max ($i,$j)")
        assert(reduced("sum")((i, j)) == vs.sum, s"sum ($i,$j)")
        assert(math.abs(reduced("med")((i, j)) - quant(0.5)) < 1e-12, s"med ($i,$j)")
        assert(math.abs(reduced("rms")((i, j)) -
          math.sqrt(vs.map(v => v * v).sum / vs.length)) < 1e-12, s"rms ($i,$j)")
        assert(math.abs(reduced("q1")((i, j)) - quant(0.25)) < 1e-12, s"q1 ($i,$j)")
        assert(math.abs(reduced("q3")((i, j)) - quant(0.75)) < 1e-12, s"q3 ($i,$j)")
      }
    }
  }

  test("rasterize equal-order ties: stable winner, partition-order-invariant") {
    import spark.implicits._
    // three mutually-overlapping rects sharing ONE order value but
    // different burns; a fourth with higher order painted last on top
    val feats = Seq(
      (rectWkt(0, 0, 6, 6), 30.0, 1.0),
      (rectWkt(2, 0, 8, 6), 10.0, 1.0),
      (rectWkt(4, 0, 10, 6), 20.0, 1.0),
      (rectWkt(0, 0, 2, 2), 5.0, 2.0)).toDF("wkt", "b", "o")
    def burnMap(parts: Int) = Rasterize.rasterize(
        feats.repartition(parts), burnCol = Some("b"),
        gridXres = 1, gridYres = 1, gridXmin = 0, gridYmax = 6,
        width = 10, height = 6, tileW = 5, tileH = 3,
        orderCol = Some("o"))
      .collect().flatMap { t =>
        val d = graft.model.TileCodec.unpackDoubles(t.data)
        val m = t.mask
        for (i <- 0 until t.height; j <- 0 until t.width
             if graft.model.TileCodec.maskBit(m, i * t.width + j))
          yield (t.tile_row * 3 + i, t.tile_col * 5 + j) -> d(i * t.width + j)
      }.toMap
    val one = burnMap(1)
    assert(burnMap(7) == one, "tie outcome changed with partitioning")
    // equal-ord group sorts by (ord, burn): burn 30 paints LAST among the
    // three and wins every overlap; the ord=2 feature overpaints its cells
    assert(one((1, 4)) == 30.0)   // overlap of burns 30/10/20 at ord=1
    assert(one((3, 3)) == 30.0)   // overlap of burns 30/10 at ord=1
    assert(one((5, 1)) == 5.0)    // ord=2 paints after ord=1, smaller burn wins
    assert(one((2, 7)) == 20.0)   // 10/20 overlap → 20
    assert(one((0, 9)) == 20.0)   // rect3 alone
  }

  test("footprint reducers degrade to nearest on 2x upsample (no spurious nodata)") {
    import graft.ops.Reproject
    import graft.io.RasterGen
    val srcGrid = GridSpec(0.25, 0.25, 0, 100, 400, 400, 50, 50, "EPSG:32645")
    // dst twice as fine: every dst footprint spans less than one src
    // pixel, so on at least one axis it contains no src center — GDAL
    // degrades to nearest there, and a single-pixel footprint makes every
    // reducer (mean/mode/min/max/sum/med) equal the nearest value
    val dst = GridSpec(0.125, 0.125, 0, 100, 100, 100, 50, 50, "EPSG:32645")
    val near = rowSet(graft.ops.RasterOps.cells(
      Reproject.resample(RasterGen.tiles(spark), srcGrid, dst, "nearest")))
    // each valid src pixel in the covered 50×50 window backs exactly 4
    // dst pixels — the pre-fix checkerboard dropped ~3/4 of these
    val expect = 4 * (for (si <- 0 until 50; sj <- 0 until 50
                           if (si * 31 + sj * 17) % 101 != 0) yield 1).size
    assert(near.size == expect)
    for (m <- Seq("average", "mode", "min", "max", "sum", "med")) {
      assert(rowSet(graft.ops.RasterOps.cells(
        Reproject.resample(RasterGen.tiles(spark), srcGrid, dst, m))) == near, m)
    }
  }

  test("sessionize marker state is TTL-evicted; numbering survives within TTL") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.{Ev, OpenSession}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    def st(s: Option[OpenSession], watermarkMs: Long, timedOut: Boolean) =
      TestGroupState.create[OpenSession](
        s.fold(Optional.empty[OpenSession]())(Optional.of),
        GroupStateTimeout.EventTimeTimeout, 0L,
        Optional.of(java.lang.Long.valueOf(watermarkMs)), timedOut)
    val ttl = 3600L

    // open session times out → emitted once, state degrades to a marker
    // carrying the NEXT session id, marker timeout = watermark + TTL
    val s1 = st(Some(OpenSession(2, 1000L, 3, 450)), 10_000_000L, timedOut = true)
    val out1 = Sessionize.step(1800L, ttl)(7L, Iterator.empty, s1).toSeq
    assert(out1 == Seq(Sessionize.SessionRow(7L, 2, 3, 4.5)))
    assert(s1.get.n == 0 && s1.get.sessionId == 3)
    assert(s1.getTimeoutTimestampMs.get() == 10_000_000L + ttl * 1000)

    // an event arriving while the marker lives resumes numbering at 3
    val s2 = st(Some(OpenSession(3, 1000L, 0, 0)), 10_000_000L, timedOut = false)
    val ev = Ev(7L, new java.sql.Timestamp(11_000_000L), 1L, 100)
    assert(Sessionize.step(1800L, ttl)(7L, Iterator(ev), s2).isEmpty)
    assert(s2.get.sessionId == 3 && s2.get.n == 1)

    // the marker's own timeout fires → state removed (bounded store),
    // nothing emitted
    val s3 = st(Some(OpenSession(3, 1000L, 0, 0)), 20_000_000L, timedOut = true)
    assert(Sessionize.step(1800L, ttl)(7L, Iterator.empty, s3).isEmpty)
    assert(s3.isRemoved)

    // a marker that sees ONLY late (filtered) events must RE-ARM its TTL:
    // the GroupState contract clears the stored timeout every invocation,
    // so skipping the re-set would leave a permanent state entry
    val s4 = st(Some(OpenSession(3, 1000L, 0, 0)), 10_000_000L, timedOut = false)
    val late = Ev(7L, new java.sql.Timestamp(9_000_000L), 2L, 100) // < watermark
    assert(Sessionize.step(1800L, ttl)(7L, Iterator(late), s4).isEmpty)
    assert(s4.get.n == 0 && s4.exists &&
      s4.getTimeoutTimestampMs.get() == 10_000_000L + ttl * 1000,
      "marker TTL must be re-armed on a late-only batch")

    // close deadline is one WHOLE SECOND past lastTs+gap: the gap rule
    // floors to seconds, so a 1 ms margin would let the timeout fire while
    // a sub-second on-time event of the SAME batch-rule session could
    // still arrive (split session)
    val s5 = st(None, 0L, timedOut = false)
    val e5 = Ev(7L, new java.sql.Timestamp(1_000_500L), 3L, 100) // tsSec = 1000
    assert(Sessionize.step(1800L, ttl)(7L, Iterator(e5), s5).isEmpty)
    assert(s5.getTimeoutTimestampMs.get() == (1000L + 1800L + 1L) * 1000L,
      s"deadline must be (lastTs+gap+1)s, got ${s5.getTimeoutTimestampMs.get()}")
  }
}
