package graft

import org.apache.spark.sql.functions._
import graft.io.{GeoTables, RasterGen}
import graft.model.{GridSpec, RasterTile, TileCodec}
import graft.ops.{Gridding, RasterOps, Rasterize, Reproject, TileOps}

class RasterSpec extends SparkSpec {

  /** Local (single-machine) golden computation from the pure cell fns. */
  private def localStats(): (Long, Double, Double, Double) = {
    var cnt = 0L; var sum = 0.0; var mn = Double.MaxValue; var mx = Double.MinValue
    for (i <- 0 until RasterGen.H; j <- 0 until RasterGen.W if RasterGen.valid(i, j)) {
      val v = RasterGen.value(i, j)
      cnt += 1; sum += v; if (v < mn) mn = v; if (v > mx) mx = v
    }
    (cnt, sum, mn, mx)
  }

  test("raster stats match local golden") {
    val (cnt, sum, mn, mx) = localStats()
    val r = RasterOps.stats(RasterGen.tiles(spark)).collect()(0)
    assert(r.getAs[Long]("n_valid") == cnt)
    assert(r.getAs[Long]("n_total") == RasterGen.H.toLong * RasterGen.W)
    assert(math.abs(r.getAs[Double]("sum_val") - sum) < 1e-6)
    assert(r.getAs[Double]("min_val") == mn && r.getAs[Double]("max_val") == mx)
  }

  test("crop matches local golden and prunes tiles") {
    val (wxmin, wymin, wxmax, wymax) = (10.0, 20.0, 35.0, 60.0)
    val got = rowSet(RasterOps.cropCells(RasterGen.tiles(spark), wxmin, wymin, wxmax, wymax))
    val expected = (for {
      i <- 0 until RasterGen.H; j <- 0 until RasterGen.W
      cx = 0.125 + j * 0.25; cy = 100 - 0.125 - i * 0.25
      if cx > wxmin && cx < wxmax && cy > wymin && cy < wymax && RasterGen.valid(i, j)
    } yield Seq[Any](i, j, RasterGen.value(i, j))).toSet
    assert(got == expected)
  }

  test("tileZip: dem + dem doubles the sum, masks AND") {
    val t = RasterGen.tiles(spark)
    val both = RasterOps.tileZip(t, t)(_ + _)
    val r = RasterOps.stats(both).collect()(0)
    val (cnt, sum, _, _) = localStats()
    assert(r.getAs[Long]("n_valid") == cnt)
    assert(math.abs(r.getAs[Double]("sum_val") - 2 * sum) < 1e-6)
  }

  test("tileMap applies only to valid cells") {
    val t = RasterGen.tiles(spark)
    val neg = RasterOps.tileMap(t)(v => -v)
    val r = RasterOps.stats(neg).collect()(0)
    val (cnt, sum, mn, mx) = localStats()
    assert(r.getAs[Long]("n_valid") == cnt)
    assert(math.abs(r.getAs[Double]("sum_val") + sum) < 1e-6)
    assert(r.getAs[Double]("min_val") == -mx && r.getAs[Double]("max_val") == -mn)
  }

  test("zonalBox matches per-zone local golden") {
    val zones = GeoTables.zones(spark, sf001)
    val got = RasterOps.zonalBox(RasterGen.tiles(spark), zones, RasterGen.Grid)
      .collect().map(r => r.getAs[Long]("zone_id") ->
        (r.getAs[Long]("n_cells"), r.getAs[Double]("sum_val"))).toMap

    val zloc = zones.collect().map(r => (r.getAs[Long]("zone_id"),
      r.getAs[Double]("zxmin"), r.getAs[Double]("zymin"),
      r.getAs[Double]("zxmax"), r.getAs[Double]("zymax")))
    zloc.foreach { case (id, zxmin, zymin, zxmax, zymax) =>
      var cnt = 0L; var sum = 0.0
      for (i <- 0 until RasterGen.H; j <- 0 until RasterGen.W if RasterGen.valid(i, j)) {
        val cx = 0.125 + j * 0.25; val cy = 100 - 0.125 - i * 0.25
        if (cx > zxmin && cx < zxmax && cy > zymin && cy < zymax) {
          cnt += 1; sum += RasterGen.value(i, j)
        }
      }
      if (cnt > 0) {
        val (gc, gs) = got(id)
        assert(gc == cnt, s"zone $id count")
        assert(math.abs(gs - sum) < 1e-9, s"zone $id sum")
      } else assert(!got.contains(id), s"zone $id should be absent")
    }
  }

  test("value histogram is partition-invariant and complete") {
    val h1 = rowSet(RasterOps.valueHistogram(RasterGen.tiles(spark).repartition(1)))
    val h16 = rowSet(RasterOps.valueHistogram(RasterGen.tiles(spark).repartition(16)))
    assert(h1 == h16)
    val total = h1.toSeq.map(_(1).asInstanceOf[Long]).sum
    assert(total == localStats()._1)
  }

  test("tile payload round-trip") {
    val t = RasterGen.makeTile(2, 3)
    val d = TileCodec.unpackDoubles(t.data)
    assert(d.length == 2500)
    val i = 17; val j = 29
    val gi = 2 * 50 + i; val gj = 3 * 50 + j
    assert(TileCodec.maskBit(t.mask, i * 50 + j) == RasterGen.valid(gi, gj))
    if (RasterGen.valid(gi, gj)) assert(d(i * 50 + j) == RasterGen.value(gi, gj))
    assert(t.xmin == 3 * 50 * 0.25 && t.ymax == 100 - 2 * 50 * 0.25)
  }

  test("zonalBox routes zones by the raster's origin, not by x = 0") {
    import spark.implicits._
    def perZone(tiles: org.apache.spark.sql.Dataset[RasterTile],
                zones: org.apache.spark.sql.DataFrame, grid: GridSpec) =
      RasterOps.zonalBox(tiles, zones, grid).collect().map(r => r.getAs[Long]("zone_id") ->
        (r.getAs[Long]("n_cells"), r.getAs[Double]("sum_val"))).toMap
    val zones = GeoTables.zones(spark, sf001)
    val base = perZone(RasterGen.tiles(spark), zones, RasterGen.Grid)
    // the same raster and zones, both moved +10 in x
    val shifted = perZone(RasterGen.tiles(spark).map(t => t.copy(xmin = t.xmin + 10)),
      zones.withColumn("zxmin", col("zxmin") + 10).withColumn("zxmax", col("zxmax") + 10),
      RasterGen.Grid.copy(xmin = 10.0))
    assert(base.nonEmpty)
    assert(shifted == base)
  }

  test("tile-pair operators reject a partner on another grid") {
    import spark.implicits._
    val dem = RasterGen.tiles(spark)
    val mask = TileOps.compareScalar(dem, ">", 48)
    val ops: Seq[(String, org.apache.spark.sql.Dataset[RasterTile] => Unit)] = Seq(
      "tileZip" -> (p => RasterOps.tileZip(dem, p)(_ + _).collect()),
      "statsInlier" -> (p => RasterOps.statsInlier(dem, p).collect()),
      "applyMask" -> (p => RasterOps.applyMask(dem, p).collect()),
      "assignWhere" -> (p => TileOps.assignWhere(dem, p, 1.0).collect()))
    for ((name, op) <- ops) {
      op(mask) // the aligned partner passes
      for ((what, partner) <- Seq("width" -> mask.map(_.copy(width = 25)),
                                  "yres" -> mask.map(_.copy(yres = 0.5)))) {
        val e = intercept[Exception](op(partner))
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(m => m != null && m.contains("grids differ")), s"$name, $what: $e")
      }
    }
  }

  test("every raster producer takes each tile's geometry from its GridSpec") {
    import spark.implicits._
    // 90×70 pixels in 25×20 tiles: the last tile column is 15 wide, the
    // last tile row 10 high; the origin is off zero on both axes
    val g = GridSpec(0.5, 0.25, 10.0, 50.0, 90, 70, 25, 20, "EPSG:32645")
    def keysOf(grid: GridSpec) =
      (for (tr <- 0 until grid.tilesY; tc <- 0 until grid.tilesX) yield (tr, tc)).toSet
    def check(name: String, grid: GridSpec, tiles: org.apache.spark.sql.Dataset[RasterTile],
              full: Boolean): Unit = {
      val got = tiles.collect()
      got.foreach { t =>
        val (tr, tc) = (t.tile_row, t.tile_col)
        assert((t.width, t.height, t.xmin, t.ymax, t.cell) ==
          (grid.tileWidth(tc), grid.tileHeight(tr), grid.tileXmin(tc), grid.tileYmax(tr),
            grid.tileCell(tr, tc)), s"$name tile ($tr,$tc)")
      }
      val keys = got.map(t => (t.tile_row, t.tile_col)).toSet
      if (full) assert(keys == keysOf(grid), s"$name keys")
      else assert(keys.nonEmpty && keys.subsetOf(keysOf(grid)), s"$name keys")
    }
    val feats = Seq("POLYGON ((12 34, 30 34, 30 45, 12 45, 12 34))",
      "POLYGON ((40 40, 54 40, 54 49, 40 49, 40 40))").toDF("wkt")
    check("rasterize", g, Rasterize.rasterize(feats, None, g.xres, g.yres, g.xmin, g.ymax,
      g.width, g.height, g.tileW, g.tileH), full = true)
    val pts = (for (k <- 0 until 200) yield
      (10.25 + (k * 37 % 90) * 0.5, 50 - 0.125 - (k * 53 % 70) * 0.25, (k % 11).toDouble))
      .distinct.toDF("x", "y", "value")
    check("delaunayGrid", g, Gridding.delaunayGrid(pts, g.xres, g.yres, g.xmin, g.ymax,
      g.width, g.height, g.tileW, g.tileH), full = true)
    check("pointsToRaster", g, RasterOps.pointsToRaster(pts, g.xres, g.yres, g.xmin, g.ymax,
      g.width, g.height, g.tileW, g.tileH), full = false)
    check("resample", g, Reproject.resample(RasterGen.tiles(spark), RasterGen.Grid, g),
      full = true)
    check("RasterGen", RasterGen.Grid, RasterGen.tiles(spark), full = true)
  }
}
