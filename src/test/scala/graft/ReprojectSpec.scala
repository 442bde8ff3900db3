package graft

import graft.io.RasterGen
import graft.model.{GridSpec, RasterTile, TileCodec}
import graft.ops.{RasterOps, Reproject}
import graft.geo.CellIndex

class ReprojectSpec extends SparkSpec {

  val srcGrid: GridSpec = GridSpec(0.25, 0.25, 0, 100, 400, 400, 50, 50, "EPSG:32645")

  test("no-op reproject returns the input unchanged (transformation.py:151-171)") {
    val t = RasterGen.tiles(spark)
    val out = Reproject.resample(t, srcGrid, srcGrid, "nearest")
    assert(out eq t)
  }

  test("reproject onto a larger offset grid returns the FULL dst grid with nodata fill") {
    // dst extends 100 units right of the source: the right half has no
    // source tiles and must come back as all-nodata tiles, not be dropped
    val dst = GridSpec(0.5, 0.5, 0, 100, 400, 200, 50, 50, "EPSG:32645")
    val out = Reproject.resample(RasterGen.tiles(spark), srcGrid, dst, "nearest")
      .collect()
    assert(out.length == dst.tilesX * dst.tilesY,
      s"expected full grid ${dst.tilesX * dst.tilesY}, got ${out.length}")
    val uncovered = out.filter(_.tile_col >= 4) // x ≥ 100: outside source
    assert(uncovered.nonEmpty)
    uncovered.foreach { t =>
      assert(TileCodec.countValid(t.mask, t.width * t.height) == 0,
        s"tile (${t.tile_row},${t.tile_col}) should be all-nodata")
      assert(t.nodata == out.head.nodata && t.dtype == out.head.dtype)
    }
    // covered half still matches the plain source values
    val got = rowSet(RasterOps.cells(
      Reproject.resample(RasterGen.tiles(spark), srcGrid, dst, "nearest")))
    val expected = (for {
      i <- 0 until 200; j <- 0 until 400
      si = 2 * i + 1; sj = 2 * j + 1
      if sj < 400 && RasterGen.valid(si, sj)
    } yield Seq[Any](i, j, RasterGen.value(si, sj))).toSet
    assert(got == expected)
  }

  test("2x downsample nearest matches local golden") {
    val dst = GridSpec(0.5, 0.5, 0, 100, 200, 200, 50, 50, "EPSG:32645")
    val out = Reproject.resample(RasterGen.tiles(spark), srcGrid, dst, "nearest")
    val got = rowSet(RasterOps.cells(out))
    val expected = (for {
      i <- 0 until 200; j <- 0 until 200
      si = 2 * i + 1; sj = 2 * j + 1
      if RasterGen.valid(si, sj)
    } yield Seq[Any](i, j, RasterGen.value(si, sj))).toSet
    assert(got == expected)
  }

  test("bilinear reproduces a linear field exactly") {
    import spark.implicits._
    // v(x,y) = 3x + 5y on a 100×100 grid res 1.0, all valid, tiles 25×25
    val tiles = spark.createDataset(for {
      tr <- 0 until 4; tc <- 0 until 4
    } yield {
      val data = new Array[Double](625)
      for (i <- 0 until 25; j <- 0 until 25) {
        val x = (tc * 25 + j + 0.5) * 1.0; val y = 100 - (tr * 25 + i + 0.5)
        data(i * 25 + j) = 3 * x + 5 * y
      }
      RasterTile("lin", 0, tr, tc, 25, 25, 1.0, 1.0, tc * 25, 100 - tr * 25,
        "EPSG:32645", -9999, "Area", "float64",
        TileCodec.packDoubles(data), TileCodec.packMask(Array.fill(625)(true)),
        CellIndex.cellOf(tc * 25, 100 - tr * 25 - 25, 3))
    })
    val sg = GridSpec(1.0, 1.0, 0, 100, 100, 100, 25, 25, "EPSG:32645")
    // dst grid shifted + scaled: res 0.8 over interior window [10,90)
    val dst = GridSpec(0.8, 0.8, 10, 90, 100, 100, 25, 25, "EPSG:32645")
    val out = Reproject.resample(tiles, sg, dst, "bilinear")
    val cells = RasterOps.cells(out).collect()
    assert(cells.length == 100 * 100)
    cells.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val x = 10 + (j + 0.5) * 0.8; val y = 90 - (i + 0.5) * 0.8
      assert(math.abs(r.getDouble(2) - (3 * x + 5 * y)) < 1e-9, s"($i,$j)")
    }
  }

  test("bilinear spreads nodata to touching outputs (interpolation.py:72-86)") {
    val dst = GridSpec(0.5, 0.5, 0, 100, 200, 200, 50, 50, "EPSG:32645")
    val out = Reproject.resample(RasterGen.tiles(spark), srcGrid, dst, "bilinear")
    val got = RasterOps.cells(out).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // local golden: dst center maps to src fractional (2i+0.5, 2j+0.5);
    // floor = (2i, 2j); neighbors (2i..2i+1, 2j..2j+1)
    for (i <- 0 until 200; j <- 0 until 200) {
      val ns = Seq((2 * i, 2 * j), (2 * i, 2 * j + 1), (2 * i + 1, 2 * j), (2 * i + 1, 2 * j + 1))
      val allValid = ns.forall { case (si, sj) => RasterGen.valid(si, sj) }
      if (allValid) {
        val exp = ns.map { case (si, sj) => RasterGen.value(si, sj) }.sum / 4.0
        assert(math.abs(got((i, j)) - exp) < 1e-9, s"($i,$j)")
      } else assert(!got.contains((i, j)), s"($i,$j) should be nodata")
    }
  }

  test("cubic convolution reproduces linear fields exactly and is partition-invariant") {
    import spark.implicits._
    val tiles = spark.createDataset(for { tr <- 0 until 4; tc <- 0 until 4 } yield {
      val data = new Array[Double](625)
      for (i <- 0 until 25; j <- 0 until 25) {
        val x = (tc * 25 + j + 0.5) * 1.0; val y = 100 - (tr * 25 + i + 0.5)
        data(i * 25 + j) = 3 * x + 5 * y
      }
      RasterTile("lin", 0, tr, tc, 25, 25, 1.0, 1.0, tc * 25, 100 - tr * 25,
        "EPSG:32645", -9999, "Area", "float64",
        TileCodec.packDoubles(data), TileCodec.packMask(Array.fill(625)(true)),
        CellIndex.cellOf(tc * 25, 100 - tr * 25 - 25, 3))
    })
    val sg = GridSpec(1.0, 1.0, 0, 100, 100, 100, 25, 25, "EPSG:32645")
    val dst = GridSpec(0.7, 0.7, 10, 90, 100, 100, 25, 25, "EPSG:32645")
    val out = RasterOps.cells(Reproject.resample(tiles, sg, dst, "cubic")).collect()
    assert(out.length == 10000)
    out.foreach { r =>
      val x = 10 + (r.getInt(1) + 0.5) * 0.7; val y = 90 - (r.getInt(0) + 0.5) * 0.7
      assert(math.abs(r.getDouble(2) - (3 * x + 5 * y)) < 1e-9, s"(${r.getInt(0)},${r.getInt(1)})")
    }
    // partition invariance on the masked dem
    def run(p: Int) = rowSet(RasterOps.cells(Reproject.resample(
      io.RasterGen.tiles(spark).repartition(p), srcGrid,
      GridSpec(0.5, 0.5, 0, 100, 200, 200, 50, 50, "EPSG:32645"), "cubic")))
    assert(run(1) == run(16))
  }

  test("resample is partition-invariant") {
    val dst = GridSpec(0.5, 0.5, 0, 100, 200, 200, 50, 50, "EPSG:32645")
    def run(p: Int) = rowSet(RasterOps.cells(
      Reproject.resample(RasterGen.tiles(spark).repartition(p), srcGrid, dst, "nearest")))
    assert(run(1) == run(16))
  }
}
