package graft.io

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.{GridSpec, RasterTile, TileCodec}

/** Deterministic synthetic raster — the engine's `synth_dem` analog
  * (FIXTURES.md §3), sized to be fully reproducible in the DuckDB oracle
  * via `generate_series` (see GeoTables.Sql.grid):
  *
  *   grid 400×400 over [0,100)², res 0.25, ymax=100 (north-up)
  *   value(i,j)  = (i*7 + j*13) % 97           (i = row from top, j = col)
  *   invalid(i,j) ⟺ (i*31 + j*17) % 101 == 0   (~1% nodata holes)
  *
  * Tiled 50×50 → 8×8 = 64 tiles. Pure function of (tr, tc): tiles are
  * generated distributed (spark.range over tile ids), never collected.
  */
object RasterGen {
  val H = 400; val W = 400
  val TileH = 50; val TileW = 50
  val TilesY: Int = H / TileH; val TilesX: Int = W / TileW
  val Nodata = -99999.0
  val Grid: GridSpec = GridSpec(0.25, 0.25, 0.0, 100.0, W, H, TileW, TileH, "EPSG:32645")

  @inline def value(i: Int, j: Int): Double = ((i * 7 + j * 13) % 97).toDouble
  @inline def valid(i: Int, j: Int): Boolean = (i * 31 + j * 17) % 101 != 0

  def makeTile(tr: Int, tc: Int, rasterId: String = "dem"): RasterTile = {
    val data = new Array[Double](TileH * TileW)
    val m = new Array[Boolean](TileH * TileW)
    var k = 0
    var di = 0
    while (di < TileH) {
      val i = tr * TileH + di
      var dj = 0
      while (dj < TileW) {
        val j = tc * TileW + dj
        val ok = valid(i, j)
        data(k) = if (ok) value(i, j) else Nodata
        m(k) = ok
        k += 1; dj += 1
      }
      di += 1
    }
    Grid.tile(rasterId, 0, tr, tc, Nodata, "Area", "float64", data, m)
  }

  def tiles(spark: SparkSession): Dataset[RasterTile] = {
    import spark.implicits._
    spark.range(TilesY.toLong * TilesX).map { id =>
      makeTile((id / TilesX).toInt, (id % TilesX).toInt)
    }
  }

  /** Second deterministic raster on the same grid with a DIFFERENT value
    * field and mask (multi-raster merge tests/oracles):
    * value2 = (i*5 + j*3) % 89; invalid2 ⟺ (i*13 + j*7) % 103 == 0. */
  @inline def value2(i: Int, j: Int): Double = ((i * 5 + j * 3) % 89).toDouble
  @inline def valid2(i: Int, j: Int): Boolean = (i * 13 + j * 7) % 103 != 0

  def makeTile2(tr: Int, tc: Int): RasterTile = {
    val data = new Array[Double](TileH * TileW)
    val m = new Array[Boolean](TileH * TileW)
    var k = 0
    var di = 0
    while (di < TileH) {
      val i = tr * TileH + di
      var dj = 0
      while (dj < TileW) {
        val j = tc * TileW + dj
        val ok = valid2(i, j)
        data(k) = if (ok) value2(i, j) else Nodata
        m(k) = ok
        k += 1; dj += 1
      }
      di += 1
    }
    val base = makeTile(tr, tc)
    base.copy(raster_id = "dem2", data = TileCodec.packDoubles(data),
      mask = TileCodec.packMask(m))
  }

  def tiles2(spark: SparkSession): Dataset[RasterTile] = {
    import spark.implicits._
    spark.range(TilesY.toLong * TilesX).map { id =>
      makeTile2((id / TilesX).toInt, (id % TilesX).toInt)
    }
  }
}
