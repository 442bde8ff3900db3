package graft.model

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, explode, floor, greatest, least, lit, sequence}

/** Core row types of the engine (SURVEY.md §1). All flat primitives +
  * binary payloads so Tungsten rows stay compact and case-class Encoders
  * apply directly.
  */

/** One span of an interleaved document (BASELINE `input_hint` schema).
  * kind ∈ {"wkt","raster","point","meta"}; `text` carries WKT / scaled-int
  * CSV point / key=val metadata; `media_ref` a tile blob ref
  * "tile://<raster_id>/<band>/<row>/<col>" for kind="raster". */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

final case class Doc(doc_id: String, spans: Array[Span])

/** Georeferenced dense tile of a distributed raster — the engine's unit of
  * raster storage and compute (the distributed version of the reference's
  * `ChunkedGeoGrid` blocks, `multiproc/chunked.py:35-249`).
  * `data`: row-major little-endian packed cells; `mask`: validity bitset
  * (bit set = valid), the masked-array invariant of `raster/raster.py:516-634`.
  */
final case class RasterTile(
    raster_id: String, band: Int, tile_row: Int, tile_col: Int,
    width: Int, height: Int,
    xres: Double, yres: Double, xmin: Double, ymax: Double,
    crs: String, nodata: Double, area_or_point: String, dtype: String,
    data: Array[Byte], mask: Array[Byte], cell: Long)

/** The one description of a tiled north-up raster grid (the reference's
  * `ChunkedGeoGrid`, `multiproc/chunked.py:35-249`): every raster producer
  * derives each tile's shape, origin and cell from it, fills the tiles it
  * has no data for, and routes envelopes to tile keys through it. Tiles
  * are `tileW`×`tileH` pixels; those on the right and bottom edges are
  * clipped to the grid. */
final case class GridSpec(xres: Double, yres: Double, xmin: Double, ymax: Double,
                          width: Int, height: Int, tileW: Int, tileH: Int,
                          crs: String) {
  def tilesX: Int = (width + tileW - 1) / tileW
  def tilesY: Int = (height + tileH - 1) / tileH

  def tileWidth(tc: Int): Int = math.min(tileW, width - tc * tileW)
  def tileHeight(tr: Int): Int = math.min(tileH, height - tr * tileH)
  def tileXmin(tc: Int): Double = xmin + tc.toLong * tileW * xres
  def tileYmax(tr: Int): Double = ymax - tr.toLong * tileH * yres

  /** The level-[[GridSpec.TileCellLevel]] cell of tile (tr, tc)'s SW
    * corner, nudged inward so a corner on a cell edge takes the cell the
    * tile lies in. */
  def tileCell(tr: Int, tc: Int): Long =
    graft.geo.CellIndex.cellOf(tileXmin(tc) + 1e-9,
      tileYmax(tr) - tileHeight(tr) * yres + 1e-9, GridSpec.TileCellLevel)

  /** The tile at (tr, tc) holding `data` with validity `valid`, both
    * row-major over the tile's clipped `tileWidth(tc)`×`tileHeight(tr)`
    * pixels. */
  def tile(rasterId: String, band: Int, tr: Int, tc: Int, nodata: Double,
           areaOrPoint: String, dtype: String,
           data: Array[Double], valid: Array[Boolean]): RasterTile =
    RasterTile(rasterId, band, tr, tc, tileWidth(tc), tileHeight(tr), xres, yres,
      tileXmin(tc), tileYmax(tr), crs, nodata, areaOrPoint, dtype,
      TileCodec.packDoubles(data), TileCodec.packMask(valid), tileCell(tr, tc))

  /** Every tile key not in `have`, as an all-masked tile of each band in
    * `bands` (raster_id, band, nodata, area_or_point, dtype): a producer
    * returns the full grid even where it had no input. Cells hold `fill`,
    * or the band's nodata when `fill` is None. */
  def missingTiles(have: Dataset[(Int, Int)],
                   bands: Dataset[(String, Int, Double, String, String)],
                   fill: Option[Double] = None): Dataset[RasterTile] = {
    val spark = have.sparkSession
    import spark.implicits._
    spark.range(tilesY.toLong * tilesX)
      .map(id => ((id / tilesX).toInt, (id % tilesX).toInt))
      .except(have)
      .joinWith(bands, lit(true), "cross")
      .map { case ((tr, tc), (rid, band, nodata, aop, dtype)) =>
        val n = tileWidth(tc) * tileHeight(tr)
        tile(rid, band, tr, tc, nodata, aop, dtype,
          Array.fill(n)(fill.getOrElse(nodata)), new Array[Boolean](n))
      }
  }

  /** `df` with one row per tile whose pixels the envelope (minx, miny,
    * maxx, maxy), grown by `haloPixels`, overlaps, keyed by `tile_row` and
    * `tile_col`. An envelope off the grid routes to no tile: without the
    * lo ≤ hi guard, `sequence(9, 7)` would descend into phantom tiles. */
  def routeToTiles(df: DataFrame, minx: Column, miny: Column, maxx: Column, maxy: Column,
                   haloPixels: Int = 0): DataFrame = {
    def lo(px: Column, tile: Int) =
      greatest(floor((px - haloPixels) / tile).cast("int"), lit(0))
    def hi(px: Column, tile: Int, tiles: Int) =
      least(floor((px + haloPixels) / tile).cast("int"), lit(tiles - 1))
    df.withColumn("trlo", lo((lit(ymax) - maxy) / yres, tileH))
      .withColumn("trhi", hi((lit(ymax) - miny) / yres, tileH, tilesY))
      .withColumn("tclo", lo((minx - lit(xmin)) / xres, tileW))
      .withColumn("tchi", hi((maxx - lit(xmin)) / xres, tileW, tilesX))
      .where(col("trlo") <= col("trhi") && col("tclo") <= col("tchi"))
      .withColumn("tile_row", explode(sequence(col("trlo"), col("trhi"))))
      .withColumn("tile_col", explode(sequence(col("tclo"), col("tchi"))))
      .drop("trlo", "trhi", "tclo", "tchi")
  }
}

object GridSpec {
  /** Cell level of a tile's `cell`: a level-3 cell (12.5 units on the
    * default domain) bounds a 50×50 tile at 0.25 resolution. */
  val TileCellLevel = 3
}

/** Vector feature: geometry as WKT text (per BASELINE input_hint),
  * bbox + covering cells precomputed for pruning/partitioning. */
final case class GeomRow(
    geom_id: String, wkt: String, attrs: Map[String, String], crs: String,
    minx: Double, miny: Double, maxx: Double, maxy: Double,
    cells: Array[Long])

final case class PointRow(
    pc_id: String, x: Double, y: Double, z: Double, value: Double,
    aux: Map[String, Double], cell: Long)

/** Pack/unpack tile payloads. Doubles only for now (the synthetic suite is
  * numeric); dtype tags ride along for the astype/nodata-promotion rules. */
object TileCodec {
  import java.nio.{ByteBuffer, ByteOrder}

  def packDoubles(a: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(a.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.asDoubleBuffer().put(a)
    bb.array()
  }

  /** O(1) single-cell read — avoids decoding a whole tile payload when a
    * plan touches one cell per row (interp/reduce joins). */
  @inline def readDouble(b: Array[Byte], k: Int): Double = {
    val o = k * 8
    var bits = 0L
    var i = 7
    while (i >= 0) { bits = (bits << 8) | (b(o + i) & 0xffL); i -= 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  def unpackDoubles(b: Array[Byte]): Array[Double] = {
    val out = new Array[Double](b.length / 8)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(out)
    out
  }

  /** Validity bitset: bit i set ⟺ cell i valid. */
  def packMask(valid: Array[Boolean]): Array[Byte] = {
    val out = new Array[Byte]((valid.length + 7) / 8)
    var i = 0
    while (i < valid.length) {
      if (valid(i)) out(i >> 3) = (out(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    out
  }

  @inline def maskBit(mask: Array[Byte], i: Int): Boolean =
    (mask(i >> 3) & (1 << (i & 7))) != 0

  def unpackMask(mask: Array[Byte], n: Int): Array[Boolean] = {
    val out = new Array[Boolean](n)
    var i = 0
    while (i < n) { out(i) = maskBit(mask, i); i += 1 }
    out
  }

  def countValid(mask: Array[Byte], n: Int): Int = {
    var c = 0; var i = 0
    while (i < n) { if (maskBit(mask, i)) c += 1; i += 1 }
    c
  }

  /** Bitset algebra for mask rasters (`raster/raster.py:1439-1483`). */
  def maskAnd(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](a.length)
    var i = 0; while (i < a.length) { out(i) = (a(i) & b(i)).toByte; i += 1 }; out
  }
  def maskOr(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](a.length)
    var i = 0; while (i < a.length) { out(i) = (a(i) | b(i)).toByte; i += 1 }; out
  }
  def maskXor(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](a.length)
    var i = 0; while (i < a.length) { out(i) = (a(i) ^ b(i)).toByte; i += 1 }; out
  }
  def maskNot(a: Array[Byte], n: Int): Array[Byte] = {
    val out = new Array[Byte](a.length)
    var i = 0; while (i < a.length) { out(i) = (~a(i)).toByte; i += 1 }
    // clear padding bits beyond n
    val rem = n & 7
    if (rem != 0) out(out.length - 1) = (out(out.length - 1) & ((1 << rem) - 1)).toByte
    out
  }
}

/** Dtype promotion + nodata casting rules, ported from the reference's
  * decision tables (`raster/raster.py:226-321` `_cast_numeric_array_raster`,
  * `referencing.py:239-294`). Unsigned types widen (as geoutils itself does
  * for nodata promotion). */
object Dtypes {
  private val order = Seq("bool", "uint8", "int8", "int16", "uint16", "int32",
    "uint32", "int64", "uint64", "float16", "float32", "float64")
  private val rank = order.zipWithIndex.toMap

  def promote(a: String, b: String): String = {
    val (ra, rb) = (rank(a), rank(b))
    val hi = if (ra >= rb) a else b
    val lo = if (ra >= rb) b else a
    // float ⊗ int follows NumPy: the float widens until its mantissa can
    // hold the int range (float16+int16→float32, float16/32+int32/64→float64)
    if (hi.startsWith("float")) {
      if (lo.startsWith("float") || lo == "bool") hi
      else {
        val needed = width(lo) match {
          case 8 => 16
          case 16 => 32
          case _ => 64
        }
        s"float${math.max(width(hi), needed)}"
      }
    }
    else if (lo == "bool") hi
    else if (hi.startsWith("uint") && lo.startsWith("int")) widen(hi)
    else if (hi.startsWith("int") && lo.startsWith("uint") && width(lo) >= width(hi)) widen(lo)
    else hi
  }

  private def width(d: String): Int = d.filter(_.isDigit).toInt
  private def widen(d: String): String = width(d) match {
    case 8  => "int16"
    case 16 => "int32"
    case 32 => "int64"
    case _  => "float64"
  }

  /** Output nodata = first compatible input nodata (ref `raster.py:302-313`). */
  def combineNodata(n1: Double, n2: Double, outDtype: String): Double =
    if (!n1.isNaN) n1 else if (!n2.isNaN) n2 else graft.geo.Affine.defaultNodata(outDtype)
}
