package graft.ops

import org.apache.spark.sql.{Dataset, Encoders}
import graft.model.{RasterTile, TileCodec}

/** Cell-wise tile operators beyond map/zip (SURVEY.md §2.2): comparisons
  * producing mask rasters, mask boolean algebra, astype with nodata
  * conversion, set_nodata remasking. Mask rasters are RasterTiles with
  * dtype "bool": payload 1.0/0.0, mask = all-valid (matches the
  * reference's Mask = boolean Raster, `raster/raster.py:2280-2315`).
  */
object TileOps {

  private implicit val tileEnc = Encoders.product[RasterTile]

  /** Cell-wise comparison against a scalar → boolean mask raster
    * (`raster/raster.py:1333-1437`): invalid cells compare false. */
  def compareScalar(tiles: Dataset[RasterTile], op: String, s: Double): Dataset[RasterTile] = {
    val f: Double => Boolean = op match {
      case ">"  => _ > s
      case ">=" => _ >= s
      case "<"  => _ < s
      case "<=" => _ <= s
      case "==" => _ == s
      case "!=" => _ != s
    }
    tiles.map { t =>
      val d = TileCodec.unpackDoubles(t.data)
      val out = new Array[Double](d.length)
      val valid = new Array[Boolean](d.length)
      var i = 0
      while (i < d.length) {
        valid(i) = true
        out(i) = if (TileCodec.maskBit(t.mask, i) && f(d(i))) 1.0 else 0.0
        i += 1
      }
      t.copy(dtype = "bool", nodata = 255.0,
        data = TileCodec.packDoubles(out), mask = TileCodec.packMask(valid))
    }
  }

  /** NumPy-ufunc catalog for rasters (`raster/raster.py` __array_ufunc__
    * interception; SURVEY §2.2): named per-cell functions over valid
    * cells, masked-array semantics preserved. */
  val Ufuncs: Map[String, Double => Double] = Map(
    "sin" -> math.sin, "cos" -> math.cos, "tan" -> math.tan,
    "arcsin" -> math.asin, "arccos" -> math.acos, "arctan" -> math.atan,
    "sinh" -> math.sinh, "cosh" -> math.cosh, "tanh" -> math.tanh,
    "exp" -> math.exp, "expm1" -> math.expm1,
    "log" -> math.log, "log2" -> (v => math.log(v) / math.log(2.0)),
    "log10" -> math.log10, "log1p" -> math.log1p,
    "sqrt" -> math.sqrt, "cbrt" -> math.cbrt,
    "abs" -> math.abs, "fabs" -> math.abs,
    "floor" -> math.floor, "ceil" -> math.ceil, "rint" -> math.rint,
    "trunc" -> (v => if (v < 0) math.ceil(v) else math.floor(v)),
    "sign" -> math.signum, "negative" -> (v => -v),
    "reciprocal" -> (v => 1.0 / v), "square" -> (v => v * v),
    "degrees" -> math.toDegrees, "radians" -> math.toRadians)

  /** Apply a named ufunc cell-wise (invalid cells untouched). */
  def ufunc(tiles: Dataset[RasterTile], name: String): Dataset[RasterTile] =
    RasterOps.tileMap(tiles)(Ufuncs(name))

  /** np.gradient analog (§2.2 array functions): per-cell central
    * differences (one-sided at array edges), spacing = the grid res, with
    * cross-tile halo exchange. Output tiles carry d/dy in the payload of
    * band 0 and d/dx in band 1 (two tiles per input tile). A derivative is
    * valid only where the cells it differences are valid. */
  def gradient(tiles: Dataset[RasterTile], tilesX: Int, tilesY: Int,
               tileW: Int = 50, tileH: Int = 50): Dataset[RasterTile] = {
    val width = tilesX * tileW; val height = tilesY * tileH
    Filters.withHalo(tiles, 1, tilesX, tilesY, tileW, tileH) {
      (center, pad, pvalid, pw, ph) =>
        val w = center.width; val h = center.height
        val gRow0 = center.tile_row * tileH; val gCol0 = center.tile_col * tileW
        def axis(vertical: Boolean): RasterTile = {
          val out = new Array[Double](w * h)
          val valid = new Array[Boolean](w * h)
          var i = 0
          while (i < h) {
            var j = 0
            while (j < w) {
              val gi = gRow0 + i; val gj = gCol0 + j
              val (pk1, pk2, span, res) =
                if (vertical) {
                  val up = if (gi > 0) i else i + 1 // padded-frame row offsets
                  val dn = if (gi < height - 1) i + 2 else i + 1
                  ((up) * pw + (j + 1), (dn) * pw + (j + 1), dn - up, center.yres)
                } else {
                  val lf = if (gj > 0) j else j + 1
                  val rt = if (gj < width - 1) j + 2 else j + 1
                  ((i + 1) * pw + lf, (i + 1) * pw + rt, rt - lf, center.xres)
                }
              if (span > 0 && pvalid(pk1) && pvalid(pk2)) {
                // np.gradient(arr, yres, xres) semantics: derivatives in
                // ROW/COL axis direction (row 0 at the top)
                out(i * w + j) = (pad(pk2) - pad(pk1)) / (span * res)
                valid(i * w + j) = true
              } else { out(i * w + j) = center.nodata }
              j += 1
            }
            i += 1
          }
          center.copy(band = if (vertical) 0 else 1,
            data = TileCodec.packDoubles(out), mask = TileCodec.packMask(valid))
        }
        Iterator(axis(vertical = true), axis(vertical = false))
    }(Encoders.product[RasterTile])
  }

  /** Value assignment under a mask (§2.2 mask indexing / in-place assign,
    * the reference's `raster[mask] = value`): cells where the mask raster
    * is true take `value` and become valid; others untouched. */
  def assignWhere(tiles: Dataset[RasterTile], mask: Dataset[RasterTile],
                  value: Double): Dataset[RasterTile] =
    RasterOps.tilePairs(tiles, mask) { (t, m) =>
      val d = TileCodec.unpackDoubles(t.data)
      val md = TileCodec.unpackDoubles(m.data)
      val out = new Array[Double](d.length)
      val valid = new Array[Boolean](d.length)
      var i = 0
      while (i < d.length) {
        val set = TileCodec.maskBit(m.mask, i) && md(i) != 0.0
        valid(i) = set || TileCodec.maskBit(t.mask, i)
        out(i) = if (set) value else d(i)
        i += 1
      }
      t.copy(data = TileCodec.packDoubles(out), mask = TileCodec.packMask(valid))
    }

  /** Boolean algebra on mask rasters (`raster/raster.py:1439-1483`). */
  def maskCombine(a: Dataset[RasterTile], b: Dataset[RasterTile], op: String): Dataset[RasterTile] = {
    val f: (Boolean, Boolean) => Boolean = op match {
      case "and" => _ && _
      case "or"  => _ || _
      case "xor" => _ ^ _
    }
    RasterOps.tileZip(a, b)((x, y) => if (f(x != 0.0, y != 0.0)) 1.0 else 0.0)
  }

  def maskNot(a: Dataset[RasterTile]): Dataset[RasterTile] =
    RasterOps.tileMap(a)(v => if (v != 0.0) 0.0 else 1.0)

  /** astype: dtype cast + nodata conversion (`raster/raster.py:1485-1539`).
    * Values clamp-truncate toward the integer dtypes; nodata becomes the
    * target default when the old one doesn't fit. */
  def astype(tiles: Dataset[RasterTile], dtype: String): Dataset[RasterTile] = {
    val toInt = !dtype.startsWith("float")
    val newNodata = graft.geo.Affine.defaultNodata(dtype)
    val (lo, hi): (Double, Double) = dtype match {
      case "bool"   => (0.0, 1.0)
      case "uint8"  => (0.0, 255.0)
      case "int8"   => (-128.0, 127.0)
      case "uint16" => (0.0, 65535.0)
      case "int16"  => (-32768.0, 32767.0)
      case "uint32" => (0.0, 4294967295.0)
      case "int32"  => (-2147483648.0, 2147483647.0)
      case "uint64" => (0.0, 1.8446744073709552e19)
      case "int64"  => (-9.223372036854776e18, 9.223372036854776e18)
      case _        => (Double.NegativeInfinity, Double.PositiveInfinity)
    }
    tiles.map { t =>
      val d = TileCodec.unpackDoubles(t.data)
      val out = new Array[Double](d.length)
      var i = 0
      while (i < d.length) {
        out(i) =
          if (!TileCodec.maskBit(t.mask, i)) newNodata
          else if (toInt) math.min(hi, math.max(lo, math.rint(d(i))))
          else d(i)
        i += 1
      }
      t.copy(dtype = dtype, nodata = newNodata, data = TileCodec.packDoubles(out))
    }
  }

  /** set_nodata (`raster/base.py:276-380`): cells equal to the NEW nodata
    * value get masked (the reference's remask-on-collision), old nodata
    * fill cells are rewritten to the new value. */
  def setNodata(tiles: Dataset[RasterTile], newNodata: Double): Dataset[RasterTile] =
    tiles.map { t =>
      val d = TileCodec.unpackDoubles(t.data)
      val out = new Array[Double](d.length)
      val valid = new Array[Boolean](d.length)
      var i = 0
      while (i < d.length) {
        val ok = TileCodec.maskBit(t.mask, i)
        valid(i) = ok && d(i) != newNodata
        out(i) = if (valid(i)) d(i) else newNodata
        i += 1
      }
      t.copy(nodata = newNodata,
        data = TileCodec.packDoubles(out), mask = TileCodec.packMask(valid))
    }

  /** split_bands (`raster/raster.py:3528-3560`): one single-band raster
    * per band of a multi-band stack. Pure Catalyst `filter(band = b)` per
    * output — partition-pruned when the tile table is written partitioned
    * by `band`, and no shuffle in any case. The band list is collected
    * from a distinct on the band column (bands are physically few — a
    * bounded metadata-sized set, never data-sized). */
  def splitBands(tiles: Dataset[RasterTile]): Map[Int, Dataset[RasterTile]] = {
    val bands = tiles.select(tiles("band")).distinct()
      .collect().map(_.getInt(0)).sorted
    bands.map(b => b -> band(tiles, b)).toMap
  }

  /** Single band of a multi-band stack without enumerating bands (the
    * lazy companion of `splitBands` for callers that know the band id). */
  def band(tiles: Dataset[RasterTile], b: Int): Dataset[RasterTile] =
    tiles.filter(org.apache.spark.sql.functions.col("band") === b)

  /** Multi-raster merge (`raster/multiraster.py:128-343`): stack aligned
    * rasters and reduce per cell over valid contributions
    * (mean/min/max/sum/count), masked where no raster has data. */
  def merge(stacks: Seq[Dataset[RasterTile]], reducer: String): Dataset[RasterTile] = {
    require(Seq("mean", "min", "max", "sum", "count").contains(reducer))
    val all = stacks.reduce(_ union _)
    val spark = all.sparkSession
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
    all.groupByKey(t => (t.tile_row, t.tile_col))
      .mapGroups { (_, it: Iterator[RasterTile]) =>
        val ts = it.toArray
        val h = ts.head
        val n = h.width * h.height
        val sum = new Array[Double](n); val cnt = new Array[Int](n)
        val mn = Array.fill(n)(Double.MaxValue); val mx = Array.fill(n)(Double.MinValue)
        ts.foreach { t =>
          require(t.xmin == h.xmin && t.ymax == h.ymax && t.xres == h.xres,
            "merge requires aligned grids")
          val d = TileCodec.unpackDoubles(t.data)
          var i = 0
          while (i < n) {
            if (TileCodec.maskBit(t.mask, i)) {
              sum(i) += d(i); cnt(i) += 1
              if (d(i) < mn(i)) mn(i) = d(i)
              if (d(i) > mx(i)) mx(i) = d(i)
            }
            i += 1
          }
        }
        val out = new Array[Double](n); val valid = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          if (cnt(i) > 0) {
            valid(i) = true
            out(i) = reducer match {
              case "mean" => sum(i) / cnt(i)
              case "min" => mn(i)
              case "max" => mx(i)
              case "sum" => sum(i)
              case "count" => cnt(i).toDouble
            }
          } else out(i) = h.nodata
          i += 1
        }
        h.copy(data = TileCodec.packDoubles(out), mask = TileCodec.packMask(valid))
      }
  }
}
