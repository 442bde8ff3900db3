package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{GridSpec, RasterTile, TileCodec}

/** Reproject / grid resample — the canonical shuffle op (reference
  * `raster/transformation.py:738-825`; chunked dst→src block mapping
  * `:294-429`, per-block combine+warp `:432-493`).
  *
  * Plan shape: enumerate destination tiles; each dst tile computes its
  * source pixel footprint (+halo, the reference's 2-px buffer analog);
  * footprint → source tile keys by pure column math (the STRtree-free
  * dst→src mapping); equi-join source tiles; groupByKey(dst tile) →
  * assemble + inverse-transform resample in one mapGroups kernel.
  *
  * `transformXY` hooks the CRS math (dst world → src world); identity =
  * pure grid resample. No-op detection (`transformation.py:151-171`):
  * same grid + nearest ⇒ the input Dataset is returned unchanged.
  */
object Reproject {

  /** Resample `src` (whose full grid is `srcGrid`) onto `dst`.
    * method: "nearest" | "bilinear". Identity transform between CRSs for
    * now (CRS hook: srcXY = transformXY(dstX, dstY)). */
  /** Keys cubic-convolution weight, a = -0.5 (GDAL "cubic", the
    * reference's rasterio cubic resampling kernel). */
  @inline private def cubicW(t0: Double): Double = {
    val t = math.abs(t0)
    if (t <= 1) (1.5 * t - 2.5) * t * t + 1
    else if (t < 2) ((-0.5 * t + 2.5) * t - 4) * t + 2
    else 0.0
  }

  /** Lanczos a=3 windowed sinc (rasterio Resampling.lanczos,
    * `transformation.py:173-292`): sinc(t)·sinc(t/3), 6-px support. */
  @inline private def lanczosW(t0: Double): Double = {
    val t = math.abs(t0)
    if (t < 1e-12) 1.0
    else if (t >= 3.0) 0.0
    else {
      val pt = math.Pi * t
      3.0 * math.sin(pt) * math.sin(pt / 3.0) / (pt * pt)
    }
  }

  /** Cubic B-spline basis (GDAL/rasterio Resampling.cubic_spline,
    * `transformation.py:173-292`): an APPROXIMATING smoother — exact on
    * constant and linear fields (partition of unity + symmetry), smooths
    * everything else. 4-px support, same as `cubic`. */
  @inline private def bsplineW(t0: Double): Double = {
    val t = math.abs(t0)
    if (t < 1) (4.0 - 6.0 * t * t + 3.0 * t * t * t) / 6.0
    else if (t < 2) { val u = 2.0 - t; u * u * u / 6.0 }
    else 0.0
  }

  def resample(src: Dataset[RasterTile], srcGrid: GridSpec, dst: GridSpec,
               method: String = "nearest",
               transformXY: (Double, Double) => (Double, Double) = (x, y) => (x, y))
      : Dataset[RasterTile] = {
    require(Seq("nearest", "bilinear", "cubic", "cubic_spline", "average",
      "lanczos", "mode", "gauss",
      "min", "max", "sum", "rms", "med", "q1", "q3").contains(method), method)

    // no-op elision (transformation.py:151-171)
    if (method == "nearest" && srcGrid == dst) return src

    val spark = src.sparkSession
    import spark.implicits._
    val halo = method match {
      case "cubic" | "cubic_spline" => 3
      case "lanczos" => 4
      case "gauss" => 2
      case "bilinear" => 2
      // footprint reducers read the dst pixel's whole src footprint —
      // halo scales with the decimation ratio, not a fixed kernel width
      case "average" | "mode" | "min" | "max" | "sum" | "rms" | "med" | "q1" | "q3" =>
        math.ceil(math.max(
          dst.xres / srcGrid.xres, dst.yres / srcGrid.yres)).toInt + 1
      case _ => 1
    }

    // dst tile → covered src tile keys (pure arithmetic on the grid)
    val dstTiles = spark.range(dst.tilesY.toLong * dst.tilesX).map { id =>
      val dtr = (id / dst.tilesX).toInt; val dtc = (id % dst.tilesX).toInt
      // dst tile world bounds
      val x0 = dst.tileXmin(dtc)
      val x1 = math.min(dst.xmin + dst.width * dst.xres, x0 + dst.tileW * dst.xres)
      val y1 = dst.tileYmax(dtr)
      val y0 = math.max(dst.ymax - dst.height * dst.yres, y1 - dst.tileH * dst.yres)
      // world → src world (corners; identity or CRS fn — monotone assumed
      // per-axis for the supported CRS subset)
      val cs = Seq(transformXY(x0, y0), transformXY(x1, y0),
                   transformXY(x0, y1), transformXY(x1, y1))
      val sx0 = cs.map(_._1).min; val sx1 = cs.map(_._1).max
      val sy0 = cs.map(_._2).min; val sy1 = cs.map(_._2).max
      // src pixel window + halo → src tile range
      val j0 = math.floor((sx0 - srcGrid.xmin) / srcGrid.xres).toInt - halo
      val j1 = math.floor((sx1 - srcGrid.xmin) / srcGrid.xres).toInt + halo
      val i0 = math.floor((srcGrid.ymax - sy1) / srcGrid.yres).toInt - halo
      val i1 = math.floor((srcGrid.ymax - sy0) / srcGrid.yres).toInt + halo
      val tc0 = math.max(0, j0 / srcGrid.tileW); val tc1 = math.min(srcGrid.tilesX - 1, j1 / srcGrid.tileW)
      val tr0 = math.max(0, i0 / srcGrid.tileH); val tr1 = math.min(srcGrid.tilesY - 1, i1 / srcGrid.tileH)
      (dtr, dtc, tr0, tr1, tc0, tc1)
    }.toDF("dtr", "dtc", "tr0", "tr1", "tc0", "tc1")
      .withColumn("tile_row", explode(sequence($"tr0", $"tr1")))
      .withColumn("tile_col", explode(sequence($"tc0", $"tc1")))
      .select($"dtr", $"dtc", $"tile_row", $"tile_col")

    val tileFields = Seq("raster_id", "band", "tile_row", "tile_col", "width",
      "height", "xres", "yres", "xmin", "ymax", "crs", "nodata",
      "area_or_point", "dtype", "data", "mask", "cell")
    val joined = dstTiles.join(src.toDF(), Seq("tile_row", "tile_col"), "inner")
      .select(col("dtr"), col("dtc"), struct(tileFields.map(col): _*).as("t"))
      .as[(Int, Int, RasterTileFlat)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.product[RasterTileFlat]))

    // assemble + warp per dst tile; key includes (raster_id, band) so
    // multi-band / multi-raster inputs warp independently, never collide
    implicit val keyEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaInt, org.apache.spark.sql.Encoders.scalaInt,
      org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaInt)
    val warped = joined.groupByKey(row => (row._1, row._2, row._3.raster_id, row._3.band))
      .mapGroups { (key: (Int, Int, String, Int), it: Iterator[(Int, Int, RasterTileFlat)]) =>
        val (dtr, dtc) = (key._1, key._2)
        val srcTiles = it.map(_._3).toArray
        val byKey = srcTiles.map(t => ((t.tile_row, t.tile_col), t)).toMap
        val tw = dst.tileWidth(dtc); val th = dst.tileHeight(dtr)
        val data = new Array[Double](tw * th)
        val valid = new Array[Boolean](tw * th)
        val nodata = srcTiles.head.nodata

        // cache decoded payloads: decode each src tile once
        val decoded = byKey.map { case (k, t) =>
          k -> (TileCodec.unpackDoubles(t.data), t.mask, t.width)
        }
        @inline def srcVal(i: Int, j: Int): (Double, Boolean) = {
          if (i < 0 || j < 0 || i >= srcGrid.height || j >= srcGrid.width) (nodata, false)
          else decoded.get((i / srcGrid.tileH, j / srcGrid.tileW)) match {
            case Some((d, m, w)) =>
              val k = (i % srcGrid.tileH) * w + (j % srcGrid.tileW)
              val ok = TileCodec.maskBit(m, k)
              (if (ok) d(k) else nodata, ok)
            case None => (nodata, false)
          }
        }

        // separable-kernel selection, hoisted out of the pixel loop
        val isConv = method == "cubic" || method == "cubic_spline" ||
          method == "lanczos"
        val (kw, kLo, kHi): (Double => Double, Int, Int) = method match {
          case "cubic"        => (cubicW _, -1, 2)
          case "cubic_spline" => (bsplineW _, -1, 2)
          case "lanczos"      => (lanczosW _, -2, 3)
          case _              => (cubicW _, 0, -1) // unused
        }

        var di = 0
        while (di < th) {
          val y = dst.ymax - (dtr.toLong * dst.tileH + di + 0.5) * dst.yres
          var dj = 0
          while (dj < tw) {
            val x = dst.xmin + (dtc.toLong * dst.tileW + dj + 0.5) * dst.xres
            val (sx, sy) = transformXY(x, y)
            val fj = (sx - srcGrid.xmin) / srcGrid.xres - 0.5
            val fi = (srcGrid.ymax - sy) / srcGrid.yres - 0.5
            val k = di * tw + dj
            if (method == "nearest") {
              val (v, ok) = srcVal(math.round(fi).toInt, math.round(fj).toInt)
              data(k) = v; valid(k) = ok
            } else if (isConv) {
              // separable kernel convolution (4×4 cubic / B-spline, 6×6
              // windowed-sinc); strict nodata spreading over the support
              val i0 = math.floor(fi).toInt; val j0 = math.floor(fj).toInt
              var acc = 0.0; var wsum = 0.0; var ok = true
              var di2 = kLo
              while (di2 <= kHi && ok) {
                val wi = kw(fi - (i0 + di2))
                var dj2 = kLo
                while (dj2 <= kHi && ok) {
                  val wj = kw(fj - (j0 + dj2))
                  val w = wi * wj
                  if (w != 0.0) {
                    val (v, m) = srcVal(i0 + di2, j0 + dj2)
                    if (!m) ok = false else { acc += w * v; wsum += w }
                  }
                  dj2 += 1
                }
                di2 += 1
              }
              if (ok && wsum != 0.0) { data(k) = acc / wsum; valid(k) = true }
              else { data(k) = nodata; valid(k) = false }
            } else if (method == "gauss") {
              // GDAL overview-style gauss: 3×3 [1,2,1]⊗[1,2,1] INTEGER
              // kernel centered on the nearest src pixel, renormalized
              // over valid contributors (nodata skipped, not spread).
              // Integer weights × integer-valued cells ⇒ num and den are
              // exact doubles, so num/den is bit-identical across engines.
              val ic = math.round(fi).toInt; val jc = math.round(fj).toInt
              var num = 0.0; var den = 0.0
              var di2 = -1
              while (di2 <= 1) {
                val wi = if (di2 == 0) 2 else 1
                var dj2 = -1
                while (dj2 <= 1) {
                  val (v, m) = srcVal(ic + di2, jc + dj2)
                  if (m) {
                    val w = wi * (if (dj2 == 0) 2 else 1)
                    num += w * v; den += w
                  }
                  dj2 += 1
                }
                di2 += 1
              }
              if (den > 0) { data(k) = num / den; valid(k) = true }
              else { data(k) = nodata; valid(k) = false }
            } else if (method != "bilinear") {
              // GDAL/rasterio `average`/`mode` (the downsample workhorses):
              // over the VALID src pixels whose centers fall in the dst
              // pixel's src-space footprint, take the mean (`average`) or
              // the most frequent value with smallest-value tiebreak
              // (`mode`). Half-open [lo,hi) intervals mean each src pixel
              // contributes to EXACTLY one dst pixel at integer decimation
              // (the oracle's block-mean identity); a dst pixel with zero
              // valid contributors is nodata.
              val (bx0, by0) = transformXY(x - 0.5 * dst.xres, y - 0.5 * dst.yres)
              val (bx1, by1) = transformXY(x + 0.5 * dst.xres, y + 0.5 * dst.yres)
              val sxlo = math.min(bx0, bx1); val sxhi = math.max(bx0, bx1)
              val sylo = math.min(by0, by1); val syhi = math.max(by0, by1)
              var j0 = math.ceil((sxlo - srcGrid.xmin) / srcGrid.xres - 0.5).toInt
              var j1 = math.ceil((sxhi - srcGrid.xmin) / srcGrid.xres - 0.5).toInt - 1
              var i0 = math.ceil((srcGrid.ymax - syhi) / srcGrid.yres - 0.5).toInt
              var i1 = math.ceil((srcGrid.ymax - sylo) / srcGrid.yres - 0.5).toInt - 1
              // upsampling: a footprint narrower than one src pixel can
              // contain no src center on an axis — GDAL degrades to
              // nearest there, so clamp the empty axis to the nearest
              // pixel instead of emitting checkerboard nodata
              if (j1 < j0) { val jn = math.round(fj).toInt; j0 = jn; j1 = jn }
              if (i1 < i0) { val in0 = math.round(fi).toInt; i0 = in0; i1 = in0 }
              val buf = new scala.collection.mutable.ArrayBuffer[Double]()
              var ii = i0
              while (ii <= i1) {
                var jj = j0
                while (jj <= j1) {
                  val (v, m) = srcVal(ii, jj)
                  if (m) buf += v
                  jj += 1
                }
                ii += 1
              }
              if (buf.isEmpty) { data(k) = nodata; valid(k) = false }
              else {
                // GDAL-style linear-interpolation quantile over the sorted
                // valid footprint values (med/q1/q3)
                def quantile(q: Double): Double = {
                  val s = buf.sorted
                  val pos = q * (s.length - 1)
                  val lo = pos.toInt; val hi = math.min(lo + 1, s.length - 1)
                  s(lo) + (pos - lo) * (s(hi) - s(lo))
                }
                data(k) = method match {
                  case "average" => buf.sum / buf.length
                  case "sum"     => buf.sum
                  case "min"     => buf.min
                  case "max"     => buf.max
                  case "rms"     => math.sqrt(buf.map(v => v * v).sum / buf.length)
                  case "med"     => quantile(0.5)
                  case "q1"      => quantile(0.25)
                  case "q3"      => quantile(0.75)
                  case "mode" =>
                    // most frequent; ties → smallest value (deterministic)
                    var bestV = Double.NaN; var bestN = -1
                    buf.sorted.foldLeft((Double.NaN, 0)) { case ((cur, n), v) =>
                      val n2 = if (v == cur) n + 1 else 1
                      if (n2 > bestN) { bestN = n2; bestV = v }
                      (v, n2)
                    }
                    bestV
                }
                valid(k) = true
              }
            } else {
              val i0 = math.floor(fi).toInt; val j0 = math.floor(fj).toInt
              val wi = fi - i0; val wj = fj - j0
              val (v00, m00) = srcVal(i0, j0); val (v01, m01) = srcVal(i0, j0 + 1)
              val (v10, m10) = srcVal(i0 + 1, j0); val (v11, m11) = srcVal(i0 + 1, j0 + 1)
              // nodata spreading (interpolation.py:72-86): any contributing
              // neighbor invalid ⇒ dst invalid
              if (m00 && m01 && m10 && m11) {
                data(k) = v00 * (1 - wi) * (1 - wj) + v01 * (1 - wi) * wj +
                          v10 * wi * (1 - wj) + v11 * wi * wj
                valid(k) = true
              } else { data(k) = nodata; valid(k) = false }
            }
            dj += 1
          }
          di += 1
        }
        val h = srcTiles.head
        dst.tile(h.raster_id, h.band, dtr, dtc, nodata, h.area_or_point, h.dtype, data, valid)
      }(org.apache.spark.sql.Encoders.product[RasterTile])

    // reproject always returns the FULL dst grid (transformation.py:738-825):
    // dst tiles whose src footprint matched no src tile become all-nodata
    // tiles, one per (raster_id, band) of the input
    val haveKeys = joined.map(r => (r._1, r._2)).distinct()
    // one tiny row per (raster_id, band, nodata, area_or_point, dtype)
    val bands = src.toDF()
      .select(col("raster_id"), col("band"), col("nodata"),
        col("area_or_point"), col("dtype")).distinct()
      .as[(String, Int, Double, String, String)]
    warped.union(dst.missingTiles(haveKeys, bands))
  }

  /** Flat mirror of RasterTile for the join row (same fields). */
  final case class RasterTileFlat(
      raster_id: String, band: Int, tile_row: Int, tile_col: Int,
      width: Int, height: Int,
      xres: Double, yres: Double, xmin: Double, ymax: Double,
      crs: String, nodata: Double, area_or_point: String, dtype: String,
      data: Array[Byte], mask: Array[Byte], cell: Long)
}
