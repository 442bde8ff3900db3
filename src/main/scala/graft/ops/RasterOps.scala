package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{GridSpec, RasterTile, TileCodec}

/** Tile-table raster operators (SURVEY.md §2.2/§2.5/§2.10).
  *
  * Architecture: per-tile kernels run as primitive-array loops inside
  * typed Dataset transforms; everything cross-tile is a relational join or
  * aggregation Catalyst can plan. Per-tile partial aggregation = map-side
  * combine by construction (one partial row per tile, then a tiny global
  * agg) — at 100 TB the shuffle carries only per-tile partials.
  */
object RasterOps {

  /** Cell-wise map over valid cells (the reference's masked-ufunc path,
    * `raster/raster.py:1667-1741`): invalid cells keep nodata. */
  def tileMap(tiles: Dataset[RasterTile])(f: Double => Double): Dataset[RasterTile] = {
    implicit val enc = tiles.encoder
    tiles.map { t =>
      val d = TileCodec.unpackDoubles(t.data)
      val out = new Array[Double](d.length)
      var i = 0
      while (i < d.length) {
        out(i) = if (TileCodec.maskBit(t.mask, i)) f(d(i)) else t.nodata
        i += 1
      }
      t.copy(data = TileCodec.packDoubles(out))
    }
  }

  /** The aligned tile pairs of two rasters on one grid, combined by `f`:
    * the equi-join on (band, tile_row, tile_col) behind every
    * raster⊗raster operator. A pair whose tiles differ in resolution,
    * origin or shape fails: its cells would be read misaligned (the
    * grid-equality precondition of `raster.py:259-267`). */
  private[ops] def tilePairs[T: Encoder](a: Dataset[RasterTile], b: Dataset[RasterTile])
                                        (f: (RasterTile, RasterTile) => T): Dataset[T] =
    a.joinWith(b,
        a("band") === b("band") && a("tile_row") === b("tile_row") &&
        a("tile_col") === b("tile_col"), "inner")
      .map { case (ta, tb) =>
        require(ta.xres == tb.xres && ta.yres == tb.yres && ta.xmin == tb.xmin &&
          ta.ymax == tb.ymax && ta.width == tb.width && ta.height == tb.height,
          s"georeferenced grids differ at tile (${ta.tile_row},${ta.tile_col})")
        f(ta, tb)
      }

  /** Raster⊗raster cell-wise combine: a co-partitioned [[tilePairs]]
    * join; masks AND together (mask propagation invariant of
    * `raster.py:516-634`). */
  def tileZip(a: Dataset[RasterTile], b: Dataset[RasterTile])
             (f: (Double, Double) => Double): Dataset[RasterTile] =
    tilePairs(a, b) { (ta, tb) =>
      val da = TileCodec.unpackDoubles(ta.data)
      val db = TileCodec.unpackDoubles(tb.data)
      val mask = TileCodec.maskAnd(ta.mask, tb.mask)
      val out = new Array[Double](da.length)
      var i = 0
      while (i < da.length) {
        out(i) = if (TileCodec.maskBit(mask, i)) f(da(i), db(i)) else ta.nodata
        i += 1
      }
      ta.copy(data = TileCodec.packDoubles(out), mask = mask)
    }(a.encoder)

  /** Global stats over valid cells: one partial row per tile, then a
    * single global combine (`stats/stats.py:36-299` minus percentiles). */
  def stats(tiles: Dataset[RasterTile]): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.map { t =>
      val d = TileCodec.unpackDoubles(t.data)
      var cnt = 0L; var sum = 0.0; var mn = Double.MaxValue; var mx = Double.MinValue
      var sq = 0.0
      var i = 0
      while (i < d.length) {
        if (TileCodec.maskBit(t.mask, i)) {
          cnt += 1; sum += d(i); sq += d(i) * d(i)
          if (d(i) < mn) mn = d(i); if (d(i) > mx) mx = d(i)
        }
        i += 1
      }
      (cnt, sum, sq, mn, mx, d.length.toLong)
    }.toDF("cnt", "sum", "sq", "mn", "mx", "total")
      .agg(
        sum($"cnt").as("n_valid"), sum($"total").as("n_total"),
        sum($"sum").as("sum_val"), min($"mn").as("min_val"), max($"mx").as("max_val"))
      // per-tile partials use ±MaxValue sentinels; with ZERO valid cells
      // globally the sentinels would leak out — emit NULL instead (what a
      // SQL min/max over an empty set returns)
      .select(col("n_valid"), col("n_total"), col("sum_val"),
        when(col("n_valid") === 0, lit(null)).otherwise(col("min_val")).as("min_val"),
        when(col("n_valid") === 0, lit(null)).otherwise(col("max_val")).as("max_val"))
  }

  /** get_stats(inlier_mask=...) (`raster/base.py:768-785`,
    * `stats/stats.py:275-284`): cells where the inlier mask is false become
    * nodata before the value stats; `Valid count`/`Percentage valid points`
    * keep the PRE-mask raster's counts, and the four inlier count stats
    * are appended:
    *  - valid_inlier  = valid ∧ inlier cells (the post-mask valid count)
    *  - total_inlier  = inlier-true cells
    *  - pct_inlier       = valid_inlier / valid_count · 100
    *  - pct_valid_inlier = valid_inlier / total_inlier · 100 (0 if none)
    * One zip pass per tile pair — same shuffle profile as `stats`. */
  def statsInlier(tiles: Dataset[RasterTile], inlier: Dataset[RasterTile]): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tilePairs(tiles, inlier) { (t, m) =>
      val d = TileCodec.unpackDoubles(t.data)
      val md = TileCodec.unpackDoubles(m.data)
      var validPre = 0L; var inlierCnt = 0L; var validIn = 0L
      var sum = 0.0; var sq = 0.0; var mn = Double.MaxValue; var mx = Double.MinValue
      var i = 0
      while (i < d.length) {
        val v = TileCodec.maskBit(t.mask, i)
        val in = TileCodec.maskBit(m.mask, i) && md(i) != 0.0
        if (v) validPre += 1
        if (in) inlierCnt += 1
        if (v && in) {
          validIn += 1; sum += d(i); sq += d(i) * d(i)
          if (d(i) < mn) mn = d(i); if (d(i) > mx) mx = d(i)
        }
        i += 1
      }
      (validPre, inlierCnt, validIn, sum, sq, mn, mx, d.length.toLong)
    }.toDF("valid_pre", "inlier_cnt", "valid_in", "sum", "sq", "mn", "mx", "total")
      .agg(
        sum($"valid_pre").as("n_valid"), sum($"total").as("n_total"),
        sum($"valid_in").as("valid_inlier"), sum($"inlier_cnt").as("total_inlier"),
        sum($"sum").as("sum_val"), min($"mn").as("min_val"), max($"mx").as("max_val"))
      .select(col("n_valid"), col("n_total"), col("valid_inlier"), col("total_inlier"),
        col("sum_val"),
        // sentinel guard: no valid-inlier cell anywhere → NULL min/max
        // (matches the oracle's CASE WHEN / SQL empty-set min semantics)
        when(col("valid_inlier") === 0, lit(null)).otherwise(col("min_val")).as("min_val"),
        when(col("valid_inlier") === 0, lit(null)).otherwise(col("max_val")).as("max_val"),
        round(col("n_valid") * 100.0 / col("n_total"), 6).as("pct_valid"),
        round(col("valid_inlier") * 100.0 / col("n_valid"), 6).as("pct_inlier"),
        when(col("total_inlier") === 0, 0.0)
          .otherwise(round(col("valid_inlier") * 100.0 / col("total_inlier"), 6))
          .as("pct_valid_inlier"))
  }

  /** get_xy_rotated (ref `raster/array.py:105-130`): rotate the grid's
    * lower-left-corner coordinate planes by `alongTrackAngle` degrees to
    * along-/cross-track distances, re-zeroed at their minima. The
    * coordinates are affine in (i, j), so the global minima are attained
    * at grid corners — closed-form constants, no aggregation pass. Emits
    * every cell (coords are geometry, not data; mask irrelevant). */
  def xyRotated(tiles: Dataset[RasterTile], alongTrackAngle: Double,
                width: Int, height: Int, xres: Double, yres: Double): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val ang = math.toRadians(alongTrackAngle)
    val c = math.cos(ang); val s = math.sin(ang)
    val xc = (width - 1) * xres;  val yc = (height - 1) * yres
    val mnx = math.min(0.0, xc * c) + math.min(0.0, -yc * s)
    val mny = math.min(0.0, xc * s) + math.min(0.0, yc * c)
    tiles.flatMap { t =>
      (0 until t.width * t.height).iterator.map { k =>
        val i = t.tile_row * t.height + k / t.width
        val j = t.tile_col * t.width + k % t.width
        val xx = j * xres            // ll-corner offsets from the grid min
        val yy = (height - 1 - i) * yres
        (i, j, xx * c - yy * s - mnx, xx * s + yy * c - mny)
      }
    }.toDF("i", "j", "x_along", "y_cross")
  }

  /** get_valid_extent (ref `raster/array.py:91-102`): first/last global
    * row/column carrying a valid pixel — per-tile extremes in one map,
    * then a global min/max agg (shuffle carries 4 longs per tile). */
  def validExtent(tiles: Dataset[RasterTile]): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.flatMap { t =>
      var rmin = Int.MaxValue; var rmax = -1; var cmin = Int.MaxValue; var cmax = -1
      var i = 0
      while (i < t.height) {
        var j = 0
        while (j < t.width) {
          if (TileCodec.maskBit(t.mask, i * t.width + j)) {
            if (i < rmin) rmin = i; if (i > rmax) rmax = i
            if (j < cmin) cmin = j; if (j > cmax) cmax = j
          }
          j += 1
        }
        i += 1
      }
      if (rmax < 0) None
      else Some((t.tile_row.toLong * t.height + rmin, t.tile_row.toLong * t.height + rmax,
                 t.tile_col.toLong * t.width + cmin, t.tile_col.toLong * t.width + cmax))
    }.toDF("rmin", "rmax", "cmin", "cmax")
      .agg(min($"rmin").as("rowmin"), max($"rmax").as("rowmax"),
           min($"cmin").as("colmin"), max($"cmax").as("colmax"))
  }

  /** Crop to a georeferenced window (ref `raster/base.py:1105-1191`):
    * tile pruning is a filter on tile bounds (no shuffle, pushdown-
    * friendly), then edge tiles decode only the in-window cells.
    * Emits (i, j, val) global-pixel rows of valid cells, center-in-window. */
  def cropCells(tiles: Dataset[RasterTile],
                wxmin: Double, wymin: Double, wxmax: Double, wymax: Double): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles
      .filter(t => t.xmin < wxmax && t.xmin + t.width * t.xres > wxmin &&
                   t.ymax > wymin && t.ymax - t.height * t.yres < wymax)
      .flatMap { t =>
        val d = TileCodec.unpackDoubles(t.data)
        val out = Array.newBuilder[(Int, Int, Double)]
        var di = 0
        while (di < t.height) {
          val cy = t.ymax - (di + 0.5) * t.yres
          if (cy > wymin && cy < wymax) {
            var dj = 0
            while (dj < t.width) {
              val cx = t.xmin + (dj + 0.5) * t.xres
              if (cx > wxmin && cx < wxmax && TileCodec.maskBit(t.mask, di * t.width + dj))
                out += ((t.tile_row * t.height + di, t.tile_col * t.width + dj,
                         d(di * t.width + dj)))
              dj += 1
            }
          }
          di += 1
        }
        out.result()
      }.toDF("i", "j", "val")
  }

  /** All valid cells as (i, j, val) global-pixel rows (raster→pointcloud
    * explode, ref `interface/raster_point.py:122-277`). */
  def cells(tiles: Dataset[RasterTile]): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.flatMap { t =>
      val d = TileCodec.unpackDoubles(t.data)
      val out = Array.newBuilder[(Int, Int, Double)]
      var k = 0
      while (k < d.length) {
        if (TileCodec.maskBit(t.mask, k))
          out += ((t.tile_row * t.height + k / t.width,
                   t.tile_col * t.width + k % t.width, d(k)))
        k += 1
      }
      out.result()
    }.toDF("i", "j", "val")
  }

  /** Histogram of valid cell values: per-tile partial maps, then combine —
    * shuffle volume is (#tiles × #distinct values), not #cells. */
  def valueHistogram(tiles: Dataset[RasterTile]): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.flatMap { t =>
      val d = TileCodec.unpackDoubles(t.data)
      val m = scala.collection.mutable.HashMap.empty[Double, Long]
      var i = 0
      while (i < d.length) {
        if (TileCodec.maskBit(t.mask, i)) m.updateWith(d(i)) {
          case Some(c) => Some(c + 1); case None => Some(1L)
        }
        i += 1
      }
      m.iterator
    }.toDF("val", "cnt").groupBy($"val").agg(sum($"cnt").as("cnt"))
  }

  /** set_mask (`raster/raster.py:1541-1576`): extend a raster's mask from
    * a boolean Mask raster — cells where the mask raster is true (or
    * invalid) become invalid. Grids must align (tile-key join). */
  def applyMask(tiles: Dataset[RasterTile], mask: Dataset[RasterTile]): Dataset[RasterTile] =
    tilePairs(tiles, mask) { (t, m) =>
      val md = TileCodec.unpackDoubles(m.data)
      val valid = new Array[Boolean](md.length)
      var i = 0
      while (i < md.length) {
        valid(i) = TileCodec.maskBit(t.mask, i) &&
          TileCodec.maskBit(m.mask, i) && md(i) == 0.0
        i += 1
      }
      t.copy(mask = TileCodec.packMask(valid))
    }(tiles.encoder)

  /** reduce_points (`raster/base.py:1590-1638`): windowed reducer around
    * point coordinates — mean over the (2r+1)² pixel window centered on
    * each point's owning pixel, valid cells only. Relational plan like
    * interp: window pixels → tile keys → equi-join → groupBy point. */
  def reducePoints(points: DataFrame, tiles: Dataset[RasterTile], radius: Int,
                   xres: Double, yres: Double, xmin: Double, ymax: Double,
                   width: Int, height: Int, tileW: Int, tileH: Int): DataFrame =
    pointWindowValues(points, tiles, radius, xres, yres, xmin, ymax,
        width, height, tileW, tileH)
      .groupBy(col("pid"))
      .agg(count(col("v")).as("n_valid"), sum(col("v")).as("sum_val"))
      .where(col("n_valid") > 0)

  /** reduce_points with a custom reducer (`interface/interpolation.py:
    * 853-995` reducer_function): median / min / max / mean over the
    * window's valid cells. Output: (pid, n_valid, red_val). */
  def reducePointsWith(points: DataFrame, tiles: Dataset[RasterTile], radius: Int,
                       xres: Double, yres: Double, xmin: Double, ymax: Double,
                       width: Int, height: Int, tileW: Int, tileH: Int,
                       reducer: String): DataFrame = {
    val red = reducer match {
      case "median" => expr("percentile(v, 0.5)")
      case "min"    => min(col("v"))
      case "max"    => max(col("v"))
      case "mean"   => sum(col("v")) / count(col("v"))
      case other    => throw new IllegalArgumentException(other)
    }
    pointWindowValues(points, tiles, radius, xres, yres, xmin, ymax,
        width, height, tileW, tileH)
      .groupBy(col("pid"))
      .agg(count(col("v")).as("n_valid"), red.as("red_val"))
      .where(col("n_valid") > 0)
  }

  /** Per-pixel valid-cell relation keyed by GLOBAL pixel (si, sj) — the
    * build side of every point↔raster equi-join. Joining the packed tile
    * payloads instead (the round-4/5 plan) made each probe row re-copy the
    * 20 KB `data` binary out of the build UnsafeRow (`getBinary` copies):
    * reduce_points at sf0.1 moved ~108 GB of memcpy through a 64-tile
    * broadcast. One decode per tile here, 24-byte build rows, and the
    * probe never touches a binary column. */
  private[ops] def pixelRows(tiles: Dataset[RasterTile]): DataFrame =
    cells(tiles).toDF("si", "sj", "v")

  /** Broadcast the per-pixel relation when the raster is small enough
    * (cells ≤ 2^20 ≈ 34 MB of build rows): the point side then never
    * shuffles. Larger rasters fall back to the planner's shuffle join —
    * the right shape when the raster side is itself cluster-scale. */
  private[ops] def pixelSide(tiles: Dataset[RasterTile], width: Int, height: Int): DataFrame = {
    val rel = pixelRows(tiles)
    if (width.toLong * height <= (1L << 20)) broadcast(rel) else rel
  }

  /** Shared window-pixel plan: each point expands to its (2r+1)² window
    * pixels, the (si, sj) equi-join against [[pixelRows]] attaches the
    * cell value (LEFT: masked cells yield NULL v, exactly the old
    * inner-join-on-tiles + masked-cell-NULL semantics on a full tile
    * grid, and identical output through the count(v)/n_valid>0 gates
    * when tiles are missing). */
  private def pointWindowValues(points: DataFrame, tiles: Dataset[RasterTile],
                                radius: Int, xres: Double, yres: Double,
                                xmin: Double, ymax: Double, width: Int, height: Int,
                                tileW: Int, tileH: Int): DataFrame = {
    val ci = floor((lit(ymax) - col("y")) / yres).cast("int")
    val cj = floor((col("x") - xmin) / xres).cast("int")
    val offs = (-radius to radius).toArray
    val neighbors = points.select(col("pid"), ci.as("ci"), cj.as("cj"))
      .withColumn("di", explode(lit(offs)))
      .withColumn("dj", explode(lit(offs)))
      .select(col("pid"), (col("ci") + col("di")).as("si"), (col("cj") + col("dj")).as("sj"))
      .where(col("si") >= 0 && col("si") < height && col("sj") >= 0 && col("sj") < width)
    neighbors.join(pixelSide(tiles, width, height), Seq("si", "sj"), "left")
  }

  /** Regular pointcloud → raster scatter (ref `raster/base.py:1809-1847`,
    * `interface/raster_point.py:42-119`): points must fall exactly on grid
    * centers; each (tile) group scatters its points, all other cells
    * masked. Throws on off-grid points (the reference's integrality
    * check). */
  def pointsToRaster(points: DataFrame,
                     xres: Double, yres: Double, xmin: Double, ymax: Double,
                     width: Int, height: Int, tileW: Int, tileH: Int,
                     crs: String = "EPSG:32645", nodata: Double = -99999.0): Dataset[RasterTile] = {
    val spark = points.sparkSession
    import spark.implicits._
    val withIj = points.select(
      ((col("x") - xmin) / xres - 0.5).as("fj"),
      ((lit(ymax) - col("y")) / yres - 0.5).as("fi"),
      col("value"))
    val grid = GridSpec(xres, yres, xmin, ymax, width, height, tileW, tileH, crs)
    implicit val keyEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaInt, org.apache.spark.sql.Encoders.scalaInt)
    withIj.as[(Double, Double, Double)].map { case (fj, fi, v) =>
      require(fj == math.rint(fj) && fi == math.rint(fi),
        s"point off grid: fi=$fi fj=$fj (regular-grid scatter requires exact centers)")
      (fi.toInt, fj.toInt, v)
    }.groupByKey(r => (r._1 / tileH, r._2 / tileW))
      .mapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Double)]) =>
        val (tr, tc) = key
        val tw = grid.tileWidth(tc)
        val data = Array.fill(tw * grid.tileHeight(tr))(nodata)
        val valid = new Array[Boolean](data.length)
        it.foreach { case (i, j, v) =>
          val k = (i - tr * tileH) * tw + (j - tc * tileW)
          data(k) = v; valid(k) = true
        }
        grid.tile("scatter", 0, tr, tc, nodata, "Area", "float64", data, valid)
      }(org.apache.spark.sql.Encoders.product[RasterTile])
  }

  /** Zonal stats of raster cells per axis-aligned zone (the BASELINE
    * flagship): zones map to intersecting tile keys (pure column math on
    * the fixed tiling — the dst→src block mapping of
    * `transformation.py:373-404`), equi-join on (tile_row, tile_col), then
    * one subwindow scan per (zone, tile) pair emits a partial (cnt, sum);
    * final groupBy(zone) combines partials. Cells count when their center
    * is strictly inside the zone. */
  def zonalBox(tiles: Dataset[RasterTile], zones: DataFrame, grid: GridSpec): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._

    val zoneTiles = grid.routeToTiles(
      zones.select($"zone_id", $"zxmin", $"zymin", $"zxmax", $"zymax"),
      $"zxmin", $"zymin", $"zxmax", $"zymax")

    val pairAgg = udf((data: Array[Byte], mask: Array[Byte],
                       geo: Seq[Double], zone: Seq[Double]) => {
      val Seq(wD, hD, xmin, ymax, xres, yres) = geo
      val width = wD.toInt; val height = hD.toInt
      val Seq(zxmin, zymin, zxmax, zymax) = zone
      var cnt = 0L; var s = 0.0
      // restrict the scan to the pixel subwindow overlapping the zone;
      // cells read in place via TileCodec.readDouble — unpacking the whole
      // 20 KB tile payload per (tile, zone) pair was pure allocation churn
      // when the zone touches a fraction of the tile
      val dj0 = math.max(0, math.floor((zxmin - xmin) / xres).toInt)
      val dj1 = math.min(width - 1, math.ceil((zxmax - xmin) / xres).toInt)
      val di0 = math.max(0, math.floor((ymax - zymax) / yres).toInt)
      val di1 = math.min(height - 1, math.ceil((ymax - zymin) / yres).toInt)
      var di = di0
      while (di <= di1) {
        val cy = ymax - (di + 0.5) * yres
        if (cy > zymin && cy < zymax) {
          var dj = dj0
          while (dj <= dj1) {
            val cx = xmin + (dj + 0.5) * xres
            if (cx > zxmin && cx < zxmax && TileCodec.maskBit(mask, di * width + dj)) {
              cnt += 1; s += TileCodec.readDouble(data, di * width + dj)
            }
            dj += 1
          }
        }
        di += 1
      }
      (cnt, s)
    })

    tiles.toDF().join(zoneTiles, Seq("tile_row", "tile_col"), "inner")
      .withColumn("partial", pairAgg($"data", $"mask",
        array($"width".cast("double"), $"height".cast("double"),
              $"xmin", $"ymax", $"xres", $"yres"),
        array($"zxmin", $"zymin", $"zxmax", $"zymax")))
      .groupBy($"zone_id")
      .agg(sum($"partial._1").as("n_cells"), sum($"partial._2").as("sum_val"))
      .where($"n_cells" > 0)
  }
}
