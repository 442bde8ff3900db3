package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.model.{GridSpec, RasterTile}
import graft.functions.GeoFunctions

/** Rasterize / create_mask — vector → raster burn (reference
  * `interface/rasterization.py:79-511`; create_mask `:514-660`).
  *
  * Plan: features map to intersecting tile keys (bbox → tile range, pure
  * column math — the STRtree candidate pruning of `rasterization.py:126-160`
  * as an equi join); per tile, burn candidate features into the cell grid
  * by point-in-polygon on cell centers (JTS prepared geometry, rectangle
  * fast path). Burn value semantics (`:79-106`): explicit per-feature
  * value column, or feature index 1..N when absent (row_number over a
  * deterministic order).
  *
  * Burn-conflict contract: HIGHEST BURN VALUE wins on overlap by default.
  * With the default index burn (burn = feature rank) this coincides with
  * GDAL's last-feature-burned-wins. For an explicit `burnCol` whose values
  * are not monotone in feature order, pass `orderCol`: features then paint
  * in ascending `orderCol` within each tile — the last feature in that
  * order wins, exactly rasterio/GDAL's feature-index semantics
  * (`interface/rasterization.py:79-106`). A distributed table has no
  * implicit row order, so the order must be a real column; the result is
  * partition-order-invariant either way.
  */
object Rasterize {

  final case class BurnFeature(wkt: String, burn: Double,
                               minx: Double, miny: Double, maxx: Double, maxy: Double)

  /** geoms: (wkt [, burn]); grid given by a template tile layout. Returns
    * a full raster: cells covered by ≥1 feature carry the burn value of
    * the highest-index covering feature; others carry `fill` (masked). */
  def rasterize(geoms: DataFrame, burnCol: Option[String],
                gridXres: Double, gridYres: Double, gridXmin: Double, gridYmax: Double,
                width: Int, height: Int, tileW: Int, tileH: Int,
                crs: String = "EPSG:32645", nodata: Double = -99999.0,
                fill: Double = 0.0, maskOnly: Boolean = false,
                orderCol: Option[String] = None): Dataset[RasterTile] = {
    val spark = geoms.sparkSession
    import spark.implicits._
    val grid = GridSpec(gridXres, gridYres, gridXmin, gridYmax, width, height,
      tileW, tileH, crs)

    // default burn = 1..N feature index in lexicographic wkt order —
    // computed scalably (range-partitioned rank, Ids.denseIndex), not via
    // a single-partition global window; mask-only burns skip it entirely
    val indexed = burnCol match {
      case Some(c) => geoms.withColumn("__burn", col(c).cast("double"))
      case None if maskOnly => geoms.withColumn("__burn", lit(1.0))
      case None => Ids.denseIndex(geoms, Seq(col("wkt")), "__burn")
        .withColumn("__burn", col("__burn").cast("double"))
    }
    // paint order: explicit feature order if given, else the burn value
    // itself (ascending paint ⇒ max-burn-wins / last-in-order-wins)
    val envs = indexed
      .withColumn("__ord", orderCol.fold(col("__burn"))(c => col(c).cast("double")))
      // st_env_rect (non-nullable, cached parse), not st_envelope: the
      // tile-range filter of `routeToTiles` pushes past this projection, and with a
      // nullable array UDF the inferred isnotnull constraints re-ran the
      // parse once per extracted corner inside the filter condition
      .withColumn("env", GeoFunctions.st_env_rect(col("wkt")))
      .select(col("wkt"), col("__burn").as("burn"), col("__ord").as("ord"),
        col("env._1").as("minx"), col("env._2").as("miny"),
        col("env._3").as("maxx"), col("env._4").as("maxy"))
    val feats = grid.routeToTiles(envs, col("minx"), col("miny"), col("maxx"), col("maxy"))

    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
    val grouped = feats
      .select(col("tile_row"), col("tile_col"), col("wkt"), col("burn"), col("ord"),
        col("minx"), col("miny"), col("maxx"), col("maxy"))
      .as[(Int, Int, String, Double, Double, Double, Double, Double, Double)]
      .groupByKey(r => (r._1, r._2))

    val burned = grouped.mapGroups {
      (key: (Int, Int), it: Iterator[(Int, Int, String, Double, Double, Double, Double, Double, Double)]) =>
        val (tr, tc) = key
        val tw = grid.tileWidth(tc); val th = grid.tileHeight(tr)
        val x0 = grid.tileXmin(tc); val y1 = grid.tileYmax(tr)
        val data = Array.fill(tw * th)(fill)
        val valid = new Array[Boolean](tw * th)
        // paint in ascending ord (paint order), later features overwrite —
        // the contract above; ord defaults to the burn value itself.
        // (burn, wkt) tiebreaks pin equal-`ord` features to a stable winner
        // regardless of partition/iterator order (GDAL's tie outcome is
        // input-file order, which a distributed table doesn't have).
        val fs = it.toArray.sortBy(r => (r._5, r._4, r._3))
        fs.foreach { case (_, _, wkt, b, _, minx, miny, maxx, maxy) =>
          // subwindow of cells whose centers can fall inside the bbox
          val dj0 = math.max(0, math.floor((minx - x0) / gridXres - 0.5).toInt)
          val dj1 = math.min(tw - 1, math.ceil((maxx - x0) / gridXres).toInt)
          val di0 = math.max(0, math.floor((y1 - maxy) / gridYres - 0.5).toInt)
          val di1 = math.min(th - 1, math.ceil((y1 - miny) / gridYres).toInt)
          var di = di0
          while (di <= di1) {
            val cy = y1 - (di + 0.5) * gridYres
            var dj = dj0
            while (dj <= dj1) {
              val cx = x0 + (dj + 0.5) * gridXres
              if (GeoFunctions.containsXy(wkt, cx, cy)) {
                data(di * tw + dj) = if (maskOnly) 1.0 else b
                valid(di * tw + dj) = true
              }
              dj += 1
            }
            di += 1
          }
        }
        grid.tile("burn", 0, tr, tc, nodata, "Area", "float64", data, valid)
    }(Encoders.product[RasterTile])

    // tiles with no features at all: emit empty (all-fill, masked) tiles so
    // the output is a complete grid (rasterize semantics: full raster out).
    // Keys come from the cheap pre-burn projection `feats` — deriving them
    // from `burned` would re-execute the whole PIP burn kernel.
    val have = feats.select(col("tile_row"), col("tile_col")).distinct().as[(Int, Int)]
    burned.union(grid.missingTiles(have,
      Seq(("burn", 0, nodata, "Area", "float64")).toDS(), Some(fill)))
  }

  /** create_mask: boolean burn (ref `vector/vector.py:1519-1571`). */
  def createMask(geoms: DataFrame,
                 gridXres: Double, gridYres: Double, gridXmin: Double, gridYmax: Double,
                 width: Int, height: Int, tileW: Int, tileH: Int): Dataset[RasterTile] =
    rasterize(geoms, None, gridXres, gridYres, gridXmin, gridYmax,
      width, height, tileW, tileH, maskOnly = true)
}
