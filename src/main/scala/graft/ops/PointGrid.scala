package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.GeoTables

/** Irregular pointcloud → raster gridding (reference
  * `pointcloud/pointcloud.py:1514-1557`, `interface/gridding.py:33-102`):
  * nearest-point value per grid cell with a distance cutoff — the
  * `sjoin_nearest` + `dist_nodata_pixel` mask of the reference's gridding
  * pipeline. Cells farther than `cutoff` from every point stay nodata
  * (absent from the output). Deterministic tiebreak: min value among
  * equally-distant points.
  */
object PointGrid {

  /** points: (x, y, value). Emits (i, j, nn_d2, nn_value) for the window
    * rows 0..h-1 × cols 0..w-1 of the target grid. */
  def grid(points: DataFrame,
           xres: Double, yres: Double, xmin: Double, ymax: Double,
           w: Int, h: Int, cutoff: Double,
           level: Int = GeoTables.KnnLevel): DataFrame = {
    val spark = points.sparkSession
    val cells = spark.range(w.toLong * h).select(
      (col("id") / w).cast("int").as("i"),
      (col("id") % w).cast("int").as("j"))
      .select(col("i"), col("j"),
        Knn.cellQid(col("i"), col("j")).as("qid"),
        (lit(xmin) + (col("j") + 0.5) * xres).as("qx"),
        (lit(ymax) - (col("i") + 0.5) * yres).as("qy"))
    Knn.nearestValue(cells.select("qid", "qx", "qy"), points, level,
        cutoff = Some(cutoff))
      .where(col("nn_d2") <= cutoff * cutoff)
      .select(Knn.cellIj ++ Seq(col("nn_d2"), col("nn_value")): _*)
  }
}
