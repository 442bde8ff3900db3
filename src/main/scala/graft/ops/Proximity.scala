package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions
import graft.model.RasterTile
import graft.io.GeoTables

/** Proximity — per-cell distance to the nearest target cell (reference
  * `raster/base.py:1879-1925`, `interface/distance.py:37-126`, which uses
  * an exact euclidean distance transform).
  *
  * Distributed choice (SURVEY.md §7.4): exact kNN join, not iterative EDT
  * relaxation — every valid cell is a query against the target-cell set
  * via the grid kNN (ring expansion + exactness bound + fallback), which
  * is provably exact and partition-invariant. Distances are geounits
  * (cell centers), matching the reference's distance_unit="georeferenced".
  */
object Proximity {

  /** Distance of every valid cell to the nearest cell with value==target.
    * Output: (i, j, dist). */
  def proximity(tiles: Dataset[RasterTile], target: Double,
                xres: Double, yres: Double, xmin: Double, ymax: Double,
                level: Int = GeoTables.KnnLevel): DataFrame = {
    val cells = RasterOps.cells(tiles)
      .withColumn("x", lit(xmin) + (col("j") + 0.5) * xres)
      .withColumn("y", lit(ymax) - (col("i") + 0.5) * yres)
    val queries = cells.select(
      Knn.cellQid(col("i"), col("j")).as("qid"),
      col("x").as("qx"), col("y").as("qy"))
    val targets = cells.where(col("val") === target)
      .select(col("x"), col("y"))
    val nn = Knn.nearest(queries, targets, level)
    nn.select(Knn.cellIj :+ sqrt(col("nn_d2")).as("dist"): _*)
  }

  // cell center of a general geometry is inside / 4-neighbor outside
  private val innerBoundaryUdf = udf(
    (wkt: String, cx: Double, cy: Double, xres: Double, yres: Double) =>
      GeoFunctions.containsXy(wkt, cx, cy) && (
        !GeoFunctions.containsXy(wkt, cx - xres, cy) ||
        !GeoFunctions.containsXy(wkt, cx + xres, cy) ||
        !GeoFunctions.containsXy(wkt, cx, cy - yres) ||
        !GeoFunctions.containsXy(wkt, cx, cy + yres)))

  /** Vector-target proximity (reference `vector/vector.py:1687-1749`,
    * `interface/distance.py:37-126`): rasterize each geometry's BOUNDARY
    * onto the grid, exact euclidean distance from every cell center to
    * the nearest boundary-cell center (the distance_transform_edt analog,
    * via the same provably-exact grid kNN as raster proximity), then
    * in/out masking via PIP.
    *
    * Boundary rasterization contract: the INNER boundary of each
    * geometry's rasterized mask — cells whose center lies inside the
    * geometry with ≥1 four-neighbor center outside (grid-aligned geometry
    * edges make "cell intersects the boundary line" degenerate; the inner
    * ring of the mask is the well-defined raster analog). Rectangles take
    * a pure-arithmetic fast path (index-rect edges); general geometries
    * use prepared-JTS center tests.
    *
    * inOrOut: "both" keeps all distances; "in" zeroes cells OUTSIDE the
    * union of geometries (distance.py:118-126 `proximity[~mask]=0`);
    * "out" zeroes cells INSIDE. distanceUnit: "georeferenced" (world
    * units) | "pixel" (index units). Output: (i, j, dist) over the full
    * grid. */
  def vectorProximity(geoms: DataFrame, xres: Double, yres: Double,
                      xmin: Double, ymax: Double, width: Int, height: Int,
                      inOrOut: String = "both",
                      distanceUnit: String = "georeferenced",
                      level: Int = GeoTables.KnnLevel): DataFrame = {
    require(Seq("both", "in", "out").contains(inOrOut), inOrOut)
    require(Seq("georeferenced", "pixel").contains(distanceUnit), distanceUnit)
    val spark = geoms.sparkSession

    // st_env_rect: one cached parse for envelope + rect flag (was two),
    // non-nullable so the pushed ilo/jlo range filter doesn't re-run the
    // parse per corner in its inferred isnotnull constraints
    val g = geoms
      .withColumn("pa", GeoFunctions.st_env_rect(col("wkt")))
      .withColumn("is_rect", col("pa._5"))
      // index rect of strictly-inside centers, clamped to the grid
      .withColumn("jlo", greatest(lit(0),
        (floor((col("pa._1") - xmin) / xres - 0.5) + 1).cast("int")))
      .withColumn("jhi", least(lit(width - 1),
        (ceil((col("pa._3") - xmin) / xres - 0.5) - 1).cast("int")))
      .withColumn("ilo", greatest(lit(0),
        (floor((lit(ymax) - col("pa._4")) / yres - 0.5) + 1).cast("int")))
      .withColumn("ihi", least(lit(height - 1),
        (ceil((lit(ymax) - col("pa._2")) / yres - 0.5) - 1).cast("int")))
      .where(col("jlo") <= col("jhi") && col("ilo") <= col("ihi"))
      .withColumn("ci", explode(sequence(col("ilo"), col("ihi"))))
      .withColumn("cj", explode(sequence(col("jlo"), col("jhi"))))
      .withColumn("cx", lit(xmin) + (col("cj") + 0.5) * xres)
      .withColumn("cy", lit(ymax) - (col("ci") + 0.5) * yres)

    // rect fast path: inner boundary = edges of the index rect (codegen)
    val rectB = g.where(col("is_rect") &&
      (col("ci") === col("ilo") || col("ci") === col("ihi") ||
       col("cj") === col("jlo") || col("cj") === col("jhi")))
    val genB = g.where(!col("is_rect"))
      .where(innerBoundaryUdf(col("wkt"), col("cx"), col("cy"), lit(xres), lit(yres)))
    val targets = rectB.unionByName(genB)
      .select(col("ci"), col("cj")).distinct()
      .select((lit(xmin) + (col("cj") + 0.5) * xres).as("x"),
              (lit(ymax) - (col("ci") + 0.5) * yres).as("y"))

    // every grid cell queries the nearest boundary cell
    val cells = spark.range(width.toLong * height).select(
      (col("id") / width).cast("int").as("i"),
      (col("id") % width).cast("int").as("j"))
      .withColumn("x", lit(xmin) + (col("j") + 0.5) * xres)
      .withColumn("y", lit(ymax) - (col("i") + 0.5) * yres)
    val queries = cells.select(
      Knn.cellQid(col("i"), col("j")).as("qid"),
      col("x").as("qx"), col("y").as("qy"))
    if (distanceUnit == "pixel")
      require(xres == yres, "pixel distance unit requires square cells")
    val unit = if (distanceUnit == "pixel") xres else 1.0
    val nn = Knn.nearest(queries, targets, level)
      .select(Knn.cellIj :+ (sqrt(col("nn_d2")) / unit).as("dist"): _*)

    if (inOrOut == "both") nn
    else {
      // PIP mask: cells with center strictly inside ANY geometry
      val inside = SpatialJoin.pip(cells.select(col("i"), col("j"), col("x"), col("y")),
          geoms.select(col("wkt")), GeoTables.JoinLevel)
        .select(col("i"), col("j")).distinct()
        .withColumn("in_mask", lit(true))
      val joined = nn.join(inside, Seq("i", "j"), "left")
      val zeroWhen = if (inOrOut == "in") col("in_mask").isNull else col("in_mask").isNotNull
      joined.select(col("i"), col("j"),
        when(zeroWhen, lit(0.0)).otherwise(col("dist")).as("dist"))
    }
  }
}
