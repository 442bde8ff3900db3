package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{RasterTile, TileCodec}

/** interp_points — sample a raster at point locations (reference
  * `raster/base.py:1530-1588`, `interface/interpolation.py:292-378`).
  *
  * Relational plan (no mapGroups): each point expands to the source pixels
  * its kernel touches (1 for nearest, 4 for bilinear), each pixel maps to
  * its owning tile key → equi-join tiles → extract the cell (tiny UDF) →
  * groupBy point reassembles the kernel. Cross-tile kernels work for free
  * because each neighbor pixel routes to its own tile. Nodata spreading:
  * any invalid contributing pixel ⇒ result null (interpolation.py:72-86).
  */
object PointInterp {

  /** Keys cubic-convolution weight (a = -0.5) as a codegen column — the
    * same kernel Reproject.cubicW applies tile-side. Weights over the 4×4
    * support sum to 1 for any fraction. */
  private def cubW(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val a = abs(t)
    when(a <= 1, (lit(1.5) * a - 2.5) * a * a + 1)
      .when(a < 2, ((lit(-0.5) * a + 2.5) * a - 4) * a + 2)
      .otherwise(lit(0.0))
  }

  /** Quintic (order-5) 6-point Lagrange kernel as a codegen column —
    * reproduces polynomials up to degree 5 exactly, 6×6 support
    * (reference maps "quintic" → order 5, `interpolation.py:40,72-86`).
    * Piecewise form of the symmetric tensor-product Lagrange basis:
    * weights over the 6-point support sum to 1 for any fraction, and are
    * dyadic (3,−25,150,150,−25,3)/256 at half-pixel fractions. */
  private def quintW(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val a = abs(t)
    when(a < 1, (lit(1) - a * a) * (lit(4) - a * a) * (lit(3) - a) / 12)
      .when(a < 2, (a - 1) * (a - 2) * (a - 3) * (a - 4) * (a + 1) / 24)
      .when(a < 3, -(a - 1) * (a - 2) * (a - 3) * (a - 4) * (a - 5) / 120)
      .otherwise(lit(0.0))
  }

  /** points: (pid, x, y). Output: (pid, value) — value null where outside
    * or nodata-spread. method: "nearest" | "bilinear" | "cubic" (order 3,
    * 4×4 support) | "quintic" (order 5, 6×6 support); nodata spreads over
    * the whole support = the reference's half-order-up spread distance
    * ceil(order/2), interpolation.py:72-86. */
  def interp(points: DataFrame, tiles: Dataset[RasterTile],
             gridXres: Double, gridYres: Double, gridXmin: Double, gridYmax: Double,
             width: Int, height: Int, tileW: Int, tileH: Int,
             method: String = "bilinear"): DataFrame = {
    require(Seq("nearest", "bilinear", "cubic", "quintic").contains(method), method)
    val spark = points.sparkSession

    // fractional source pixel coords of each point
    val fj = (col("x") - gridXmin) / gridXres - 0.5
    val fi = (lit(gridYmax) - col("y")) / gridYres - 0.5

    val withF = points.withColumn("fi", fi).withColumn("fj", fj)

    val neighbors: DataFrame = method match {
      case "nearest" =>
        withF.select(col("pid"), round(col("fi")).cast("int").as("si"),
            round(col("fj")).cast("int").as("sj"),
            lit(1.0).as("w"))
      case "bilinear" =>
        val i0 = floor(col("fi")).cast("int"); val j0 = floor(col("fj")).cast("int")
        val wi = col("fi") - i0; val wj = col("fj") - j0
        withF.select(col("pid"), explode(array(
          struct(i0.as("si"), j0.as("sj"), ((lit(1) - wi) * (lit(1) - wj)).as("w")),
          struct(i0.as("si"), (j0 + 1).as("sj"), ((lit(1) - wi) * wj).as("w")),
          struct((i0 + 1).as("si"), j0.as("sj"), (wi * (lit(1) - wj)).as("w")),
          struct((i0 + 1).as("si"), (j0 + 1).as("sj"), (wi * wj).as("w")))).as("n"))
          .select(col("pid"), col("n.si"), col("n.sj"), col("n.w"))
      case "cubic" | "quintic" =>
        val i0 = floor(col("fi")).cast("int"); val j0 = floor(col("fj")).cast("int")
        val sup = if (method == "cubic") Seq(-1, 0, 1, 2) else Seq(-2, -1, 0, 1, 2, 3)
        val kw: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
          if (method == "cubic") cubW else quintW
        // offsets explode FIRST, weights computed once per exploded row —
        // inlining the kernel into 16/36 structs blows the 64KB codegen
        // method limit
        val offsets = array((for (di <- sup; dj <- sup) yield
          struct(lit(di).as("di"), lit(dj).as("dj"))): _*)
        withF.select(col("pid"), col("fi"), col("fj"),
            i0.as("i0"), j0.as("j0"), explode(offsets).as("o"))
          .select(col("pid"),
            (col("i0") + col("o.di")).as("si"),
            (col("j0") + col("o.dj")).as("sj"),
            (kw(col("fi") - col("i0") - col("o.di")) *
             kw(col("fj") - col("j0") - col("o.dj"))).as("w"))
    }

    val inGrid = neighbors
      .where(col("si") >= 0 && col("si") < height && col("sj") >= 0 && col("sj") < width)

    // Join a per-pixel (si, sj, v) relation (RasterOps.pixelRows), not
    // the tiles: a join that carries the binary `data` column re-copies
    // the 20 KB payload out of the build UnsafeRow on every probe. The
    // per-pixel relation costs one tile decode total, 24-byte build rows
    // and no binary column in the join. LEFT join: masked cells are
    // absent from the relation, so v is NULL exactly at masked pixels.
    val kernelN = method match {
      case "nearest" => 1; case "bilinear" => 4; case "cubic" => 16
      case "quintic" => 36
    }
    inGrid.join(RasterOps.pixelSide(tiles, width, height), Seq("si", "sj"), "left")
      .groupBy(col("pid"))
      .agg(sum(col("w") * col("v")).as("wsum"),
           count(col("v")).as("n_ok"), count(lit(1)).as("n_exp"))
      // nodata spreading: all kernel pixels must exist, be in-grid, valid
      .select(col("pid"),
        when(col("n_ok") === col("n_exp") && col("n_exp") === kernelN, col("wsum"))
          .as("value"))
  }
}
