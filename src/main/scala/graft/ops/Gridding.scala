package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.triangulate.DelaunayTriangulationBuilder

import graft.model.{GridSpec, RasterTile}

/** Irregular pointcloud → raster gridding via Delaunay triangulation — the
  * reference's `griddata`-based `_grid_pointcloud`
  * (`interface/gridding.py:33-102`):
  *
  *  1. triangulate the point cloud, linearly interpolate each grid-cell
  *     center inside its triangle (barycentric weights);
  *  2. cells farther than `distNodataPixel` PIXELS from every point are
  *     nodata (griddata fills the whole convex hull otherwise);
  *  3. cells outside the convex hull are nodata.
  *
  * Distributed shape: points replicate to every tile whose
  * `haloPixels`-expanded bounds contain them (pure column math, the same
  * pattern as Rasterize's feature→tile routing); each tile triangulates
  * its local point set. The local triangulation equals the global one
  * wherever the containing triangle's support lies within the halo — with
  * the default cutoff of 1 pixel, surviving cells have a point within one
  * pixel, so a halo ≥ a few tens of pixels reproduces the reference on
  * all but pathologically sparse-but-surviving cells (partition-invariant
  * regardless: tiles always see the same deterministic local set).
  *
  * method: "linear" (the reference default) | "nearest" | "cubic" |
  * "cubic_ct". The reference's "cubic" maps to scipy's C1 Clough–Tocher
  * spline (`gridding.py:33-102` → `griddata(method="cubic")`). Two
  * distributed counterparts:
  *
  *  - "cubic" — a single per-triangle interpolating cubic Bézier patch:
  *    vertex gradients by inverse-distance² least squares over the
  *    Delaunay one-ring (exact on linear fields so cubic == linear
  *    there), edge controls b_210 = f_i + ∇f_i·(P_j−P_i)/3, and the
  *    quadratic-precision interior control
  *    b_111 = (Σ edge controls)/4 − (Σ vertex values)/6. C0 across
  *    edges, C1 only at vertices: the cheapest smooth-ish kernel.
  *  - "cubic_ct" — the REAL C1 element (scipy's interpolant class): the
  *    reduced Hsieh–Clough–Tocher centroid split ([[CtPatch]]) with
  *    vertex gradients converging Nielson's minimum-norm-network energy
  *    (the one scipy's `estimate_gradients_2d_global` minimizes) by
  *    Gauss–Seidel on the tile's halo-local triangulation. C1 across
  *    macro AND micro edges by construction (the cross-edge data is
  *    edge-endpoint-only, so adjacent triangles agree without
  *    communication); reproduces quadratics given exact gradients. The
  *    one remaining delta vs scipy is the halo truncation of the
  *    GLOBAL gradient solve — the irreducible gap for any bounded-halo
  *    scheme (SURVEY §7.4.8); it decays with halo radius and vanishes
  *    on affine fields (oracle-pinned by `q_point_grid_cubic_ct`).
  */
object Gridding {

  /** Nielson minimum-norm-network vertex gradients (Nielson, Math. Comp.
    * 40, 1983 — the energy scipy's `estimate_gradients_2d_global`
    * minimizes): choose all vertex gradients to minimize
    * Σ_edges ∫ (h″)² of the cubic Hermite along each Delaunay edge,
    *   ∫₀^L h″² = 12Δ²/L³ − 12Δ(d_p+d_q)/L² + 4(d_p²+d_p d_q+d_q²)/L,
    * Δ = f_q−f_p, d = directional derivative along the edge. Stationarity
    * at vertex p is the 2×2 system  Σ_q 8 e eᵀ/L³ · g_p =
    * Σ_q e (12Δ − 4 g_q·e)/L³  (e = raw edge vector), solved by
    * Gauss–Seidel sweeps (scipy's iteration shape) from the LS start.
    * The energy is a convex quadratic with a unique minimizer wherever
    * each vertex has two non-collinear neighbors, so the converged
    * gradients do not depend on sweep order. Runs on the tile's
    * halo-local point set: the truncation-vs-global delta decays with
    * halo radius and is the documented irreducible gap vs scipy
    * (SURVEY §7.4.8); exact (zero energy ⇒ fixed point at the LS start)
    * on affine fields. */
  private[graft] def mnnGradients(pts: Array[(Double, Double, Double)],
                                nbrs: Array[scala.collection.mutable.Set[Int]],
                                maxIter: Int = 400, tol: Double = 1e-10)
      : Array[(Double, Double)] = {
    val g = lsGradients(pts, nbrs)
    val gx = g.map(_._1); val gy = g.map(_._2)
    // deterministic sweep order: neighbor sets iterate over a sorted copy
    val nbrsSorted = nbrs.map(s => s.toArray.sorted)
    // The edge geometry (dx, dy, |e|³) and the per-vertex normal matrix
    // Σ 8 e eᵀ/|e|³ are iteration-invariant — hoist them out of the sweep
    // (math.pow per edge per sweep dominated the solve). CSR layout; the
    // sums keep the sorted-neighbor accumulation order, so every value
    // below is bit-identical to computing them inside the loop.
    val nPts = pts.length
    val off = new Array[Int](nPts + 1)
    var v0 = 0
    while (v0 < nPts) { off(v0 + 1) = off(v0) + nbrsSorted(v0).length; v0 += 1 }
    val nE = off(nPts)
    val eN = new Array[Int](nE)
    val eDx = new Array[Double](nE); val eDy = new Array[Double](nE)
    val eDz = new Array[Double](nE); val eL3 = new Array[Double](nE)
    val mA11 = new Array[Double](nPts); val mA12 = new Array[Double](nPts)
    val mA22 = new Array[Double](nPts); val mDet = new Array[Double](nPts)
    val mOk = new Array[Boolean](nPts)
    v0 = 0
    while (v0 < nPts) {
      var a11 = 0.0; var a12 = 0.0; var a22 = 0.0
      val ns = nbrsSorted(v0)
      var k = 0
      while (k < ns.length) {
        val n = ns(k)
        val dx = pts(n)._1 - pts(v0)._1; val dy = pts(n)._2 - pts(v0)._2
        val dz = pts(n)._3 - pts(v0)._3
        val l3 = math.pow(dx * dx + dy * dy, 1.5)
        val e = off(v0) + k
        eN(e) = n; eDx(e) = dx; eDy(e) = dy; eDz(e) = dz; eL3(e) = l3
        a11 += 8 * dx * dx / l3; a12 += 8 * dx * dy / l3; a22 += 8 * dy * dy / l3
        k += 1
      }
      mA11(v0) = a11; mA12(v0) = a12; mA22(v0) = a22
      mDet(v0) = a11 * a22 - a12 * a12
      mOk(v0) = math.abs(mDet(v0)) > 1e-12 * math.max(a11, a22) * math.max(a11, a22)
      v0 += 1
    }
    var it = 0
    var maxDelta = Double.MaxValue
    while (it < maxIter && maxDelta > tol) {
      maxDelta = 0.0
      var v = 0
      while (v < nPts) {
        var r1 = 0.0; var r2 = 0.0
        var e = off(v)
        val eEnd = off(v + 1)
        while (e < eEnd) {
          val n = eN(e); val dx = eDx(e); val dy = eDy(e); val l3 = eL3(e)
          val rq = 12 * eDz(e) - 4 * (gx(n) * dx + gy(n) * dy)
          r1 += rq * dx / l3; r2 += rq * dy / l3
          e += 1
        }
        if (mOk(v)) {
          val det = mDet(v)
          val nx = (mA22(v) * r1 - mA12(v) * r2) / det
          val ny = (mA11(v) * r2 - mA12(v) * r1) / det
          val d = math.max(math.abs(nx - gx(v)), math.abs(ny - gy(v))) /
                  (1.0 + math.max(math.abs(nx), math.abs(ny)))
          if (d > maxDelta) maxDelta = d
          gx(v) = nx; gy(v) = ny
        }
        v += 1
      }
      it += 1
    }
    Array.tabulate(pts.length)(v => (gx(v), gy(v)))
  }

  /** Per-vertex gradient by weighted least squares over Delaunay
    * neighbors: minimize Σ w (z_n − z_v − gx·dx − gy·dy)², w = 1/d².
    * Exact for linear fields; degenerate stars fall back to (0,0). */
  private[ops] def lsGradients(pts: Array[(Double, Double, Double)],
                               nbrs: Array[scala.collection.mutable.Set[Int]])
      : Array[(Double, Double)] = {
    val g = new Array[(Double, Double)](pts.length)
    var v = 0
    while (v < pts.length) {
      var a11 = 0.0; var a12 = 0.0; var a22 = 0.0; var r1 = 0.0; var r2 = 0.0
      nbrs(v).foreach { n =>
        val dx = pts(n)._1 - pts(v)._1; val dy = pts(n)._2 - pts(v)._2
        val dz = pts(n)._3 - pts(v)._3
        val w = 1.0 / (dx * dx + dy * dy)
        a11 += w * dx * dx; a12 += w * dx * dy; a22 += w * dy * dy
        r1 += w * dx * dz; r2 += w * dy * dz
      }
      val det = a11 * a22 - a12 * a12
      g(v) = if (math.abs(det) < 1e-12 * math.max(a11, a22) * math.max(a11, a22) ||
                 det == 0.0) (0.0, 0.0)
             else ((a22 * r1 - a12 * r2) / det, (a11 * r2 - a12 * r1) / det)
      v += 1
    }
    g
  }

  /** Route each point to every tile whose halo-expanded pixel range
    * contains it (shared by [[delaunayGrid]] and [[globalMnnGradients]]'
    * edge extraction). The last two tuple slots carry supplied per-point
    * gradients (0.0 when none). */
  private def routePoints(points: DataFrame, grid: GridSpec, haloPixels: Int,
                          gradientCols: Option[(String, String)])
      : org.apache.spark.sql.Dataset[(Int, Int, Double, Double, Double, Double, Double)] = {
    val spark = points.sparkSession
    import spark.implicits._
    val (gxCol, gyCol) = gradientCols match {
      case Some((gx, gy)) => (col(gx).cast("double"), col(gy).cast("double"))
      case None           => (lit(0.0), lit(0.0))
    }
    grid.routeToTiles(points, col("x"), col("y"), col("x"), col("y"), haloPixels)
      .select(col("tile_row"), col("tile_col"), col("x"), col("y"), col("value"),
              gxCol.as("sgx"), gyCol.as("sgy"))
      .as[(Int, Int, Double, Double, Double, Double, Double)]
  }

  /** Deterministic local point set for one tile: sort, dedup (x,y)
    * keeping the smallest (value, gx, gy) triple. */
  private def dedupPts(it: Iterator[(Int, Int, Double, Double, Double, Double, Double)])
      : Array[(Double, Double, Double, Double, Double)] = {
    val sorted = it.map(r => (r._3, r._4, r._5, r._6, r._7)).toArray.sorted
    val out = new scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double, Double)](sorted.length)
    var i = 0
    while (i < sorted.length) {
      val p = sorted(i)
      if (out.isEmpty || out.last._1 != p._1 || out.last._2 != p._2) out += p
      i += 1
    }
    out.toArray
  }

  def delaunayGrid(points: DataFrame, xres: Double, yres: Double,
                   xmin: Double, ymax: Double, width: Int, height: Int,
                   tileW: Int, tileH: Int,
                   method: String = "linear", distNodataPixel: Double = 1.0,
                   haloPixels: Int = 32,
                   crs: String = "EPSG:32645", nodata: Double = -99999.0,
                   gradientCols: Option[(String, String)] = None)
      : org.apache.spark.sql.Dataset[RasterTile] = {
    require(method == "linear" || method == "nearest" || method == "cubic" ||
            method == "cubic_ct",
      s"method $method unsupported")
    require(gradientCols.isEmpty || method == "cubic_ct",
      "supplied gradient columns only make sense for method=cubic_ct")
    val cubicLike = method == "cubic" || method == "cubic_ct"
    require(haloPixels >= distNodataPixel,
      "halo must cover the nodata cutoff distance (surviving cells must see their nearest point)")
    val spark = points.sparkSession
    import spark.implicits._
    val grid = GridSpec(xres, yres, xmin, ymax, width, height, tileW, tileH, crs)

    // ephemeral: the routed postings feed BOTH the per-tile gridding
    // groupBy and the all-nodata-tile `have` distinct below — without it
    // each shuffle stage recomputes the point scan + halo explode
    // (deterministic, so reliable mode correctly recomputes instead)
    val routed = Checkpoints.ephemeral(
      routePoints(points, grid, haloPixels, gradientCols))

    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
    routed.groupByKey(r => (r._1, r._2)).mapGroups {
      (key: (Int, Int), it: Iterator[(Int, Int, Double, Double, Double, Double, Double)]) =>
        val (tr, tc) = key
        val tw = grid.tileWidth(tc); val th = grid.tileHeight(tr)
        val x0 = grid.tileXmin(tc); val y1 = grid.tileYmax(tr)
        val ptsFull = dedupPts(it)
        val pts = ptsFull.map(t => (t._1, t._2, t._3))

        val data = Array.fill(tw * th)(nodata)
        val valid = new Array[Boolean](tw * th)

        if (pts.length >= (if (method == "nearest") 1 else 3)) {
          if (method == "linear" || cubicLike) {
            val gf = new GeometryFactory()
            val b = new DelaunayTriangulationBuilder()
            val coords = new java.util.ArrayList[Coordinate](pts.length)
            pts.foreach { case (x, y, v) => coords.add(new Coordinate(x, y, v)) }
            b.setSites(coords)
            val tris = b.getTriangles(gf)

            // cubic needs vertex identity (gradients live on vertices):
            // map triangle corners back to the sorted point array
            // boxed Integer values: a missing key returns null (which we
            // require against) instead of silently unboxing to vertex 0
            val idxOf: java.util.HashMap[(Double, Double), Integer] =
              if (cubicLike) {
                val m = new java.util.HashMap[(Double, Double), Integer](pts.length * 2)
                var v = 0
                while (v < pts.length) { m.put((pts(v)._1, pts(v)._2), Integer.valueOf(v)); v += 1 }
                m
              } else null
            @inline def vertexIdx(x: Double, y: Double): Int = {
              val v = idxOf.get((x, y))
              require(v != null, s"triangulation vertex ($x,$y) is not a site (snapped by JTS?)")
              v.intValue
            }
            val grads: Array[(Double, Double)] =
              if (cubicLike && gradientCols.isDefined) {
                // gradients solved upstream (e.g. the distributed global
                // MNN iteration) ride alongside each routed point
                ptsFull.map(t => (t._4, t._5))
              } else if (cubicLike) {
                val nbrs = Array.fill(pts.length)(scala.collection.mutable.Set.empty[Int])
                var t = 0
                while (t < tris.getNumGeometries) {
                  val cs = tris.getGeometryN(t).getCoordinates
                  val v0 = vertexIdx(cs(0).x, cs(0).y)
                  val v1 = vertexIdx(cs(1).x, cs(1).y)
                  val v2 = vertexIdx(cs(2).x, cs(2).y)
                  nbrs(v0) += v1; nbrs(v0) += v2
                  nbrs(v1) += v0; nbrs(v1) += v2
                  nbrs(v2) += v0; nbrs(v2) += v1
                  t += 1
                }
                // cubic_ct converges the Nielson minimum-norm-network
                // energy (scipy's gradient model) from the LS start;
                // plain cubic keeps the one-ring LS estimate
                if (method == "cubic_ct") mnnGradients(pts, nbrs)
                else lsGradients(pts, nbrs)
              } else null

            var t = 0
            while (t < tris.getNumGeometries) {
              val g = tris.getGeometryN(t)
              val cs = g.getCoordinates // ring: 4 coords
              val (ax, ay, az) = (cs(0).x, cs(0).y, cs(0).getZ)
              val (bx, by, bz) = (cs(1).x, cs(1).y, cs(1).getZ)
              val (ccx, ccy, cz) = (cs(2).x, cs(2).y, cs(2).getZ)
              val det = (by - ay) * (ccx - ax) - (bx - ax) * (ccy - ay)
              if (det != 0.0) {
                // cubic Bézier control net from vertex values + gradients
                var b210 = 0.0; var b201 = 0.0; var b120 = 0.0
                var b021 = 0.0; var b102 = 0.0; var b012 = 0.0; var b111 = 0.0
                var ctOrd: Array[Double] = null
                if (method == "cubic_ct") {
                  val (g1x, g1y) = grads(vertexIdx(ax, ay))
                  val (g2x, g2y) = grads(vertexIdx(bx, by))
                  val (g3x, g3y) = grads(vertexIdx(ccx, ccy))
                  ctOrd = CtPatch.ordinates(ax, ay, az, g1x, g1y,
                                            bx, by, bz, g2x, g2y,
                                            ccx, ccy, cz, g3x, g3y)
                } else if (method == "cubic") {
                  val (g1x, g1y) = grads(vertexIdx(ax, ay))
                  val (g2x, g2y) = grads(vertexIdx(bx, by))
                  val (g3x, g3y) = grads(vertexIdx(ccx, ccy))
                  b210 = az + (g1x * (bx - ax) + g1y * (by - ay)) / 3
                  b201 = az + (g1x * (ccx - ax) + g1y * (ccy - ay)) / 3
                  b120 = bz + (g2x * (ax - bx) + g2y * (ay - by)) / 3
                  b021 = bz + (g2x * (ccx - bx) + g2y * (ccy - by)) / 3
                  b102 = cz + (g3x * (ax - ccx) + g3y * (ay - ccy)) / 3
                  b012 = cz + (g3x * (bx - ccx) + g3y * (by - ccy)) / 3
                  b111 = (b210 + b201 + b120 + b021 + b102 + b012) / 4 -
                         (az + bz + cz) / 6
                }
                // cell centers within the triangle bbox ∩ tile
                val minx = math.min(ax, math.min(bx, ccx)); val maxx = math.max(ax, math.max(bx, ccx))
                val miny = math.min(ay, math.min(by, ccy)); val maxy = math.max(ay, math.max(by, ccy))
                val j0 = math.max(0, math.floor((minx - x0) / xres - 0.5).toInt)
                val j1m = math.min(tw - 1, math.ceil((maxx - x0) / xres).toInt)
                val i0 = math.max(0, math.floor((y1 - maxy) / yres - 0.5).toInt)
                val i1m = math.min(th - 1, math.ceil((y1 - miny) / yres).toInt)
                var i = i0
                while (i <= i1m) {
                  val cy = y1 - (i + 0.5) * yres
                  var j = j0
                  while (j <= j1m) {
                    val cx = x0 + (j + 0.5) * xres
                    // barycentric coordinates
                    val l1 = ((by - ccy) * (cx - ccx) + (ccx - bx) * (cy - ccy)) /
                             ((by - ccy) * (ax - ccx) + (ccx - bx) * (ay - ccy))
                    val l2 = ((ccy - ay) * (cx - ccx) + (ax - ccx) * (cy - ccy)) /
                             ((by - ccy) * (ax - ccx) + (ccx - bx) * (ay - ccy))
                    val l3 = 1.0 - l1 - l2
                    if (l1 >= 0 && l2 >= 0 && l3 >= 0) {
                      data(i * tw + j) =
                        if (method == "cubic_ct")
                          CtPatch.eval(ctOrd, l1, l2, l3)
                        else if (method == "cubic")
                          az * l1 * l1 * l1 + bz * l2 * l2 * l2 + cz * l3 * l3 * l3 +
                          3 * (b210 * l1 * l1 * l2 + b201 * l1 * l1 * l3 +
                               b120 * l1 * l2 * l2 + b021 * l2 * l2 * l3 +
                               b102 * l1 * l3 * l3 + b012 * l2 * l3 * l3) +
                          6 * b111 * l1 * l2 * l3
                        else l1 * az + l2 * bz + l3 * cz
                      valid(i * tw + j) = true
                    }
                    j += 1
                  }
                  i += 1
                }
              }
              t += 1
            }
          }

          // distance cutoff (and the nearest-method value): mark cells
          // within ceil(distNodataPixel)+1 of each point with min distance
          val r = math.ceil(distNodataPixel).toInt + 1
          val minD2 = Array.fill(tw * th)(Double.MaxValue)
          val nearV = new Array[Double](tw * th)
          pts.foreach { case (px, py, pv) =>
            val pfi = (y1 - py) / yres - 0.5; val pfj = (px - x0) / xres - 0.5
            val ci = math.round(pfi).toInt; val cj = math.round(pfj).toInt
            var i = math.max(0, ci - r)
            while (i <= math.min(th - 1, ci + r)) {
              var j = math.max(0, cj - r)
              while (j <= math.min(tw - 1, cj + r)) {
                val d2 = (pfi - i) * (pfi - i) + (pfj - j) * (pfj - j)
                val k = i * tw + j
                if (d2 < minD2(k)) { minD2(k) = d2; nearV(k) = pv }
                j += 1
              }
              i += 1
            }
          }
          val cut2 = distNodataPixel * distNodataPixel
          var k = 0
          while (k < tw * th) {
            if (method == "nearest") {
              valid(k) = minD2(k) <= cut2
              data(k) = if (valid(k)) nearV(k) else nodata
            } else if (valid(k) && minD2(k) > cut2) {
              valid(k) = false; data(k) = nodata
            }
            k += 1
          }
        }

        grid.tile("grid", 0, tr, tc, nodata, "Area", "float64", data, valid)
    }(Encoders.product[RasterTile]).union {
      // point-free tiles still belong to the output grid (all-nodata)
      val have = routed.toDF().select(col("tile_row"), col("tile_col"))
        .distinct().as[(Int, Int)]
      grid.missingTiles(have, Seq(("grid", 0, nodata, "Area", "float64")).toDS())
    }
  }

  /** Distributed GLOBAL Nielson minimum-norm-network gradient solve (r5):
    * the same energy [[mnnGradients]] converges per tile, iterated over
    * the WHOLE point cloud — removing the halo truncation that SURVEY
    * §7.4.8 identifies as the remaining delta vs scipy's
    * `estimate_gradients_2d_global` (what stays approximate is only the
    * tile-local extraction of the Delaunay EDGE set itself).
    *
    * Shape (the engine's standard iterative-relaxation pattern, cf. the
    * distributed hash-min components in Polygonize):
    *  1. per-tile Delaunay over the halo-routed points; emit each edge
    *     once in canonical (p < q) orientation; `distinct` unions the
    *     tiles' views into one global edge set;
    *  2. block-Jacobi rounds over vertices: each round joins current
    *     neighbor gradients onto the directed edge set, aggregates the
    *     per-vertex 2×2 normal system Σ e(12Δ − 4 g_q·e)/‖e‖³ and solves
    *     it in pure column math (one shuffle join + one aggregation per
    *     round, lineage truncated through `Checkpoints.materialize`).
    *     Convergence is guaranteed undamped: the edge Hessian blocks are
    *     [[8,4],[4,8]]·êêᵀ/L, so D − offdiag ≻ 0 (the same energy with
    *     the cross term negated is still positive definite) — the
    *     classical Jacobi criterion; the error contracts ~2× per round.
    *     Convergence (max |Δg| < tol) is checked every `checkEvery`
    *     rounds with one small action.
    *
    * Returns `points` with `gx`,`gy` appended — feed straight into
    * `delaunayGrid(..., method = "cubic_ct", gradientCols =
    * Some(("gx","gy")))`. At 10^12 points each round is one key-uniform
    * shuffle (vertex degree in a Delaunay triangulation averages 6, no
    * hot keys); rounds are bounded by `maxRounds`. */
  def globalMnnGradients(points: DataFrame, xres: Double, yres: Double,
                         xmin: Double, ymax: Double, width: Int, height: Int,
                         tileW: Int, tileH: Int, haloPixels: Int = 32,
                         maxRounds: Int = 64, tol: Double = 1e-10,
                         checkEvery: Int = 8): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val routed = routePoints(points,
      GridSpec(xres, yres, xmin, ymax, width, height, tileW, tileH, ""), haloPixels, None)

    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
    val edges = routed.groupByKey(r => (r._1, r._2)).flatMapGroups {
      (_: (Int, Int), it: Iterator[(Int, Int, Double, Double, Double, Double, Double)]) =>
        val pts = dedupPts(it).map(t => (t._1, t._2, t._3))
        if (pts.length < 3) Iterator.empty
        else {
          val gf = new GeometryFactory()
          val b = new DelaunayTriangulationBuilder()
          val coords = new java.util.ArrayList[Coordinate](pts.length)
          pts.foreach { case (x, y, v) => coords.add(new Coordinate(x, y, v)) }
          b.setSites(coords)
          val tris = b.getTriangles(gf)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double, Double, Double)]
          var t = 0
          while (t < tris.getNumGeometries) {
            val cs = tris.getGeometryN(t).getCoordinates // ring of 4
            var k = 0
            while (k < 3) {
              val p = cs(k); val q = cs(k + 1)
              if (p.x < q.x || (p.x == q.x && p.y < q.y))
                out += ((p.x, p.y, p.getZ, q.x, q.y, q.getZ))
              else
                out += ((q.x, q.y, q.getZ, p.x, p.y, p.getZ))
              k += 1
            }
            t += 1
          }
          out.iterator
        }
    }.toDF("px", "py", "pz", "qx", "qy", "qz").distinct()

    // directed edge set with precomputed geometry (dx points p→q)
    val one = edges.select(col("px"), col("py"), col("qx"), col("qy"),
      (col("qx") - col("px")).as("dx"), (col("qy") - col("py")).as("dy"),
      (col("qz") - col("pz")).as("dz"))
    val both = one.union(edges.select(col("qx").as("px"), col("qy").as("py"),
      col("px").as("qx"), col("py").as("qy"),
      (col("px") - col("qx")).as("dx"), (col("py") - col("qy")).as("dy"),
      (col("pz") - col("qz")).as("dz")))
    val bi = Checkpoints.materialize(both.withColumn("invl3",
      lit(1.0) / pow(col("dx") * col("dx") + col("dy") * col("dy"), 1.5)))

    var g = Checkpoints.materialize(
      bi.select(col("px").as("x"), col("py").as("y")).distinct()
        .withColumn("gx", lit(0.0)).withColumn("gy", lit(0.0)))
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val joined = bi.join(g.select(col("x").as("qx"), col("y").as("qy"),
        col("gx").as("ngx"), col("gy").as("ngy")), Seq("qx", "qy"))
      val sys = joined.groupBy(col("px").as("x"), col("py").as("y")).agg(
        sum(col("dx") * col("dx") * col("invl3")).as("a11"),
        sum(col("dx") * col("dy") * col("invl3")).as("a12"),
        sum(col("dy") * col("dy") * col("invl3")).as("a22"),
        sum((lit(12) * col("dz") - lit(4) * (col("ngx") * col("dx") + col("ngy") * col("dy")))
          * col("dx") * col("invl3")).as("r1"),
        sum((lit(12) * col("dz") - lit(4) * (col("ngx") * col("dx") + col("ngy") * col("dy")))
          * col("dy") * col("invl3")).as("r2"))
      // A = 8Σeeᵀ/L³ (the 8 reappears as the det scale). Degenerate
      // stars (all neighbors collinear — hull slivers) keep gradient 0,
      // mirroring the local solver's guard.
      val det = col("a11") * col("a22") - col("a12") * col("a12")
      val ok = det > lit(1e-12) * greatest(col("a11"), col("a22")) *
                                  greatest(col("a11"), col("a22"))
      val gNew = Checkpoints.materialize(sys.select(col("x"), col("y"),
        when(ok, (col("a22") * col("r1") - col("a12") * col("r2")) / (lit(8) * det))
          .otherwise(lit(0.0)).as("gx"),
        when(ok, (col("a11") * col("r2") - col("a12") * col("r1")) / (lit(8) * det))
          .otherwise(lit(0.0)).as("gy")))
      round += 1
      if (round % checkEvery == 0 || round == maxRounds) {
        val delta = gNew.as("n").join(g.as("o"), Seq("x", "y"))
          .select(max(greatest(
            abs(col("n.gx") - col("o.gx")), abs(col("n.gy") - col("o.gy")))))
          .as[Option[Double]].head().getOrElse(0.0)
        converged = delta < tol
      }
      // NOTE: no unpersist — materialize() frames are localCheckpoint
      // (or reliable checkpoint) RDDs, not CacheManager entries, so
      // Dataset.unpersist would be a silent no-op. Dropping the reference
      // is the release mechanism: the ContextCleaner reclaims each
      // superseded round's blocks once the RDD is GC'd (reliable mode
      // additionally needs cleanCheckpoints=true — see Checkpoints).
      g = gNew
    }
    points.join(g, Seq("x", "y"), "left")
      .withColumn("gx", coalesce(col("gx"), lit(0.0)))
      .withColumn("gy", coalesce(col("gy"), lit(0.0)))
  }
}

/** Reduced Hsieh–Clough–Tocher macro-element (the C1 split scipy's
  * CloughTocher2DInterpolator evaluates; Clough & Tocher 1965, Farin CAGD
  * 1986 §"the Clough–Tocher interpolant"): each Delaunay triangle splits
  * at its centroid into 3 cubic Bézier mini-patches. Given vertex values
  * and gradients the construction is fully EDGE-LOCAL:
  *
  *  - corner + edge ordinates are the Hermite data
  *    (b210 = f_a + ∇f_a·(V_b−V_a)/3, r_a = f_a + ∇f_a·(D−V_a)/3);
  *  - each mini-patch's b111 is fixed by constraining the NORMAL
  *    derivative along its outer macro-edge to vary linearly (the
  *    "reduced" HCT condition): with (α,β,γ) the barycentric displacement
  *    of the edge normal wrt (V_a,V_b,D), the quadratic coefficient of
  *    D_n F along the edge vanishes iff
  *    α(b300−2b210+b120) + β(b210−2b120+b030) + γ(b201−2b111+b021) = 0;
  *  - the interior-edge C1 conditions then close in closed form:
  *    s_B = (β_AB + β_BC + r_B)/3 (cyclic), z = (s_A+s_B+s_C)/3.
  *
  * C1 across macro edges holds because the patch interpolates the full
  * gradient at each vertex and both sides' normal derivatives are linear
  * along the shared edge with the same endpoint values g_v·n̂ — only
  * shared-edge endpoint data enters, so adjacent triangles agree without
  * communication. Reproduces quadratics exactly when fed exact gradients
  * (a quadratic's normal derivative is linear along any line, so it
  * satisfies every constraint the construction imposes). Spec-pinned in
  * Ops12: quadratic reproduction, cross-edge value+derivative continuity,
  * affine end-to-end oracle (`q_point_grid_cubic_ct`). */
private[graft] object CtPatch {
  // ordinate layout (19 per macro triangle):
  //  0 fA   1 fB   2 fC
  //  3 b210(T1: A→B) 4 b120(T1: B→A) 5 b210(T2: B→C) 6 b120(T2: C→B)
  //  7 b210(T3: C→A) 8 b120(T3: A→C)
  //  9 rA (A toward centroid) 10 rB 11 rC
  // 12 β1 (b111 of mini ABD) 13 β2 (BCD) 14 β3 (CAD)
  // 15 sA (ring-2 on interior edge A–D) 16 sB 17 sC
  // 18 z (center ordinate at the centroid)
  def ordinates(ax: Double, ay: Double, fa: Double, gax: Double, gay: Double,
                bx: Double, by: Double, fb: Double, gbx: Double, gby: Double,
                cx: Double, cy: Double, fc: Double, gcx: Double, gcy: Double)
      : Array[Double] = {
    val dx = (ax + bx + cx) / 3; val dy = (ay + by + cy) / 3
    val o = new Array[Double](19)
    o(0) = fa; o(1) = fb; o(2) = fc
    o(3) = fa + (gax * (bx - ax) + gay * (by - ay)) / 3
    o(4) = fb + (gbx * (ax - bx) + gby * (ay - by)) / 3
    o(5) = fb + (gbx * (cx - bx) + gby * (cy - by)) / 3
    o(6) = fc + (gcx * (bx - cx) + gcy * (by - cy)) / 3
    o(7) = fc + (gcx * (ax - cx) + gcy * (ay - cy)) / 3
    o(8) = fa + (gax * (cx - ax) + gay * (cy - ay)) / 3
    o(9) = fa + (gax * (dx - ax) + gay * (dy - ay)) / 3
    o(10) = fb + (gbx * (dx - bx) + gby * (dy - by)) / 3
    o(11) = fc + (gcx * (dx - cx) + gcy * (dy - cy)) / 3
    // β for mini (Va,Vb,D): linear-normal-derivative condition on the
    // outer edge. (α,β,γ) = ∇λ_{Va}·n, ∇λ_{Vb}·n, ∇λ_D·n for normal n.
    def beta(vax: Double, vay: Double, vbx: Double, vby: Double,
             b300: Double, b210: Double, b120: Double, b030: Double,
             b201: Double, b021: Double): Double = {
      val nx = -(vby - vay); val ny = vbx - vax // edge normal (unnormalized)
      // barycentric gradients on (Va, Vb, D)
      val det = (vby - dy) * (vax - dx) + (dx - vbx) * (vay - dy)
      val ga = ((vby - dy) * nx + (dx - vbx) * ny) / det // ∇λ_a · n
      val detB = (dy - vay) * (vbx - vax) + (vax - dx) * (vby - vay)
      val gb = ((dy - vay) * nx + (vax - dx) * ny) / detB
      val detD = (vay - vby) * (dx - vax) + (vbx - vax) * (dy - vay)
      val gd = ((vay - vby) * nx + (vbx - vax) * ny) / detD
      // (near-)degenerate sliver: dividing by 2gd would blow up, so fall
      // back to the LINEAR-precision ordinate — (b201+b021)/2's control
      // abscissae average to exactly the mini-patch centroid (Va+Vb+D)/3,
      // so constants and linear fields reproduce exactly (the previous
      // 4-edge/2-vertex blend summed its weights to 2/3 and biased even
      // constants). Relative guard: slivers NEAR degeneracy must take
      // this branch too, not the 1/(2gd) blow-up.
      if (math.abs(gd) < 1e-12 * (math.abs(ga) + math.abs(gb) + 1e-300))
        (b201 + b021) / 2
      else
        (ga * (b300 - 2 * b210 + b120) + gb * (b210 - 2 * b120 + b030) +
         gd * (b201 + b021)) / (2 * gd)
    }
    o(12) = beta(ax, ay, bx, by, o(0), o(3), o(4), o(1), o(9), o(10))
    o(13) = beta(bx, by, cx, cy, o(1), o(5), o(6), o(2), o(10), o(11))
    o(14) = beta(cx, cy, ax, ay, o(2), o(7), o(8), o(0), o(11), o(9))
    // interior-edge C1 closures (derived from the blossom condition with
    // the off-edge vertex at barycentrics (−1,−1,3) wrt the neighbor mini)
    o(16) = (o(12) + o(13) + o(10)) / 3 // sB: edge B–D between T1,T2
    o(17) = (o(13) + o(14) + o(11)) / 3 // sC: edge C–D between T2,T3
    o(15) = (o(14) + o(12) + o(9)) / 3  // sA: edge A–D between T3,T1
    o(18) = (o(15) + o(16) + o(17)) / 3
    o
  }

  /** Evaluate at macro barycentric (l1,l2,l3) wrt (A,B,C): pick the mini
    * patch whose opposite macro vertex carries the minimal coordinate,
    * map to mini barycentrics (P = l1A+l2B+l3C and C = 3D−A−B give
    * (u,v,w) = (l1−l3, l2−l3, 3l3) on mini ABD, cyclic), evaluate the
    * cubic Bernstein–Bézier form. Boundary ties are value-identical
    * (the split is C0 by construction). */
  def eval(o: Array[Double], l1: Double, l2: Double, l3: Double): Double = {
    var u = 0.0; var v = 0.0; var w = 0.0
    var f300 = 0.0; var f030 = 0.0; var f210 = 0.0; var f120 = 0.0
    var f201 = 0.0; var f021 = 0.0; var f111 = 0.0; var f102 = 0.0; var f012 = 0.0
    if (l3 <= l1 && l3 <= l2) { // mini (A,B,D)
      u = l1 - l3; v = l2 - l3; w = 3 * l3
      f300 = o(0); f030 = o(1); f210 = o(3); f120 = o(4)
      f201 = o(9); f021 = o(10); f111 = o(12); f102 = o(15); f012 = o(16)
    } else if (l1 <= l2) {      // mini (B,C,D)
      u = l2 - l1; v = l3 - l1; w = 3 * l1
      f300 = o(1); f030 = o(2); f210 = o(5); f120 = o(6)
      f201 = o(10); f021 = o(11); f111 = o(13); f102 = o(16); f012 = o(17)
    } else {                    // mini (C,A,D)
      u = l3 - l2; v = l1 - l2; w = 3 * l2
      f300 = o(2); f030 = o(0); f210 = o(7); f120 = o(8)
      f201 = o(11); f021 = o(9); f111 = o(14); f102 = o(17); f012 = o(15)
    }
    f300 * u * u * u + f030 * v * v * v + o(18) * w * w * w +
      3 * (f210 * u * u * v + f201 * u * u * w + f120 * u * v * v +
           f021 * v * v * w + f102 * u * w * w + f012 * v * w * w) +
      6 * f111 * u * v * w
  }
}
