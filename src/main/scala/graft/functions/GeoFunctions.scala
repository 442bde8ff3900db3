package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.io.{WKTReader, WKTWriter}

import graft.geo.CellIndex

/** JTS-backed scalar functions (the `st_*` layer, SURVEY.md §2.12).
  *
  * Geometries travel as WKT strings between operators (BASELINE input_hint:
  * vector geometries are text WKT); executors parse lazily through a
  * bounded per-JVM prepared-geometry cache — the distributed analog of the
  * reference's per-worker STRtree/interpolator caches
  * (`interface/rasterization.py:126-139`).
  */
object GeoFunctions extends Serializable {

  @transient private lazy val gf = new GeometryFactory()

  /** Cached parse: prepared geometry + rectangle fast-path envelope. */
  private final case class Prep(geom: PreparedGeometry,
                                isRect: Boolean,
                                minx: Double, miny: Double, maxx: Double, maxy: Double)

  // Bounded cache: wkt -> Prep. Cleared wholesale when full — zones repeat
  // across millions of candidate pairs, so hit rate is high.
  @transient private lazy val prepCache =
    new java.util.concurrent.ConcurrentHashMap[String, Prep]()
  private val MaxCache = 200000

  def parse(wkt: String): Geometry = new WKTReader(gf).read(wkt)

  private def prep(wkt: String): Prep = {
    var p = prepCache.get(wkt)
    if (p == null) {
      if (prepCache.size() > MaxCache) prepCache.clear()
      val g = parse(wkt)
      val e = g.getEnvelopeInternal
      p = Prep(PreparedGeometryFactory.prepare(g), g.isRectangle,
        e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
      prepCache.put(wkt, p)
    }
    p
  }

  def prepared(wkt: String): PreparedGeometry = prep(wkt).geom

  // Reusable per-thread Point — avoids one allocation per candidate pair
  // in the PIP refine hot loop.
  @transient private lazy val localPoint =
    ThreadLocal.withInitial[org.locationtech.jts.geom.Point](() =>
      gf.createPoint(new Coordinate(0, 0)))

  /** Interior containment of a point — boundary excluded, matching the
    * strict-inequality oracle predicate; a NaN coordinate is never inside.
    * Rectangles (the common zone case) short-circuit to pure envelope
    * compares. */
  def containsXy(wkt: String, x: Double, y: Double): Boolean = {
    val p = prep(wkt)
    if (!(x > p.minx && x < p.maxx && y > p.miny && y < p.maxy)) false
    else if (p.isRect) true
    else {
      val pt = localPoint.get()
      pt.getCoordinate.setCoordinate(new Coordinate(x, y))
      pt.geometryChanged()
      p.geom.contains(pt)
    }
  }

  val st_contains_xy = udf(containsXy _)
  // both sides go through the parse cache: candidate pairs repeat geometries
  val st_intersects = udf((a: String, b: String) => prep(a).geom.intersects(prep(b).geom.getGeometry))
  val st_contains = udf((a: String, b: String) => prep(a).geom.contains(prep(b).geom.getGeometry))
  val st_within = udf((a: String, b: String) => prep(b).geom.contains(prep(a).geom.getGeometry))
  val st_area = udf((wkt: String) => parse(wkt).getArea)
  val st_length = udf((wkt: String) => parse(wkt).getLength)
  val st_centroid_x = udf((wkt: String) => parse(wkt).getCentroid.getX)
  val st_centroid_y = udf((wkt: String) => parse(wkt).getCentroid.getY)
  val st_buffer = udf((wkt: String, d: Double) => new WKTWriter().write(parse(wkt).buffer(d)))
  val st_simplify = udf((wkt: String, tol: Double) =>
    new WKTWriter().write(org.locationtech.jts.simplify.DouglasPeuckerSimplifier.simplify(parse(wkt), tol)))
  val st_convex_hull = udf((wkt: String) => new WKTWriter().write(parse(wkt).convexHull()))
  val st_intersection = udf((a: String, b: String) => new WKTWriter().write(parse(a).intersection(parse(b))))
  val st_difference = udf((a: String, b: String) => new WKTWriter().write(parse(a).difference(parse(b))))
  val st_distance = udf((a: String, b: String) => parse(a).distance(parse(b)))
  val st_envelope = udf((wkt: String) => {
    val e = parse(wkt).getEnvelopeInternal
    Array(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
  })
  val st_is_rect = udf((wkt: String) => parse(wkt).isRectangle)

  /** One-parse polygon annotation (envelope corners + rectangle flag)
    * through the prep cache — replaces the st_envelope + st_is_rect +
    * geom_cover triple parse in the PIP join's polygon annotation (and
    * the cache is shared with the refine's st_contains_xy). */
  def envRect(wkt: String): (Double, Double, Double, Double, Boolean) = {
    val p = prep(wkt)
    (p.minx, p.miny, p.maxx, p.maxy, p.isRect)
  }
  // never null ⇒ inferred isnotnull(UDF(...)._N) join constraints
  // constant-fold instead of re-running the parse once per extracted field
  // in a pushed filter
  val st_env_rect = udf(envRect _).asNonNullable()
  val st_npoints = udf((wkt: String) => parse(wkt).getNumPoints)

  // ---- §2.9 geometric transforms (JTS 1:1 wrappers over WKT) ----------
  private def w(g: Geometry): String = new WKTWriter().write(g)

  val st_representative_point = udf((wkt: String) => {
    val p = parse(wkt).getInteriorPoint; Array(p.getX, p.getY)
  })
  val st_reverse = udf((wkt: String) => w(parse(wkt).reverse()))
  val st_rotate = udf((wkt: String, theta: Double, cx: Double, cy: Double) =>
    w(org.locationtech.jts.geom.util.AffineTransformation
      .rotationInstance(theta, cx, cy).transform(parse(wkt))))
  val st_scale = udf((wkt: String, sx: Double, sy: Double) =>
    w(org.locationtech.jts.geom.util.AffineTransformation
      .scaleInstance(sx, sy).transform(parse(wkt))))
  val st_translate = udf((wkt: String, dx: Double, dy: Double) =>
    w(org.locationtech.jts.geom.util.AffineTransformation
      .translationInstance(dx, dy).transform(parse(wkt))))
  val st_segmentize = udf((wkt: String, tol: Double) =>
    w(org.locationtech.jts.densify.Densifier.densify(parse(wkt), tol)))
  val st_min_bounding_circle_radius = udf((wkt: String) =>
    new org.locationtech.jts.algorithm.MinimumBoundingCircle(parse(wkt)).getRadius)
  val st_min_rotated_rect = udf((wkt: String) =>
    w(org.locationtech.jts.algorithm.MinimumDiameter.getMinimumRectangle(parse(wkt))))
  val st_delaunay = udf((wkt: String) => {
    val b = new org.locationtech.jts.triangulate.DelaunayTriangulationBuilder()
    b.setSites(parse(wkt)); w(b.getTriangles(gf))
  })
  val st_interpolate = udf((wkt: String, frac: Double) => {
    val g = parse(wkt)
    val lil = new org.locationtech.jts.linearref.LengthIndexedLine(g)
    val c = lil.extractPoint(frac * g.getLength)
    Array(c.x, c.y)
  })
  val st_num_geometries = udf((wkt: String) => parse(wkt).getNumGeometries)

  // ---- per-row accessors / predicates (vector.py:453-651) ---------------
  val st_geom_type = udf((wkt: String) => parse(wkt).getGeometryType)
  val st_is_simple = udf((wkt: String) => parse(wkt).isSimple)
  val st_is_ring = udf((wkt: String) => parse(wkt) match {
    case l: org.locationtech.jts.geom.LineString => l.isRing
    case _ => false
  })
  val st_is_closed = udf((wkt: String) => parse(wkt) match {
    case l: org.locationtech.jts.geom.LineString => l.isClosed
    case m: org.locationtech.jts.geom.MultiLineString => m.isClosed
    case _ => false
  })
  val st_is_ccw = udf((wkt: String) => parse(wkt) match {
    case p: org.locationtech.jts.geom.Polygon =>
      org.locationtech.jts.algorithm.Orientation.isCCW(p.getExteriorRing.getCoordinateSequence)
    case l: org.locationtech.jts.geom.LineString if l.isClosed =>
      org.locationtech.jts.algorithm.Orientation.isCCW(l.getCoordinateSequence)
    case _ => false
  })
  val st_has_z = udf((wkt: String) => {
    val cs = parse(wkt).getCoordinates
    cs.nonEmpty && !cs(0).getZ.isNaN
  })
  val st_is_valid_reason = udf((wkt: String) =>
    new org.locationtech.jts.operation.valid.IsValidOp(parse(wkt)) match {
      case op => if (op.isValid) "Valid Geometry" else op.getValidationError.toString
    })
  val st_exterior = udf((wkt: String) => parse(wkt) match {
    case p: org.locationtech.jts.geom.Polygon => w(p.getExteriorRing)
    case g => w(g.getBoundary)
  })
  val st_interiors = udf((wkt: String) => parse(wkt) match {
    case p: org.locationtech.jts.geom.Polygon =>
      (0 until p.getNumInteriorRing).map(i => w(p.getInteriorRingN(i))).toArray
    case _ => Array.empty[String]
  })
  val st_count_interior_rings = udf((wkt: String) => parse(wkt) match {
    case p: org.locationtech.jts.geom.Polygon => p.getNumInteriorRing
    case g => (0 until g.getNumGeometries).map(g.getGeometryN).collect {
      case p: org.locationtech.jts.geom.Polygon => p.getNumInteriorRing
    }.sum
  })

  // ---- §2.9 stragglers (vector.py:699-890) ------------------------------
  /** concave_hull(ratio): 0 = most concave, 1 = convex hull (shapely/JTS
    * length-ratio parameterization). */
  val st_concave_hull = udf((wkt: String, ratio: Double) =>
    w(org.locationtech.jts.algorithm.hull.ConcaveHull
      .concaveHullByLengthRatio(parse(wkt), ratio)))
  val st_offset_curve = udf((wkt: String, d: Double) =>
    w(org.locationtech.jts.operation.buffer.OffsetCurve.getCurve(parse(wkt), d)))
  val st_force_2d = udf((wkt: String) => {
    val g = parse(wkt).copy()
    g.apply(new org.locationtech.jts.geom.CoordinateFilter {
      def filter(c: Coordinate): Unit = c.setZ(Double.NaN)
    })
    w(g)
  })
  val st_force_3d = udf((wkt: String, z: Double) => {
    val g = parse(wkt).copy()
    g.apply(new org.locationtech.jts.geom.CoordinateFilter {
      def filter(c: Coordinate): Unit = c.setZ(z)
    })
    new WKTWriter(3).write(g)
  })
  /** build_area: polygonize the linework and union the faces. */
  val st_build_area = udf((wkt: String) => {
    val p = new org.locationtech.jts.operation.polygonize.Polygonizer(true)
    p.add(parse(wkt))
    w(p.getGeometry)
  })
  /** shapely.polygonize (node-and-polygonize linework): the individual
    * faces, as a collection (build_area unions them instead). */
  val st_polygonize = udf((wkt: String) => {
    val p = new org.locationtech.jts.operation.polygonize.Polygonizer(false)
    val g = parse(wkt)
    // node the linework first (polygonize expects noded edges)
    p.add(g.union())
    val polys = p.getPolygons
    val arr = new Array[Geometry](polys.size())
    val it = polys.iterator(); var i = 0
    while (it.hasNext) { arr(i) = it.next().asInstanceOf[Geometry]; i += 1 }
    java.util.Arrays.sort(arr, (a: Geometry, b: Geometry) => a.compareTo(b))
    w(gf.createGeometryCollection(arr))
  })
  /** set_precision(gridSize): snap coordinates to the grid, fixing the
    * geometry (shapely set_precision / JTS GeometryPrecisionReducer). */
  val st_set_precision = udf((wkt: String, gridSize: Double) =>
    w(org.locationtech.jts.precision.GeometryPrecisionReducer.reduce(
      parse(wkt), new org.locationtech.jts.geom.PrecisionModel(1.0 / gridSize))))
  val st_clip_by_rect = udf((wkt: String, minx: Double, miny: Double,
                             maxx: Double, maxy: Double) => {
    val rect = gf.toGeometry(new org.locationtech.jts.geom.Envelope(minx, maxx, miny, maxy))
    w(parse(wkt).intersection(rect))
  })
  val st_extract_unique_points = udf((wkt: String) => {
    val seen = scala.collection.mutable.LinkedHashSet.empty[(Double, Double)]
    parse(wkt).getCoordinates.foreach(c => seen += ((c.x, c.y)))
    w(gf.createMultiPointFromCoords(
      seen.toArray.map { case (x, y) => new Coordinate(x, y) }))
  })

  // ---- §2.4 distance-join refinements ----------------------------------
  val st_hausdorff = udf((a: String, b: String) =>
    org.locationtech.jts.algorithm.distance.DiscreteHausdorffDistance
      .distance(parse(a), parse(b)))
  val st_frechet = udf((a: String, b: String) =>
    org.locationtech.jts.algorithm.distance.DiscreteFrechetDistance
      .distance(parse(a), parse(b)))
  val st_shortest_line = udf((a: String, b: String) => {
    val pts = org.locationtech.jts.operation.distance.DistanceOp
      .nearestPoints(parse(a), parse(b))
    Array(pts(0).x, pts(0).y, pts(1).x, pts(1).y)
  })

  /** buffer_metric (geoutils `vector/geometric.py:34-56`): reproject
    * lon/lat WKT to its local UTM zone, buffer in meters, reproject back. */
  val st_buffer_metric = udf((wkt: String, meters: Double) => {
    val g = parse(wkt)
    val c = g.getCentroid
    val zone = graft.geo.CrsMath.utmZoneOf(c.getX)
    val south = c.getY < 0
    val fwd = new org.locationtech.jts.geom.util.GeometryTransformer {
      override protected def transformCoordinates(
          cs: org.locationtech.jts.geom.CoordinateSequence,
          parent: Geometry): org.locationtech.jts.geom.CoordinateSequence = {
        val out = new Array[Coordinate](cs.size)
        var i = 0
        while (i < cs.size) {
          val (e, n) = graft.geo.CrsMath.utmForward(cs.getX(i), cs.getY(i), zone, south)
          out(i) = new Coordinate(e, n); i += 1
        }
        gf.getCoordinateSequenceFactory.create(out)
      }
    }
    val inv = new org.locationtech.jts.geom.util.GeometryTransformer {
      override protected def transformCoordinates(
          cs: org.locationtech.jts.geom.CoordinateSequence,
          parent: Geometry): org.locationtech.jts.geom.CoordinateSequence = {
        val out = new Array[Coordinate](cs.size)
        var i = 0
        while (i < cs.size) {
          val (lon, lat) = graft.geo.CrsMath.utmInverse(cs.getX(i), cs.getY(i), zone, south)
          out(i) = new Coordinate(lon, lat); i += 1
        }
        gf.getCoordinateSequenceFactory.create(out)
      }
    }
    new WKTWriter().write(inv.transform(fwd.transform(g).buffer(meters)))
  })

  /** Densified projected footprint (reference `projtools.py:376-455`,
    * `base.py:985-1004`): bounds polygon densified so reprojection
    * curvature is captured, then reprojected vertex-wise. */
  val st_footprint = udf((minx: Double, miny: Double, maxx: Double, maxy: Double,
                          densify: Int, fromEpsg: Int, toEpsg: Int) => {
    val t = graft.geo.CrsMath.transform(fromEpsg, toEpsg)
    val pts = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
    def edge(x0: Double, y0: Double, x1: Double, y1: Double): Unit = {
      var k = 0
      while (k < densify) {
        val f = k.toDouble / densify
        val (x, y) = t(x0 + f * (x1 - x0), y0 + f * (y1 - y0))
        pts += new Coordinate(x, y); k += 1
      }
    }
    edge(minx, miny, maxx, miny); edge(maxx, miny, maxx, maxy)
    edge(maxx, maxy, minx, maxy); edge(minx, maxy, minx, miny)
    pts += pts.head
    new WKTWriter().write(gf.createPolygon(pts.toArray))
  })

  // ---- predicate series (§2.4) -----------------------------------------
  val st_touches = udf((a: String, b: String) => parse(a).touches(parse(b)))
  val st_crosses = udf((a: String, b: String) => parse(a).crosses(parse(b)))
  val st_overlaps = udf((a: String, b: String) => parse(a).overlaps(parse(b)))
  val st_covers = udf((a: String, b: String) => parse(a).covers(parse(b)))
  val st_covered_by = udf((a: String, b: String) => parse(a).coveredBy(parse(b)))
  val st_disjoint = udf((a: String, b: String) => parse(a).disjoint(parse(b)))
  val st_dwithin = udf((a: String, b: String, d: Double) => parse(a).isWithinDistance(parse(b), d))
  val st_relate = udf((a: String, b: String) => parse(a).relate(parse(b)).toString)
  val st_relate_pattern = udf((a: String, b: String, p: String) => parse(a).relate(parse(b), p))

  /** Owning cell of a point at a level. */
  val cell_of = udf((x: Double, y: Double, lvl: Int) => CellIndex.cellOf(x, y, lvl))

  /** Covering cells of a bbox at a level (the Generator feeding explode). */
  val cover_cells = udf((minx: Double, miny: Double, maxx: Double, maxy: Double, lvl: Int) =>
    CellIndex.cover(minx, miny, maxx, maxy, lvl))

  /** Covering cells of a WKT geometry's envelope. */
  val geom_cover = udf((wkt: String, lvl: Int) => {
    val e = parse(wkt).getEnvelopeInternal
    CellIndex.cover(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, lvl)
  })

  /** Ring-k cell neighborhood (kNN candidate expansion). */
  val cell_ring = udf((cell: Long, k: Int) => CellIndex.ring(cell, k))
}
