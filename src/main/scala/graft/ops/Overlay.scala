package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions._

/** Vector overlay — pairwise geometric set operations between two layers
  * (reference `vector/vector.py:974-989`, GeoPandas `overlay(how=...)`).
  *
  * how semantics (each output row carries the polygonal piece + the ids it
  * derives from; null id = "no counterpart", GeoPandas' NaN):
  *  - intersection         → a∩b pieces for every intersecting pair
  *  - difference           → per a-feature: a − union(intersecting b)
  *  - identity             → intersection ∪ difference
  *  - symmetric_difference → difference(a,b) ∪ difference(b,a)
  *  - union                → intersection ∪ difference(a,b) ∪ difference(b,a)
  *
  * Plan: one `sjoin` (cell prejoin, single-emission) builds the pair set;
  * intersection pieces compute per pair; difference pieces group the
  * intersecting partners per feature (st_union_agg) and subtract ONCE —
  * never a per-pair cascade. Features with no partner pass through whole.
  * Only polygonal parts with area > 0 are kept (the reference's
  * polygonal-only extraction).
  */
object Overlay {

  /** Exact area of an axis-aligned rectangle minus a union of axis-aligned
    * rectangles (pre-clipped to the source): coordinate-compressed slab
    * sweep, O(k² log k) per feature, no geometry materialized. A slab
    * between adjacent x-cuts is covered all-or-nothing by each cut, so the
    * per-slab interval merge is exact; on integer-coordinate rectilinear
    * inputs the result is integer-exact, matching both JTS difference area
    * and the oracle's unit-cell count bit for bit. Cuts with no area
    * (`c(0) >= c(2)` or `c(1) >= c(3)`) cover nothing and are skipped. */
  private[graft] def rectDiffArea(sx0: Double, sy0: Double, sx1: Double, sy1: Double,
                                  allCuts: Array[Array[Double]]): Double = {
    // the sweep needs lo < hi on both axes: a zero-width cut would leave
    // the active set before it enters it
    val cuts = allCuts.filter(c => c(0) < c(2) && c(1) < c(3))
    if (cuts.isEmpty) return (sx1 - sx0) * (sy1 - sy0)
    val xs = (Array(sx0, sx1) ++ cuts.flatMap(c => Array(c(0), c(2)))).distinct.sorted
    val k = cuts.length
    // Event-driven sweep (round 6): the original re-filtered and re-sorted
    // ALL cuts for EVERY slab — O(slabs·k) with three allocations per slab;
    // on a dense overlay (hundreds of partners per feature) that filter WAS
    // the difference cost. Every cut endpoint is a slab edge, so cut j is
    // active exactly for slabs [idx(c0), idx(c2)) — the per-slab filter
    // `c0 <= xa && c2 >= xb` in event form. The active set is maintained
    // sorted by y-lo, so the per-slab pass is the same ascending-lo
    // interval merge over the same interval multiset as before: chunk
    // boundaries (and hence the float accumulation order of `covered` and
    // `area`) are IDENTICAL — equal-lo ties can never split a chunk, so
    // their mutual order is immaterial — and the result is bit-equal.
    def idx(x: Double): Int = {
      var lo = 0; var hi = xs.length - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) < x) lo = m + 1 else hi = m }
      lo
    }
    val ins = new Array[Int](k); val outs = new Array[Int](k)
    var j = 0
    while (j < k) { ins(j) = idx(cuts(j)(0)); outs(j) = idx(cuts(j)(2)); j += 1 }
    val inOrder = Array.range(0, k).sortBy(ins)
    val outOrder = Array.range(0, k).sortBy(outs)
    val aLo = new Array[Double](k); val aHi = new Array[Double](k)
    var na = 0; var pi = 0; var po = 0
    var area = 0.0
    var s = 0
    while (s < xs.length - 1) {
      while (po < k && outs(outOrder(po)) == s) {
        val c = cuts(outOrder(po))
        var i = 0
        while (i < na && !(aLo(i) == c(1) && aHi(i) == c(3))) i += 1
        System.arraycopy(aLo, i + 1, aLo, i, na - i - 1)
        System.arraycopy(aHi, i + 1, aHi, i, na - i - 1)
        na -= 1
        po += 1
      }
      while (pi < k && ins(inOrder(pi)) == s) {
        val c = cuts(inOrder(pi))
        var i = na
        while (i > 0 && aLo(i - 1) > c(1)) i -= 1
        System.arraycopy(aLo, i, aLo, i + 1, na - i)
        System.arraycopy(aHi, i, aHi, i + 1, na - i)
        aLo(i) = c(1); aHi(i) = c(3)
        na += 1
        pi += 1
      }
      val xa = xs(s); val xb = xs(s + 1)
      if (xb > xa) {
        var covered = 0.0
        var curLo = 0.0; var curHi = Double.NegativeInfinity; var open = false
        var i = 0
        while (i < na) {
          val lo = aLo(i); val hi = aHi(i)
          if (!open) { curLo = lo; curHi = hi; open = true }
          else if (lo > curHi) { covered += curHi - curLo; curLo = lo; curHi = hi }
          else if (hi > curHi) curHi = hi
          i += 1
        }
        if (open) covered += curHi - curLo
        area += (xb - xa) * ((sy1 - sy0) - covered)
      }
      s += 1
    }
    area
  }

  /** Strip-sweep kernel for the bounded hot-feature path: area of the
    * vertical slab [x0,x1]×[sy0,sy1] minus the cuts overlapping it (cuts
    * are already clipped to the source rectangle; clip to the slab here).
    * Summed over a feature's slabs this equals the single-sweep
    * `rectDiffArea` up to float associativity (slab bounds are shared
    * float values between adjacent slabs, so widths telescope exactly). */
  private val stripDiffAreaUdf = udf(
    (sy0: Double, sy1: Double, x0: Double, x1: Double, cuts: Seq[Seq[Double]]) => {
      val cs = cuts.iterator
        .map(c => Array(math.max(c(0), x0), c(1), math.min(c(2), x1), c(3))).toArray
      rectDiffArea(x0, sy0, x1, sy1, cs)
    })

  /** area(src − ∪ cuts) for the all-rectangle fast path, straight from
    * envelope ARRAYS — the cuts were clipped to the source envelope in
    * codegen and zero-area cuts filtered there, so no WKT is parsed (or
    * even shuffled) anywhere on this path. Bit-identical to `diffAreaUdf`
    * on rectangles: same clip arithmetic, same sweep. */
  private val rectDiffAreaEnvUdf = udf((senv: Seq[Double], cuts: Seq[Seq[Double]]) =>
    rectDiffArea(senv(0), senv(1), senv(2), senv(3),
      cuts.map(c => Array(c(0), c(1), c(2), c(3))).toArray))

  /** area(src − ∪ others): rectilinear sweep when every geometry is an
    * axis-aligned rectangle (the common zones case — zero JTS ops), JTS
    * union+difference otherwise. */
  private val diffAreaUdf = udf((srcWkt: String, others: Seq[String]) => {
    val src = graft.functions.GeoFunctions.parse(srcWkt)
    val gs = others.map(graft.functions.GeoFunctions.parse)
    if (src.isRectangle && gs.forall(_.isRectangle)) {
      val e = src.getEnvelopeInternal
      val cuts = gs.map { g =>
        val c = g.getEnvelopeInternal
        Array(math.max(c.getMinX, e.getMinX), math.max(c.getMinY, e.getMinY),
              math.min(c.getMaxX, e.getMaxX), math.min(c.getMaxY, e.getMaxY))
      }.toArray
      rectDiffArea(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, cuts)
    } else {
      val arr = new java.util.ArrayList[org.locationtech.jts.geom.Geometry]()
      gs.foreach(arr.add)
      val merged =
        org.locationtech.jts.operation.union.CascadedPolygonUnion.union(arr)
      src.difference(merged).getArea
    }
  })

  /** a: (id_a, wkt_a); b: (id_b, wkt_b). Output: (id_a, id_b, wkt, area) —
    * id_a/id_b nullable depending on `how`.
    *
    * `areaOnly = true` skips materializing difference geometries: the
    * difference rows carry `wkt = NULL` and the area comes from the
    * rectilinear sweep (or a single JTS union+difference for general
    * shapes). Use it when the consumer only aggregates areas — building a
    * polygon only to measure it is the dominant cost of how="union" on
    * rectangle layers. */
  def overlay(a: DataFrame, b: DataFrame, how: String, level: Int = 7,
              areaOnly: Boolean = false): DataFrame = {
    require(Seq("intersection", "union", "difference", "identity",
      "symmetric_difference").contains(how), how)

    // Every how except pure intersection consumes the pair set 2-3× (inter,
    // diffA/diffB, and the per-feature partner COUNT that gates the bounded
    // skew path) — materialize it once so the cell-cover join runs once,
    // not per branch (it is the dominant cost of the whole overlay).
    // Eager checkpoint, not .persist(): measured at sf0.1, lazily
    // persisted WKT pairs race their own cache population across the three
    // branches of one job (80 s), and even eager columnar caching decodes
    // the big WKT strings ~4 s per branch read; checkpointed row blocks
    // read back in ~0.1 s. Checkpoints.materialize defaults to
    // localCheckpoint (right for local mode) and swaps to reliable
    // checkpoint() under spark.graft.checkpoint.reliable=true so executor
    // loss on a real cluster is recoverable.
    val fanOut = how != "intersection"
    // emitEnv: the sjoin computed each feature's envelope + rect flag for
    // its own cover/refine — carrying them through makes the per-pair
    // annotation FREE (round 3 re-derived them with a WKT-parse UDF per
    // pair: 790k parses at sf0.1 vs the join's 9k per-feature parses).
    // env/rect feed the `inter` CASE and every diffSide rect fast path;
    // computed BEFORE the checkpoint so fan-out branches read them back.
    // The checkpoint is WIDE on purpose: joining the feature dims (WKT)
    // in BEFORE materializing freezes the dims' derivation into the
    // checkpoint — a/b can be arbitrary subplans (windowed derivations,
    // joins), and a narrow checkpoint re-joined per branch re-derives
    // them once per consumer (measured 5.1 s → 10.1 s on the union
    // overlay when tried).
    val annotated0 = SpatialJoin.sjoin(a, b, "intersects", level, emitEnv = true)
      .join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("both_rect", col("rect_a") && col("rect_b"))
    val pairs = if (fanOut) Checkpoints.materialize(annotated0) else annotated0

    // rect⊗rect pairs intersect by pure envelope arithmetic; JTS only runs
    // for general-geometry pairs. SINGLE PASS over `pairs` — CASE WHEN
    // short-circuits, so the rect branch never parses WKT and the pair set
    // isn't read once per branch (a rect/general split into two unioned
    // subplans re-ran the sjoin + annotation per branch when uncached)
    lazy val inter = {
      val x0 = greatest(col("env_a")(0), col("env_b")(0))
      val y0 = greatest(col("env_a")(1), col("env_b")(1))
      val x1 = least(col("env_a")(2), col("env_b")(2))
      val y1 = least(col("env_a")(3), col("env_b")(3))
      val rectWkt =
        concat(lit("POLYGON (("), x0, lit(" "), y0, lit(", "), x1, lit(" "), y0,
          lit(", "), x1, lit(" "), y1, lit(", "), x0, lit(" "), y1,
          lit(", "), x0, lit(" "), y0, lit("))"))
      pairs.select(col("id_a"), col("id_b"),
          when(col("both_rect"),
            when(x1 > x0 && y1 > y0, rectWkt).otherwise(lit(null).cast("string")))
            .otherwise(st_intersection(col("wkt_a"), col("wkt_b"))).as("wkt"),
          when(col("both_rect"),
            when(x1 > x0 && y1 > y0, (x1 - x0) * (y1 - y0)).otherwise(lit(0.0)))
            .as("rect_area"))
        .withColumn("area", coalesce(col("rect_area"), st_area(col("wkt"))))
        .where(col("area") > 0)
        .select(col("id_a"), col("id_b"), col("wkt"), col("area"))
    }

    // Per-feature difference: subtract the UNION of all intersecting
    // partners — but NEVER in one unbounded aggregation buffer. A feature
    // intersecting millions of partners is the canonical 100×-scale skew
    // OOM, so above `cap` partners (spark.graft.overlay.maxPartnersPerBuffer,
    // default 4096) the aggregation goes two-level:
    //  - all-rectangle hot features (areaOnly): per-feature x-strip
    //    decomposition — strips partition the source rectangle, each
    //    (feature, strip) group sweeps only the cuts overlapping that
    //    strip, and per-strip areas sum (strip bounds are shared float
    //    values, so widths telescope exactly);
    //  - everything else: hash-bucketed hierarchical JTS union (≤64
    //    bucket unions, then one union of the bucket geometries) —
    //    geometric union is associative, so the result is identical.
    // Features at or below the cap keep round-3's single-pass plan, so
    // small-scale results and oracles are bit-identical.
    // Data-adaptive short-circuit (round 6): ONE probe job over the
    // (checkpointed) pair set decides per SIDE whether the hot-feature
    // machinery exists AT ALL. Without it, a pair set with NO hot
    // feature still paid the anti-join plus ~8 empty hot-path operators
    // per side — pure stage overhead on typical layers; and probing each
    // side separately (as first built) paid the pair-set aggregation
    // twice for two-sided hows. Layers WITH hot features take the exact
    // round-5 plan. `cap` = spark.graft.overlay.maxPartnersPerBuffer.
    val cap = a.sparkSession.conf
      .getOption("spark.graft.overlay.maxPartnersPerBuffer")
      .map(_.toInt).getOrElse(4096)
    lazy val hotSides: Set[String] = {
      val probeSides = how match {
        case "difference" | "identity" => Seq("a")
        case _                         => Seq("a", "b")
      }
      val entries = probeSides.map(s =>
        struct(lit(s).as("side"), col(s"id_$s").as("id")))
      pairs.select(explode(array(entries: _*)).as("x"))
        .groupBy(col("x.side").as("side"), col("x.id"))
        .agg(count(lit(1)).as("np"))
        .where(col("np") > cap)
        .select(col("side")).distinct()
        .collect().map(_.getString(0)).toSet
    }

    def diffSide(src: DataFrame, idN: String, wktN: String,
                 otherIdN: String, otherWktN: String,
                 srcEnvN: String, srcRectN: String,
                 otherEnvN: String, otherRectN: String,
                 anyHot: Boolean): DataFrame = {
      val spark = src.sparkSession

      // No broadcast hint on the hot-id joins: usually skew means few hot
      // keys and AQE broadcasts them at runtime, but a uniformly dense
      // layer (EVERY feature above cap) makes hotIds the whole id set — a
      // forced broadcast would OOM the driver there, while an unhinted
      // join degrades to a shuffle and completes.
      val hotIds = pairs.groupBy(col(idN)).agg(count(lit(1)).as("np"))
        .where(col("np") > cap)
      val coldPairs =
        if (anyHot) pairs.join(hotIds.select(col(idN)), Seq(idN), "left_anti")
        else pairs
      val hotPairs = pairs.join(hotIds, Seq(idN))

      // partner envelope clipped to the source envelope, null when the
      // overlap is degenerate — collect_list skips nulls, so touch-only
      // partners drop while the feature row survives with its full area
      val cx0 = greatest(col(otherEnvN)(0), col(srcEnvN)(0))
      val cy0 = greatest(col(otherEnvN)(1), col(srcEnvN)(1))
      val cx1 = least(col(otherEnvN)(2), col(srcEnvN)(2))
      val cy1 = least(col(otherEnvN)(3), col(srcEnvN)(3))
      val cutCol = when(cx1 > cx0 && cy1 > cy0, array(cx0, cy0, cx1, cy1))

      val cold =
        if (areaOnly)
          // ONE aggregation pass collects both the clipped envelope cuts
          // and the partner WKTs; the per-feature CASE then routes
          // all-rectangle features to the envelope sweep — their WKTs are
          // never parsed (the parse was the dominant diff cost: ~0.8M JTS
          // parses per union at sf0.1) — and mixed features to the
          // JTS-checked path. when/otherwise short-circuits in codegen.
          coldPairs.groupBy(col(idN)).agg(
              first(col(srcEnvN)).as("senv"),
              min(col(srcRectN) && col(otherRectN)).as("all_rect"),
              collect_list(cutCol).as("cuts"),
              collect_list(col(otherWktN)).as("others"))
            .join(src, Seq(idN))
            .select(col(idN), lit(null).cast("string").as("wkt"),
              when(col("all_rect"), rectDiffAreaEnvUdf(col("senv"), col("cuts")))
                .otherwise(diffAreaUdf(col(wktN), col("others"))).as("area"))
        else
          coldPairs.groupBy(col(idN)).agg(Polygonize.st_union_agg(col(otherWktN)).as("others"))
            .join(src, Seq(idN))
            .select(col(idN), st_difference(col(wktN), col("others")).as("wkt"))
            .withColumn("area", st_area(col("wkt")))

      // hot-feature metadata straight from the annotated pair columns (no
      // re-parse): partner count, source envelope, all-rect flag
      val meta = hotPairs.groupBy(col(idN)).agg(
        first(col("np")).as("np"), first(col(srcEnvN)).as("senv"),
        min(col(srcRectN) && col(otherRectN)).as("all_rect"))

      // geometry mode can't strip-decompose (it must emit the difference
      // polygon), so there ALL hot features take the hierarchical union
      val genIds = if (areaOnly) meta.where(!col("all_rect")) else meta
      val hotGeneral = {
        val unioned = hotPairs.join(genIds.select(col(idN)), Seq(idN))
          .withColumn("bkt", pmod(hash(col(otherWktN)), lit(64)))
          .groupBy(col(idN), col("bkt"))
          .agg(Polygonize.st_union_agg(col(otherWktN)).as("part"))
          .groupBy(col(idN)).agg(Polygonize.st_union_agg(col("part")).as("others"))
          .join(src, Seq(idN))
        if (areaOnly)
          unioned.select(col(idN), lit(null).cast("string").as("wkt"),
            st_area(st_difference(col(wktN), col("others"))).as("area"))
        else
          unioned.select(col(idN), st_difference(col(wktN), col("others")).as("wkt"))
            .withColumn("area", st_area(col("wkt")))
      }

      val hotRect = if (!areaOnly) None else Some {
        val m = meta.where(col("all_rect"))
          .select(col(idN), col("senv"),
            least(lit(256), greatest(lit(2),
              ceil(col("np").cast("double") / cap) * 2)).cast("int").as("nstrips"))
          .withColumn("w", (col("senv")(2) - col("senv")(0)) / col("nstrips"))
          .where(col("w") > 0)
        // skeleton: EVERY strip of every hot-rect feature, even cut-free
        // ones — their full slab area must still be counted
        val skel = m.withColumn("s", explode(sequence(lit(0), col("nstrips") - 1)))
        // routed range widened by one strip on each side: the floor here
        // and the slab-bound clip inside stripDiffAreaUdf compute strip
        // edges independently (senv0 + s*w), and the two can disagree by
        // 1 ulp at a strip boundary — a boundary-straddling cut could be
        // routed to a strip where its clip is empty while the neighbor
        // never receives it. The extra strips clip to empty (no-ops), so
        // the widening costs a few duplicate rows and removes the
        // float-boundary sensitivity entirely.
        val slo = least(col("nstrips") - 1, greatest(lit(0),
          floor((col("cut")(0) - col("senv")(0)) / col("w")).cast("int") - 1))
        val shi = least(col("nstrips") - 1, greatest(lit(0),
          floor((col("cut")(2) - col("senv")(0)) / col("w")).cast("int") + 1))
        val cuts = hotPairs.select(col(idN), col(otherEnvN), cutCol.as("cut"))
          .where(col("cut").isNotNull)
          .join(m, Seq(idN))
          .withColumn("s", explode(sequence(slo, shi)))
          .groupBy(col(idN), col("s")).agg(collect_list(col("cut")).as("cuts"))
        skel.join(cuts, Seq(idN, "s"), "left")
          .select(col(idN),
            stripDiffAreaUdf(
              col("senv")(1), col("senv")(3),
              col("senv")(0) + col("s") * col("w"),
              when(col("s") === col("nstrips") - 1, col("senv")(2))
                .otherwise(col("senv")(0) + (col("s") + 1) * col("w")),
              coalesce(col("cuts"), array().cast("array<array<double>>"))).as("sarea"))
          .groupBy(col(idN)).agg(sum(col("sarea")).as("area"))
          .select(col(idN), lit(null).cast("string").as("wkt"), col("area"))
      }

      // features with no intersecting partner pass through whole
      val unmatched = src
        .join(pairs.select(col(idN)).distinct(), Seq(idN), "left_anti")
        .select(col(idN),
          (if (areaOnly) lit(null).cast("string") else col(wktN)).as("wkt"),
          st_area(col(wktN)).as("area"))

      val withHot =
        if (anyHot) hotRect.foldLeft(cold.unionByName(hotGeneral))(_ unionByName _)
        else cold
      withHot.unionByName(unmatched).where(col("area") > 0)
    }

    lazy val diffA = diffSide(a, "id_a", "wkt_a", "id_b", "wkt_b",
        "env_a", "rect_a", "env_b", "rect_b", hotSides.contains("a"))
      .select(col("id_a"), lit(null).cast("long").as("id_b"), col("wkt"), col("area"))
    lazy val diffB = diffSide(b, "id_b", "wkt_b", "id_a", "wkt_a",
        "env_b", "rect_b", "env_a", "rect_a", hotSides.contains("b"))
      .select(lit(null).cast("long").as("id_a"), col("id_b"), col("wkt"), col("area"))

    how match {
      case "intersection"         => inter.select(col("id_a"), col("id_b"), col("wkt"), col("area"))
      case "difference"           => diffA
      case "identity"             => inter.unionByName(diffA)
      case "symmetric_difference" => diffA.unionByName(diffB)
      case "union"                => inter.unionByName(diffA).unionByName(diffB)
    }
  }
}
