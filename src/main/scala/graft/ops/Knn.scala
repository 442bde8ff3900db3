package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.geo.CellIndex

/** Grid-aligned nearest-neighbor join (SURVEY.md §2.4 sjoin_nearest,
  * reference `vector/vector.py:945-971`, `interface/gridding.py:72-91`).
  *
  * Exact algorithm: candidates from the query's ring-k cell neighborhood;
  * a ring-k minimum is accepted only if it beats the distance to the
  * explored-square boundary (no closer point can hide outside). One
  * resolver serves [[nearest]] and [[nearestValue]]; only the per-query
  * candidate aggregate differs. One early-stopping probe sizes the point
  * side against `spark.graft.knn.broadcastRows`:
  *  - a small point side is broadcast LAZILY: one ring round, then a
  *    nested loop of the unresolved queries against the broadcast points,
  *    all inside the consumer's action — the queries are never counted;
  *  - a big point side retries unresolved queries at 2k, 4k, …
  *    (`expandRounds` doublings, one count per round); the residue after
  *    the last round takes a nested loop that broadcasts the leftover
  *    queries only when they fit under the threshold.
  * Results are partition-invariant and exact at every path.
  *
  * Each round's ring-best aggregate feeds BOTH the resolved branch and
  * the anti-join that derives the next round's query set, so the
  * aggregates are persisted — one small row per query each.
  */
object Knn {

  // Persist bookkeeping: each call caches one small ring-best aggregate
  // per expansion round. The slots are bounded (FIFO above MaxLive;
  // unpersist only drops the cache — a caller still holding an evicted
  // plan just recomputes), so a session accumulates at most MaxLive
  // cached aggregates instead of one per query ever run. A call whose
  // ring-best plan EQUALS a live slot reuses the materialized cache:
  // unconditional eviction here defeated Spark's CacheManager plan-dedup
  // and made every repeat of an identical kNN query rematerialize the
  // ring join (q_knn_zones 1.3 s → 3.0 s warm). Callers wanting a fully
  // clean session call `clearCache()`.
  // The slots are JVM-global, so cached frames whose SparkSession has
  // since been stopped (sequential mains in one JVM) are silently
  // dropped, never unpersisted (dead context) nor served (actions on
  // them would fail).
  private val MaxLive = 8
  private var liveFrames: Vector[DataFrame] = Vector.empty
  private def trackPersisted(df: DataFrame): DataFrame = synchronized {
    // drop only the DEAD sessions' frames — wiping the whole vector when
    // one context stops would leave a concurrent live session's frames
    // persisted but untracked (unbounded cache); dedup is session-scoped
    // so a plan never serves another session's cache
    liveFrames = liveFrames.filterNot(_.sparkSession.sparkContext.isStopped)
    liveFrames.find(f => (f.sparkSession eq df.sparkSession) &&
        f.queryExecution.analyzed.sameResult(df.queryExecution.analyzed)) match {
      case Some(old) => old // identical plan: serve the already-materialized cache
      case None =>
        if (liveFrames.length >= MaxLive) {
          liveFrames.head.unpersist(false)
          liveFrames = liveFrames.tail
        }
        df.persist(StorageLevel.MEMORY_AND_DISK)
        liveFrames :+= df
        df
    }
  }
  def clearCache(): Unit = synchronized {
    liveFrames.filterNot(_.sparkSession.sparkContext.isStopped)
      .foreach(_.unpersist(false))
    liveFrames = Vector.empty
  }
  private def untrack(df: DataFrame): Unit = synchronized {
    liveFrames = liveFrames.filterNot(_ eq df)
    if (!df.sparkSession.sparkContext.isStopped) df.unpersist(false)
  }

  /** Test hook: the last fallback decision —
    * (unresolved count, point count, queries side broadcast?). The lazy
    * small-points path reports unresolved = -1 (never counted: the
    * nested loop is part of the consumer's single action) and always
    * broadcasts the point side. The cutoff path of [[nearestValue]]
    * counts nothing and broadcasts its boundary-equality queries:
    * (-1, -1, true). None when every query resolved within the eager ring
    * rounds (no fallback built). */
  private[graft] var lastFallback: Option[(Long, Long, Boolean)] = None

  private val CellQidBase = 1000000
  /** A grid-cell query's `qid`: cell (i, j), j < 1000000, packed into one long. */
  def cellQid(i: Column, j: Column): Column = i.cast("long") * CellQidBase + j
  /** (i, j) unpacked from a [[cellQid]] `qid` column. */
  def cellIj: Seq[Column] = Seq(
    floor(col("qid") / CellQidBase).cast("int").as("i"),
    (col("qid") % CellQidBase).cast("int").as("j"))

  private def boundCol(ringK: Int, cellSize: Double) = {
    // the explored square lives in DOMAIN coordinates: cell i spans
    // [x0 + i·cs, x0 + (i+1)·cs) — omitting the origin here is only
    // correct for the (0,0) default domain and silently breaks the
    // exactness bound (inflated or negative) under a configured extent
    val x0 = CellIndex.DefaultDomain.x0; val y0 = CellIndex.DefaultDomain.y0
    val ix = floor((col("qx") - x0) / cellSize)
    val iy = floor((col("qy") - y0) / cellSize)
    val xlo = lit(x0) + (ix - ringK) * cellSize
    val xhi = lit(x0) + (ix + ringK + 1) * cellSize
    val ylo = lit(y0) + (iy - ringK) * cellSize
    val yhi = lit(y0) + (iy + ringK + 1) * cellSize
    least(col("qx") - xlo, xhi - col("qx"), col("qy") - ylo, yhi - col("qy"))
  }

  private def d2Col: Column =
    (col("x") - col("qx")) * (col("x") - col("qx")) +
    (col("y") - col("qy")) * (col("y") - col("qy"))

  private def withCellPts(points: DataFrame, level: Int): DataFrame =
    points.withColumn("cell",
      graft.plans.CellOfExpr.cellOfNative(col("x"), col("y"), lit(level)))

  /** Ring-k candidate set for query frame `q` (qid, qx, qy, …): each query
    * joined to the points of its (2k+1)² cell neighborhood, annotated with
    * `d2` and the exactness `bound`. */
  private def ringCand(q: DataFrame, pts: DataFrame, level: Int, k: Int,
                       cellSize: Double): DataFrame =
    q.withColumn("qcell",
        graft.plans.CellOfExpr.cellOfNative(col("qx"), col("qy"), lit(level)))
      .withColumn("bound", boundCol(k, cellSize))
      .withColumn("cell", explode(graft.functions.GeoFunctions.cell_ring(col("qcell"), lit(k))))
      .join(pts, Seq("cell"))
      .withColumn("d2", d2Col)

  /** The per-query candidate aggregate (aliased `nn`) and the squared
    * distance read back out of it. */
  private final case class NnAgg(agg: Column, d2: Column)
  private val MinD2 = NnAgg(min(col("d2")), col("nn"))
  // lexicographic min: among equally distant points the minimum value wins
  private val MinD2Value = NnAgg(min(struct(col("d2"), col("value"))), col("nn.d2"))

  /** Best candidate per query of `cand` (qid, d2, …): (qid, nn), plus the
    * ring round's `bound` when `withBound`. */
  private def bestOf(cand: DataFrame, nn: NnAgg, withBound: Boolean): DataFrame = {
    val g = cand.groupBy("qid")
    if (withBound) g.agg(nn.agg.as("nn"), first(col("bound")).as("bound"))
    else g.agg(nn.agg.as("nn"))
  }

  /** (qid, nn) of the ring-best rows whose minimum beats the STRICT bound. */
  private def resolvedOf(best: DataFrame, nn: NnAgg): DataFrame =
    best.where(sqrt(nn.d2) < col("bound")).select(col("qid"), col("nn"))

  /** Rows at or below which a table is cheap to broadcast for the exact
    * nested-loop path ((qid,x,y,value) rows ≈ 40 B → ≤ ~40 MB). Override
    * with spark.graft.knn.broadcastRows (tests set 0 to force the ring
    * expansion rounds). */
  private def broadcastRows(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.knn.broadcastRows")
      .map(_.toLong).getOrElse(1000000L)

  /** Probe the point side for the nested-loop decision with ONE
    * early-stopping pass (`limit(threshold+1)` — a huge table stops after
    * threshold+1 rows instead of a full count). Returns (frame, count,
    * threshold); when count ≤ threshold the frame IS the complete point
    * set, persisted so the fallback reuses it — the point side is often a
    * derived subplan (e.g. a proximity transform's boundary-cell
    * extraction) and recomputing it per job dominated the transform. */
  private def probeSmall(points: DataFrame): (DataFrame, Long, Long) = {
    val thr = broadcastRows(points)
    val cap = math.min(thr + 1, Int.MaxValue.toLong - 1).toInt
    val p = trackPersisted(points.limit(cap))
    val n = p.count()
    // the big path never reads the probe again: free its cache slot
    // instead of letting ~thr dead rows evict a reusable ring aggregate
    if (n > thr) untrack(p)
    (p, n, thr)
  }

  /** The ring resolver behind [[nearest]] and [[nearestValue]] without a
    * cutoff: (qid, nn), `nn` being `nn.agg` over each query's exact
    * candidates.
    *
    * Strategy by point-side size (ONE early-stopping probe job):
    *  - broadcast-small points → one LAZY ring round; unresolved queries
    *    take a nested loop against the broadcast persisted point set, all
    *    inside the consumer's single action (no driver-side counts, no
    *    query-side broadcast). A wider ring can never beat one scan of a
    *    broadcast-tiny table — blind ring doubling here was 3× slower,
    *    measured on q_proximity_vector's boundary-cell targets.
    *  - big points → EAGER ring-doubling rounds (2k, 4k; one small count
    *    per round decides the next), then a last-resort nested loop that
    *    broadcasts the leftover queries only when they fit. */
  private def resolve(queries: DataFrame, points: DataFrame, level: Int,
                      ringK: Int, expandRounds: Int, nn: NnAgg): DataFrame = {
    val cellSize = CellIndex.DefaultDomain.cellSize(level)
    val q0 = queries.select(col("qid"), col("qx"), col("qy"))
    def resolvedAt(qf: DataFrame, ptSide: DataFrame, k: Int): DataFrame =
      resolvedOf(trackPersisted(bestOf(
        ringCand(qf, withCellPts(ptSide, level), level, k, cellSize), nn, withBound = true)), nn)
    def nested(pairs: DataFrame): DataFrame =
      bestOf(pairs.withColumn("d2", d2Col), nn, withBound = false)

    val (p, n, thr) = probeSmall(points)
    if (n <= thr) {
      // ring candidates read the PERSISTED probe frame too: the point
      // side is often a derived subplan (boundary-cell extraction), and
      // this makes it compute exactly once per call
      val resolved = resolvedAt(q0, p, ringK)
      val unresolved = q0.join(resolved, Seq("qid"), "left_anti")
      lastFallback = Some((-1L, n, false))
      resolved.unionByName(nested(broadcast(p).crossJoin(unresolved)))
    } else {
      var q = q0
      var k = ringK
      var resolvedAll: List[DataFrame] = Nil
      var remaining = 1L
      var r = 0
      while (r <= expandRounds && remaining > 0) {
        val resolved = resolvedAt(q, points, k)
        resolvedAll ::= resolved
        q = q.join(resolved, Seq("qid"), "left_anti")
        remaining = q.count()
        k *= 2; r += 1
      }
      val res = resolvedAll.reduce(_ unionByName _)
      if (remaining == 0) { lastFallback = None; res }
      else {
        val nPts = points.count()
        // broadcast the residue only when it actually fits (the point
        // side is > thr by construction on this branch): an unresolved
        // set above the threshold takes an UNHINTED cross join — slow,
        // but it cannot OOM the driver the way a forced multi-GB
        // broadcast would
        val bq = remaining <= thr
        lastFallback = Some((remaining, nPts, bq))
        res.unionByName(nested(
          if (bq) points.crossJoin(broadcast(q)) else points.crossJoin(q)))
      }
    }
  }

  /** queries: (qid, qx, qy); points: (point_id, x, y).
    * Output: (qid, nn_d2) — exact squared euclidean NN distance. */
  def nearest(queries: DataFrame, points: DataFrame, level: Int,
              ringK: Int = 2, expandRounds: Int = 2): DataFrame =
    resolve(queries, points, level, ringK, expandRounds, MinD2)
      .select(col("qid"), col("nn").as("nn_d2"))

  /** Nearest neighbor carrying the point's `value`: returns
    * (qid, nn_d2, nn_value) with deterministic tiebreak — among equally
    * distant points, the minimum value wins (lexicographic min on
    * struct(d2, value), identical in the SQL oracle). The exactness bound
    * is STRICT so boundary-equal cases resolve via the nested-loop
    * fallback, keeping the tiebreak global.
    *
    * With `cutoff` set, the caller only keeps neighbors within `cutoff`
    * (gridding's `dist_nodata_pixel` mask), so the ring is sized to cover
    * the whole cutoff disk (ringK = ceil(cutoff/cellSize) ⇒ bound ≥
    * cutoff for every query): candidates beyond cutoff are pre-filtered,
    * a query with NO in-cutoff ring candidate is nodata by definition and
    * never falls back, and only the measure-zero boundary-equality
    * queries (sqrt(nn_d2) == bound) do — a provably tiny set, so the
    * cutoff path stays fully LAZY (no probe, no counts) and
    * broadcast-safe with a single ring round. Without cutoff, the ring
    * resolver of `nearest` applies. */
  def nearestValue(queries: DataFrame, points: DataFrame, level: Int,
                   ringK: Int = 2, cutoff: Option[Double] = None,
                   expandRounds: Int = 2): DataFrame = {
    val best = cutoff match {
      case None => resolve(queries, points, level, ringK, expandRounds, MinD2Value)
      case Some(c) =>
        val cellSize = CellIndex.DefaultDomain.cellSize(level)
        val k = math.max(1, math.ceil(c / cellSize).toInt)
        val inCutoff = col("d2") <= lit(c * c)
        val q = queries.select(col("qid"), col("qx"), col("qy"))
        val ringBest = trackPersisted(bestOf(
          ringCand(q, withCellPts(points, level), level, k, cellSize).where(inCutoff),
          MinD2Value, withBound = true))
        // only ring-candidates that failed the strict bound fall back;
        // empty-ring queries are nodata and dropped
        val unresolved = ringBest.where(!(sqrt(col("nn.d2")) < col("bound")))
          .select(col("qid"))
          .join(q, Seq("qid"))
          .select(col("qid"), col("qx"), col("qy"))
        lastFallback = Some((-1L, -1L, true))
        resolvedOf(ringBest, MinD2Value).unionByName(bestOf(
          points.crossJoin(broadcast(unresolved)).withColumn("d2", d2Col).where(inCutoff),
          MinD2Value, withBound = false))
    }
    best.select(col("qid"), col("nn.d2").as("nn_d2"), col("nn.value").as("nn_value"))
  }
}
