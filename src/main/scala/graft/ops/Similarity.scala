package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.geo.SplitMix64

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (embedding: array<float>).
  *
  * Baseline: brute-force cosine top-k — query side broadcast, corpus side
  * streamed; dot products in double via zip_with/aggregate (codegen, no
  * UDF). Scale path: BANDED signed-random-projection signatures — a
  * signature of `bands × rowsPerBand` sign bits, candidates share ≥1 exact
  * band value (`TextOps.bucketPairs`, the bucket join MinHash and SimHash
  * use too, here with no hot-bucket cap). `rowsPerBand` controls bucket count per band
  * (2^rowsPerBand — size it ≈ log2(corpus) so expected bucket size stays
  * O(n/2^r)); `bands` buys recall. The round-1 single-table 8-bit bucket
  * (256 buckets total) was a demo setting, not an index — banding is what
  * scales to 10^9+ vectors.
  *
  * Candidate dedup runs on (qid, vec_id) LONG PAIRS ONLY; embeddings are
  * re-joined by id afterward, so the wide float arrays never enter the
  * distinct shuffle.
  *
  * Hyperplanes are SplitMix64-derived (deterministic, partition-invariant)
  * and cached per JVM — recomputing Box-Muller per row would dominate.
  */
object Similarity {

  // Corpus-count memo for ivfTopK's auto-nClusters default: one count()
  // action per distinct (session, corpus plan), not one full corpus scan
  // per call. Keyed on the canonicalized plan (structural equality);
  // bounded by a hard clear at 64 entries; the application id in the key
  // stops a stale count crossing a context restart in the same JVM, and
  // entries from a STOPPED context are purged on access (their keys would
  // otherwise pin the dead session's analyzed trees for the JVM lifetime).
  //
  // Staleness contract: the count is cached per PLAN, not per data
  // snapshot — if files are appended/overwritten at the same parquet path
  // the memoized size (and thus the auto-derived nClusters/sample size)
  // lags until the context restarts. Auto-nClusters ≈ √n is robust to
  // that drift (a 2× corpus moves it 1.4×); callers needing exactness
  // after in-place data changes pass nClusters explicitly.
  private val countMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), java.lang.Long]()
  private def memoizedCount(df: DataFrame): Long = {
    val liveApp = df.sparkSession.sparkContext.applicationId
    // evict dead-context entries (key iteration is weakly consistent —
    // fine: a missed entry is caught on the next access)
    val it = countMemo.keySet.iterator()
    while (it.hasNext) if (it.next()._1 != liveApp) it.remove()
    if (countMemo.size > 64) countMemo.clear()
    countMemo.computeIfAbsent(
      (liveApp, df.queryExecution.analyzed.canonicalized),
      _ => df.count()).longValue()
  }
  /** Test hook: number of live memo entries (post-purge on next access). */
  private[graft] def countMemoSize: Int = countMemo.size
  /** Test hooks: drive the memo without a full ivfTopK call. */
  private[graft] def countMemoGet(df: DataFrame): Long = memoizedCount(df)
  private[graft] def countMemoInject(appId: String, df: DataFrame, n: Long): Unit =
    countMemo.put((appId, df.queryExecution.analyzed.canonicalized), n)

  private def dotCols = expr(
    "aggregate(zip_with(q_emb, embedding, (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), " +
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")

  private def normCol(c: String) = expr(
    s"sqrt(aggregate($c, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")

  /** The two sides of every candidate join, with their L2 norm computed
    * ONCE per vector BEFORE the join — computing `normCol` on the joined
    * pairs re-ran the O(dim) aggregate per candidate (≈3× one dot product
    * per pair when it should be ≈1×). Same expression on the same bits, so
    * the rounded cosine is unchanged. */
  private def qSide(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
      .withColumn("qn", normCol("q_emb"))
  private def cSide(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), col("embedding"))
      .withColumn("cn", normCol("embedding"))

  private def cosineCol = round(dotCols / (col("qn") * col("cn")), 6)

  /** Shared exact-rescore + per-query top-k contract (cosine rounded to 6,
    * ties broken on ascending id) for the brute/LSH/IVF paths. */
  private def rescoreTopK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cand.withColumn("cosine", cosineCol)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("cosine"), col("rk"))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded), deterministic tiebreak on id. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rescoreTopK(cSide(corpus).crossJoin(broadcast(qSide(queries)))
      .where(col("vec_id") =!= col("qid")), k)

  /** SQ8 scalar-quantized ANN top-k: corpus and query vectors quantized
    * per element to a signed-byte grid (round(x·127/A), A = one global
    * max-|x| aggregate broadcast as a 1-row dimension), candidates ranked
    * by the INTEGER-domain cosine, the top candMult·k re-ranked exactly
    * on the float vectors through the shared `rescoreTopK` contract.
    * This is FAISS's SQ8 memory lever re-expressed relationally: at
    * 100 TB the quantized corpus is 4× smaller than float32, so the scan
    * (memory-bandwidth-bound) runs ~4× faster and only candMult·k
    * vectors per query ever touch full precision. Unlike PQ's k-means
    * codebooks the quantizer is closed-form, so the WHOLE pipeline —
    * scale, quantized vectors, integer dots, candidate cutoff, exact
    * re-rank — is deterministic and replayed bit-exactly by the DuckDB
    * oracle (integer dots are exact; the approx score is rounded to 6
    * before the id-tiebroken cutoff, same convention as `rescoreTopK`).
    * The quantization scale A comes from the CORPUS; query elements
    * beyond A simply map beyond ±127 (no clamp — cosine only needs the
    * grids consistent, and the oracle applies the identical map).
    * PRECONDITION: the corpus must contain at least one non-zero
    * element — an all-zero (or empty) corpus makes A = 0 and the
    * 127/A quantization map degenerate (Infinity/NaN approx scores);
    * such a corpus has no meaningful cosine neighbors to return. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             candMult: Int = 4): DataFrame = {
    val scale = corpus.select(max(greatest(
      expr("CAST(array_max(embedding) AS DOUBLE)"),
      -expr("CAST(array_min(embedding) AS DOUBLE)"))).as("qscale"))
    def quant(c: String) = expr(
      s"transform($c, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / qscale) AS BIGINT))")
    def iNorm(c: String) = expr(
      s"sqrt(aggregate($c, CAST(0 AS BIGINT), (acc, x) -> acc + x * x))")
    val cq = cSide(corpus).crossJoin(broadcast(scale))
      .withColumn("cv", quant("embedding")).withColumn("cvn", iNorm("cv"))
      .drop("qscale")
    val qq = qSide(queries).crossJoin(broadcast(scale))
      .withColumn("qv", quant("q_emb")).withColumn("qvn", iNorm("qv"))
      .drop("qscale")
    val iDot = expr(
      "aggregate(zip_with(qv, cv, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
    val aw = Window.partitionBy(col("qid"))
      .orderBy(col("approx").desc, col("vec_id").asc)
    val cand = cq.crossJoin(broadcast(qq))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("approx", round(iDot / (col("cvn") * col("qvn")), 6))
      .withColumn("ark", row_number().over(aw))
      .where(col("ark") <= candMult * k)
      .drop("approx", "ark", "cv", "qv", "cvn", "qvn")
    rescoreTopK(cand, k)
  }

  // per-JVM plane cache: (seed, nbits, dim) -> row-major plane matrix
  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Double]]()

  private def planes(seed: Long, nbits: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((seed, nbits, dim), { _ =>
      val m = new Array[Double](nbits * dim)
      var p = 0
      while (p < nbits) {
        var d = 0
        while (d < dim) {
          m(p * dim + d) = SplitMix64.gaussianPair(d.toLong, seed + p)._1
          d += 1
        }
        p += 1
      }
      m
    })

  /** Banded SRP signature: element b = the packed `rowsPerBand` sign bits
    * of band b (bands × rowsPerBand hyperplanes total). */
  def srpBands(emb: Array[Float], bands: Int, rowsPerBand: Int, seed: Long): Array[Long] = {
    require(rowsPerBand <= 62, "band value must fit a long")
    val nbits = bands * rowsPerBand
    val m = planes(seed, nbits, emb.length)
    val out = new Array[Long](bands)
    var p = 0
    while (p < nbits) {
      var dot = 0.0
      var d = 0
      val off = p * emb.length
      while (d < emb.length) { dot += emb(d) * m(off + d); d += 1 }
      if (dot > 0) out(p / rowsPerBand) |= (1L << (p % rowsPerBand))
      p += 1
    }
    out
  }

  private def bandedDf(df: DataFrame, idCol: String, bands: Int,
                       rowsPerBand: Int, seed: Long): DataFrame = {
    val bUdf = udf((emb: Seq[Float]) =>
      srpBands(emb.toArray, bands, rowsPerBand, seed))
    df.select(col(idCol), posexplode(bUdf(col("embedding"))).as(Seq("band", "bkey")))
  }

  /** LSH-banded ANN top-k: candidates share ≥1 band, then exact cosine on
    * candidates only. Defaults tuned on the synthetic embeddings:
    * recall@5 ≈ 0.75 vs brute while scoring ~25% of the corpus per query
    * (mid-similarity kNN is the hard case for SRP; near-dup search uses
    * the much sharper cosineDupPairs parameterization). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              rowsPerBand: Int = 8, bands: Int = 64,
              seed: Long = 0x5eed0000L): DataFrame = {
    val cb = bandedDf(corpus, "vec_id", bands, rowsPerBand, seed)
    val qb = bandedDf(queries.select(col("vec_id").as("qid"), col("embedding")),
      "qid", bands, rowsPerBand, seed)
    // id pairs only through the distinct — no embedding payload
    val candIds = TextOps.bucketPairs(cb, qb, col("vec_id") =!= col("qid"))
    rescoreTopK(candIds
      .join(qSide(queries), Seq("qid"))
      .join(cSide(corpus), Seq("vec_id")), k)
  }

  /** IVF (inverted-file) ANN top-k — the second scale path next to
    * SRP-LSH, mirroring the FAISS IVF recipe: train a small coarse
    * quantizer on a BOUNDED deterministic sample (driver-side k-means is
    * O(sampleN·nClusters·iters), independent of corpus size — FAISS
    * trains on a sample too), broadcast the centroids, assign every
    * corpus vector to its nearest centroid (a map), and at query time
    * probe only the `nProbe` nearest clusters — an equi-join on cluster
    * id, so the exact-cosine rescoring touches ~nProbe/nClusters of the
    * corpus. All in cosine space: vectors and centroids L2-normalize
    * before dot products. Deterministic: splitmix sample order, first-k
    * init, fixed Lloyd iterations.
    *
    * Scale defaults: `nClusters = 0` (the default) derives the cluster
    * count from the corpus — ≈√n clamped to [8, 1024] (the FAISS rule of
    * thumb: probe cost n/nc and rescoring cost nc·nProbe balance at √n) —
    * and the training sample scales to ≥32 vectors per centroid (under
    * ~39/centroid FAISS warns the quantizer is undertrained). At the
    * 1024 cap the driver-side training is ~32k·1024·iters·dim mults —
    * a one-time index build; beyond ~10⁹ vectors swap in a distributed
    * trainer and keep everything downstream (broadcast centroids,
    * cid equi-join) unchanged. Centroid skew at query time is handled by
    * AQE: `cid` is the join key, so a hot centroid is a hot key AQE
    * splits. `nProbe ≥ nClusters` degenerates to exact brute-force top-k
    * (every cluster probed) — used by the q_ivf_exhaustive oracle. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nClusters: Int = 0, nProbe: Int = 0,
              sampleN: Int = 4096, iters: Int = 10,
              seed: Long = 0x5eedBEEFL): DataFrame = {
    val spark = corpus.sparkSession
    val nc =
      if (nClusters > 0) nClusters
      else math.max(8, math.min(1024, math.sqrt(memoizedCount(corpus).toDouble).toInt))
    // auto nProbe keeps the probed-cluster FRACTION constant (≈1/4) as nc
    // grows — recall tracks nProbe/nClusters, not nProbe alone. Callers
    // chasing throughput at large nc pass an explicit smaller nProbe.
    val np = if (nProbe > 0) nProbe else math.max(1, (nc + 3) / 4)
    val sampleEff = math.max(sampleN, 32 * nc)
    val skey = udf((id: Long) => SplitMix64.hash(id, seed))
    val sample = corpus
      .withColumn("sk", skey(col("vec_id")))
      .orderBy(col("sk"), col("vec_id")).limit(sampleEff)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(sample.nonEmpty, "empty corpus")
    val dim = sample(0).length

    def normalize(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0) v else v.map(_ / n)
    }
    val pts = sample.map(normalize)
    val kEff = math.min(nc, pts.length)
    var centroids = pts.take(kEff).map(_.clone)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val cnts = new Array[Int](kEff)
      pts.foreach { p =>
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < kEff) {
          var d = 0.0; var i = 0
          while (i < dim) { d += p(i) * centroids(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        cnts(best) += 1
      }
      centroids = (0 until kEff).map { c =>
        if (cnts(c) == 0) centroids(c) // empty cluster keeps its centroid
        else normalize(sums(c))
      }.toArray
      it += 1
    }
    val bc = spark.sparkContext.broadcast(centroids)

    def topCids(emb: Seq[Float], n: Int): Seq[Int] = {
      val cs = bc.value
      val p = normalize(emb.toArray.map(_.toDouble))
      cs.indices.map { c =>
        var d = 0.0; var i = 0
        while (i < p.length) { d += p(i) * cs(c)(i); i += 1 }
        (-d, c)
      }.sorted.take(n).map(_._2)
    }
    // corpus assignment is the per-row hot path of the index build: an
    // allocation-free argmax scan (strict > keeps the lowest index on
    // ties, identical to topCids' (-d, c) sort) instead of building and
    // sorting an nc-element tuple list per vector
    val assignUdf = udf((emb: Seq[Float]) => {
      val cs = bc.value
      val p = normalize(emb.toArray.map(_.toDouble))
      var best = 0; var bestDot = Double.NegativeInfinity
      var c = 0
      while (c < cs.length) {
        var d = 0.0; var i = 0
        while (i < p.length) { d += p(i) * cs(c)(i); i += 1 }
        if (d > bestDot) { bestDot = d; best = c }
        c += 1
      }
      best
    })
    val probeUdf = udf((emb: Seq[Float]) => topCids(emb, math.min(np, kEff)))

    val assigned = cSide(corpus).withColumn("cid", assignUdf(col("embedding")))
    val probed = qSide(queries)
      .withColumn("cid", explode(probeUdf(col("q_emb"))))
    rescoreTopK(probed.join(assigned, Seq("cid"))
      .where(col("vec_id") =!= col("qid")), k)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold. For high
    * thresholds (≥0.9) the per-bit collision probability ≈ 0.9, so wide
    * bands stay selective AND sensitive: 16×16 bits ⇒ ~96% recall at 0.95
    * with ~0.02% of random pairs colliding (n²/65536 per band). */
  def cosineDupPairs(corpus: DataFrame, threshold: Double,
                     rowsPerBand: Int = 16, bands: Int = 16,
                     seed: Long = 0x5eed0000L): DataFrame = {
    val b = bandedDf(corpus, "vec_id", bands, rowsPerBand, seed)
    TextOps.bucketPairs(b, b.toDF("qid", "band", "bkey"), col("vec_id") < col("qid"))
      .join(qSide(corpus), Seq("qid"))
      .join(cSide(corpus), Seq("vec_id"))
      .withColumn("cosine", cosineCol)
      .where(col("cosine") >= threshold)
      .select(col("vec_id").as("a_id"), col("qid").as("b_id"), col("cosine"))
  }

  /** SemDeDup-style semantic dedup manifest (Abbas et al. 2023,
    * arXiv:2303.09540 — dedup by embedding proximity, not token overlap):
    * near-dup pairs above `threshold` ([[cosineDupPairs]]: banded SRP-LSH
    * candidates + exact-cosine verify) → connected components over the
    * pair graph ([[TextOps.dupClusters]]' machinery: driver union-find
    * below `ufThreshold` pairs, distributed hash-min label propagation
    * above it) → keep the minimum-id representative per cluster. One row
    * per corpus vector: (vec_id, root, keep) — the keep/drop manifest a
    * curation pipeline joins back onto the corpus. Nothing here is
    * all-pairs: candidates come banded, components are bounded, and the
    * manifest join is an id-keyed equi-join. */
  def semanticDedup(corpus: DataFrame, threshold: Double,
                    rowsPerBand: Int = 16, bands: Int = 16,
                    seed: Long = 0x5eed0000L,
                    ufThreshold: Long = 100000): DataFrame = {
    val pairs = cosineDupPairs(corpus, threshold, rowsPerBand, bands, seed)
    TextOps.dupClusters(corpus.select(col("vec_id").as("doc_id")), pairs, ufThreshold)
      .select(col("doc_key").as("vec_id"), col("cluster").as("root"),
        when(col("doc_key") === col("cluster"), 1L).otherwise(0L).as("keep"))
  }
}
