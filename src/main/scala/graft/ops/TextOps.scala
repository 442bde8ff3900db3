package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.geo.SplitMix64

/** Text-analysis + deduplication operators for the training-data pipeline
  * over the `documents` table. Column-expression (codegen) paths where
  * possible; deterministic SplitMix64 hashing everywhere so results are
  * partition-invariant.
  */
object TextOps {

  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "in", "to")

  /** Non-empty whitespace tokens — pure Catalyst (filter on split). */
  def tokens(c: Column): Column = filter(split(c, " "), t => t =!= lit(""))

  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      size(array_distinct(tokens(col("text")))).as("n_distinct"),
      col("n_chars"))

  /** Quality scoring: length/stopword/diversity ratios
    * (expression-only, whole-stage codegen). */
  def quality(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isin(Stopwords: _*)))
    val nDist = size(array_distinct(toks))
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      round(nStop.cast("double") / nTok, 4).as("stop_ratio"),
      round(nDist.cast("double") / nTok, 4).as("distinct_ratio"),
      round(length(col("text")).cast("double") / nTok, 4).as("avg_tok_len"))
  }

  /** N-gram language-ID heuristic: score each language by hits of its
    * characteristic trigrams; deterministic argmax with name tiebreak. */
  private val langTrigrams: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "ing", "and"), "es" -> Seq("que", "los", "ent"),
    "de" -> Seq("der", "sch", "ein"), "fr" -> Seq("les", "ent", "que"),
    "zh" -> Seq("zh_", "ch_", "sh_"))

  def langId(docs: DataFrame): DataFrame = {
    val scores = langTrigrams.toSeq.sortBy(_._1).map { case (lang, tris) =>
      val hits = tris.map(t => size(split(col("text"), java.util.regex.Pattern.quote(t))) - 1)
        .reduce(_ + _)
      struct(hits.cast("long").as("score"), lit(lang).as("lang"))
    }
    docs.select(col("doc_id"),
      sort_array(array(scores: _*), asc = false).getItem(0).getField("lang").as("pred_lang"))
  }

  /** Exact dedup: content-hash groups, keeper = min doc_id
    * (hash-groupBy; shuffle keyed on digest — uniform by construction). */
  def exactDedup(docs: DataFrame): DataFrame = hashDedup(docs, col("text"))

  /** Exact dedup after CANONICAL-FORM normalization (CCNet/RefinedWeb
    * practice: near-identical docs differing only in case, punctuation,
    * or whitespace hash together): lowercase → strip non-[a-z0-9 ] →
    * collapse runs of spaces → trim, then the same md5 groupBy as
    * `exactDedup`. Pure codegen (two regexp_replace + md5), one uniform
    * hash shuffle — the same 100-TB shape as exact dedup. */
  def normDedup(docs: DataFrame): DataFrame =
    hashDedup(docs, trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))

  /** The content-hash grouping of both exact dedups: per md5 of `text`,
    * the doc count and the min doc_id as keeper. */
  private def hashDedup(docs: DataFrame, text: Column): DataFrame =
    docs.groupBy(md5(text.cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_id"))

  // ---- MinHash + LSH near-dup ----------------------------------------

  /** Word k-shingles → 64-bit SplitMix64 hashes. */
  private def shingleHashes(text: String, k: Int): Array[Long] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.length < k) Array(SplitMix64.hash(text.hashCode.toLong, 7L))
    else (0 to toks.length - k).map { i =>
      var h = 0L
      var j = 0
      while (j < k) { h = SplitMix64.mix(h ^ toks(i + j).hashCode.toLong); j += 1 }
      h
    }.distinct.toArray
  }

  /** MinHash signature: numPerm permutations as per-seed keyed min. */
  def minhashSig(text: String, k: Int, numPerm: Int): Array[Long] = {
    val sh = shingleHashes(text, k)
    val sig = new Array[Long](numPerm)
    var p = 0
    while (p < numPerm) {
      var mn = Long.MaxValue
      var i = 0
      while (i < sh.length) {
        val h = SplitMix64.hash(sh(i), p.toLong)
        if (h < mn) mn = h
        i += 1
      }
      sig(p) = mn
      p += 1
    }
    sig
  }

  /** The banded-LSH bucket step (Rajaraman & Ullman, Mining of Massive
    * Datasets ch. 3) behind every banded candidate generator — MinHash,
    * SimHash and SRP: join two `(id…, band, bkey)` frames on the bucket
    * (band, bkey), keep the rows passing `keep`, drop the bucket columns
    * and return the distinct rows. An equi shuffle join that scales; each
    * caller brings its own signature, pair predicate and verify step. */
  private[ops] def bucketPairs(a: DataFrame, b: DataFrame, keep: Column): DataFrame =
    a.join(b, Seq("band", "bkey")).where(keep).drop("band", "bkey").distinct()

  /** Hot-bucket cap on a `(id…, band, bkey)` frame: drops every bucket
    * holding more than `maxBucket` rows. One viral boilerplate text at web
    * scale puts millions of docs in one bucket ⇒ O(m²) pairs from a single
    * reducer. The bucket goes from THIS band only — a doc pair colliding in
    * an over-full band almost surely collides in another (the standard
    * doc-frequency filter trade; exact dedup upstream removes identical
    * texts anyway). */
  private def capped(bands: DataFrame, maxBucket: Int): DataFrame =
    bands.withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bkey"))))
      .where(col("bsz") <= maxBucket)
      .drop("bsz")

  /** MinHash bands as (idN, band, bkey): the `numPerm`-slot signature is
    * cut into `bands` bands of numPerm/bands slots, and bkey is the
    * xxhash64 of a band's slots, seeded with the band index. */
  private def minhashBands(docs: DataFrame, idN: String, k: Int, numPerm: Int,
                           bands: Int): DataFrame = {
    require(numPerm % bands == 0,
      s"bands=$bands must evenly divide numPerm=$numPerm (trailing signature " +
      "permutations would silently be ignored)")
    val rowsPerBand = numPerm / bands
    val sigUdf = udf((t: String) => minhashSig(t, k, numPerm))
    docs.select(col("doc_id").as(idN), sigUdf(col("text")).as("sig"))
      .select(col(idN), posexplode(
        expr(s"transform(sequence(0, ${bands - 1}), b -> " +
             s"xxhash64(concat_ws(',', slice(sig, b*$rowsPerBand + 1, $rowsPerBand)), b))")))
      .toDF(idN, "band", "bkey")
  }

  /** LSH candidate pairs: doc pairs sharing ≥1 MinHash band — a
    * [[capped]] self-join of [[minhashBands]] through [[bucketPairs]];
    * `maxBucket` is the hot-bucket cap. */
  def minhashPairs(docs: DataFrame, k: Int = 3, numPerm: Int = 32, bands: Int = 8,
                   maxBucket: Int = 10000): DataFrame = {
    val banded = capped(minhashBands(docs, "a_id", k, numPerm, bands), maxBucket)
    bucketPairs(banded, banded.toDF("b_id", "band", "bkey"), col("a_id") < col("b_id"))
  }

  /** Exact Jaccard similarity on word k-shingles for candidate pairs. */
  def jaccard(a: String, b: String, k: Int = 3): Double = {
    val sa = shingleHashes(a, k).toSet
    val sb = shingleHashes(b, k).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  /** Near-dup pipeline: LSH candidates → exact Jaccard verify ≥ threshold. */
  def nearDups(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val pairs = minhashPairs(docs)
    val byId = docs.select(col("doc_id"), col("text"))
    val jacUdf = udf((a: String, b: String) => jaccard(a, b))
    pairs
      .join(byId.toDF("a_id", "a_text"), "a_id")
      .join(byId.toDF("b_id", "b_text"), "b_id")
      .withColumn("jaccard", jacUdf(col("a_text"), col("b_text")))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-corpus near-dup: each `probe` doc's best match in a fixed
    * `corpus` (the incremental-crawl shape — a new slice is deduped
    * against the existing corpus WITHOUT re-pairing the corpus against
    * itself). Same banded machinery as `minhashPairs`, but the band join
    * is probe×corpus: work scales with the probe slice, and at 100 TB the
    * corpus band table is a write-once artifact every nightly slice
    * re-joins against (here it is derived inline for the oracle's sake).
    * Returns (probe_id, match_id, jaccard): the max-Jaccard corpus match
    * ≥ `threshold`, ties broken by min match_id — rounded BEFORE the
    * arg-max so the tie ordering is engine-stable.
    *
    * PROBABILISTIC, like all MinHash banding (cf. `minhashPairs`): with
    * the default 8 bands × 4 rows, a pair at exactly j = 0.5 collides in
    * ≥1 band with probability ~40% — near-threshold pairs can be missed
    * (the exact-Jaccard oracle stays green because injected dups are
    * near-identical, j ≈ 1). The `maxBucket` cap additionally drops
    * corpus docs from over-full bands. Callers needing lossless pairs at
    * a threshold use `jaccardJoin` (prefix-filtered, exact). */
  def nearDupsAgainst(corpus: DataFrame, probe: DataFrame, k: Int = 3,
                      numPerm: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5,
                      maxBucket: Int = 10000): DataFrame = {
    // cap hot buckets on the CORPUS side only — a viral boilerplate text
    // lives there; the probe slice is the small side by construction
    val cand = bucketPairs(minhashBands(probe, "probe_id", k, numPerm, bands),
      capped(minhashBands(corpus, "match_id", k, numPerm, bands), maxBucket), lit(true))
    val jacUdf = udf((a: String, b: String) => jaccard(a, b, k))
    val best = cand
      .join(probe.select(col("doc_id").as("probe_id"), col("text").as("p_text")), "probe_id")
      .join(corpus.select(col("doc_id").as("match_id"), col("text").as("c_text")), "match_id")
      .withColumn("jaccard", round(jacUdf(col("p_text"), col("c_text")), 4))
      .where(col("jaccard") >= threshold)
      .groupBy(col("probe_id"))
      .agg(max(struct(col("jaccard"), (-col("match_id")).as("neg"))).as("m"))
    best.select(col("probe_id"), (-col("m.neg")).as("match_id"),
      col("m.jaccard").as("jaccard"))
  }

  /** SimHash bit width: 60 = the first 15 hex chars of an MD5, the widest
    * prefix that fits a signed 64-bit int on every engine. */
  val SimhashBits = 60

  /** 60-bit SimHash over tokens (near-dup fingerprint). The per-token hash
    * is the high 60 bits of MD5(token) — MD5 rather than an engine-local
    * hash so an external SQL engine can recompute fingerprints exactly
    * (DuckDB: `CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)`), making the
    * whole fingerprint + Hamming-pair pipeline oracle-verifiable. */
  def simhash(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](SimhashBits)
    text.split(" ").foreach { t =>
      if (t.nonEmpty) {
        val d = md.digest(t.getBytes("UTF-8"))
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
        h >>>= 4 // top 60 bits = first 15 hex chars of the digest
        var b = 0
        while (b < SimhashBits) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < SimhashBits) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def simhashDf(docs: DataFrame): DataFrame = {
    val sh = udf(simhash _)
    docs.select(col("doc_id"), sh(col("text")).as("simhash"))
  }

  /** SimHash near-dup pairs within Hamming distance ≤ maxDist: the 4-table
    * bit-chunk bucketing join. Split the 60-bit fingerprint into
    * `maxDist+1` chunks — by pigeonhole, any pair within maxDist shares at
    * least one chunk EXACTLY, so candidates come from the [[bucketPairs]]
    * join on (chunk index, chunk value) and only candidates pay the
    * popcount verify. No hot-bucket cap. Scales like MinHash banding: n²/2^chunkBits expected
    * candidates per chunk table. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    val bits = SimhashBits / chunks // chunk c = bits [c*bits, (c+1)*bits)
    // band = chunk index, bkey = the unsigned chunk value; the last chunk
    // keeps the leftover high bits. The fingerprints ride along as payload
    val chunked = simhashDf(docs).select(col("doc_id"), col("simhash"),
      posexplode(expr(
        s"transform(sequence(0, ${chunks - 1}), c -> " +
        s"CASE WHEN c = ${chunks - 1} THEN shiftrightunsigned(simhash, c*$bits) " +
        s"ELSE shiftrightunsigned(simhash, c*$bits) & ${(1L << bits) - 1} END)"))
        .as(Seq("band", "bkey")))
    bucketPairs(chunked.toDF("a_id", "a_sh", "band", "bkey"),
        chunked.toDF("b_id", "b_sh", "band", "bkey"), col("a_id") < col("b_id"))
      .withColumn("hamming", expr("bit_count(a_sh ^ b_sh)"))
      .where(col("hamming") <= maxDist)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Near-duplicate clustering — the "keep one canonical doc per near-dup
    * set" step that follows pair detection in a training pipeline:
    * connected components over a dup-pair graph (simhashPairs /
    * minhash-verified pairs), labeling EVERY document with its cluster
    * root = the minimum doc key reachable through dup pairs (docs with no
    * partner root at themselves). Components resolve via
    * `Polygonize.components`: a driver union-find below `ufThreshold`
    * pairs, iterative distributed hash-min label propagation above it —
    * the 10^12-doc path, O(component diameter) rounds of joins with
    * periodic lineage truncation, nothing unbounded driver-side.
    * pairs: (a_id, b_id, …) with numeric doc ids (the documents table's
    * int64 doc_id; string-keyed corpora map to a long key first);
    * output: (doc_key, cluster). */
  def dupClusters(docs: DataFrame, pairs: DataFrame,
                  ufThreshold: Long = 100000): DataFrame = {
    val edges = pairs.select(
      col("a_id").cast("long").as("lab_a"), col("b_id").cast("long").as("lab_b"))
    val comp = Polygonize.components(edges, ufThreshold).toDF("doc_key", "cluster")
    docs.select(col("doc_id").cast("long").as("doc_key"))
      .join(comp, Seq("doc_key"), "left")
      .select(col("doc_key"), coalesce(col("cluster"), col("doc_key")).as("cluster"))
  }

  /** QUALITY-AWARE canonical selection: per dup cluster (from
    * `dupClusters`), keep the highest-quality member instead of the
    * min-id one — here "keep the longest" (max token count, the common
    * near-dup keeper policy: truncated/boilerplate copies lose to the
    * full document), ties broken by min doc_id. The quality key is
    * rounded-free integer token counts, so the arg-max is engine-stable.
    * Returns (cluster, n_members, keeper_id, keeper_tokens) — one row
    * per cluster, singletons included. Plan: one projection for the
    * token counts, one hash aggregation on cluster; the struct-max does
    * the arg-max without a window or a second shuffle. */
  def qualityKeeper(docs: DataFrame, clusters: DataFrame): DataFrame =
    clusters
      .join(docs.select(col("doc_id").cast("long").as("doc_key"),
        size(tokens(col("text"))).cast("long").as("n_tokens")), "doc_key")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_tokens"), (-col("doc_key")).as("neg"))).as("m"))
      .select(col("cluster"), col("n_members"),
        (-col("m.neg")).as("keeper_id"), col("m.n_tokens").as("keeper_tokens"))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    * — the standard LOCAL fingerprint selection for plagiarism / near-dup
    * detection; the reference has no text ops, this is pipeline surface):
    * hash every token k-gram, slide a w-hash window, select each window's
    * minimum hash (rightmost position on ties), emit the distinct selected
    * (doc_id, pos, hash) set. Guarantee: any shared run of ≥ w+k-1 tokens
    * between two documents yields at least one shared fingerprint.
    *
    * Fully relational and oracle-exact: the gram hash is the top-60-bit
    * md5 prefix (both engines compute md5 of the same space-joined gram),
    * and the whole selection is ONE window expression —
    * `min(struct(h, −pos))` is lexicographic, i.e. minimum hash then
    * maximum position, which IS the rightmost-minimal rule — so the plan
    * is a single doc-partitioned sort plus a co-partitioned distinct (an
    * earlier offset-explode join formulation paid 4 exchanges, 4.8 s →
    * 1.3 s at sf0.1). Windows are full windows only (pos ≥ w), the
    * algorithm's contract. */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    // still ONE exchange, but of the COMPACT doc rows instead of the
    // exploded gram rows (~4× the bytes): Generate preserves the doc_id
    // hash partitioning, and the window, the pos filter, and the final
    // distinct (ClusteredDistribution on a superset of doc_id) all run
    // co-partitioned after it
    val grams = gramPositions(
      docs.select(col("doc_id"), col("text")).repartition(col("doc_id")), k)

    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(-(w - 1), 0)
    grams
      .withColumn("sel",
        min(struct(col("h").as("h"), (-col("pos")).as("np"))).over(win))
      .where(col("pos") >= w)
      .select(col("doc_id"), (-col("sel.np")).as("pos"), col("sel.h").as("hash"))
      .distinct()
  }

  /** EXACT n-gram Jaccard set-similarity self-join via prefix filtering
    * (the AllPairs / PPJoin family — Chaudhuri et al. ICDE'06, Bayardo et
    * al. WWW'07). Returns exactly the document pairs whose token-k-gram
    * sets have Jaccard ≥ `threshold` — LOSSLESS, unlike the probabilistic
    * MinHash path — without the all-pairs cross join.
    *
    * Prefix-filter principle: order the gram universe by a global total
    * order (here document frequency ascending, hash tiebreak — rarest
    * first). For a set of size s, any set B with J(A,B) ≥ t shares
    * o ≥ ⌈t·s⌉ grams with A, so at least one shared gram falls in A's
    * first p = s − ⌈t·s⌉ + 1 grams; the SMALLEST shared gram falls in
    * both prefixes. Candidates therefore come from an equi-join of
    * prefix postings with a size filter (t·s_a ≤ s_b and t·s_b ≤ s_a),
    * and only candidates pay the exact set intersection.
    *
    * Scale shape: rare-first ordering makes prefix postings naturally
    * anti-skewed — a gram appears in a doc's prefix only when it is among
    * that doc's rarest, so hot grams (stopword shingles) never build hot
    * join buckets; no cap needed, in contrast to `minhashPairs`. Grams are
    * the top-60-bit md5 prefix of the space-joined k-gram (same hash as
    * `winnow`), so an external SQL engine replays the whole join as a
    * brute-force intersection — the exact-oracle path MinHash can't have.
    * The `1e-9` slack on ⌈t·s⌉ guards binary-decimal ceil flips (e.g.
    * 0.8×5 evaluating to 4.0000000000000002): the bound stays lossless,
    * verification stays exact. */
  def jaccardJoin(docs: DataFrame, k: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    // distinct md5-prefix gram hashes per doc; docs shorter than k tokens
    // have no grams and cannot pair (explode drops them). Ephemeral, not
    // materialize: the postings are deterministic, so the localCheckpoint
    // only saves the two consumers recomputing the explode locally —
    // reliable mode recomputes rather than writing corpus-sized postings
    // to DFS
    val grams = Checkpoints.ephemeral(docs
      .select(col("doc_id"), explode(array_distinct(gramHashes(k))).as("h")))

    val ceilTs: Column => Column = s => ceil(lit(threshold) * s - lit(1e-9))

    // ONE per-doc aggregation feeds BOTH the prefix postings and the
    // verify sets (round 6; previously `prefix` aggregated the df-ordered
    // gram list and a SECOND collect_set aggregation over the corpus
    // grams built the verify arrays — the same data shuffled and grouped
    // twice). `ord` is the doc's full gram list in the global order
    // (document frequency asc, hash tiebreak — rare first), so the
    // prefix is a slice of it and the verify set is its h-projection
    // (same elements as the old collect_set; array_intersect is
    // order-blind).
    val dfreq = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val docSets = Checkpoints.ephemeral(grams.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"),
           count(lit(1)).as("s")))

    // prefix postings WITH the gram's 1-based rank in the doc's global
    // order: rank powers the PPJoin positional filter below
    val prefix = docSets
      .withColumn("p", (col("s") - ceilTs(col("s")) + 1).cast("int"))
      .select(col("doc_id"), col("s"),
        posexplode(expr("transform(slice(ord, 1, p), x -> x.h)")))
      .select(col("doc_id"), col("s"), (col("pos") + 1).as("r"), col("col").as("h"))

    // positional filter (PPJoin, Xiao et al. WWW'08): J(A,B) ≥ t forces
    // overlap o ≥ t/(1+t)·(sa+sb), and for the smallest-order shared
    // gram — at ranks (ra, rb) in the two docs' sorted gram lists — the
    // whole overlap lives in the suffixes from those ranks on, so
    // o ≤ 1 + min(sa−ra, sb−rb). Rows violating the bound can never be a
    // qualifying pair's smallest shared gram; the qualifying pair always
    // keeps that one row, so the distinct pair set after the filter is
    // LOSSLESS (the exact verify below stays the ground truth either
    // way). Same 1e-9 ceil slack convention as the size filter.
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("sa") + col("sb")) - lit(1e-9))
    val cands = prefix.toDF("a_id", "sa", "ra", "h")
      .join(prefix.toDF("b_id", "sb", "rb", "h"), Seq("h"))
      .where(col("a_id") < col("b_id") &&
             col("sb") >= ceilTs(col("sa")) && col("sa") >= ceilTs(col("sb")) &&
             lit(1) + least(col("sa") - col("ra"), col("sb") - col("rb")) >= alpha)
      .select(col("a_id"), col("b_id")).distinct()

    // exact verify: set intersection over the full gram sets
    val sets = docSets.select(col("doc_id"),
      expr("transform(ord, x -> x.h)").as("hs"))
    cands
      .join(sets.toDF("a_id", "a_hs"), "a_id")
      .join(sets.toDF("b_id", "b_hs"), "b_id")
      .withColumn("o", size(array_intersect(col("a_hs"), col("b_hs"))))
      .withColumn("jaccard", col("o").cast("double") /
        (size(col("a_hs")) + size(col("b_hs")) - col("o")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** A doc's positional token k-gram hashes from its `text`: per gram, the
    * top 60 bits of the md5 of its k space-joined tokens, as BIGINT; empty
    * under k tokens. THE one gram hash of `jaccardJoin` and
    * [[gramPositions]], which the SQL oracles replay with the same `md5`. */
  private def gramHashes(k: Int): Column =
    // the outer one-element transform binds the tokens once per doc: the
    // per-gram lambda reads that variable instead of splitting again
    element_at(transform(array(tokens(col("text"))), ts =>
      when(size(ts) >= k, transform(sequence(lit(1), size(ts) - (k - 1)), i =>
          conv(substring(md5(concat_ws(" ", slice(ts, i, lit(k)))), 1, 15), 16, 10)
            .cast("bigint")))
        .otherwise(array().cast("array<bigint>"))), 1)

  /** Positional token k-grams as (doc_id, pos, h), pos 1-based, h from
    * [[gramHashes]]; docs shorter than k tokens emit nothing. */
  private def gramPositions(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), posexplode(gramHashes(k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))

  /** Gaps-and-islands merge of flagged k-gram start positions into
    * maximal covered token intervals: two k-windows at starts p1 < p2
    * cover a contiguous run iff p2 <= p1 + k, so a gap > k breaks the
    * island. One doc-partitioned window pair + a co-partitioned groupBy. */
  private def mergeSpans(flagged: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) > k, 1).otherwise(0))
      .withColumn("isle",
        sum(col("brk")).over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("isle"))
      .agg(min(col("pos")).as("span_start"),
           (max(col("pos")) + (k - 1)).as("span_end"),
           count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Corpus-wide duplicate-SPAN detection (the span-level dedup stage of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22 — their suffix-array pass finds substrings ≥ L that
    * recur anywhere in the corpus and removes the SPANS, not the docs;
    * the reference has no text ops, this is pipeline surface): a token
    * position belongs to a duplicated span iff some k-gram window
    * covering it occurs ≥ 2 times corpus-wide (including within one
    * doc). Emits per-doc MAXIMAL duplicated token intervals
    * [span_start, span_end] with the number of duplicated k-gram
    * witnesses, i.e. exactly the union of all duplicated k-windows,
    * merged — every recurring run of ≥ k tokens is found (it contains a
    * duplicated k-gram at each offset) and nothing shorter is.
    *
    * Scale shape: ONE uniform shuffle on the 60-bit gram hash to count
    * occurrences (partial aggregation applies — hot grams cost one long
    * per map partition, never a big group), an equi-join of postings
    * against the distinct duplicated hashes (no row multiplication: the
    * dup side is distinct by construction, AQE broadcasts it when
    * small), then the [[mergeSpans]] islands merge. Nothing quadratic in
    * doc length, nothing driver-side; exactly replayable in external SQL
    * (md5-prefix hashes). */
  def dupSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    // ephemeral, not materialize: grams are a deterministic function of
    // the input, so recomputation is always consistent — locally the
    // localCheckpoint halves the explode+md5 work (two consumers), while
    // on a reliable-mode cluster the right trade is to re-scan rather
    // than write k× the corpus to DFS
    val grams = Checkpoints.ephemeral(gramPositions(docs, k))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .where(col("n") >= 2).select(col("h"))
    mergeSpans(grams.join(dup, "h"), k)
  }

  /** Train/eval DECONTAMINATION (the n-gram overlap pass of GPT-3
    * appendix C / The Pile / Llama evaluations; 13-gram is the canonical
    * setting): flag every training doc that shares any token k-gram with
    * the eval corpus, reporting the contaminated MAXIMAL spans — the
    * same islands construction as [[dupSpans]], but the duplicated-hash
    * set is the OTHER corpus's distinct grams, so only cross-corpus
    * overlap flags (eval-internal repetition never does).
    *
    * Scale shape: the eval side reduces to distinct gram hashes before
    * the equi-join — eval benchmarks are tiny next to a 100 TB training
    * corpus, so AQE broadcasts them and the training grams are scanned
    * once with no shuffle at all on the flag step; the islands merge
    * then only shuffles the (rare) flagged postings. */
  def contamination(train: DataFrame, eval: DataFrame, k: Int = 13): DataFrame = {
    val evalGrams = gramPositions(eval, k).select(col("h")).distinct()
    mergeSpans(gramPositions(train, k).join(evalGrams, "h"), k)
  }

  /** [[contamination]] with a broadcast Bloom pre-filter on the train-side
    * gram stream — the decontamination shape that survives 100 TB. The
    * exact variant is fine while AQE broadcasts the eval grams, but at
    * cluster scale the eval-gram relation can exceed the broadcast
    * threshold (hundreds of benchmarks × long contexts), at which point
    * the ENTIRE train posting stream shuffles on `h` just to discard
    * ≳99.9% of it. Here the eval gram hashes are folded into a Bloom
    * filter (built by one driver-side aggregation of the SMALL side —
    * ~1.2 MB per million grams at 1% fpp — then broadcast), and the train
    * grams are pruned inside their scan stage BEFORE any exchange. Bloom
    * filters admit false positives but never false negatives, so the
    * exact semi-join on the ≤(fpp + true-rate) survivors returns the
    * IDENTICAL span set — q_contamination_bloom shares q_contamination's
    * oracle SQL verbatim. Spark's own runtime Bloom injection
    * (`spark.sql.optimizer.runtime.bloomFilter.*`) keys on selective scan
    * predicates of the creation side and does not fire on this
    * distinct-aggregate shape, so the filter is explicit. */
  def contaminationBloom(train: DataFrame, eval: DataFrame, k: Int = 13,
                         fpp: Double = 0.01): DataFrame = {
    val evalGrams = Checkpoints.ephemeral(
      gramPositions(eval, k).select(col("h")).distinct())
    val bf = evalGrams.stat.bloomFilter("h", math.max(evalGrams.count(), 1L), fpp)
    val bfB = train.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((h: Long) => bfB.value.mightContainLong(h))
    mergeSpans(
      gramPositions(train, k).where(mightContain(col("h"))).join(evalGrams, "h"), k)
  }

  /** Doc-level contamination flag — [[contamination]]'s yes/no form for
    * manifest builders that only need "is this training doc tainted",
    * not the span extents: the distinct train doc ids sharing ANY
    * k-gram with the eval slice. Same gram pipeline, but the span merge
    * (a doc-partitioned window pair) is replaced by a semi-join +
    * distinct, and the position column is pruned out of the exchange. */
  def contaminatedIds(train: DataFrame, eval: DataFrame, k: Int = 13): DataFrame =
    gramPositions(train, k)
      .join(gramPositions(eval, k).select(col("h")).distinct(), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()

  /** Within-doc repetition quality signals (the Gopher repetition
    * filters — Rae et al. 2021 §A1.1, as used by C4/RefinedWeb-style
    * pipelines; token-n-gram form since the corpus is a token stream):
    *  - `top2_cnt` / `top2_frac`: occurrences of the doc's most frequent
    *    token bigram and the token fraction they account for (count×2 /
    *    n_tokens, the paper's "fraction in most common n-gram");
    *  - `dup_cov` / `dup_frac`: tokens covered by the union of all
    *    `dupK`-grams that repeat WITHIN the doc (the paper's "fraction
    *    in duplicate n-grams" — computed exactly via islands merge, so
    *    overlapping windows are not double-counted).
    * Relational on purpose: per-(doc, gram) counts via one explode +
    * aggregation instead of a per-doc O(len²) higher-order expression,
    * so a 100k-token outlier doc costs len·log(len), not len². */
  def repetitionStats(docs: DataFrame, dupK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE shuffle of the COMPACT doc rows, then explode in place: Generate
    // preserves the child's hash partitioning on doc_id, and every window
    // and aggregation below clusters on doc_id or (doc_id, …) — a subset-
    // compatible distribution — so the exploded gram rows (≈ k× the token
    // count) never hit the wire. The naive formulation shuffled the gram
    // rows twice per branch (once on (doc_id, h), once on doc_id).
    // Identical scan+repartition subtrees across the branches collapse
    // into one reused exchange.
    val parted = docs.select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
    val base = parted.select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
    val top2 = gramPositions(parted, 2)
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top2_cnt"))
    val byGram = Window.partitionBy(col("doc_id"), col("h"))
    val flagged = gramPositions(parted, dupK)
      .withColumn("c", count(lit(1)).over(byGram)).where(col("c") >= 2)
    // the same islands merge as dupSpans/contamination (single source of
    // the gap > k boundary rule); covered tokens per island =
    // span_end − span_start + 1 = max(pos) − min(pos) + dupK
    val cov = mergeSpans(flagged, dupK)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("dup_cov"))
    base.join(top2, Seq("doc_id"), "left").join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("top2_cnt"), lit(0L)).as("top2_cnt"),
        // round (HALF_UP), not bround (HALF_EVEN): the fractions are
        // small-integer ratios, so exactly-representable 4-dp ties occur
        // (n_tokens=64, top2_cnt=1 → 0.03125), and the oracle's DuckDB
        // round() takes such a tie away from zero (round(2/64, 4) = 0.0313)
        when(col("n_tokens") === 0, 0.0).otherwise(
          round(coalesce(col("top2_cnt"), lit(0L)) * 2.0 / col("n_tokens"), 4))
          .as("top2_frac"),
        coalesce(col("dup_cov"), lit(0L)).as("dup_cov"),
        when(col("n_tokens") === 0, 0.0).otherwise(
          round(coalesce(col("dup_cov"), lit(0L)).cast("double") / col("n_tokens"), 4))
          .as("dup_frac"))
  }

  /** Corpus-unigram negative log-likelihood quality score — the
    * perplexity-filter stage of CCNet-style pipelines (Wenzek et al.
    * 2019), with the corpus itself as the unigram LM:
    * `avg_nll = ln(total_tokens) − (Σ_t c_dt·ln c_t) / n_d`. Documents of
    * globally rare tokens score high (likely noise/garble); boilerplate
    * scores low — the standard perplexity-bucket signal, here exact and
    * oracle-checkable instead of a pretrained-KenLM black box.
    *
    * Plan at scale: one explode, a (doc_id, term) partial-agg shuffle, a
    * vocab-sized term-count aggregation joined back on term (AQE
    * broadcasts it when the vocabulary is small; web-scale vocab shuffles
    * on the uniform term key), and a one-row total via crossJoin
    * broadcast. No windows, no driver collects. avg_nll is rounded to
    * 6 dp — the cosine precedent: per-doc float-sum order is
    * partition-dependent at the ulp level, rounding pins it. */
  def unigramNll(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val docTerm = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c_dt"))
    val termCounts = toks.groupBy(col("term")).agg(count(lit(1)).as("c_t"))
    val total = termCounts.agg(sum(col("c_t")).as("total"))
    docTerm.join(termCounts, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c_dt") * log(col("c_t"))).as("s"),
        sum(col("c_dt")).as("n_tokens"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("total")) - col("s") / col("n_tokens"), 6).as("avg_nll"))
  }

  /** Per-document top-k TF-IDF terms (sklearn smooth-idf convention:
    * `idf = ln((N+1)/(df_t+1)) + 1`, `tfidf = (c_dt/n_d)·idf`) with a
    * deterministic (score desc, term asc) ranking — the score is rounded
    * to 6 dp BEFORE ranking so the tiebreak, not ulp noise, decides
    * near-equal terms on every engine. Shuffle shape: ONE (doc_id, term)
    * explode+aggregation whose result is ephemerally materialized and
    * fanned out to the doc-length, document-frequency, and scoring
    * branches (the three subplans differ by pushed isnotnull filters, so
    * exchange reuse can NOT dedup them — unmaterialized, the corpus-sized
    * explode+shuffle ran three times), a vocab-sized document-frequency
    * join on term, a broadcast one-row corpus count, and one
    * doc-partitioned window (never single-partition). */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val docTerm = Checkpoints.ephemeral(toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c_dt")))
    val docLen = docTerm.groupBy(col("doc_id")).agg(sum(col("c_dt")).as("n_d"))
    val dfT = docTerm.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    docTerm.join(docLen, Seq("doc_id")).join(dfT, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(
        col("c_dt") / col("n_d") *
          (log((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1))) + lit(1)), 6))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("score"), col("rk"))
  }

  /** Rolling polynomial document fingerprint (winnowing-style base). */
  def fingerprint(text: String): Long = {
    var h = 1469598103934665603L
    var i = 0
    while (i < text.length) { h = (h ^ text.charAt(i).toLong) * 1099511628211L; i += 1 }
    h
  }

  def fingerprintDf(docs: DataFrame): DataFrame = {
    val fp = udf(fingerprint _)
    docs.select(col("doc_id"), fp(col("text")).as("fingerprint"))
  }
}
