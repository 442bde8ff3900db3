package graft

import org.apache.spark.sql.functions._
import graft.ops.TextOps

/** Round-5 specs: the EXACT n-gram Jaccard self-join via prefix filtering
  * (AllPairs/PPJoin). The property that matters is LOSSLESSNESS — the
  * prefix filter must return exactly the pairs a brute-force all-pairs
  * scan returns, at every threshold — plus the usual partition invariance
  * and the inclusive-threshold edge. */
class Ops14Spec extends SparkSpec {

  import spark.implicits._

  /** Driver-side replica of the operator's gram hashing: top-60-bit md5
    * prefix of the space-joined token k-gram, distinct per doc. */
  private def gramSet(text: String, k: Int): Set[Long] = {
    val ts = text.split(" ").filter(_.nonEmpty)
    if (ts.length < k) Set.empty
    else (0 to ts.length - k).map { i =>
      val g = ts.slice(i, i + k).mkString(" ")
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }.toSet
  }

  private def brute(docs: Seq[(String, String)], k: Int, t: Double)
      : Map[(String, String), Double] = {
    val sets = docs.map { case (id, tx) => id -> gramSet(tx, k) }
      .filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      o = sa.intersect(sb).size
      j = o.toDouble / (sa.size + sb.size - o) if o > 0 && j >= t
    } yield (a, b) -> j).toMap
  }

  private def opPairs(docs: Seq[(String, String)], k: Int, t: Double)
      : Map[(String, String), Double] = {
    val df = docs.toDF("doc_id", "text")
    TextOps.jaccardJoin(df, k, t).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
  }

  // a corpus engineered for near-dups: shared 20-token base with small
  // per-doc substitutions, plus short docs (< k tokens) and disjoint docs
  private val base = (0 until 20).map(i => s"w$i")
  private val corpus: Seq[(String, String)] =
    (0 until 12).map { d =>
      val toks = base.zipWithIndex.map { case (w, i) =>
        if (i % 7 == d % 7) s"sub${d}_$i" else w
      }
      (f"d$d%03d", toks.mkString(" "))
    } ++ Seq(
      ("s001", "too short"),
      ("s002", "x"),
      ("z001", (0 until 15).map(i => s"alien$i").mkString(" ")))

  test("jaccardJoin == brute force at thresholds 0.3 / 0.5 / 0.8") {
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = opPairs(corpus, 3, t)
      val want = brute(corpus, 3, t)
      if (t == 0.3) assert(want.nonEmpty) // the corpus's near-dups sit at J≈0.33
      assert(got.keySet === want.keySet, s"pair set at t=$t")
      for ((p, j) <- want)
        assert(math.abs(got(p) - j) < 5e-5, s"jaccard of $p at t=$t")
    }
  }

  test("threshold is inclusive: a pair at exactly J=0.5 is kept") {
    // "x y z" has one 3-gram, "x y z w" has two sharing one: J = 1/2
    val docs = Seq(("a", "x y z"), ("b", "x y z w"))
    val at = opPairs(docs, 3, 0.5)
    assert(at === Map(("a", "b") -> 0.5))
    assert(opPairs(docs, 3, 0.51).isEmpty)
  }

  test("ceil slack: prefix stays lossless where t*s is a near-integer") {
    // s=5 grams each (7 tokens), t=0.8: ceil(0.8*5) must be 4, not 5 —
    // a binary-decimal flip would shrink the prefix and can drop pairs
    val a = "t1 t2 t3 t4 t5 t6 t7"
    val b = "t1 t2 t3 t4 t5 t6 t8" // 4 shared grams of 5: J = 4/6
    val docs = Seq(("a", a), ("b", b))
    assert(opPairs(docs, 3, 2.0 / 3.0).keySet === Set(("a", "b")))
    assert(brute(docs, 3, 2.0 / 3.0).keySet === Set(("a", "b")))
  }

  test("partition invariance: 1 vs 7 input partitions, same rows") {
    val df = corpus.toDF("doc_id", "text")
    val one = rowSet(TextOps.jaccardJoin(df.repartition(1), 3, 0.3))
    val seven = rowSet(TextOps.jaccardJoin(df.repartition(7), 3, 0.3))
    assert(one === seven && one.nonEmpty)
  }

  test("jaccardJoin plan: candidates come from an equi-join, never a cross join") {
    // the whole point of prefix filtering is avoiding the all-pairs
    // product — a plan regression to a nested-loop join would still pass
    // the correctness tests while being a scale-killer
    val df = corpus.toDF("doc_id", "text")
    val plan = TextOps.jaccardJoin(df, 3, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("jaccardJoin on the sf0.001 documents table == brute force") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text").as[(String, String)].collect().toSeq
    val got = opPairs(docs, 3, 0.5)
    val want = brute(docs, 3, 0.5)
    assert(want.nonEmpty) // datagen injects near-dups at J ≥ 0.9
    assert(got.keySet === want.keySet)
    for ((p, j) <- want) assert(math.abs(got(p) - j) < 5e-5)
  }

  // ---- duplicate-SPAN detection (Lee et al. ACL'22 style) -------------

  /** k=4 golden corpus, spans computable by hand:
    *  - A/B share the 6-token run "a b c d e f" (cross-doc dup);
    *  - C repeats its own 4-token run "p q r s" at positions 1 and 10
    *    (within-doc dup, gap 9 > k → two separate spans);
    *  - E is 8 contiguous tokens whose two halves both recur in F but
    *    with filler between them there — in E the flagged starts are
    *    exactly k apart, probing the merge-boundary rule (gap == k
    *    merges: the covered token intervals [1,4] and [5,8] touch);
    *  - D has no duplicated 4-gram and must be absent. */
  private val spanCorpus = Seq(
    ("A", "a b c d e f g h"),
    ("B", "x1 x2 a b c d e f y1 y2"),
    ("C", "p q r s t1 t2 t3 t4 t5 p q r s"),
    ("D", "m1 m2 m3 m4 m5"),
    ("E", "k1 k2 k3 k4 k5 k6 k7 k8"),
    ("F", "k1 k2 k3 k4 w1 w2 w3 w4 w5 k5 k6 k7 k8"))

  test("dupSpans golden: cross-doc, within-doc, gap split, boundary merge") {
    val got = TextOps.dupSpans(spanCorpus.toDF("doc_id", "text"), 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = Set(
      ("A", 1L, 6L, 3L),   // starts {1,2,3} of "a b c d".."c d e f"
      ("B", 3L, 8L, 3L),   // the same grams at starts {3,4,5}
      ("C", 1L, 4L, 1L), ("C", 10L, 13L, 1L), // self-repeat, gap 9 > 4
      ("E", 1L, 8L, 2L),   // starts {1,5}: gap == k → one merged span
      ("F", 1L, 4L, 1L), ("F", 10L, 13L, 1L))
    assert(got === want)
  }

  test("dupSpans is partition-invariant and k-monotone on real docs") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val one = rowSet(TextOps.dupSpans(docs.repartition(1), 8))
    val sixteen = rowSet(TextOps.dupSpans(docs.repartition(16), 8))
    assert(one === sixteen && one.nonEmpty) // datagen injects duplicates
    // every k=10 span lies inside some k=8 span of the same doc: a
    // duplicated 10-gram contains duplicated 8-grams at every offset
    val k8 = TextOps.dupSpans(docs, 8).collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2)))
    val k10 = TextOps.dupSpans(docs, 10).collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2)))
    assert(k10.nonEmpty)
    k10.foreach { case (d, s, e) =>
      assert(k8.exists { case (d8, s8, e8) => d8 == d && s8 <= s && e <= e8 },
        s"k=10 span ($d,$s,$e) not inside any k=8 span")
    }
  }

  test("dupSpans plan: dup-hash lookup is an equi-join, windows are doc-partitioned") {
    val plan = TextOps.dupSpans(spanCorpus.toDF("doc_id", "text"), 4)
      .queryExecution.executedPlan.toString
    // a regression to nested-loop would still pass the goldens while
    // being a scale-killer; global-window freedom is enforced for every
    // query mechanically in PlanSpec
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ephemeral: lineage-truncated locally, pass-through in reliable mode") {
    import graft.ops.Checkpoints
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    // local mode: truncated to a checkpointed scan (no original Project)
    val local = Checkpoints.ephemeral(df.select(col("id") * 2 as "d"))
    assert(local.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    assert(local.collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 4))
    // reliable mode: the SAME frame back — a deterministic fan-out must
    // recompute, not write itself to the checkpoint DFS
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val src = df.select(col("id") * 2 as "d")
      assert(Checkpoints.ephemeral(src) eq src)
      // and dupSpans/jaccardJoin stay correct in reliable mode
      val spans = TextOps.dupSpans(spanCorpus.toDF("doc_id", "text"), 4)
      assert(spans.count() == 7)
      assert(TextOps.jaccardJoin(corpus.toDF("doc_id", "text"), 3, 0.3).count() > 0)
    } finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  // ---- train/eval decontamination -------------------------------------

  test("contamination golden: cross-corpus spans only, eval-internal dups never flag") {
    val eval = Seq(
      ("E1", "q r s t u v"),
      ("E2", "q r s t u v")) // exact eval-internal duplicate: must be inert
      .toDF("doc_id", "text")
    val train = Seq(
      ("T1", "a b q r s t u v c d"),   // shares the full eval run at 3..8
      ("T2", "q r s t x y z w"),       // shares only "q r s t" at 1..4
      ("T3", "m n o p"),               // clean
      ("T4", "a b q2 r2 s2 t2"),       // shares a run with T5, NOT eval:
      ("T5", "q2 r2 s2 t2 f g"))       //   train-internal dup must not flag
      .toDF("doc_id", "text")
    val got = TextOps.contamination(train, eval, 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set(("T1", 3L, 8L, 3L), ("T2", 1L, 4L, 1L)))
  }

  test("contamination is partition-invariant and nonempty on the real split") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    def run(parts: Int) = TextOps.contamination(
      docs.where(col("doc_id") % 20 =!= 0).repartition(parts),
      docs.where(col("doc_id") % 20 === 0).repartition(parts), 13)
    val one = rowSet(run(1)); val sixteen = rowSet(run(16))
    assert(one === sixteen && one.nonEmpty) // datagen dups straddle the split
  }

  test("contaminationBloom == contamination at tight and sloppy fpp") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val eval = docs.where(col("doc_id") % 20 === 0)
    val exact = rowSet(TextOps.contamination(train, eval, 13))
    assert(exact.nonEmpty)
    // no false negatives + exact verification join ⇒ identical spans even
    // when the Bloom passes half the stream through
    for (fpp <- Seq(0.01, 0.5))
      assert(rowSet(TextOps.contaminationBloom(train, eval, 13, fpp)) === exact,
        s"fpp=$fpp diverges from the exact pass")
  }

  // ---- Gopher repetition signals --------------------------------------

  test("repetitionStats golden: top-bigram mass + islands coverage") {
    val docs = Seq(
      ("R", "a b a b a b c"), // "a b"×3; 3-gram starts {1,2,3,4} all dup'd
      ("S", "u v w x y"),     // repetition-free
      ("T", "solo"))          // no bigrams at all
      .toDF("doc_id", "text")
    val got = TextOps.repetitionStats(docs, 3).collect()
      .map(r => r.getString(0) ->
        ((r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // R: top2=3 → 6/7; dup 3-gram island starts 1..4 → cov 4-1+3 = 6
    assert(got("R") === ((7, 3L, 0.8571, 6L, 0.8571)))
    assert(got("S") === ((5, 1L, 0.4, 0L, 0.0)))
    assert(got("T") === ((1, 0L, 0.0, 0L, 0.0)))
  }

  test("repetitionStats: exact-half 4-dp ties round half-up (oracle mode)") {
    // 64 distinct tokens → top2_cnt = 1, top2_frac = 2/64 = 0.03125: an
    // exactly-representable 4-dp tie. The DuckDB oracle rounds it away
    // from zero (round(2/64, 4) = 0.0313); HALF_EVEN's 0.0312 was the
    // q_repetition mismatch.
    val text = (0 until 64).map(i => f"t$i%02d").mkString(" ")
    val r = TextOps.repetitionStats(Seq(("E", text)).toDF("doc_id", "text"), 3)
      .collect().head
    assert(r.getInt(1) == 64 && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 0.0313, s"top2_frac must round half-up: ${r.getDouble(3)}")
  }

  test("repetitionStats: overlapping dup windows are not double-counted") {
    // "z z z z z": every 3-gram identical, starts {1,2,3} → union is the
    // whole doc (5 tokens), NOT 3 windows × 3 tokens = 9
    val df = Seq(("Z", "z z z z z")).toDF("doc_id", "text")
    val r = TextOps.repetitionStats(df, 3).collect().head
    assert(r.getLong(4) == 5L && r.getDouble(5) == 1.0)
    // and the bigram "z z" occurs 4 times → frac 8/5 may exceed 1 by the
    // paper's count×n definition; the raw count is what's contracted
    assert(r.getLong(2) == 4L)
  }

  test("repetitionStats is partition-invariant on real docs") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val one = rowSet(TextOps.repetitionStats(docs.repartition(1), 3))
    val sixteen = rowSet(TextOps.repetitionStats(docs.repartition(16), 3))
    assert(one === sixteen && one.nonEmpty)
  }
}
