package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training (Sennrich et al. 2016) — the one
  * training-data-pipeline stage that PRODUCES the tokenizer the token
  * counters elsewhere in this library consume.
  *
  * Shape: the corpus is scanned ONCE into a word-frequency table
  * (|distinct words| rows — sublinear in corpus size and the only
  * corpus-wide pass); every merge round then runs on that small table:
  * count adjacent symbol pairs weighted by word frequency, pick the
  * most frequent pair (ties → lexicographically smallest, so the
  * selection is engine-stable), and rewrite the symbol sequences with
  * the pair fused. At 100 TB the word table is a few million rows —
  * the rounds are trivial; production systems batch several
  * non-conflicting merges per round, which drops straight into this
  * loop.
  *
  * Representation contract (shared with the DuckDB oracle): a word's
  * symbol sequence is a string " s1 s2 ... </w> " (space-separated,
  * one leading and trailing space), and a merge of pair "a b" is
  * `replace(seq, " a b ", " ab ")`. Both engines' `replace` scans
  * left-to-right over non-overlapping occurrences and resumes AFTER
  * the replacement, so on pathological runs like " a a a " the two
  * engines make the SAME choice by construction — the oracle replays
  * every round bit-exactly, which k-means-style trainers cannot.
  *
  * Returns the merge table: (rank, pair, merged, freq) — rank is the
  * 1-based merge order, freq the weighted pair count at selection time.
  */
object Bpe {

  /** One symbol-sequence seed per distinct lowercase-alpha word, with
    * its corpus frequency. */
  private def wordSeqs(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.tokens(col("text"))).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(
        concat(lit(" "),
          concat_ws(" ", split(col("word"), "")), lit(" </w> ")).as("seq"),
        col("cnt"))

  /** Weighted adjacent-pair counts over the current sequences. The
    * slice/zip_with formulation (not sequence(1, size-1) indexing) is
    * deliberate: a fully-merged word leaves a 1-symbol sequence, and
    * Spark's sequence(1, 0) is the DESCENDING [1, 0], which would index
    * past the array — slice with length 0 is empty and the explode
    * simply drops the row. */
  private def pairCounts(seqs: DataFrame): DataFrame =
    seqs
      .withColumn("arr", expr("filter(split(trim(seq), ' '), x -> x <> '')"))
      .select(explode(expr(
        "zip_with(slice(arr, 1, size(arr) - 1), slice(arr, 2, size(arr) - 1), " +
        "(a, b) -> concat(a, ' ', b))")).as("pair"), col("cnt"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))

  def train(docs: DataFrame, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(merges > 0, s"merges must be positive, got $merges")
    // each round's argmax is an action, so checkpoint the (small,
    // vocabulary-sized) word table between rounds — without it round r
    // recomputes rounds 1..r-1's replaces from the corpus every time.
    // NEVER collected to the driver: the loop state stays distributed.
    var seqs = Checkpoints.ephemeral(wordSeqs(docs)).toDF()
    // The word table is vocabulary-sized (31 rows at bench scale, a few
    // million at web scale), so running every round's shuffle at the
    // session's corpus-sized shuffle-partition count schedules dozens of
    // empty tasks per round — at 20 rounds × 2 AQE stage-jobs the
    // scheduling overhead WAS the query (measured 4.0 s → 2.5 s at
    // sf0.1). Round 1 runs in the caller's session (its action also
    // materializes the corpus pass at full parallelism); the LOOP then
    // moves to a session of its own that adopts the materialized word
    // table's own partition count — i.e. AQE's size-based coalescing of
    // the vocabulary, the scale-adaptive answer — with AQE off: the
    // partitioning is already derived from the data, and AQE's
    // stage-by-stage execution doubles the per-round job count. The
    // caller's session is never changed, so queries it plans while the
    // loop runs keep its settings.
    var loop = spark
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= merges && !done) {
      val top = pairCounts(seqs)
        .orderBy(col("c").desc, col("pair").asc).limit(1).collect()
      if (r == 1) {
        loop = loopSession(spark, math.max(1, seqs.rdd.getNumPartitions))
        seqs = loop.createDataFrame(seqs.rdd, seqs.schema)
      }
      if (top.isEmpty || top(0).getLong(1) < 2) done = true
      else {
        val pair = top(0).getString(0)
        val freq = top(0).getLong(1)
        val merged = pair.replace(" ", "")
        out += ((r, pair, merged, freq))
        // the pair rides a broadcast 1-row frame, not a SQL literal: a
        // per-round literal changes the generated code every round (20
        // codegen compiles dominated the loop); with column arguments the
        // plan shape — and the codegen cache entry — is identical across
        // rounds. `replace` itself (the oracle's exact function) and the
        // produced strings are unchanged.
        val patDf = loop.createDataFrame(Seq((s" $pair ", s" $merged ")))
          .toDF("pat", "rep")
        seqs = Checkpoints.ephemeral(seqs.crossJoin(broadcast(patDf))
          .select(expr("replace(seq, pat, rep)").as("seq"),
            col("cnt"))).toDF()
        r += 1
      }
    }
    out.toSeq.toDF("rank", "pair", "merged", "freq")
  }

  /** A new session on the same context with the caller's settings, except
    * `parts` shuffle partitions and AQE off. */
  private def loopSession(spark: SparkSession, parts: Int): SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (!s.conf.getOption(k).contains(v)) s.conf.set(k, v) }
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }
}
