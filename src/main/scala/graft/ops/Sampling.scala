package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.geo.SplitMix64

/** Chunk-invariant sampling — bit-exact port of the reference's topk
  * scheme (`stats/sampling.py:95-241`): key every element by
  * splitmix64_mix(seed ^ global_index) (`sampling.py:229`, implemented at
  * `SplitMix64.hash`), take the k smallest keys in unsigned uint64 order.
  * Results are independent of partitioning (the property the reference's
  * dask merge-topk exists to preserve, `sampling.py:307-457`) — Spark's
  * global TakeOrdered gives it directly.
  */
object Sampling {

  val smixKey = udf((idx: Long, seed: Long) => SplitMix64.hash(idx, seed))

  /** Top-k sample of rows by the deterministic key of `gidCol`. The
    * reference selects the k smallest keys in UNSIGNED uint64 order
    * (`sampling.py:229-241`); flipping the sign bit maps unsigned order
    * onto Spark's signed Long order. */
  def topk(df: DataFrame, gidCol: String, k: Int, seed: Long): DataFrame =
    df.withColumn("skey", smixKey(col(gidCol), lit(seed)))
      .orderBy(col("skey").bitwiseXOR(lit(Long.MinValue)), col(gidCol))
      .limit(k)

  /** Stratified (per-group) deterministic top-k sample — the data-mixing
    * stage of a training pipeline (fixed per-language/per-source quotas).
    * Selection key = Knuth multiplicative hash of the id, so the sample is
    * partition-invariant and exactly replayable in SQL. (The product wraps
    * mod 2⁶⁴ for |id| ≳ 3.5e9 — still a deterministic total order, so
    * selection stays partition-invariant at any scale; only the external
    * SQL replay must then also use wrapping 64-bit arithmetic.)
    *
    * Scale shape: a naive per-group window funnels each group through ONE
    * task — a handful of languages over 100 TB means the whole corpus
    * through 5 tasks. Two phases fix it: phase 1 ranks per (group,
    * id%nSalts) — parallel within a group, ≤ k survivors per salt class —
    * and phase 2 ranks the ≤ k·nSalts survivors per group. The global
    * per-group top-k is contained in the union of per-salt top-ks (any
    * globally-selected row is also in its own salt class's top-k), so the
    * result is IDENTICAL to the naive window while the wide data only ever
    * sees the salted, bounded one. */
  def stratifiedTopK(df: DataFrame, groupCol: String, idCol: String, k: Int,
                     nSalts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w1 = Window.partitionBy(col(groupCol), pmod(col(idCol), lit(nSalts)))
      .orderBy(col("skey").asc, col(idCol).asc)
    val w2 = Window.partitionBy(col(groupCol))
      .orderBy(col("skey").asc, col(idCol).asc)
    df.withColumn("skey", (col(idCol) * lit(2654435761L)) % lit(1000000007L))
      .withColumn("rk1", row_number().over(w1)).where(col("rk1") <= k)
      .withColumn("rk", row_number().over(w2)).where(col("rk") <= k)
      .select(col(groupCol), col(idCol), col("skey"), col("rk"))
  }

  /** WEIGHTED per-group top-k sample without replacement, probability
    * ∝ `weightCol` (Efraimidis–Spirakis 2006, the exponential-race
    * form): each row draws t = −ln(u)/w from its deterministic uniform
    * u = (hash(id)+1)/(p+1), and the k smallest t per group are the
    * sample — the training-pipeline "sample 1M docs ∝ token count"
    * primitive. A pure column expression over a total order, so the
    * selection is partition-invariant, rerun-stable, and exactly
    * replayable in SQL (hash is the same bijective Knuth permutation as
    * [[stratifiedTopK]]; ids must be < 1000000007, true for the
    * synthetic tables — at larger id domains swap in SplitMix64, losing
    * only plain-SQL replay).
    *
    * Scale shape: identical two-phase salted windows as
    * [[stratifiedTopK]] — the global per-group top-k is contained in
    * the union of per-salt top-ks, so phase 2 ranks ≤ k·nSalts
    * survivors per group and no task ever sees a whole group.
    * Rows with weight ≤ 0 are excluded (they have zero probability).
    */
  def weightedTopK(df: DataFrame, groupCol: String, idCol: String,
                   weightCol: String, k: Int, nSalts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hash = (col(idCol) * lit(2654435761L)) % lit(1000000007L)
    val t = -log((hash + lit(1L)) / lit(1000000008.0)) / col(weightCol)
    val w1 = Window.partitionBy(col(groupCol), pmod(col(idCol), lit(nSalts)))
      .orderBy(col("t").asc, col(idCol).asc)
    val w2 = Window.partitionBy(col(groupCol))
      .orderBy(col("t").asc, col(idCol).asc)
    df.where(col(weightCol) > 0)
      .withColumn("t", t)
      .withColumn("rk1", row_number().over(w1)).where(col("rk1") <= k)
      .withColumn("rk", row_number().over(w2)).where(col("rk") <= k)
      .select(col(groupCol), col(idCol), col(weightCol), col("rk"))
  }
}
