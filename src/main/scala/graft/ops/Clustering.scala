package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding table — the classic
  * Spark iteration shape: centroids are tiny driver state (k·dim
  * doubles, bounded by the MODEL size, never by the data), assignment is
  * a map-side argmin UDF over the driver's centroid array, and the update
  * is one (cid, dim)-keyed aggregation per round. Compare `Similarity`'s
  * IVF trainer, which deliberately runs on a bounded SAMPLE as a coarse
  * quantizer: this one assigns EVERY corpus vector each round.
  *
  * Engine-lockstep contract (what makes the DuckDB oracle exact): both
  * the per-pair squared distance and the per-(cid, dim) update mean are
  * rounded to 6 decimals BEFORE they are consumed (argmin / next round).
  * Sums of thousands of doubles differ across engines in the last ulps
  * (different addition order); the 1e-6 grid absorbs that, and rounding
  * the same near-identical value on both sides yields the same decimal,
  * hence the same double, hence identical rounds. Argmin ties break on
  * ascending cid; init is the k lowest-id vectors in id order. Empty
  * clusters keep their previous centroid.
  */
object Clustering {

  /** Spark's round(x, 6) on DoubleType, replicated exactly:
    * BigDecimal.decimal (shortest-repr) + HALF_UP setScale. */
  private def round6(x: Double): Double =
    scala.math.BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** Argmin assignment against the centroid array. A UDF on purpose (the
    * round-5 version built k array literals + zip_with/aggregate
    * expressions per ROUND, so every round recompiled its codegen —
    * compile time dominated the 5-round loop on a small corpus; the UDF
    * closure keeps the plan, and the codegen cache entry, identical
    * across rounds): per pair, the fold acc + d*d runs in the same array
    * order as the old `aggregate` lambda and the result goes through the
    * same round-to-6 (BigDecimal HALF_UP) before the argmin, ties on
    * ascending cid via strict < — bit-identical assignments. */
  private def assignTo(corpus: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val k = cents.length
    val assignUdf = udf((emb: Seq[Float]) => {
      var bestD = Double.MaxValue
      var bestC = -1
      var c = 0
      while (c < k) {
        val cc = cents(c)
        var acc = 0.0
        var i = 0
        while (i < cc.length) {
          val d = emb(i).toDouble - cc(i)
          acc = acc + d * d
          i += 1
        }
        val dist = round6(acc)
        if (dist < bestD) { bestD = dist; bestC = c }
        c += 1
      }
      (bestC, bestD)
    })
    corpus.select(col("vec_id"), assignUdf(col("embedding")).as("m"))
      .select(col("vec_id"), col("m._1").as("cid"), col("m._2").as("dist"))
  }

  /** Run `iters` Lloyd rounds with k clusters; returns the final
    * assignment (vec_id, cid, dist) with dist the rounded squared
    * euclidean distance to the winning centroid. The assignment is one
    * UDF that scans all k centroids per vector, and every round collects
    * k·dim means to the driver, so k is expected in the tens-to-hundreds
    * (document clustering); for thousands of cells use the IVF coarse
    * quantizer in `Similarity`, which trains on a bounded sample. */
  def kmeansAssign(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters > 0, s"k=$k iters=$iters must be positive")
    require(k <= 512, s"k=$k: the per-vector UDF scan of every centroid is for small k; use Similarity.ivfTopK's quantizer beyond that")
    var cents: Array[Array[Double]] = corpus.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(cents.nonEmpty, "empty corpus")
    var assign: DataFrame = null
    var r = 0
    while (r < iters) {
      assign = assignTo(corpus, cents)
      if (r < iters - 1) {
        // k·dim rows to the driver — bounded by the model, not the data
        val upd = assign.join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
          .select(col("cid"), posexplode(col("embedding")).as(Seq("i", "x")))
          .groupBy(col("cid"), col("i"))
          .agg(round(avg(col("x").cast("double")), 6).as("v"))
          .collect()
        val next = cents.map(_.clone) // empty cluster keeps its centroid
        upd.foreach(row => next(row.getInt(0))(row.getInt(1)) = row.getDouble(2))
        cents = next
      }
      r += 1
    }
    assign
  }
}
