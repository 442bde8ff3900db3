package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.io.GeoTables
import graft.ops.{BenchKernel, PipPlan, SpatialJoin}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec}

/** Plan-shape regression guards: the perf-critical properties verified by
  * hand during the plan audit must not silently rot. */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("PIP rect branch prunes wkt and uses a hash join keyed on cell") {
    val pts = GeoTables.points(spark, sf001)
    val z = GeoTables.zones(spark, sf001).select(col("zone_id"), col("wkt"))
    forPipInputs(Seq(PipPlan.PointBuild, PipPlan.Salted(4),
                     PipPlan.Adaptive(2000L))) { (pipPlan, thr) =>
      val input = s"$pipPlan, threshold $thr"
      val agg = SpatialJoin.pip(pts, z, GeoTables.JoinLevel, pipPlan)
        .groupBy("zone_id").agg(count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan.toString

      // the inner cell equi-join is a hash join keyed on cell, plus salt
      // for the salted plans; PointBuild broadcasts the sf0.001 point side
      // under the default threshold and shuffles it at -1
      val key = pipPlan match {
        case PipPlan.Salted(_) | PipPlan.Adaptive(_) => """cell#\d+L?, salt#\d+"""
        case _ => """cell#\d+L?"""
      }
      val op = (pipPlan, thr) match {
        case (PipPlan.PointBuild, None) => "BroadcastHashJoin"
        case (PipPlan.PointBuild, Some(_)) => "ShuffledHashJoin"
        case _ => "ShuffledHashJoin|BroadcastHashJoin"
      }
      val join = s"""($op) \\[$key\\], \\[$key\\], Inner""".r
      assert(join.findFirstIn(plan).isDefined, s"$input: no $op on [$key]\n$plan")
      // the exchanges feeding the join must not carry the WKT string: every
      // Exchange line's column list should be wkt-free (wkt appears only in
      // scans/projections of the general-polygon branch)
      val badExchange = plan.linesIterator
        .filter(_.trim.startsWith("+- Exchange hashpartitioning"))
        .exists(_.contains("wkt"))
      assert(!badExchange, s"$input: wkt leaked into a shuffle exchange")
      // partial aggregation before the final exchange (map-side combine)
      assert(plan.contains("HashAggregate"), plan)
    }

    // the executed plan of the kernel's tile keys on both sides of the
    // broadcast threshold: run counts its metrics in the partitions of
    // this plan, with no DataFrame action of its own
    def kernelPlan(docs: DataFrame): SparkPlan = {
      val qe = BenchKernel.tiles(docs, GeoTables.JoinLevel).queryExecution
      qe.toRdd.count()
      qe.executedPlan
    }
    def fromPoints(p: SparkPlan) = p.output.exists(_.name == "x")
    def refs(es: Seq[Expression]) = es.flatMap(_.references.map(_.name)).toSet

    // default threshold: the sf0.001 point side is under it, so the zonal
    // aggregate is fused. The tile rows are the fused polygon pass, read as
    // one RDD scan: no exchange, no join keyed on cell and no aggregate
    // grouped on poly_doc. A run on cached docs starts at most 2 jobs: the
    // point-side collect, and the probe pass that also counts the metrics.
    val cached = BenchKernel.prepareInput(spark, sf001).cache()
    try {
      cached.count()
      val (_, jobs) = countJobs(BenchKernel.run(spark, cached))
      val fused = kernelPlan(cached)
      assert(jobs <= 2, s"a fused kernel run started $jobs jobs\n$fused")
      assert(collect(fused) { case r: RDDScanExec => r }.size == 1, fused.toString)
      assert(collect(fused) { case e: ShuffleExchangeExec => e }.isEmpty,
        s"exchange in the fused kernel\n$fused")
      assert(collect(fused) {
        case j: BaseJoinExec if refs(j.leftKeys ++ j.rightKeys)("cell") => j
      }.isEmpty, s"join keyed on cell in the fused kernel\n$fused")
      assert(collect(fused) {
        case a: BaseAggregateExec if refs(a.groupingExpressions)("poly_doc") => a
      }.isEmpty, s"aggregate grouped on poly_doc in the fused kernel\n$fused")
    } finally cached.unpersist(true)

    // threshold -1: exactly one shuffle-hash join, built from the points
    val shuffled = withBroadcastThreshold("-1")(kernelPlan(BenchKernel.prepareInput(spark, sf001)))
    val shj = collect(shuffled) { case j: ShuffledHashJoinExec => j }
    assert(shj.size == 1, shuffled.toString)
    assert(shj.head.buildSide == BuildLeft && fromPoints(shj.head.left),
      s"kernel join must build from the point side\n$shuffled")
    // the tile aggregate groups on primitive keys: a struct key turns off
    // Spark's fast primitive-key aggregation map
    val partial = collect(shuffled) {
      // a partial aggregate requires no child distribution
      case a: HashAggregateExec if a.requiredChildDistributionExpressions.isEmpty &&
          a.groupingExpressions.exists(_.references.exists(_.name == "poly_doc")) => a
    }
    assert(partial.size == 1, shuffled.toString)
    assert(!partial.head.groupingExpressions.exists(_.dataType.isInstanceOf[StructType]),
      s"struct-typed grouping key in the kernel's partial aggregate\n$shuffled")

    // the kernel's values, not just its counts: the tile aggregate's
    // (poly_doc, tr, tc, n_pts, sum_val) multiset is the same on both sides
    // of the threshold and equals a brute-force reference; (poly_doc, tr,
    // tc) is the group key, so a duplicated group shows as a count of 2
    val cols = Seq("poly_doc", "tr", "tc", "n_pts", "sum_val").map(col)
    val docs = BenchKernel.prepareInput(spark, sf001)
    def kernel() = multiset(BenchKernel.assigned(docs, GeoTables.JoinLevel).select(cols: _*))
    val rowsBcast = kernel()
    val rowsShuffled = withBroadcastThreshold("-1")(kernel())

    // every point against every polygon by strict box interior, with no
    // cell cover and no geometry parse: the box bounds come from the wkt
    // text by regex
    val spans = docs.select(
      substring(col("doc_id"), 5, 9).cast("long").as("doc_key"), explode(col("spans")).as("s"))
    val box = """POLYGON\(\((\d+) (\d+),(\d+) \d+,\d+ (\d+),"""
    def bound(i: Int) = regexp_extract(col("wkt"), box, i).cast("double")
    val boxes = GeoTables.polySpans(spans, col("doc_key"))
      .select(col("poly_doc"), bound(1).as("bx0"), bound(2).as("by0"),
              bound(3).as("bx1"), bound(4).as("by1"))
    val docPts = GeoTables.pointSpans(spans, col("doc_key")).select("x", "y", "value")
    val reference = multiset(docPts.crossJoin(boxes)
      .where(col("x") > col("bx0") && col("x") < col("bx1") &&
             col("y") > col("by0") && col("y") < col("by1"))
      .groupBy(col("poly_doc"),
        least(lit(7), floor((lit(100.0) - col("y")) / 12.5).cast("int")).as("tr"),
        least(lit(7), floor(col("x") / 12.5).cast("int")).as("tc"))
      .agg(count(lit(1)).as("n_pts"), sum(col("value")).as("sum_val"))
      .select(cols: _*))

    assert(reference.nonEmpty && reference.values.forall(_ == 1))
    assert(rowsBcast == rowsShuffled, "broadcast and shuffle-hash kernels differ")
    assert(rowsBcast == reference, "kernel differs from the brute-force reference")
  }

  test("sjoin emits pairs once: no dedup shuffle, no global window, hash joins only") {
    val z = GeoTables.zones(spark, sf001)
    val plan = SpatialJoin.sjoin(
        z.select(col("zone_id").as("id_a"), col("wkt").as("wkt_a")),
        z.select(col("zone_id").as("id_b"), col("wkt").as("wkt_b")),
        "intersects")
      .queryExecution.executedPlan.toString
    // the canonical single-cell emission replaced the round-1 distinct
    assert(!plan.contains("Deduplicate") &&
      !plan.contains("HashAggregate(keys=[id_a"),
      "pair dedup shuffle reappeared — canonical-cell emission broken")
    assert(!plan.contains("Window"), "no window belongs in sjoin")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"))
  }

  test("queries are free of single-partition global windows") {
    // the round-1 scale-killer: row_number() over an unpartitioned window
    // funnels the whole table through ONE task
    for (name <- Seq("q_interp_points", "q_interp_quintic", "q_reduce_points",
                     "q_rasterize", "q_sessionize", "q_window_running",
                     "q_dup_spans", "q_repetition", "q_winnow",
                     "q_contamination", "q_contamination_bloom",
                     "q_tfidf", "q_unigram_nll",
                     "q_stratified_sample", "q_seq_pack", "q_token_budget",
                     "q_pack_windows", "q_pii_scrub", "q_quality_filter",
                     "q_mix_weights", "q_split_assign", "q_bm25",
                     "q_vocab_bigrams", "q_asof_join", "q_cell_rollup")) {
      val bad = SparkEntry.queries(name)(spark, sf001)
        .queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
        }
      assert(bad.isEmpty, s"$name has an unpartitioned WindowExec")
    }
  }

  test("bm25 never explodes the corpus; stats join is broadcast") {
    // the scale contract: per-doc term frequencies come from bounded
    // array scans in a projection, NOT a (doc, token) Generate, and the
    // one-row corpus-stats frame joins by broadcast
    val plan = SparkEntry.queries("q_bm25")(spark, sf001)
      .queryExecution.executedPlan
    val generates = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(generates.isEmpty, "bm25 must not explode tokens")
    assert(plan.toString.contains("BroadcastNestedLoopJoin") ||
           plan.toString.contains("BroadcastExchange"),
      "corpus stats must broadcast")
  }

  test("piiScrub and qualityFilter are single-stage scan projections") {
    for (name <- Seq("q_pii_scrub", "q_quality_filter")) {
      val plan = SparkEntry.queries(name)(spark, sf001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$name must not shuffle")
    }
  }

  test("bbox filter stays in one WholeStageCodegen stage over the scan") {
    val plan = SparkEntry.queries("q_bbox_filter")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
    assert(!plan.contains("Exchange"), "a pure filter must not shuffle")
  }

  test("native cell expression appears in the point-side projection (no ScalaUDF)") {
    val pts = GeoTables.points(spark, sf001)
      .withColumn("cell", graft.plans.CellOfExpr.cellOfNative(col("x"), col("y"), lit(7)))
    val plan = pts.queryExecution.executedPlan.toString
    assert(plan.contains("cellofexpr") || plan.contains("CellOfExpr") ||
           plan.contains("cell_of_expr") || !plan.contains("UDF"), plan)
  }

  test("point-window cell reads never move the packed payload (no UDF, no binary join)") {
    // reduce_points' hot stage: the window pixels join a per-pixel
    // (si, sj, v) relation. A reintroduced payload-carrying join (a cell
    // read over the tiles' `data` column) re-copies the 20KB binary
    // out of the build row per probe (~108 GB of memcpy at sf0.1), and a
    // UDF re-adds allocations + serde per row.
    val plan = SparkEntry.queries("q_reduce_points")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF("), "no ScalaUDF in the reduce_points plan")
    assert(!plan.contains("substring(data"), "payload substring slice resurfaced")
    assert(!plan.toLowerCase.contains("cellvalueexpr"),
      "packed-payload cell reads resurfaced in the point-window join")
    assert(plan.contains("BroadcastHashJoin"),
      "per-pixel relation should broadcast at this raster size")
  }
}
