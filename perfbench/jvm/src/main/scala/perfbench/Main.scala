package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.PerfbenchShim
import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, out: String, cores: Int, knownRed: Boolean)

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(get("workload"), get("seed").toLong, get("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", get("data"), get("out"), get("cores").toInt,
      kv.getOrElse("known-red", "0") == "1")
  }
}

/** One measured pass. */
final case class PassRec(traced: Boolean, wallS: Double, counters: Counters,
                         hotShare: Double, taskSkew: Double, jobs: Long, stages: Long,
                         ops: Int, plan: PlanStats, extra: Map[String, Double])

/** Runs one workload in one JVM: set-up reps, the check pass,
  * a warm-up pass, then closed-loop passes for the requested seconds.
  * Writes `result.json` (and `spans.jsonl` when traced) under --out; the
  * Python runner turns them into the benchmark's result line. */
object Main {
  /** Set-up reps per run; the first also pays for JVM warm-up. */
  private val SetupReps = 3

  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${cfg.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.out}/warehouse")
      .config("spark.graft.layout.dir", s"${cfg.out}/layout")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()
  private def phase(s: String): Unit =
    println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $s")

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val wl = Workloads(cfg.workload, cfg.knownRed)

    // set-up: fresh session + input staging, SetupReps times; the last
    // session stays up for the passes
    val setup = mutable.ArrayBuffer.empty[Double]
    val staged = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    for (_ <- 0 until SetupReps) {
      if (spark != null) {
        wl.unstage(); spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cfg)
      staged += wl.stage(spark, cfg)
      setup += (System.nanoTime() - t0) / 1e9
    }

    phase(s"set-up x$SetupReps: ${setup.map(x => f"$x%.2f").mkString(" ")} s")
    val sc = spark.sparkContext
    val meter = new TaskMeter
    sc.addSparkListener(meter)
    val tracer = new Tracer(false, spark, meter)
    if (cfg.trace) spark.listenerManager.register(new PlanProbe(meter, () => tracer.openPlans))
    val env = new Env(spark, cfg, tracer)

    val checks = try wl.check(env) catch {
      case e: Exception => Seq(Check("check_pass", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
    phase("check pass")
    val rng = new Random(cfg.seed)
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    var attempted = 0L

    def runPass(i: Int, traced: Boolean): PassRec = {
      tracer.enabled = traced
      val ops = wl.ops(env, rng, i)
      PerfbenchShim.drain(sc)
      meter.reset()
      var ok = true
      val t0 = System.nanoTime()
      tracer("pass") {
        ops.foreach { case (name, f) =>
          attempted += 1
          try tracer(name)(f()) catch {
            case e: Exception =>
              ok = false
              failures += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
          }
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      PerfbenchShim.drain(sc)
      val (share, skew) = meter.hotStage
      val plan = tracer.last("pass").filter(_ => traced).map(_.plan).getOrElse(new PlanStats)
      tracer.enabled = false
      val extra = wl.afterPass(env, i)
      PassRec(traced, if (ok) wall else Double.NaN, meter.total, share, skew,
        meter.jobs, meter.stages, ops.size, plan, extra)
    }

    // the check pass ran every op once; warm-up passes follow until the
    // hot paths are compiled
    (1 to wl.warmPasses).foreach(i => runPass(-i, traced = false))
    phase(s"${wl.warmPasses} warm-up passes")
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 1
    // traced runs alternate plain and traced passes, so both medians come
    // from the same process and the difference is the tracing overhead
    while (elapsed < cfg.seconds || passes.size < wl.minPasses * (if (cfg.trace) 2 else 1)) {
      passes += runPass(i, traced = cfg.trace && i % 2 == 0)
      i += 1
    }
    phase(s"${passes.size} timed passes")
    val probes =
      if (cfg.trace) { tracer.enabled = true; try wl.probe(env, rng) finally tracer.enabled = false }
      else Map.empty[String, Double]
    if (cfg.trace) {
      spark.listenerManager.clear()
      tracer.write(Paths.get(cfg.out, "spans.jsonl"))
    }

    val cachedBytes = sc.getRDDStorageInfo.map(_.memSize).sum
    val ok = passes.filter(!_.wallS.isNaN)
    val result = Json.obj(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "cores" -> cfg.cores,
      "items" -> wl.items, "setup_s" -> setup.toSeq, "cached_bytes" -> cachedBytes,
      "attempted" -> attempted,
      "failures" -> failures.map { case (n, e) => Map("op" -> n, "error" -> e) }.toSeq,
      "checks" -> checks.map(c => Map("op" -> c.op, "ok" -> c.ok, "detail" -> c.detail,
        "oracle" -> c.oracle)),
      "passes" -> ok.map(p => Map(
        "traced" -> p.traced, "wall_s" -> p.wallS,
        "cpu_s" -> p.counters.cpuNs / 1e9, "gc_s" -> p.counters.gcMs / 1e3,
        "peak_task_mem_bytes" -> p.counters.peakMem,
        "shuffle_write_bytes" -> p.counters.shuffleWrite,
        "shuffle_read_bytes" -> p.counters.shuffleRead,
        "spill_bytes" -> p.counters.spillDisk, "bytes_out" -> p.counters.bytesOut,
        "tasks" -> p.counters.tasks, "stages" -> p.stages, "jobs" -> p.jobs, "ops" -> p.ops,
        "hot_stage_share" -> p.hotShare, "task_skew" -> p.taskSkew,
        "plan" -> p.plan.values, "extra" -> p.extra)).toSeq,
      "per_layer" -> (if (cfg.trace) Layers.metrics(ok.toSeq, tracer, probes, staged.toSeq) else Map.empty))
    Files.writeString(Paths.get(cfg.out, "result.json"), result)
    phase("probes and result")
    wl.unstage()
    spark.stop()
    phase("stopped")
  }
}

/** Per-layer metrics of a traced run: medians over its traced passes,
  * plus the probes and the set-up stage timings. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def metrics(passes: Seq[PassRec], tracer: Tracer, probes: Map[String, Double],
              staged: Seq[Map[String, Double]]): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    val plain = passes.filterNot(_.traced)
    def med(f: PassRec => Double) = median(traced.map(f))
    def planMed(k: String) = med(_.plan(k))
    def spanMed(name: String) = median(tracer.named(name).map(_.seconds))
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("exec.agg.avg_hash_probes") = planMed("agg.avg_hash_probes_max")
    m("exec.agg.build_ms") = planMed("agg.build_ms")
    m("exec.agg.rows_out") = planMed("agg.rows_out")
    for (k <- Seq("build_rows", "build_bytes", "build_ms", "stream_rows", "rows_out"))
      m(s"exec.join.$k") = planMed(s"join.$k")
    m("exec.join.rows_per_probe") = med(p => p.plan("join.rows_out") / math.max(1.0, p.plan("join.stream_rows")))
    m("exec.hot_stage_share") = med(_.hotShare)
    m("exec.task_skew") = med(_.taskSkew)
    m("exec.stages") = med(_.stages.toDouble)
    m("exec.tasks") = med(_.counters.tasks.toDouble)
    m("exec.shuffle.write_bytes") = med(_.counters.shuffleWrite.toDouble)
    m("exec.shuffle.read_bytes") = med(_.counters.shuffleRead.toDouble)
    m("exec.spill_bytes") = med(_.counters.spillDisk.toDouble)
    m("exec.gc_s") = med(_.counters.gcMs / 1e3)
    m("exec.plan_ms") = med(p => p.plan("plan_ms") / p.ops)
    m("exec.exchanges") = med(p => p.plan("exchanges") / p.ops)
    m("exec.jobs") = med(p => p.jobs.toDouble / p.ops)
    (Workloads.Spatial ++ Workloads.Text).foreach { q =>
      val spans = tracer.named(q)
      m(s"op.$q.wall_s") = median(spans.map(_.seconds))
      m(s"op.$q.cpu_s") = median(spans.map(tracer.cpuOf))
    }
    m("io.GeoTables.docs_s") = median(staged.flatMap(_.get("io.GeoTables.docs_s")))
    m("ops.Lineage.run_s") = spanMed("lineage")
    m("io.TableCommit.commit_s") = spanMed("commit")
    m("io.TableCommit.merge_s") = spanMed("merge")
    m("io.TableCommit.compact_s") = spanMed("compact")
    m("io.TableCommit.expire_s") = spanMed("expire")
    m("io.Layout.bucketed_write_s") = spanMed("bucketed_write")
    m("io.Layout.join_exchanges") = median(tracer.named("bucketed_join").map(_.plan("join.exchanges")))
    m("io.Layout.files_read") = median(tracer.named("partitioned_read").map(_.plan("scan.files")))
    m("streaming.DocsStream.s") = spanMed("docs_stream")
    m("io.bytes_written") = planMed("write.bytes")
    m("io.files_written") = planMed("write.files")
    m("io.TableCommit.merge_dirs_rewritten") = med(_.extra.getOrElse("io.TableCommit.merge_dirs_rewritten", 0.0))
    m("io.space_amp") = med(_.extra.getOrElse("space_amp", 0.0))
    m ++= probes
    val (pp, tp) = (median(plain.map(_.wallS)), median(traced.map(_.wallS)))
    m("trace.pass_s_plain") = pp
    m("trace.pass_s_traced") = tp
    m("trace.overhead_pct") = if (pp > 0) 100.0 * (tp - pp) / pp else 0.0
    m.toMap
  }
}
