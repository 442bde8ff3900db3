package graft

import org.apache.spark.sql.SparkSession
import graft.ops.BenchKernel

/** North-rule scaling evidence: run the BASELINE kernel at two
  * parallelism levels (local[8] vs local[32] — the sandbox stand-in for
  * N vs 4N executors) on identical input and report throughput at both
  * plus efficiency = (docs/sec @32) / (4 × docs/sec @8).
  *
  * Measurement design (round 4): the sandbox VM is co-tenant, and host
  * load swings absolute throughput ~40% on a span of minutes. Round 3
  * measured all local[8] reps, then all local[32] reps — each efficiency
  * reading was a ratio of legs ~5 minutes apart under independently-
  * varying load, spreading 0.73–0.98 on byte-identical code. This
  * version INTERLEAVES the legs inside one invocation:
  *
  *   pair 1: [8-leg, 32-leg]   pair 2: [32-leg, 8-leg]   ... (ABBA)
  *
  * so each pair ratios two adjacent windows (≈1 min apart), the ABBA
  * order cancels linear host-load drift across pairs, and the reported
  * number is the MEDIAN of per-pair efficiencies with the min–max spread
  * alongside. Per leg: a fresh session at that core count, one warm-up
  * run, then timed reps until ≥`legSeconds` of measured work (≥3 reps),
  * scored by the median per-rep throughput (best-of systematically
  * favors whichever leg got more reps of quiet host). JIT state persists
  * across legs (one JVM), so only the very first leg pays C2 compilation
  * — it gets an extra warm-up.
  *
  * Two supplementary robustness levers (round 4):
  *  - `loCores`/`hiCores` args: the default pairing is 8→32, but local[32]
  *    saturates every hardware thread of the co-tenant 32-vCPU sandbox, so
  *    the hi leg alone absorbs all host interference (driver, GC and
  *    co-tenant threads steal from measured tasks). A 4→16 pairing keeps
  *    the same N→4N ratio the north rule asks for while leaving headroom —
  *    on a real cluster, 4N executors don't oversubscribe their hosts, so
  *    the headroom pairing is the faithful stand-in.
  *  - each leg also reports task CPU-seconds per rep (SparkListener task
  *    metrics). cpu@lo / cpu@hi is the ENGINE's parallel efficiency —
  *    extra CPU burned per record at higher parallelism (shuffle fan-out,
  *    cache-line contention) — with host scheduling noise factored out.
  *
  * Usage: runMain graft.Scaling [sfDir] [replicas] [pairs] [legSeconds]
  *                              [loCores] [hiCores]
  */
object Scaling {

  /** Accumulates executor CPU time (ns) across all tasks of a session. */
  private final class CpuListener extends org.apache.spark.scheduler.SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      // measured: partitions = cores with AQE on beats 2×/3×
      // waves for this kernel at both levels
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private final case class Leg(cores: Int, docsPerSec: Double, reps: Int,
                               secs: Double, rows: Long, nDocs: Long,
                               cpuSecPerRep: Double)

  /** One leg: fresh session at `cores`, warm-ups, then timed reps until
    * the measured window reaches `legSeconds` (min 3 reps). Median
    * per-rep throughput; mean task-CPU-seconds per timed rep. */
  private def leg(cores: Int, sfDir: String, replicas: Int, legSeconds: Double,
                  warmups: Int): Leg = {
    val spark = session(cores)
    val cpu = new CpuListener
    spark.sparkContext.addSparkListener(cpu)
    val docs = BenchKernel.prepareInput(spark, sfDir, replicas).cache()
    val nDocs = docs.count()
    var rows = 0L
    (1 to warmups).foreach(_ => rows = BenchKernel.run(spark, docs)._1)
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var total = 0.0
    // listener events post async: drain warm-up stragglers before the
    // window opens, or their CPU lands inside the measured span (the
    // symmetric guard to the post-window sleep below)
    Thread.sleep(1000)
    val cpu0 = cpu.cpuNs.get() // exclude prepare + warm-ups
    while (total < legSeconds || times.length < 3) {
      val t0 = System.nanoTime()
      rows = BenchKernel.run(spark, docs)._1
      val dt = (System.nanoTime() - t0) / 1e9
      times += dt; total += dt
    }
    // listener events post async (no public drain API) — give the bus a
    // beat; at worst a straggler event shifts <0.1% between adjacent reps
    Thread.sleep(1000)
    val cpuSec = (cpu.cpuNs.get() - cpu0) / 1e9 / times.length
    docs.unpersist()
    spark.stop()
    val sorted = times.sorted
    val med =
      if (sorted.length % 2 == 1) sorted(sorted.length / 2)
      else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2
    Leg(cores, nDocs / med, times.length, total, rows, nDocs, cpuSec)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val replicas = args.lift(1).map(_.toInt).getOrElse(3)
    val pairs = args.lift(2).map(_.toInt).getOrElse(3)
    val legSeconds = args.lift(3).map(_.toDouble).getOrElse(60.0)
    val loCores = args.lift(4).map(_.toInt).getOrElse(8)
    val hiCores = args.lift(5).map(_.toInt).getOrElse(32)
    require(hiCores == 4 * loCores, s"north rule is N vs 4N: $loCores/$hiCores")
    require(pairs > 0, s"pairs must be positive: $pairs")

    val legs = scala.collection.mutable.ArrayBuffer.empty[(Leg, Leg)]
    (0 until pairs).foreach { p =>
      // ABBA: odd pairs run the hi-core leg first
      val order = if (p % 2 == 0) Seq(loCores, hiCores) else Seq(hiCores, loCores)
      val first = leg(order.head, sfDir, replicas, legSeconds,
        warmups = if (p == 0) 2 else 1)
      val second = leg(order(1), sfDir, replicas, legSeconds, warmups = 1)
      val (l8, l32) = if (order.head == loCores) (first, second) else (second, first)
      require(l8.rows == l32.rows,
        s"kernel output differs across parallelism: ${l8.rows} vs ${l32.rows}")
      legs += ((l8, l32))
      System.err.println(f"pair ${p + 1}/$pairs: " +
        f"${l8.docsPerSec}%.1f @$loCores (${l8.reps} reps, ${l8.cpuSecPerRep}%.1f cpu-s/rep) vs " +
        f"${l32.docsPerSec}%.1f @$hiCores (${l32.reps} reps, ${l32.cpuSecPerRep}%.1f cpu-s/rep) " +
        f"→ eff ${l32.docsPerSec / (4 * l8.docsPerSec)}%.3f " +
        f"cpu-eff ${l8.cpuSecPerRep / l32.cpuSecPerRep}%.3f")
    }

    def median(sorted: collection.Seq[Double]): Double =
      if (sorted.length % 2 == 1) sorted(sorted.length / 2)
      else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2
    val effs = legs.map { case (l8, l32) => l32.docsPerSec / (4.0 * l8.docsPerSec) }.sorted
    val medianEff = median(effs)
    val cpuEffs = legs.map { case (l8, l32) => l8.cpuSecPerRep / l32.cpuSecPerRep }.sorted
    val medianCpuEff = median(cpuEffs)
    val (l8s, l32s) = (legs.map(_._1), legs.map(_._2))
    val nDocs = l8s.head.nDocs

    val pairRows = legs.zipWithIndex.map { case ((l8, l32), i) =>
      f"| ${i + 1} | ${l8.docsPerSec}%.1f (${l8.reps} reps/${l8.secs}%.0f s) " +
        f"| ${l32.docsPerSec}%.1f (${l32.reps} reps/${l32.secs}%.0f s) " +
        f"| ${l32.docsPerSec / (4 * l8.docsPerSec)}%.3f " +
        f"| ${l8.cpuSecPerRep}%.1f / ${l32.cpuSecPerRep}%.1f = ${l8.cpuSecPerRep / l32.cpuSecPerRep}%.3f |"
      // join with "\n|" so the template's stripMargin (which eats one
      // leading "|" per raw line) leaves every table row's pipe intact,
      // not just the first row's
    }.mkString("\n|")

    val json = f"""{"pairs":${legs.length},"lo_cores":$loCores,"hi_cores":$hiCores,""" +
      f""""efficiencies":[${effs.map(e => f"$e%.3f").mkString(",")}],""" +
      f""""median_efficiency":$medianEff%.3f,""" +
      f""""eff_min":${effs.head}%.3f,"eff_max":${effs.last}%.3f,""" +
      f""""cpu_efficiencies":[${cpuEffs.map(e => f"$e%.3f").mkString(",")}],""" +
      f""""median_cpu_efficiency":$medianCpuEff%.3f,""" +
      f""""docs_per_sec_lo":[${l8s.map(l => f"${l.docsPerSec}%.1f").mkString(",")}],""" +
      f""""docs_per_sec_hi":[${l32s.map(l => f"${l.docsPerSec}%.1f").mkString(",")}],""" +
      f""""n_docs":$nDocs,"kernel_rows":${l8s.head.rows},"replicas":$replicas,""" +
      f""""leg_seconds":$legSeconds,"sf":"$sfDir"}"""
    println(json)

    val md =
      s"""# BENCH — kernel scaling run (interleaved pairs)
         |
         |Kernel (BASELINE.md definition): interleaved docs → explode spans →
         |cell cover → PIP spatial join → tile assignment → per-partition
         |row-count + cell-histogram metrics. Input preparation excluded.
         |
         |Pairing: local[$loCores] → local[$hiCores] (N → 4N cores).
         |Interleaved ABBA legs within ONE invocation (adjacent legs ≈1 min
         |apart, not ~5 — co-tenant host-load drift hits both legs of a pair
         |near-equally). Per leg: fresh local[N] session, 1 warm-up (2 on the
         |first leg for C2), timed reps until ≥ $legSeconds s measured (≥3),
         |median per-rep throughput. $replicas corpus replicas ($nDocs docs);
         |kernel output rows asserted equal across parallelism levels.
         |cpu-s/rep = task executor-CPU seconds per timed rep (task metrics):
         |the cpu@lo/cpu@hi ratio is the engine's parallel efficiency with
         |host scheduling noise factored out.
         |
         || pair | docs/sec @$loCores | docs/sec @$hiCores | wall eff @$hiCores/(4·@$loCores) | cpu-s/rep lo/hi = cpu eff |
         || --- | --- | --- | --- | --- |
         |$pairRows
         |
         |**Median paired wall efficiency: ${f"$medianEff%.3f"}** (target ≥ 0.8,
         |BASELINE.json north rule); pair spread ${f"${effs.head}%.3f"}–${f"${effs.last}%.3f"}.
         |**Median CPU-parallel efficiency: ${f"$medianCpuEff%.3f"}**.
         |
         |Input: `$sfDir` (seed-42 driver tables; docs assembled
         |deterministically by `graft.io.GeoTables.docs`).
         |Reproduce: `sbt -batch "runMain graft.Scaling $sfDir $replicas ${legs.length} ${legSeconds.toInt} $loCores $hiCores"`.
         |""".stripMargin
    // BENCH.md is the hand-curated evidence document (run series +
    // analysis); raw per-run output goes to its own file so a re-run
    // can't clobber the curation — fold new runs into BENCH.md by hand.
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_SCALING_LAST_RUN.md"), md)
  }
}
