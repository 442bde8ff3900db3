package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task counters summed over a window of work. */
final class Counters {
  var cpuNs, gcMs, peakMem, shuffleWrite, shuffleRead, spillDisk, bytesOut, tasks = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    peakMem = math.max(peakMem, m.peakExecutionMemory)
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    spillDisk += m.diskBytesSpilled
    bytesOut += m.outputMetrics.bytesWritten
    tasks += 1
  }
}

/** Listener for task metrics. Totals cover everything since `reset`;
  * `byGroup` attributes tasks to the Spark job group their job ran
  * under, which the tracer sets to the id of the innermost open span. */
final class TaskMeter extends SparkListener {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  var total = new Counters
  val byGroup = mutable.Map.empty[String, Counters]
  /** executor run time of every task, per stage */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** per SQL-metric accumulator id: (sum of task updates, task count) */
  val accums = mutable.Map.empty[Long, (Long, Long)]
  var jobs, stages = 0L

  def reset(): Unit = synchronized {
    total = new Counters; byGroup.clear(); stageTaskMs.clear(); accums.clear()
    jobs = 0; stages = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobGroup(e.jobId) = g.getOrElse("")
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      total.add(m)
      val g = stageJob.get(e.stageId).flatMap(jobGroup.get).getOrElse("")
      byGroup.getOrElseUpdate(g, new Counters).add(m)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
    e.taskInfo.accumulables.foreach { a =>
      a.update match {
        case Some(v: Long) =>
          val (s, n) = accums.getOrElse(a.id, (0L, 0L))
          accums(a.id) = (s + v, n + 1)
        case _ =>
      }
    }
  }

  /** Share of task time spent in the busiest stage, and max/median task
    * time inside it. */
  def hotStage: (Double, Double) = synchronized {
    val all = stageTaskMs.values.map(_.sum).sum.toDouble
    if (stageTaskMs.isEmpty || all <= 0) (0.0, 0.0)
    else {
      val hot = stageTaskMs.values.maxBy(_.sum)
      val s = hot.sorted
      val med = math.max(1L, s(s.length / 2))
      (hot.sum / all, s.last.toDouble / med)
    }
  }

  def taskMean(accId: Long): Option[Double] = synchronized {
    accums.get(accId).collect { case (s, n) if n > 0 => s.toDouble / n }
  }
}

/** Operator metrics summed over the final (post-AQE) physical plans of
  * the queries run while it is attached. Keys ending in `_max` keep the
  * maximum instead of the sum. */
final class PlanStats {
  val values = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit =
    if (k.endsWith("_max")) values(k) = math.max(values.getOrElse(k, 0.0), v)
    else values(k) = values.getOrElse(k, 0.0) + v
  def ++=(o: PlanStats): Unit = o.values.foreach { case (k, v) => add(k, v) }
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

/** `QueryExecutionListener` that walks each finished query's final plan
  * and adds its operator metrics to `sink()`, the stats of the innermost
  * open span. Registered by the benchmark in traced runs only. */
final class PlanProbe(meter: TaskMeter, sink: () => Seq[PlanStats])
    extends QueryExecutionListener {

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val st = new PlanStats
    st.add("queries", 1)
    st.add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    walk(qe.executedPlan, st)
    sink().foreach(_ ++= st)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def m(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  /** Rows produced by a plan subtree: the first node that counts them. */
  private def rowsOf(p: SparkPlan): Double = p match {
    case a: AdaptiveSparkPlanExec => rowsOf(a.executedPlan)
    case q: QueryStageExec => rowsOf(q.plan)
    case r: ReusedExchangeExec => rowsOf(r.child)
    case s: ShuffleExchangeExec => m(s, "shuffleRecordsWritten")
    case _ if p.metrics.contains("numOutputRows") => m(p, "numOutputRows")
    case _ => p.children.headOption.map(rowsOf).getOrElse(0.0)
  }

  /** Shuffle exchanges in a plan subtree. */
  private def exchanges(p: SparkPlan): Double = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _ => (if (p.isInstanceOf[ShuffleExchangeExec]) 1.0 else 0.0) + p.children.map(exchanges).sum
  }

  private def walk(p: SparkPlan, st: PlanStats): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, st); return
      case q: QueryStageExec => walk(q.plan, st); return
      case _: ReusedExchangeExec => return
      case h: HashAggregateExec =>
        st.add("agg.rows_out", m(h, "numOutputRows"))
        st.add("agg.build_ms", m(h, "aggTime"))
        // avgHashProbe is set once per task as 10 x the task's average
        h.metrics.get("avgHashProbe").flatMap(a => meter.taskMean(a.id))
          .foreach(v => st.add("agg.avg_hash_probes_max", v / 10.0))
      case j: ShuffledHashJoinExec =>
        val (build, stream) =
          if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft) (j.left, j.right)
          else (j.right, j.left)
        st.add("join.rows_out", m(j, "numOutputRows"))
        st.add("join.build_bytes", m(j, "buildDataSize"))
        st.add("join.build_ms", m(j, "buildTime"))
        st.add("join.build_rows", rowsOf(build))
        st.add("join.stream_rows", rowsOf(stream))
        st.add("join.exchanges", j.children.map(exchanges).sum)
      case j: SortMergeJoinExec => st.add("join.exchanges", j.children.map(exchanges).sum)
      case _: ShuffleExchangeExec => st.add("exchanges", 1)
      case f: FileSourceScanExec => st.add("scan.files", m(f, "numFiles"))
      case w: DataWritingCommandExec =>
        st.add("write.files", m(w, "numFiles"))
        st.add("write.bytes", m(w, "numOutputBytes"))
      case _ =>
    }
    p.children.foreach(walk(_, st))
    p.subqueries.foreach(walk(_, st))
  }
}
