package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.PipPlan

object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SharedSpark.spark
  val sf001 = "/root/testdata/sf0.001"

  /** Row-set equality helper (order-insensitive, exact values). */
  def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: Array[_] => a.toSeq
      case x => x
    }).toSet

  /** Row multiset: a row present twice shows as a count of 2. */
  def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  /** (zone, point) pair multiset of a PIP result: a pair emitted twice
    * shows as count 2. */
  def pipPairs(df: DataFrame): Set[Seq[Any]] =
    rowSet(df.groupBy("zone_id", "point_id").count())

  /** Runs `f` with `spark.sql.autoBroadcastJoinThreshold` set to `v`, then
    * restores the session's value. -1 turns size-based broadcasts off. */
  def withBroadcastThreshold[T](v: String)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `plans` as PIP test inputs. Each runs under the session's broadcast
    * threshold (`thr` None); `PipPlan.PointBuild` runs once more at -1
    * (`thr` Some("-1")), because at sf0.001 its point side is always
    * under the threshold and broadcasts, so only that input reaches its
    * shuffle-hash side. */
  def forPipInputs(plans: Seq[PipPlan])(f: (PipPlan, Option[String]) => Unit): Unit =
    for (plan <- plans) {
      f(plan, None)
      if (plan == PipPlan.PointBuild) withBroadcastThreshold("-1")(f(plan, Some("-1")))
    }

  /** `f`'s value and the number of Spark jobs it started. */
  def countJobs[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.ListenerBusShim.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Brute-force PIP reference for the axis-aligned box zones: every point
    * against every zone by strict box interior, with no cell cover and no
    * wkt, so it shares no code with the join it checks. */
  def bboxPairs(pts: DataFrame, zones: DataFrame): Set[Seq[Any]] = {
    import org.apache.spark.sql.functions.col
    pipPairs(pts.crossJoin(zones)
      .where(col("x") > col("zxmin") && col("x") < col("zxmax") &&
             col("y") > col("zymin") && col("y") < col("zymax")))
  }
}
