package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

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

  /** (zone, point) pair multiset of a PIP result: a pair emitted twice
    * shows as count 2. */
  def pipPairs(df: DataFrame): Set[Seq[Any]] =
    rowSet(df.groupBy("zone_id", "point_id").count())

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
