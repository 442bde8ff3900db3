package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.GeoFunctions.{cover_cells, st_env_rect}
import graft.io.{GeoTables, Layout, TableCommit}
import graft.ops.{AdaptiveSkew, BenchKernel, Knn, Lineage, Overlay, SpatialJoin}
import graft.plans.CellOfExpr
import graft.streaming.DocsStream

/** What a run shares with its workload. */
final class Env(val spark: SparkSession, val cfg: Config, val trace: Tracer) {
  def data: String = cfg.data
  def out: String = cfg.out
}

/** Outcome of one output check. `oracle` carries DuckDB SQL that the
  * Python side runs against the generated inputs and compares with the
  * parquet the op wrote under `check/<op>`; `kernel_rows` carries the
  * kernel's row count for the Python side's own count. */
final case class Check(op: String, ok: Boolean, detail: String,
                       oracle: Option[String] = None)

trait Workload {
  /** Build the inputs the timed passes share, in a fresh session. Timed
    * as set-up; `unstage` releases them before the next set-up rep. */
  def stage(spark: SparkSession, cfg: Config): Map[String, Double]
  def unstage(): Unit = ()
  /** Items one pass processes (kernel: docs), the base of items_per_s. */
  def items: Long
  /** Ops of one pass, in run order. Each throws on a wrong result it can
    * see from its return value. */
  def ops(env: Env, rng: Random, pass: Int): Seq[(String, () => Unit)]
  /** The check pass, run once before timing: every op once, with its
    * output checked inline or saved for the DuckDB oracle. */
  def check(env: Env): Seq[Check]
  /** Bytes of live data after pass `pass`; the base of write_amp. Runs
    * outside the timed pass. */
  def afterPass(env: Env, pass: Int): Map[String, Double]
  /** Traced runs only: layer calls materialized one at a time. */
  def probe(env: Env, rng: Random): Map[String, Double] = Map.empty
  /** Untimed passes after the check pass, until the JIT has settled. */
  def warmPasses: Int = 0
  /** Timed passes a run makes even when they outlast --seconds. */
  def minPasses: Int = 3
}

object Workloads {
  def apply(name: String, knownRed: Boolean): Workload = name match {
    case "kernel" => new Kernel
    case "spatial" => new Queries(Spatial)
    case "text" => new Queries(if (knownRed) Text :+ "q_repetition" else Text)
    case "write" => new Write(knownRed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val Spatial: Seq[String] = Seq("q_zonal_stats_points", "q_zonal_stats_salted",
    "q_zonal_stats_adaptive", "q_sjoin_boxes", "q_sjoin_anti", "q_overlay",
    "q_overlay_union", "q_knn_zones", "q_proximity_vector")

  /** `q_repetition` is a known red oracle; it runs only with --known-red. */
  val Text: Seq[String] = Seq("q_contamination", "q_contamination_bloom",
    "q_dup_spans", "q_jaccard_join", "q_minhash_dedup", "q_minhash_xdedup",
    "q_winnow", "q_bpe_merges", "q_dedup_keeper")

  /** Materialize every column of `df` without writing anything. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def filesUnder(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).count()
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def inputBytes(cfg: Config, tables: Seq[String]): Long =
    tables.map(t => bytesUnder(Paths.get(cfg.data, s"$t.parquet"))).sum

  /** Each public layer call of the zonal-stats path materialized on its
    * own. A layer's self time is computed: its prefix time minus the
    * prefix times of its inputs. */
  def spatialProbe(env: Env): Map[String, Double] = {
    val (s, d) = (env.spark, env.data)
    val pts = GeoTables.points(s, d)
    val zones = GeoTables.zones(s, d).select(col("zone_id"), col("wkt"))
    val lvl = GeoTables.JoinLevel
    // best of two: the first call also pays for code generation
    def t(name: String)(df: => DataFrame): Double =
      Seq.fill(2)(env.trace(name)(timed(noop(df)))).min
    val tp = t("GeoTables.points")(pts)
    val tz = t("GeoTables.zones")(zones)
    val ptCells = pts.withColumn("cell", CellOfExpr.cellOfNative(col("x"), col("y"), lit(lvl)))
    val tc = t("CellOfExpr.cellOfNative")(ptCells)
    val cover = coverOf(zones)
    val coverRows = cover.count().toDouble
    val nZones = zones.count().toDouble
    val candidates = ptCells.join(cover, Seq("cell")).count().toDouble
    val pip = SpatialJoin.pip(pts, zones, lvl)
    val tpip = t("SpatialJoin.pip")(pip)
    val pipRows = pip.count().toDouble
    val centers = GeoTables.zones(s, d).select(col("zone_id").as("qid"),
      ((col("zxmin") + col("zxmax")) / 2).as("qx"), ((col("zymin") + col("zymax")) / 2).as("qy"))
    val z = GeoTables.zones(s, d)
    def side(m: Int, p: String) =
      z.where(col("zone_id") % 10 === m).select(col("zone_id").as(s"id_$p"), col("wkt").as(s"wkt_$p"))
    Map(
      "io.GeoTables.points_s" -> tp,
      "io.GeoTables.zones_s" -> tz,
      "plans.CellOfExpr.cell_of_s" -> (tc - tp),
      "functions.cover_rows" -> coverRows,
      "functions.cells_per_poly" -> coverRows / nZones,
      "ops.SpatialJoin.pip_s" -> (tpip - tp - tz),
      "ops.SpatialJoin.pip_candidates" -> candidates,
      "ops.SpatialJoin.pip_rows" -> pipRows,
      "ops.SpatialJoin.refine_yield" -> pipRows / candidates,
      "ops.SpatialJoin.pipSalted_s" ->
        (t("SpatialJoin.pipSalted")(SpatialJoin.pipSalted(pts, zones, lvl, salt = 4)) - tp - tz),
      "ops.AdaptiveSkew.saltFactors_s" ->
        (t("AdaptiveSkew.saltFactors")(AdaptiveSkew.saltFactors(pts, lvl, 2000L)) - tp),
      "ops.AdaptiveSkew.pipAdaptive_s" ->
        (t("AdaptiveSkew.pipAdaptive")(AdaptiveSkew.pipAdaptive(pts, zones, lvl, 2000L)) - tp - tz),
      "ops.Overlay.s" ->
        (t("Overlay.overlay")(Overlay.overlay(side(1, "a"), side(3, "b"), "union", areaOnly = true)) - tz),
      "ops.Knn.s" -> (t("Knn.nearest")(Knn.nearest(centers, pts, GeoTables.KnnLevel)) - tp - tz))
  }

  /** Cell-cover rows of a polygon column at the join level. */
  def coverOf(polys: DataFrame): DataFrame =
    polys.withColumn("pa", st_env_rect(col("wkt")))
      .select(explode(cover_cells(col("pa._1"), col("pa._2"), col("pa._3"),
        col("pa._4"), lit(GeoTables.JoinLevel))).as("cell"))
}

import Workloads._

/** The paper's headline job: BenchKernel over the assembled docs table. */
final class Kernel extends Workload {
  private var docs: DataFrame = _
  private var nDocs = 0L
  private var expect: Option[(Long, Long)] = None

  def items: Long = nDocs
  // early passes run at up to twice the settled time while the JIT
  // compiles the fused join + aggregate stage
  override def warmPasses: Int = 5

  def stage(spark: SparkSession, cfg: Config): Map[String, Double] = {
    var n = 0L
    val s = timed {
      docs = BenchKernel.prepareInput(spark, cfg.data).cache()
      n = docs.count()
    }
    nDocs = n
    Map("io.GeoTables.docs_s" -> s)
  }

  override def unstage(): Unit = if (docs != null) docs.unpersist(true)

  def ops(env: Env, rng: Random, pass: Int): Seq[(String, () => Unit)] =
    Seq("kernel" -> (() => {
      val got = BenchKernel.run(env.spark, docs)
      require(expect.forall(_ == got), s"kernel returned $got, check pass gave ${expect.get}")
    }))

  def check(env: Env): Seq[Check] = {
    val (rows, mrows) = BenchKernel.run(env.spark, docs)
    expect = Some((rows, mrows))
    val parts = env.cfg.cores.toLong * 64
    Seq(
      // compared with an independent count on the Python side
      Check("kernel_rows", ok = true, rows.toString),
      Check("metric_rows", mrows >= 1 && mrows <= parts,
        s"metric_rows=$mrows, expected 1..$parts (partitions x 64 tiles); pinned per run"))
  }

  def afterPass(env: Env, pass: Int): Map[String, Double] =
    Map("live_bytes" -> inputBytes(env.cfg, Seq("lineitem", "orders")).toDouble)

  override def probe(env: Env, rng: Random): Map[String, Double] = {
    val polys = docs.select(explode(col("spans")).as("s"))
      .where(col("s.kind") === "wkt").select(col("s.text").as("wkt"))
    val n = polys.count().toDouble
    val cover = coverOf(polys).count().toDouble
    // the zonal-stats layer calls over the same generated tables; the
    // kernel's own cover numbers replace the zones' ones
    spatialProbe(env) ++ Map("functions.cover_rows" -> cover, "functions.cells_per_poly" -> cover / n)
  }
}

/** One pass = every named SparkEntry query once, in a seeded order. */
final class Queries(names: Seq[String]) extends Workload {
  private var n = 0L
  private val spatial = names.exists(_.startsWith("q_zonal"))
  private val tables = if (spatial) Seq("lineitem", "part") else Seq("documents")

  def items: Long = n

  def stage(spark: SparkSession, cfg: Config): Map[String, Double] = {
    n = spark.read.parquet(s"${cfg.data}/${tables.head}.parquet").count()
    Map.empty
  }

  def ops(env: Env, rng: Random, pass: Int): Seq[(String, () => Unit)] =
    rng.shuffle(names).map { q =>
      q -> (() => noop(SparkEntry.queries(q)(env.spark, env.data)))
    }

  def check(env: Env): Seq[Check] = names.map { q =>
    SparkEntry.queries(q)(env.spark, env.data)
      .write.mode("overwrite").parquet(s"${env.out}/check/$q")
    Check(q, ok = true, "saved", SparkEntry.oracleSql.get(q))
  }

  def afterPass(env: Env, pass: Int): Map[String, Double] =
    Map("live_bytes" -> inputBytes(env.cfg, tables).toDouble)

  override def probe(env: Env, rng: Random): Map[String, Double] =
    if (spatial) spatialProbe(env) else Map.empty
}

/** Checkpointed, committed and streamed writes of a cell-bucketed points
  * table, each pass into a fresh directory; Layout writes in the check
  * pass and the traced probe. */
final class Write(knownRed: Boolean) extends Workload {
  private val K = 3 // commits per pass
  private val Buckets = 8 // cell buckets: lineage and layout partitions
  private var rows: DataFrame = _
  private var polys: DataFrame = _
  private var zoneCells: DataFrame = _
  private var docsDir = ""
  private var nRows = 0L
  // expected values, fixed by the check pass
  private var buckets = 0L
  private var sumValue = 0.0
  private var rids: Array[Long] = Array.empty
  private var candidates = 0L
  private var bucketCounts: Map[Int, Long] = Map.empty
  private var streamPts = -1L
  private var mergeKeys = 0
  var lastMergeDirs = 0

  def items: Long = nRows
  // a pass is many small jobs, ~5 s; after the check pass the first two
  // passes still run up to 20% slower
  override def warmPasses: Int = 2

  def stage(spark: SparkSession, cfg: Config): Map[String, Double] = {
    val lvl = GeoTables.JoinLevel
    rows = GeoTables.points(spark, cfg.data)
      .withColumn("cell", CellOfExpr.cellOfNative(col("x"), col("y"), lit(lvl)))
      .withColumn("bucket", pmod(col("cell"), lit(Buckets)).cast("int"))
      .withColumn("rid", monotonically_increasing_id())
      .cache()
    nRows = rows.count()
    val z = GeoTables.zones(spark, cfg.data)
    polys = z.where(col("zone_id") % 10 === 0).select(col("zone_id"), col("wkt")).cache()
    polys.count()
    zoneCells = z.withColumn("pa", st_env_rect(col("wkt")))
      .select(col("zone_id"), explode(cover_cells(col("pa._1"), col("pa._2"), col("pa._3"),
        col("pa._4"), lit(lvl))).as("zcell")).cache()
    zoneCells.count()
    docsDir = s"${cfg.data}/stream_docs"
    Map.empty
  }

  override def unstage(): Unit =
    Seq(rows, polys, zoneCells).filter(_ != null).foreach(_.unpersist(true))

  private def dir(env: Env, pass: Int) = s"${env.out}/write/p$pass"

  def ops(env: Env, rng: Random, pass: Int): Seq[(String, () => Unit)] = {
    val s = env.spark
    val d = dir(env, pass)
    val table = s"$d/table"
    val keys = Seq.fill(mergeKeys)(rids(rng.nextInt(rids.length))).distinct
    val crashDrop = 1 + rng.nextInt(3)
    val base = Seq[(String, () => Unit)](
      "lineage" -> (() => {
        val (n, t) = Lineage.runWithCheckpoint(s, rows, "bucket", s"$d/lineage")
        require(n == buckets && t == buckets, s"lineage wrote $n/$t partitions, expected $buckets")
      }),
      "commit" -> (() => {
        (0 until K).foreach(i => TableCommit.commit(rows.where(col("rid") % K === i), table))
        require(TableCommit.currentVersion(table) == K)
      }),
      "merge" -> (() => {
        val upd = rows.where(col("rid").isin(keys: _*)).withColumn("value", col("value") + 1000.0)
        val (v, dirs) = TableCommit.merge(s, table, upd, "rid")
        lastMergeDirs = dirs
        require(v == K + 1 && dirs >= 1, s"merge gave version $v, $dirs dirs rewritten")
      }),
      "compact" -> (() => require(TableCommit.compact(s, table, env.cfg.cores, Seq("rid")) == K + 2)),
      "expire" -> (() => require(TableCommit.expireSnapshots(table, 1).nonEmpty)),
      "read" -> (() => {
        val r = TableCommit.read(s, table).agg(count(lit(1)), sum(col("value"))).head()
        val want = sumValue + 1000.0 * keys.size
        require(r.getLong(0) == nRows && math.abs(r.getDouble(1) - want) <= 1e-9 * want,
          s"read gave ${r.getLong(0)} rows, sum ${r.getDouble(1)}; expected $nRows, $want")
      }),
      "docs_stream" -> (() => {
        DocsStream.runAvailableNow(s, docsDir, polys, s"$d/stream_ckpt", "perfbench_sink", s"$d/sink")
        val n = s.table("perfbench_sink").agg(sum(col("n_pts"))).head().getLong(0)
        require(streamPts < 0 || n == streamPts, s"stream counted $n points, expected $streamPts")
      }))
    if (!knownRed) base
    else base :+ ("resume" -> (() =>
      crashResume(env, s"$d/resume", crashDrop)._2.foreach(e => throw new IllegalStateException(e))))
  }

  /** Layout calls. They run in the check pass and are timed one by one in
    * traced runs, but stay out of the timed pass: with them a pass takes
    * ~9 s, too long for three timed passes in a run. */
  private def layoutOps(env: Env, rng: Random, d: String): Seq[(String, () => Unit)] = {
    val s = env.spark
    s.conf.set("spark.graft.layout.dir", s"$d/layout")
    val probeBucket = bucketCounts.keys.toSeq.sorted.apply(rng.nextInt(bucketCounts.size))
    Seq(
      "bucketed_write" -> (() => {
        Layout.bucketedTable(s, rows.select("rid", "cell", "value"), "perfbench_pts", "cell", env.cfg.cores)
        Layout.bucketedTable(s, zoneCells, "perfbench_zones", "zcell", env.cfg.cores)
      }),
      "bucketed_join" -> (() => {
        val n = Layout.bucketedEquiJoin(s, "perfbench_pts", "cell", "perfbench_zones", "zcell").count()
        require(n == candidates, s"bucketed join gave $n rows, expected $candidates")
      }),
      "partitioned_write" -> (() =>
        Layout.partitionedWrite(rows.select("rid", "x", "y", "value", "bucket"), "perfbench_buckets", "bucket")),
      "partitioned_read" -> (() => {
        val n = s.read.parquet(s"$d/layout/perfbench_buckets").where(col("bucket") === probeBucket).count()
        require(n == bucketCounts(probeBucket),
          s"bucket $probeBucket read $n rows, expected ${bucketCounts(probeBucket)}")
      }))
  }

  /** Checkpointed run, a simulated crash that drops `drop` manifest
    * entries, and a resume; the resumed data must equal the uninterrupted
    * run's. Returns the resume's own seconds and the mismatch, if any. */
  def crashResume(env: Env, out: String, drop: Int): (Double, Option[String]) = {
    val s = env.spark
    Lineage.runWithCheckpoint(s, rows, "bucket", out)
    val m = s.read.parquet(s"$out/_manifest")
    val keep = m.orderBy(col("part_id")).limit((buckets - drop).toInt).collect()
    s.createDataFrame(s.sparkContext.parallelize(keep.toSeq), m.schema)
      .write.mode("overwrite").parquet(s"$out/_manifest")
    var n = 0L
    val t = timed { n = Lineage.runWithCheckpoint(s, rows, "bucket", out)._1 }
    val got = s.read.parquet(s"$out/data").count()
    val err = if (n == drop && got == nRows) None else Some(
      s"resume after dropping $drop manifest entries re-ran $n partitions and left $got rows; " +
        s"the uninterrupted run has $nRows")
    (t, err)
  }

  def check(env: Env): Seq[Check] = {
    val s = env.spark
    buckets = rows.select("bucket").distinct().count()
    sumValue = rows.agg(sum(col("value"))).head().getDouble(0)
    rids = rows.select("rid").collect().map(_.getLong(0))
    mergeKeys = math.max(1, rids.length / 1000)
    candidates = rows.join(zoneCells, col("cell") === col("zcell")).count()
    bucketCounts = rows.groupBy("bucket").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val d = dir(env, -1)
    val rng = new Random(env.cfg.seed)
    val results = (ops(env, rng, -1) ++ layoutOps(env, rng, d)).map { case (name, f) =>
      try { f(); Check(name, ok = true, "ok") }
      catch { case e: Exception => Check(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val lineageRows = s.read.parquet(s"$d/lineage/data").count()
    s.table("perfbench_sink").write.mode("overwrite").parquet(s"${env.out}/check/docs_stream")
    streamPts = s.table("perfbench_sink").agg(sum(col("n_pts"))).head().getLong(0)
    deleteTree(Paths.get(d))
    results ++ Seq(
      Check("lineage_rows", lineageRows == nRows, s"lineage data holds $lineageRows rows of $nRows"),
      Check("docs_stream", ok = true, "saved", Some(Write.streamOracle)))
  }

  def afterPass(env: Env, pass: Int): Map[String, Double] = {
    val d = Paths.get(dir(env, pass))
    val table = s"$d/table"
    val snap = Files.readString(Paths.get(f"$table/snapshots/v${TableCommit.currentVersion(table)}%06d.txt"))
    val live = Seq(d.resolve("lineage/data"), d.resolve("sink")).map(bytesUnder).sum +
      snap.split("\n").map(p => bytesUnder(Paths.get(p))).sum
    val disk = bytesUnder(d)
    deleteTree(d)
    Map("live_bytes" -> live.toDouble, "space_amp" -> disk.toDouble / live,
      "io.TableCommit.merge_dirs_rewritten" -> lastMergeDirs.toDouble)
  }

  override def probe(env: Env, rng: Random): Map[String, Double] = {
    val out = s"${env.out}/write/probe"
    layoutOps(env, rng, out).foreach { case (name, f) => env.trace(name)(f()) }
    val laidFiles = filesUnder(Paths.get(s"$out/layout/perfbench_buckets"), ".parquet")
    val (t, err) = env.trace("Lineage.resume")(crashResume(env, s"$out/resume", 1 + rng.nextInt(3)))
    err.foreach(e => println(s"[perfbench] note: known defect, counted only with --known-red: $e"))
    deleteTree(Paths.get(out))
    Map("ops.Lineage.resume_s" -> t, "io.Layout.files_total" -> laidFiles.toDouble)
  }
}

object Write {
  /** Per-zone point counts of the streamed docs against zones with
    * zone_id % 10 = 0, from the generated tables alone. */
  val streamOracle: String =
    """WITH pts AS (
      |  SELECT ((l_partkey*7 + l_orderkey*11)%400)/4.0 AS x,
      |         ((l_suppkey*13 + l_orderkey*17)%400)/4.0 AS y,
      |         l_quantity AS value
      |  FROM lineitem),
      |z AS (
      |  SELECT p_partkey AS zone_id,
      |         (p_partkey*17)%90 AS x0, (p_partkey*31)%90 AS y0,
      |         (p_partkey*17)%90 + 4 + p_partkey%7 AS x1,
      |         (p_partkey*31)%90 + 4 + (p_partkey*11)%7 AS y1
      |  FROM part WHERE p_partkey % 10 = 0)
      |SELECT zone_id, count(*) AS n_pts, sum(value) AS sum_val
      |FROM pts JOIN z ON x > x0 AND x < x1 AND y > y0 AND y < y1
      |GROUP BY zone_id""".stripMargin
}
