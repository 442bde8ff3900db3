package graft.io

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Iceberg-like snapshot/manifest semantics over plain parquet (no Iceberg
  * jars offline — SURVEY.md §7.4 item 5): every commit writes a new
  * immutable data directory plus a numbered snapshot file listing the data
  * directories visible at that version. Readers resolve a snapshot →
  * union of its data dirs, so writers never disturb concurrent readers
  * and time-travel reads are free.
  *
  * Layout: <table>/data/<uuid>/  parquet files
  *         <table>/snapshots/v00000N.txt   one data-dir path per line
  */
object TableCommit {

  private def snapDir(table: String) = s"$table/snapshots"

  private val SnapshotName = """v(\d+)\.txt""".r
  private val TempName = """_tmp-v(\d+)-.+\.txt""".r // writeSnapshot's temp file

  /** The entry names in `dir`; none if it does not exist. */
  private def names(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) Seq.empty
    else {
      val entries = Files.list(d)
      try entries.iterator().asScala.map(_.getFileName.toString).toList
      finally entries.close()
    }
  }

  private def snapshotNames(table: String): Seq[String] = names(snapDir(table))

  /** The versions whose snapshot files exist, ascending. Only `vNNNNNN.txt`
    * names count: a temp file of [[writeSnapshot]] is not a version. */
  private def versions(table: String): Seq[Int] =
    snapshotNames(table).collect { case SnapshotName(v) => v.toInt }.sorted

  def currentVersion(table: String): Int = versions(table).lastOption.getOrElse(0)

  /** Writes snapshot `v` listing `dirs`: to a temp file first, then one
    * atomic rename, so a crash leaves either no snapshot file or a whole
    * one, never a truncated one that [[currentVersion]] would take. The
    * temp file is created with the process umask, as the data files are
    * (`createTempFile` would make it owner-only), and the rename keeps
    * that mode. */
  private def writeSnapshot(table: String, v: Int, dirs: Seq[String]): Unit = {
    val d = Files.createDirectories(Paths.get(snapDir(table)))
    val tmp = Files.writeString(d.resolve(s"_tmp-v$v-${java.util.UUID.randomUUID}.txt"),
      dirs.mkString("\n"))
    Files.move(tmp, d.resolve(f"v$v%06d.txt"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The data dir a commit of kind `tag` writes when the table is at
    * version `prev`: a UUID of (table, prev, tag), deterministic per
    * version. */
  private[graft] def dataDir(table: String, prev: Int, tag: String): String =
    s"$table/data/${java.util.UUID.nameUUIDFromBytes((table + prev + tag).getBytes)}"

  /** Writes `df` as the data dir of version `prev + 1`. That version has no
    * snapshot yet, so a dir already under this name is the uncommitted
    * write of an attempt that crashed before its snapshot file: it is
    * replaced, and the commit can be retried. */
  private def writeData(df: DataFrame, table: String, prev: Int, tag: String): String = {
    val dir = dataDir(table, prev, tag)
    df.write.mode(SaveMode.Overwrite).parquet(dir)
    dir
  }

  /** Append-commit: write df as a new data dir, snapshot = previous dirs +
    * the new one. Returns the new version. */
  def commit(df: DataFrame, table: String): Int = {
    val prev = currentVersion(table)
    val dataDir = writeData(df, table, prev, "")
    writeSnapshot(table, prev + 1, snapshotDirs(table, prev) :+ dataDir)
    prev + 1
  }

  /** Overwrite-commit: snapshot contains only the new data dir. */
  def commitOverwrite(df: DataFrame, table: String): Int = {
    val prev = currentVersion(table)
    writeSnapshot(table, prev + 1, Seq(writeData(df, table, prev, "ow")))
    prev + 1
  }

  /** Read a snapshot (default: latest). Time travel = pass a version. */
  def read(spark: SparkSession, table: String, version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion(table) else version
    require(v > 0, s"no snapshots in $table")
    readDirs(spark, snapshotDirs(table, v))
  }

  /** The data dirs as one frame, with the schema read from their footers
    * on the driver: no schema-inference job. */
  private def readDirs(spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.read.schema(ParquetFooters.schema(spark, dirs)).parquet(dirs: _*)

  private def snapshotDirs(table: String, version: Int): Seq[String] =
    if (version <= 0) Seq.empty
    else Files.readString(Paths.get(f"${snapDir(table)}/v$version%06d.txt"))
      .split("\n").toSeq

  /** Incremental read: only the data added between `fromVersion`
    * (exclusive) and `toVersion` (inclusive; -1 = latest) — the
    * changelog consumers use to process ONLY new documents since their
    * last run instead of rescanning 100 TB. Data dirs are immutable, so
    * the diff of the two manifests IS the appended data; an
    * overwrite-commit in the range surfaces as its full (replacement)
    * contents, the append-only fast path never reads a byte twice. An
    * empty diff returns an empty frame with the table's schema. */
  def readIncremental(spark: SparkSession, table: String,
                      fromVersion: Int, toVersion: Int = -1): DataFrame = {
    val to = if (toVersion < 0) currentVersion(table) else toVersion
    require(fromVersion <= to,
      s"fromVersion $fromVersion is newer than toVersion $to")
    val newDirs = snapshotDirs(table, to)
      .diff(snapshotDirs(table, fromVersion))
    if (newDirs.isEmpty) read(spark, table, to).limit(0)
    else readDirs(spark, newDirs)
  }

  /** Compaction: rewrite the CURRENT snapshot as `numFiles` files in one
    * overwrite-commit (readers on older versions are undisturbed —
    * that's the snapshot contract). `sortCols` optionally clusters rows
    * (e.g. by a Z-order cell column) via a range-partitioned sort, so
    * parquet row-group min/max stats line up with spatial predicates and
    * scans after compaction skip non-matching files. Returns the new
    * version. */
  def compact(spark: SparkSession, table: String, numFiles: Int,
              sortCols: Seq[String] = Seq.empty): Int = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val cur = read(spark, table)
    val laid =
      if (sortCols.isEmpty) cur.repartition(numFiles)
      else cur.repartitionByRange(numFiles,
        sortCols.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
    commitOverwrite(laid, table)
  }

  /** Copy-on-write MERGE (upsert by `keyCol`): rows in `updates` replace
    * same-key rows in the current snapshot; unmatched update keys are
    * inserts. Only the data dirs whose [min, max] key range intersects an
    * update key are rewritten — on a table laid out by
    * [[compact]]`(sortCols = keyCol :: _)` the dir ranges are disjoint, so
    * a point update rewrites ONE dir while the petabytes in the others are
    * carried into the new snapshot by reference (the Iceberg
    * copy-on-write contract). Costs: each dir's [min, max] from its parquet
    * footers' row-group statistics, read on the driver (no job); one pass
    * over `updates` that tests every update key against every range (one
    * job); one rewrite of touched-dirs ∖ update-keys ∪ updates. A dir whose
    * footers lack statistics for the key, or whose key type has no exact
    * footer min/max (see [[ParquetFooters.keyRange]]), counts as touched:
    * always correct, since rewriting a dir no update key hits carries its
    * rows unchanged. Older versions stay readable.
    *
    * `updates` must be key-unique and schema-compatible with the table;
    * duplicate update keys would all survive the rewrite (same as
    * Iceberg's MERGE cardinality check firing).
    *
    * @return (new version, number of data dirs rewritten) */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
            keyCol: String): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    val prev = currentVersion(table)
    val dirs = snapshotDirs(table, prev)
    require(dirs.nonEmpty, s"no snapshots in $table")
    val ranges = dirs.map(d => d -> ParquetFooters.keyRange(spark, d, keyCol))
    val bounded = ranges.collect { case (d, Some(Some((mn, mx)))) => (d, mn, mx) }
    // one job: each partition of `updates` marks the ranges its keys fall
    // in, and the driver ORs the marks
    val n = bounded.size
    val hit =
      if (n == 0) Array.empty[Boolean]
      else updates.select(bounded.map { case (_, mn, mx) =>
          col(keyCol) >= lit(mn) && col(keyCol) <= lit(mx) }: _*)
        .rdd.mapPartitions { rows =>
          val marks = new Array[Boolean](n)
          rows.foreach(r => (0 until n).foreach(i =>
            marks(i) ||= !r.isNullAt(i) && r.getBoolean(i)))
          Iterator(marks)
        }.fold(new Array[Boolean](n))((a, b) => a.zip(b).map { case (x, y) => x || y })
    val hitDirs = bounded.map(_._1).zip(hit).collect { case (d, true) => d }.toSet
    val touched = ranges.collect { case (d, r) if r.isEmpty || hitDirs(d) => d }
    val untouched = dirs.diff(touched)
    val rewritten =
      if (touched.isEmpty) updates // pure insert
      else readDirs(spark, touched)
        .join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(updates)
    writeSnapshot(table, prev + 1, untouched :+ writeData(rewritten, table, prev, "mrg"))
    (prev + 1, touched.size)
  }

  /** Snapshot expiry + vacuum: keep the newest `keep` snapshot files,
    * delete older ones, then delete every data dir under `<table>/data`
    * that no surviving snapshot references (the unbounded-growth reaper —
    * compaction and overwrite commits orphan their inputs, which otherwise
    * live forever), matched by UUID name. That includes the dir of an
    * attempt that crashed before its snapshot file, and the dirs of
    * snapshots an earlier expire deleted before it crashed. The dirs the
    * next version's commit, overwrite or merge writes stay: that write may
    * be in flight. Also deletes the snapshot temp files a crashed writer
    * left for versions up to the current one. Returns the deleted data
    * dirs. Time travel to an expired version fails by design; readers
    * mid-scan on just-expired data are the same hazard Iceberg's
    * expire_snapshots documents — run it with a grace period in
    * production. */
  def expireSnapshots(table: String, keep: Int = 1): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    // only the snapshot files that exist: an earlier expire deleted the
    // older ones
    val vs = versions(table)
    val (expired, kept) = vs.splitAt(vs.size - keep)
    val inFlight = Seq("", "ow", "mrg").map(dataDir(table, vs.lastOption.getOrElse(0), _))
    val live = (kept.flatMap(v => snapshotDirs(table, v)) ++ inFlight)
      .map(d => Paths.get(d).getFileName.toString).toSet
    val dead = names(s"$table/data").filterNot(live).sorted.map(n => s"$table/data/$n")
    expired.foreach { v =>
      Files.deleteIfExists(Paths.get(f"${snapDir(table)}/v$v%06d.txt"))
    }
    snapshotNames(table).foreach {
      case n @ TempName(v) if vs.lastOption.exists(BigInt(v) <= _) =>
        Files.deleteIfExists(Paths.get(snapDir(table), n))
      case _ =>
    }
    dead.foreach { d =>
      val p = Paths.get(d)
      if (Files.exists(p)) {
        val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).iterator()
        while (it.hasNext) Files.delete(it.next())
      }
    }
    dead
  }
}
