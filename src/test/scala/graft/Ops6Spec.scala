package graft

import org.apache.spark.sql.functions._
import graft.io.{GeoTables, RasterGen, TableCommit}
import graft.ops._

class Ops6Spec extends SparkSpec {

  test("buffer_metric: 1km buffer of an Everest-region point has ~pi km^2 area in UTM terms") {
    import spark.implicits._
    import graft.functions.GeoFunctions._
    val df = Seq("POINT(86.925 27.9881)").toDF("wkt")
    val buffered = df.select(st_buffer_metric(col("wkt"), lit(1000.0)).as("b"))
    // measure the buffered lon/lat polygon's area back in UTM meters
    val area = buffered.select(st_area(st_buffer_metric(col("b"), lit(0.0)))).collect()(0).getDouble(0)
    // area in degrees² is tiny; instead verify the metric roundness: width
    // in lon ≈ 1000 / (111320·cos(lat)), height in lat ≈ 1000/110574·...
    val env = buffered.select(st_envelope(col("b"))).collect()(0).getSeq[Double](0)
    val dLon = env(2) - env(0); val dLat = env(3) - env(1)
    assert(math.abs(dLat - 2 * 1000.0 / 110860.0) < 3e-4, s"dLat=$dLat")
    assert(math.abs(dLon - 2 * 1000.0 / (111320.0 * math.cos(math.toRadians(27.9881)))) < 3e-4,
      s"dLon=$dLon")
    assert(area >= 0) // parses cleanly
  }

  test("set_mask extends the mask from a Mask raster (raster.py:1541-1576)") {
    val dem = RasterGen.tiles(spark)
    val m = TileOps.compareScalar(dem, ">", 48) // true where val > 48
    val masked = RasterOps.applyMask(dem, m)    // keep only cells NOT > 48
    val r = RasterOps.stats(masked).collect()(0)
    var exp = 0L
    for (i <- 0 until 400; j <- 0 until 400
         if RasterGen.valid(i, j) && RasterGen.value(i, j) <= 48) exp += 1
    assert(r.getAs[Long]("n_valid") == exp)
  }

  test("reduce_points windowed mean matches local golden") {
    import spark.implicits._
    val pts = Seq((1L, 10.1, 89.9), (2L, 0.1, 99.9), (3L, 55.5, 44.4))
      .toDF("pid", "x", "y")
    val out = RasterOps.reducePoints(pts, RasterGen.tiles(spark), 1,
      0.25, 0.25, 0, 100, 400, 400, 50, 50)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_valid"), r.getAs[Double]("sum_val"))).toMap
    Seq((1L, 10.1, 89.9), (2L, 0.1, 99.9), (3L, 55.5, 44.4)).foreach { case (pid, x, y) =>
      val ci = math.floor((100 - y) / 0.25).toInt; val cj = math.floor(x / 0.25).toInt
      var n = 0L; var s = 0.0
      for (di <- -1 to 1; dj <- -1 to 1) {
        val i = ci + di; val j = cj + dj
        if (i >= 0 && i < 400 && j >= 0 && j < 400 && RasterGen.valid(i, j)) {
          n += 1; s += RasterGen.value(i, j)
        }
      }
      val (gn, gs) = out(pid)
      assert(gn == n && math.abs(gs - s) < 1e-9, s"pid $pid")
    }
  }

  test("TableCommit: snapshot isolation + time travel + append/overwrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tc").toString + "/t1"
    val v1 = TableCommit.commit(Seq(1, 2, 3).toDF("a"), dir)
    val v2 = TableCommit.commit(Seq(4, 5).toDF("a"), dir)
    assert(v1 == 1 && v2 == 2)
    assert(TableCommit.read(spark, dir).count() == 5)          // latest
    assert(TableCommit.read(spark, dir, 1).count() == 3)       // time travel
    val v3 = TableCommit.commitOverwrite(Seq(9).toDF("a"), dir)
    assert(v3 == 3 && TableCommit.read(spark, dir).count() == 1)
    assert(TableCommit.read(spark, dir, 2).count() == 5)       // old snapshot intact
  }

  test("TableCommit.readIncremental: exactly the appended batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tc").toString + "/t2"
    TableCommit.commit(Seq(1, 2, 3).toDF("a"), dir)
    TableCommit.commit(Seq(4, 5).toDF("a"), dir)
    TableCommit.commit(Seq(6).toDF("a"), dir)
    def inc(from: Int, to: Int = -1) =
      TableCommit.readIncremental(spark, dir, from, to)
        .collect().map(_.getInt(0)).toSet
    assert(inc(0) === Set(1, 2, 3, 4, 5, 6)) // from scratch = full table
    assert(inc(1) === Set(4, 5, 6))
    assert(inc(2) === Set(6))
    assert(inc(3) === Set.empty[Int]) // caught up: empty, schema intact
    assert(TableCommit.readIncremental(spark, dir, 3).schema.fieldNames
      === Array("a"))
    assert(inc(1, 2) === Set(4, 5)) // bounded range
    // an overwrite surfaces as its full replacement contents
    TableCommit.commitOverwrite(Seq(7, 8).toDF("a"), dir)
    assert(inc(3) === Set(7, 8))
  }

  test("TableCommit.compact: fewer files, same rows, old reads intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tc").toString + "/t3"
    (1 to 5).foreach(i => TableCommit.commit(
      Seq(i * 10, i * 10 + 1).toDF("a").repartition(4), dir))
    val before = TableCommit.read(spark, dir)
    val rows = before.collect().map(_.getInt(0)).toSet
    assert(before.inputFiles.length >= 10, "fixture should be fragmented")
    val v = TableCommit.compact(spark, dir, numFiles = 2)
    val after = TableCommit.read(spark, dir)
    assert(after.inputFiles.length <= 2)
    assert(after.collect().map(_.getInt(0)).toSet === rows)
    assert(TableCommit.read(spark, dir, v - 1).collect()
      .map(_.getInt(0)).toSet === rows) // pre-compaction snapshot intact
  }

  test("TableCommit.compact with sortCols clusters by the sort key") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tc").toString + "/t4"
    val pts = (0 until 256).map(i => ((i * 37) % 256, i)).toDF("cell", "v")
    TableCommit.commit(pts.repartition(8), dir)
    TableCommit.compact(spark, dir, numFiles = 4, sortCols = Seq("cell"))
    // range partitioning: per-file cell ranges must be disjoint, so
    // row-group min/max stats can prune a cell-range predicate
    val byFile = TableCommit.read(spark, dir)
      .select(input_file_name().as("f"), col("cell"))
      .groupBy("f").agg(min("cell").as("lo"), max("cell").as("hi"))
      .collect().map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(byFile.length <= 4 && byFile.nonEmpty)
    byFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2,
        s"file ranges overlap: $byFile")
      case _ =>
    }
  }

  test("TableCommit.merge: copy-on-write upsert rewrites only touched dirs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tc").toString + "/t6"
    // three commits with disjoint key ranges = three data dirs
    TableCommit.commit((0 to 99).map(i => (i, s"a$i")).toDF("id", "v"), dir)
    TableCommit.commit((100 to 199).map(i => (i, s"a$i")).toDF("id", "v"), dir)
    TableCommit.commit((200 to 299).map(i => (i, s"a$i")).toDF("id", "v"), dir)
    def dirsOf(v: Int) = java.nio.file.Files.readString(java.nio.file.Paths
      .get(f"$dir/snapshots/v$v%06d.txt")).split("\n").toSet
    val before = dirsOf(3).toSeq.sorted
    // updates hit only the middle dir's range, plus inserts beyond all dirs
    val upd = (Seq((150, "UPD"), (160, "UPD")) ++
      (1000 to 1004).map(i => (i, s"new$i"))).toDF("id", "v")
    val (v4, rewrittenDirs) = TableCommit.merge(spark, dir, upd, "id")
    assert(v4 == 4 && rewrittenDirs == 1)
    val after = dirsOf(4)
    // COW: two of the three dirs carried into the new snapshot BY
    // REFERENCE; the one replaced is exactly the middle-range dir
    assert(after.intersect(before.toSet).size == 2)
    val replaced = before.toSet.diff(after)
    assert(replaced.size == 1)
    val replacedIds = spark.read.parquet(replaced.head)
      .collect().map(_.getInt(0)).toSet
    assert(replacedIds == (100 to 199).toSet)
    val got = TableCommit.read(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got.size == 305) // 300 originals + 5 inserts (updates replace)
    assert(got(150) == "UPD" && got(160) == "UPD" && got(151) == "a151")
    assert(got(1002) == "new1002" && got(0) == "a0" && got(299) == "a299")
    // time travel: pre-merge snapshot unchanged
    val old = TableCommit.read(spark, dir, 3).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(old.size == 300 && old(150) == "a150")
    // pure insert (no range hit): zero dirs rewritten, all carried
    val (v5, rw2) = TableCommit.merge(spark, dir,
      Seq((5000, "x")).toDF("id", "v"), "id")
    assert(v5 == 5 && rw2 == 0)
    assert(dirsOf(5).intersect(after).size == after.size)
    assert(TableCommit.read(spark, dir).count() == 306)
  }

  test("TableCommit commit, commitOverwrite and merge can be retried after a crash before the snapshot") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tc-retry").toString
    def base(table: String): Unit = Seq(0, 100).foreach(lo => TableCommit.commit(
      (lo until lo + 100).map(i => (i, s"a$i")).toDF("id", "v"), table))
    // each op at version 2, with the tag that names its data dir
    val ops: Seq[(String, String, String => Int)] = Seq(
      ("commit", "", t => TableCommit.commit(Seq((500, "c")).toDF("id", "v"), t)),
      ("commitOverwrite", "ow", t => TableCommit.commitOverwrite(Seq((600, "o")).toDF("id", "v"), t)),
      ("merge", "mrg", t => TableCommit.merge(spark, t,
        Seq((150, "UPD"), (700, "new")).toDF("id", "v"), "id")._1))
    for ((name, tag, op) <- ops) {
      val clean = s"$tmp/$name-clean"
      base(clean)
      assert(op(clean) == 3)
      // the first attempt wrote its data dir (rows of its own), then
      // crashed before writing snapshot v3
      val crashed = s"$tmp/$name-crashed"
      base(crashed)
      Seq((-1, "attempt 1"), (150, "attempt 1")).toDF("id", "v")
        .write.parquet(TableCommit.dataDir(crashed, 2, tag))
      assert(TableCommit.currentVersion(crashed) == 2)
      assert(op(crashed) == 3, name)
      def rows(t: String) = TableCommit.read(spark, t).collect().map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      assert(rows(crashed) == rows(clean), name)
    }
  }

  /** Data dirs of snapshot `v` of `table`. */
  private def snapshot(table: String, v: Int): Seq[String] =
    java.nio.file.Files.readString(java.nio.file.Paths
      .get(f"$table/snapshots/v$v%06d.txt")).split("\n").toSeq

  test("TableCommit and Lineage start no metadata jobs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tc-jobs").toString
    val dir = s"$tmp/t"
    Seq(0, 100, 200).foreach(lo => TableCommit.commit(
      (lo until lo + 100).map(i => (i, s"a$i")).toDF("id", "v"), dir))
    // building a read plans from footers: no schema-inference job
    val (_, readJobs) = countJobs {
      TableCommit.read(spark, dir)
      TableCommit.read(spark, dir, 1)
      TableCommit.readIncremental(spark, dir, 1)
      TableCommit.readIncremental(spark, dir, 3) // empty diff
    }
    assert(readJobs == 0, s"building reads started $readJobs jobs")
    // ranges from footers, touched dirs in one job, then the rewrite
    val ((v, rewritten), mergeJobs) = countJobs(TableCommit.merge(spark, dir,
      Seq((150, "UPD"), (1000, "new")).toDF("id", "v"), "id"))
    assert(v == 4 && rewritten == 1)
    assert(mergeJobs <= 5, s"merge started $mergeJobs jobs")
    // a fresh checkpointed run: one aggregate (the manifest), the data
    // write and the manifest write
    val df = spark.range(1000).select(col("id"),
      (col("id") % 8).as("bucket"), (col("id") * 31).as("cell"))
    val ((n, t), lineageJobs) = countJobs(Lineage.runWithCheckpoint(spark, df, "bucket", s"$tmp/lin"))
    assert(n == 8 && t == 8)
    assert(lineageJobs <= 4, s"a fresh Lineage run started $lineageJobs jobs")
  }

  test("TableCommit.merge: a string key and a dir without footer stats equal a brute-force upsert") {
    import spark.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("tc-merge").toString
    def rows(lo: Int) = (lo until lo + 50).map(i => (f"k$i%03d", i.toDouble))
    def upsert(base: Seq[(String, Double)], upd: Seq[(String, Double)]) =
      (base.filterNot(r => upd.exists(_._1 == r._1)) ++ upd).map(r => Seq[Any](r._1, r._2)).toSet
    val upd = Seq(("k075", -1.0), ("k120", -2.0), ("zzz", -3.0))

    // string key, every dir with stats: only the dirs holding k075 and k120
    val strTable = s"$tmp/str"
    Seq(0, 50, 100).foreach(lo => TableCommit.commit(rows(lo).toDF("k", "x"), strTable))
    val (_, rwStr) = TableCommit.merge(spark, strTable, upd.toDF("k", "x"), "k")
    assert(rwStr == 2)
    assert(rowSet(TableCommit.read(spark, strTable)) == upsert(rows(0) ++ rows(50) ++ rows(100), upd))

    // the third dir is written with column statistics off: its footers give
    // no range, so it counts as touched and is rewritten
    val table = s"$tmp/nostats"
    Seq(0, 50).foreach(lo => TableCommit.commit(rows(lo).toDF("k", "x"), table))
    val bare = s"$table/data/no-stats"
    rows(100).toDF("k", "x").write.option("parquet.column.statistics.enabled", "false").parquet(bare)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$table/snapshots/v000003.txt"),
      (snapshot(table, 2) :+ bare).mkString("\n"))
    val conf = spark.sparkContext.hadoopConfiguration
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(bare)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).foreach(c =>
        assert(c.getStatistics == null || !c.getStatistics.hasNonNullValue, s"$f has stats"))
      finally reader.close()
    }
    val (v, rw) = TableCommit.merge(spark, table, Seq(("k010", -1.0)).toDF("k", "x"), "k")
    assert(v == 4 && rw == 2) // the hit dir and the one without stats
    assert(!snapshot(table, 4).contains(bare) && snapshot(table, 4).size == 2)
    assert(rowSet(TableCommit.read(spark, table)) ==
      upsert(rows(0) ++ rows(50) ++ rows(100), Seq(("k010", -1.0))))
  }

  test("TableCommit and Lineage read schemas equal Spark's inferred ones") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tc-schema").toString
    val dir = s"$tmp/t"
    // nested, non-nullable input fields: Spark reads every field back nullable
    Seq(1, 2, 3).foreach(i => TableCommit.commit(
      Seq((i, s"n$i", Seq(i.toDouble), (i.toLong, Option(s"s$i")))).toDF("id", "name", "arr", "st"), dir))
    def inferred(dirs: Seq[String]) = spark.read.parquet(dirs: _*).schema
    assert(TableCommit.read(spark, dir).schema == inferred(snapshot(dir, 3)))
    assert(TableCommit.read(spark, dir, 1).schema == inferred(snapshot(dir, 1)))
    assert(TableCommit.readIncremental(spark, dir, 1).schema == inferred(snapshot(dir, 3).drop(1)))
    assert(TableCommit.readIncremental(spark, dir, 3).schema == inferred(snapshot(dir, 3)))
    val v = TableCommit.compact(spark, dir, numFiles = 2)
    assert(TableCommit.read(spark, dir).schema == inferred(snapshot(dir, v)))
    // the manifest: read with its explicit schema, and written with the
    // column order and types of the planned manifest aggregate
    val df = spark.range(100).select((col("id") % 4).as("bucket"), (col("id") * 7).as("cell"))
    Lineage.runWithCheckpoint(spark, df, "bucket", s"$tmp/lin")
    val planned = s"$tmp/planned"
    Lineage.manifest(df, "bucket").write.parquet(planned)
    assert(inferred(Seq(s"$tmp/lin/_manifest")) == inferred(Seq(planned)))
    assert(spark.read.schema(Lineage.manifest(df, "bucket").schema)
      .parquet(s"$tmp/lin/_manifest").schema == inferred(Seq(s"$tmp/lin/_manifest")))
  }

  test("TableCommit.expireSnapshots: reaps orphaned dirs, keeps live ones") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tc").toString + "/t5"
    TableCommit.commit(Seq(1).toDF("a"), dir)
    TableCommit.commit(Seq(2).toDF("a"), dir)
    TableCommit.commitOverwrite(Seq(3).toDF("a"), dir) // orphans v1+v2 dirs
    TableCommit.commit(Seq(4).toDF("a"), dir)
    val dead = TableCommit.expireSnapshots(dir, keep = 2)
    // v1/v2's two data dirs are unreferenced by v3/v4 → deleted
    assert(dead.length === 2)
    dead.foreach(d => assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(d)), s"$d not deleted"))
    assert(TableCommit.read(spark, dir).collect().map(_.getInt(0)).toSet
      === Set(3, 4))
    assert(TableCommit.read(spark, dir, 3).collect().map(_.getInt(0)).toSet
      === Set(3)) // kept snapshot still time-travels
    intercept[Exception] { // expired snapshot is gone by design
      TableCommit.read(spark, dir, 1).collect()
    }
  }

  test("TableCommit.expireSnapshots: a second expire walks only the snapshots left") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("tc").toString + "/t6"
    def rows() = TableCommit.read(spark, dir).collect().map(_.getInt(0)).toSet
    TableCommit.commit(Seq(1).toDF("a"), dir)
    TableCommit.commit(Seq(2).toDF("a"), dir)
    assert(TableCommit.expireSnapshots(dir, keep = 1).isEmpty) // v2 lists both dirs
    TableCommit.commit(Seq(3).toDF("a"), dir)
    assert(TableCommit.expireSnapshots(dir, keep = 1).isEmpty) // v1 is gone already
    assert(rows() === Set(1, 2, 3))
    val older = TableCommit.read(spark, dir).inputFiles.map(f => Paths.get(new java.net.URI(f))
      .getParent.toString).toSet
    TableCommit.commitOverwrite(Seq(4).toDF("a"), dir) // orphans the three dirs
    val dead = TableCommit.expireSnapshots(dir, keep = 1)
    assert(dead.map(d => Paths.get(d).toAbsolutePath.toString).toSet === older)
    dead.foreach(d => assert(!Files.exists(Paths.get(d)), s"$d not deleted"))
    assert(rows() === Set(4))
    TableCommit.commit(Seq(5).toDF("a"), dir)
    assert(TableCommit.expireSnapshots(dir, keep = 2).isEmpty)
    assert(rows() === Set(4, 5))
    assert(TableCommit.currentVersion(dir) === 5)
  }

  test("TableCommit snapshots are renamed into place: a stray temp file is no version") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("tc").toString + "/t7"
    TableCommit.commit(Seq(1).toDF("a"), dir)
    TableCommit.merge(spark, dir, Seq(2).toDF("a"), "a")
    TableCommit.commitOverwrite(Seq(3).toDF("a"), dir)
    val snaps = Paths.get(dir, "snapshots")
    def names() = { val s = Files.list(snaps); try s.toArray.map(_.toString.split('/').last).toSet finally s.close() }
    assert(names() === Set("v000001.txt", "v000002.txt", "v000003.txt"), "a temp file was left")
    // a snapshot file has the mode of any file the process writes (its
    // umask), not the owner-only mode of a JDK temp file
    val plain = Files.writeString(Paths.get(dir, "plain.txt"), "x")
    def mode(p: java.nio.file.Path) = Files.getPosixFilePermissions(p)
    assert(names().forall(n => mode(snaps.resolve(n)) == mode(plain)), "a snapshot's mode differs")
    // what a crash between the temp write and its rename leaves: a whole
    // or partial listing under a temp name
    Files.writeString(snaps.resolve("_tmp4242.txt"), s"$dir/data/nowhere")
    assert(TableCommit.currentVersion(dir) === 3)
    assert(TableCommit.read(spark, dir).collect().map(_.getInt(0)).toSet === Set(3))
    assert(TableCommit.commit(Seq(4).toDF("a"), dir) === 4)
    assert(TableCommit.read(spark, dir).collect().map(_.getInt(0)).toSet === Set(3, 4))
    assert(TableCommit.expireSnapshots(dir, keep = 1).length === 2) // v1, v2's dirs; not the stray
    assert(TableCommit.read(spark, dir).collect().map(_.getInt(0)).toSet === Set(3, 4))
    // expire reaps the temp files of taken versions (<= 4, a crashed
    // writer's); the next version's may be in flight, and a name that does
    // not parse is not a temp file's
    val stale = Seq(2, 4).map(v => s"_tmp-v$v-${java.util.UUID.randomUUID}.txt")
    val inFlight = s"_tmp-v5-${java.util.UUID.randomUUID}.txt"
    (stale :+ inFlight).foreach(n => Files.writeString(snaps.resolve(n), s"$dir/data/nowhere"))
    assert(TableCommit.expireSnapshots(dir, keep = 1).isEmpty)
    assert(names() === Set("v000004.txt", "_tmp4242.txt", inFlight))
    assert(TableCommit.read(spark, dir).collect().map(_.getInt(0)).toSet === Set(3, 4))
  }

  /** A fresh table at version 3: two commits, then an overwrite that
    * orphans their dirs, which it returns. */
  private def orphaningTable(name: String): (String, Seq[String]) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tc").toString + "/" + name
    TableCommit.commit(Seq(1).toDF("a"), dir)
    TableCommit.commit(Seq(2).toDF("a"), dir)
    TableCommit.commitOverwrite(Seq(3).toDF("a"), dir)
    (dir, Seq(TableCommit.dataDir(dir, 0, ""), TableCommit.dataDir(dir, 1, "")))
  }
  private def exists(d: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(d))
  private def rows(dir: String) = TableCommit.read(spark, dir).collect().map(_.getInt(0)).toSet

  test("TableCommit.expireSnapshots: reaps the dirs of snapshot files already deleted") {
    val (dir, orphans) = orphaningTable("t8")
    // what an expire that crashed between its snapshot deletes and its dir
    // deletes leaves: the orphans, with no snapshot naming them
    Seq(1, 2).foreach(v => java.nio.file.Files.delete(
      java.nio.file.Paths.get(f"$dir/snapshots/v$v%06d.txt")))
    assert(orphans.forall(exists))
    assert(TableCommit.expireSnapshots(dir, keep = 1).toSet === orphans.toSet)
    assert(!orphans.exists(exists))
    assert(rows(dir) === Set(3))
  }

  test("TableCommit.expireSnapshots: keeps the next version's dir, which may be in flight") {
    import spark.implicits._
    val (dir, orphans) = orphaningTable("t9")
    val inFlight = TableCommit.dataDir(dir, 3, "")
    Seq(9).toDF("a").write.parquet(inFlight)
    assert(TableCommit.expireSnapshots(dir, keep = 1).toSet === orphans.toSet)
    assert(exists(inFlight))
    assert(TableCommit.commit(Seq(4).toDF("a"), dir) === 4) // replaces the in-flight dir
    assert(rows(dir) === Set(3, 4))
  }

  test("TableCommit.expireSnapshots: reaps an abandoned attempt at an older version") {
    import spark.implicits._
    val (dir, orphans) = orphaningTable("t10")
    val abandoned = TableCommit.dataDir(dir, 1, "mrg")
    Seq(9).toDF("a").write.parquet(abandoned)
    assert(TableCommit.expireSnapshots(dir, keep = 1).toSet === (orphans :+ abandoned).toSet)
    assert(!exists(abandoned))
    assert(rows(dir) === Set(3))
  }
}
