package graft

import org.apache.spark.sql.functions._
import graft.io.GeoTables
import graft.ops._

/** Round-5 specs: Knn ring-expansion + bounded fallback, sessionize
  * late-beyond-watermark drop, Similarity count-memo lifecycle,
  * split_bands. */
class Ops12Spec extends SparkSpec {

  // level 8 on the [0,128)² default domain → cellSize 0.5; default
  // ringK=2 explores ±1.0 around the owning cell, so a point exactly
  // 2.0 away is invisible at ring 2 (its cell is 4 cells out) and found
  // at ring 4 with bound 2.25 — the expansion round resolves it without
  // any fallback.
  test("knn: ring expansion resolves a ring-2 miss without fallback") {
    import spark.implicits._
    val pts = Seq((1L, 12.25, 10.25)).toDF("point_id", "x", "y")
    val q = Seq((1L, 10.25, 10.25)).toDF("qid", "qx", "qy")
    // force the expansion path: with the default threshold a 1-row point
    // table legitimately short-circuits to the broadcast nested loop
    spark.conf.set("spark.graft.knn.broadcastRows", "0")
    try {
      val r = Knn.nearest(q, pts, GeoTables.KnnLevel).collect()
      assert(r.length == 1 && r(0).getDouble(1) == 4.0)
      assert(Knn.lastFallback.isEmpty, "no nested-loop fallback expected")
    } finally spark.conf.unset("spark.graft.knn.broadcastRows")
  }

  test("knn: a broadcast-small point side short-circuits ring doubling") {
    import spark.implicits._
    // same geometry as above, default threshold: round 0 misses, the
    // 1-row point count decides the nested loop immediately (no k=4/k=8
    // ring explodes), and the result is identical
    val pts = Seq((1L, 12.25, 10.25)).toDF("point_id", "x", "y")
    val q = Seq((1L, 10.25, 10.25)).toDF("qid", "qx", "qy")
    val r = Knn.nearest(q, pts, GeoTables.KnnLevel).collect()
    assert(r.length == 1 && r(0).getDouble(1) == 4.0)
    assert(Knn.lastFallback == Some((-1L, 1L, false)),
      s"small points must take the lazy nested loop, got ${Knn.lastFallback}")
  }

  test("knn: sparse corpus broadcasts the SMALL points side, stays exact") {
    import spark.implicits._
    // 3 points in a domain where 40 queries sit ≥15 units from any of
    // them — the ring round comes up empty for every query, so the
    // nested-loop fallback resolves them; it must broadcast the 3-row
    // points side, never the 40-row unresolved query set.
    val pts = Seq((1L, 5.0, 5.0), (2L, 95.0, 95.0), (3L, 50.0, 5.0))
      .toDF("point_id", "x", "y")
    val ql = (0 until 40).map(i =>
      (i.toLong, 20.0 + (i % 8) * 5.0, 30.0 + (i / 8) * 8.0))
    val q = ql.toDF("qid", "qx", "qy")
    val ptl = Seq((5.0, 5.0), (95.0, 95.0), (50.0, 5.0))
    // default threshold: the lazy small-points branch; threshold 0: the
    // eager ring rounds, then the counted fallback with all 40 queries
    // left over (too many to broadcast under a 0-row threshold)
    Seq(None -> Some((-1L, 3L, false)), Some("0") -> Some((40L, 3L, false)))
      .foreach { case (thr, wantFallback) =>
        thr.foreach(spark.conf.set("spark.graft.knn.broadcastRows", _))
        try {
          val got = Knn.nearest(q, pts, GeoTables.KnnLevel).collect()
            .map(r => r.getLong(0) -> r.getDouble(1)).toMap
          assert(Knn.lastFallback == wantFallback,
            s"threshold $thr: fallback ${Knn.lastFallback}, want $wantFallback")
          assert(got.size == 40)
          ql.foreach { case (id, qx, qy) =>
            val want = ptl.map { case (x, y) =>
              (x - qx) * (x - qx) + (y - qy) * (y - qy) }.min
            assert(got(id) == want, s"threshold $thr, qid $id")
          }
        } finally spark.conf.unset("spark.graft.knn.broadcastRows")
      }
  }

  test("knn: nearestValue sparse corpus — expansion + fallback keep the tiebreak") {
    import spark.implicits._
    // two points equidistant from the query and far beyond every ring
    // round: the fallback must still apply the global min-value tiebreak
    val pts = Seq((30.0, 50.0, 9.0), (70.0, 50.0, 3.0))
      .toDF("x", "y", "value")
    val q = Seq((1L, 50.0, 50.0)).toDF("qid", "qx", "qy")
    // 2 points are broadcast-small: lazy nested loop broadcasting the
    // point side; under a 0-row threshold the eager rounds miss and the
    // counted fallback resolves the one leftover query
    Seq(None -> Some((-1L, 2L, false)), Some("0") -> Some((1L, 2L, false)))
      .foreach { case (thr, wantFallback) =>
        thr.foreach(spark.conf.set("spark.graft.knn.broadcastRows", _))
        try {
          val r = Knn.nearestValue(q, pts, GeoTables.KnnLevel).collect()
          assert(r.length == 1)
          assert(r(0).getDouble(1) == 400.0 && r(0).getDouble(2) == 3.0, s"threshold $thr")
          assert(Knn.lastFallback == wantFallback,
            s"threshold $thr: fallback ${Knn.lastFallback}, want $wantFallback")
        } finally spark.conf.unset("spark.graft.knn.broadcastRows")
      }
    // a cutoff call after the calls above reports its own decision (no
    // count, queries side broadcast), not the counted fallback before it;
    // both points lie inside the cutoff ring, so the tiebreak holds there too
    val r = Knn.nearestValue(q, pts, GeoTables.KnnLevel, cutoff = Some(25.0)).collect()
    assert(r.length == 1 && r(0).getDouble(1) == 400.0 && r(0).getDouble(2) == 3.0)
    assert(Knn.lastFallback == Some((-1L, -1L, true)),
      s"cutoff call: fallback ${Knn.lastFallback}")
  }

  test("sessionize: late-beyond-watermark events are dropped and counted") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.{Ev, OpenSession}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    def st(s: Option[OpenSession], watermarkMs: Long) =
      TestGroupState.create[OpenSession](
        s.fold(Optional.empty[OpenSession]())(Optional.of),
        GroupStateTimeout.EventTimeTimeout, 0L,
        Optional.of(java.lang.Long.valueOf(watermarkMs)), false)

    // open session at lastTs=10_000s, watermark at 9_000s: an 8_000s
    // event is below the watermark → deterministically discarded and
    // counted; the 10_500s event extends the session normally.
    val acc = spark.sparkContext.longAccumulator("lateDropped")
    val s1 = st(Some(OpenSession(1, 10_000L, 2, 300)), 9_000_000L)
    val out = Sessionize.step(1800L, 3600L, Some(acc))(7L, Iterator(
      Ev(7L, new java.sql.Timestamp(8_000_000L), 5L, 100),
      Ev(7L, new java.sql.Timestamp(10_500_000L), 6L, 200)), s1).toSeq
    assert(out.isEmpty)
    assert(s1.get == OpenSession(1, 10_500L, 3, 500),
      "only the on-time event must fold into the open session")
    assert(acc.value == 1L)

    // first batch: watermark is 0 → nothing is dropped
    val s2 = st(None, 0L)
    assert(Sessionize.step(1800L, 3600L, Some(acc))(8L, Iterator(
      Ev(8L, new java.sql.Timestamp(1_000_000L), 1L, 50)), s2).isEmpty)
    assert(s2.get == OpenSession(1, 1_000L, 1, 50))
    assert(acc.value == 1L, "on-time events must not increment the counter")
  }

  test("similarity: count memo purges entries from other (stopped) contexts") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L).toDF("v")
    assert(Similarity.countMemoGet(df) == 3L)
    val base = Similarity.countMemoSize
    // a key from a foreign (e.g. stopped) application id must be evicted
    // on the next access, not pinned for the JVM lifetime
    Similarity.countMemoInject("application_dead_0000", df, 99L)
    assert(Similarity.countMemoSize == base + 1)
    assert(Similarity.countMemoGet(df) == 3L)
    assert(Similarity.countMemoSize == base,
      "foreign-app entry must be purged on access")
  }

  // SURVEY §7.4.8: bit-parity with scipy's Clough–Tocher is impossible
  // halo-locally (its vertex gradients are a GLOBAL solve), but both
  // interpolants are O(h³)-accurate on smooth fields — so they converge
  // to each other at third order. Pin the third-order signature: halving
  // the site spacing must shrink our max interior error ≈8×.
  test("cubic gridding: third-order convergence on a smooth field") {
    import spark.implicits._
    def truth(x: Double, y: Double): Double = math.sin(x / 8.0) * math.cos(y / 10.0)
    def maxInteriorErr(spacing: Double): Double = {
      val n = (100.0 / spacing).toInt
      val sites = (for (i <- 0 to n; j <- 0 to n) yield {
        val x = j * spacing; val y = i * spacing
        (x, y, truth(x, y))
      }).toDF("x", "y", "value")
      val cells = graft.ops.RasterOps.cells(Gridding.delaunayGrid(
        sites, 0.5, 0.5, 0, 100, 200, 200, 50, 50,
        method = "cubic", distNodataPixel = 2 * spacing + 1))
        .collect()
      var worst = 0.0
      cells.foreach { r =>
        val i = r.getInt(0); val j = r.getInt(1)
        val cx = 0.25 + j * 0.5; val cy = 100 - 0.25 - i * 0.5
        // interior only: hull-edge triangles see one-sided gradient
        // neighborhoods (larger, first-order-in-h error — same as scipy's
        // own boundary behavior)
        if (cx >= 8 && cx <= 92 && cy >= 8 && cy <= 92) {
          val e = math.abs(r.getDouble(2) - truth(cx, cy))
          if (e > worst) worst = e
        }
      }
      worst
    }
    val e4 = maxInteriorErr(4.0)
    val e2 = maxInteriorErr(2.0)
    assert(e4 < 0.02, s"h=4 interior error sane: $e4")
    assert(e2 * 5.0 < e4,
      s"halving h must shrink the error ≥5× (third-order ⇒ ≈8×): $e4 → $e2")
  }

  test("streaming ingest dedup: bounded-state dropDuplicatesWithinWatermark, first wins, exactly-once resume") {
    import graft.streaming.DedupStream
    val tmp = java.nio.file.Files.createTempDirectory("dedup-stream")
    val evDir = s"$tmp/events"; val ck = s"$tmp/ck"; val sink = s"$tmp/sink"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(evDir))

    def file(name: String, rows: Seq[(Long, Long, Long, String)], modSec: Long): Unit = {
      import spark.implicits._
      val d = java.nio.file.Files.createTempDirectory("dedup-slice").toString
      rows.toDF("event_id", "tsSec", "user_id", "event_type")
        .select(col("event_id"), timestamp_seconds(col("tsSec")).as("ts"),
          col("user_id"), col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(d)
      val part = new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(evDir, name)
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(modSec * 1000))
    }

    // batch 1: an in-batch duplicate (u1/click ×2) and a distinct key
    file("a.parquet", Seq((1L, 1000L, 1L, "click"), (2L, 1200L, 1L, "click"),
      (3L, 1100L, 2L, "view")), 1000000)
    // batch 2: a CROSS-BATCH duplicate (u1/click again, within the 1 h
    // window of its first occurrence) and a new key
    file("b.parquet", Seq((4L, 1500L, 1L, "click"), (5L, 2000L, 3L, "click")), 1000060)

    val keys = Seq("user_id", "event_type")
    DedupStream.dedupAvailableNow(spark, evDir, keys, "1 hour", ck, sink,
      maxFilesPerTrigger = Some(1))
    val p1 = spark.read.parquet(sink)
      .select(col("user_id"), col("event_type"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // one row per key; the FIRST-processed occurrence wins (event 1, not 2/4)
    assert(p1 == Set((1L, "click", 1L), (2L, "view", 3L), (3L, "click", 5L)), p1.toString)

    // phase 2 (restart): another duplicate of u2/view plus a new key —
    // resume must drop the dup against CARRIED state and not re-emit
    // anything from phase 1
    file("c.parquet", Seq((6L, 1150L, 2L, "view"), (7L, 3000L, 4L, "buy")), 1000120)
    DedupStream.dedupAvailableNow(spark, evDir, keys, "1 hour", ck, sink,
      maxFilesPerTrigger = Some(1))
    val p2 = spark.read.parquet(sink)
      .select(col("user_id"), col("event_type"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(p2 == p1 + ((4L, "buy", 7L)), p2.toString)

    // batch equivalence: same keys as batch-mode dropDuplicates over all files
    val batchKeys = spark.read.parquet(evDir).dropDuplicates(keys)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(p2.map(t => (t._1, t._2)) == batchKeys)
  }

  test("streaming ingest dedup: out-of-event-time backfill rows are KEPT, throttled or not") {
    // pins the documented DedupStream multi-batch ordering note: files
    // drain in MODIFICATION-time order, so a later file can carry event
    // times behind the advanced watermark — dropDuplicatesWithinWatermark
    // must still EMIT those rows (the watermark bounds dedup state, it is
    // not a late-row filter), in both the throttled and single-batch drains
    import graft.streaming.DedupStream
    def mk(): (String, String, String) = {
      val tmp = java.nio.file.Files.createTempDirectory("dedup-late")
      val ev = s"$tmp/events"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ev))
      (ev, s"$tmp/ck", s"$tmp/sink")
    }
    def file(evDir: String, name: String, rows: Seq[(Long, Long, Long, String)],
             modSec: Long): Unit = {
      import spark.implicits._
      val d = java.nio.file.Files.createTempDirectory("dedup-late-slice").toString
      rows.toDF("event_id", "tsSec", "user_id", "event_type")
        .select(col("event_id"), timestamp_seconds(col("tsSec")).as("ts"),
          col("user_id"), col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(d)
      val part = new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(evDir, name)
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(modSec * 1000))
    }
    val keys = Seq("user_id", "event_type")
    // newer file (recent event times) arrives FIRST, old backfill second
    def users(sink: String) = spark.read.parquet(sink)
      .select(col("user_id")).collect().map(_.getLong(0)).toSet

    val (ev1, ck1, sink1) = mk()
    file(ev1, "new.parquet", Seq((1L, 100000L, 10L, "click")), 2000000)
    file(ev1, "old.parquet", Seq((2L, 1000L, 11L, "click")), 2000060)
    DedupStream.dedupAvailableNow(spark, ev1, keys, "1 hour", ck1, sink1,
      maxFilesPerTrigger = Some(1))
    assert(users(sink1) == Set(10L, 11L),
      s"throttled drain must KEEP the late-backfill row, got ${users(sink1)}")

    val (ev2, ck2, sink2) = mk()
    file(ev2, "new.parquet", Seq((1L, 100000L, 10L, "click")), 2000000)
    file(ev2, "old.parquet", Seq((2L, 1000L, 11L, "click")), 2000060)
    DedupStream.dedupAvailableNow(spark, ev2, keys, "1 hour", ck2, sink2)
    assert(users(sink2) == Set(10L, 11L),
      s"single-batch drain must keep both rows, got ${users(sink2)}")
  }

  test("split_bands: one single-band raster per band, values intact") {
    import spark.implicits._
    import graft.io.RasterGen
    val multi = RasterGen.tiles(spark)
      .union(RasterGen.tiles2(spark).map(_.copy(raster_id = "dem", band = 1)))
    val m = TileOps.splitBands(multi)
    assert(m.keySet == Set(0, 1))
    assert(rowSet(RasterOps.cells(m(0))) ==
           rowSet(RasterOps.cells(RasterGen.tiles(spark))))
    assert(rowSet(RasterOps.cells(m(1))) ==
           rowSet(RasterOps.cells(RasterGen.tiles2(spark))))
  }
}
