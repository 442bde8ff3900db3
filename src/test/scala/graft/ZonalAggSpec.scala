package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions.st_contains_xy
import org.apache.spark.sql.catalyst.InternalRow
import graft.functions.GeoFunctions
import graft.geo.{CellIndex, SplitMix64}
import graft.io.GeoTables
import graft.ops.{BenchKernel, CellPoints, SpatialJoin}

/** `SpatialJoin.zonalAgg` on both of its paths — fused (the point side
  * under the broadcast threshold) and the join + aggregate fallback
  * (threshold -1) — against a brute-force reference. */
class ZonalAggSpec extends SparkSpec {

  /** Every point against every polygon row by `containsXy`, with no cell
    * cover; a row id keeps equal polygon rows apart. */
  private def reference(points: DataFrame, polys: DataFrame, keys: Seq[Column],
                        value: Column): Map[Seq[Any], Int] = {
    val pts = points.select(Seq(col("x"), col("y"), value.cast("double").as("v")) ++ keys: _*)
    val keyNames = pts.columns.drop(3).toSeq
    multiset(pts.crossJoin(polys.withColumn("rid", monotonically_increasing_id()))
      .where(st_contains_xy(col("wkt"), col("x"), col("y")))
      .groupBy((Seq("rid") ++ polys.columns ++ keyNames).map(col): _*)
      .agg(count(lit(1)).as("n_pts"), sum(col("v")).as("sum_val"))
      .select((polys.columns.toSeq ++ keyNames :+ "n_pts" :+ "sum_val").map(col): _*))
  }

  /** The fused and the fallback result, each checked to have taken its
    * path: the fused plan is one RDD scan, with no join and no aggregate. */
  private def bothPaths(points: DataFrame, polys: DataFrame, keys: Seq[Column], value: Column,
                        level: Int = GeoTables.JoinLevel): (Map[Seq[Any], Int], Map[Seq[Any], Int]) = {
    def run() = SpatialJoin.zonalAgg(points, polys, level, keys, value)
    val fused = run()
    val fusedPlan = fused.queryExecution.executedPlan.toString
    assert(fusedPlan.contains("ExistingRDD") && !fusedPlan.contains("Join") &&
      !fusedPlan.contains("Aggregate"), fusedPlan)
    withBroadcastThreshold("-1") {
      val fallback = run()
      assert(!fallback.queryExecution.executedPlan.toString.contains("ExistingRDD"))
      assert(fallback.schema.map(f => (f.name, f.dataType)) == fused.schema.map(f => (f.name, f.dataType)))
      (multiset(fused), multiset(fallback))
    }
  }

  test("zonalAgg on the sf0.001 kernel docs: fused == fallback == brute force") {
    val docs = BenchKernel.prepareInput(spark, sf001)
    val spans = docs.select(
      substring(col("doc_id"), 5, 9).cast("long").as("doc_key"), explode(col("spans")).as("s"))
    val polys = GeoTables.polySpans(spans, col("doc_key"))
    val pts = GeoTables.pointSpans(spans, col("doc_key"))
    val keys = BenchKernel.tileOf("x", "y")
    val expected = reference(pts, polys, keys, col("value"))
    val (fused, fallback) = bothPaths(pts, polys, keys, col("value"))
    assert(expected.nonEmpty)
    assert(fused == expected, "fused zonalAgg differs from the brute-force reference")
    assert(fallback == expected, "fallback zonalAgg differs from the brute-force reference")
  }

  test("BenchKernel.run metrics equal a per-partition groupBy, with and without empty partitions") {
    // the reference: each tile row's level-4 histogram cell by the cell_of
    // UDF, grouped on (spark_partition_id(), cell), then summed and counted
    def reference(docs: DataFrame): (Long, Long) = {
      val m = BenchKernel.assigned(docs, GeoTables.JoinLevel)
        .withColumn("cell", GeoFunctions.cell_of(
          col("tc") * 12.5 + 6.25, lit(100.0) - col("tr") * 12.5 - 6.25, lit(4)))
        .groupBy(spark_partition_id(), col("cell")).count()
        .agg(sum(col("count")), count(lit(1))).first()
      (m.getLong(0), m.getLong(1))
    }
    def check(docs: DataFrame, input: String): Unit = {
      val expected = reference(docs)
      assert(expected._1 > 0 && expected._2 > 0, input)
      assert(BenchKernel.run(spark, docs) == expected, input)
    }
    val docs = BenchKernel.prepareInput(spark, sf001)
    check(docs, "default threshold")
    withBroadcastThreshold("-1")(check(docs, "threshold -1"))

    // the docs in 6 partitions of which at most 2 hold rows: the fused
    // probe then has empty partitions, and an empty partition adds no
    // metric row
    val sparse = docs.repartition(6, col("doc_id").endsWith("0"))
    val perPartition = BenchKernel.tiles(sparse, GeoTables.JoinLevel)
      .queryExecution.toRdd.mapPartitions(rows => Iterator(rows.size)).collect()
    assert(perPartition.length == 6 && perPartition.contains(0) && perPartition.exists(_ > 0),
      perPartition.mkString(","))
    check(sparse, "empty probe partitions")
  }

  test("zonalAgg: non-rectangles, null values, edges and corners, duplicate and empty polygons") {
    import spark.implicits._
    // an integer grid, so points lie exactly on the box edges and corners
    // and on the triangle's sloped edges; every fifth value is null, and
    // one point has no x
    val grid = for (x <- 0 to 20; y <- 0 to 20)
      yield (Option(x.toDouble), y.toDouble, Option((x * 3 + y).toDouble).filter(_ => (x + y) % 5 != 0), x % 3)
    val pts = (grid ++ Seq(
        (Option(30.5), 30.5, Option.empty[Double], 0), // the only point of zone 6
        (Option.empty[Double], 5.5, Option(1.0), 0)))
      .toDF("x", "y", "value", "k")
    val box = "POLYGON ((2 2, 8 2, 8 8, 2 8, 2 2))"
    val polys = Seq(
      (1, box),
      (1, box), // a duplicate row: its own groups
      (2, "POLYGON ((10 0, 20 0, 15 10, 10 0))"), // triangle: the JTS refine
      (3, "POLYGON ((0 10, 6 10, 6 13, 3 13, 3 16, 0 16, 0 10))"), // L-shape
      (5, "POLYGON ((100 100, 101 100, 101 101, 100 101, 100 100))"), // no hit
      (6, "POLYGON ((30 30, 31 30, 31 31, 30 31, 30 30))")) // all values null
      .toDF("zone_id", "wkt")
    // an int key, a double key whose -0.0 and 0.0 are one group, no key
    val signed = when(col("k") === 0, lit(-0.0)).otherwise(lit(0.0)).as("z")
    for (keys <- Seq(Seq(col("k")), Seq(col("k"), signed), Nil)) {
      val expected = reference(pts, polys, keys, col("value"))
      val (fused, fallback) = bothPaths(pts, polys, keys, col("value"))
      assert(fused == expected, s"fused, keys $keys")
      assert(fallback == expected, s"fallback, keys $keys")
      val rows = expected.keys.toSeq
      assert(rows.forall(_.head != 5), "a polygon with no hit has no row")
      assert(expected.filter(_._1.head == 1).values.forall(_ == 2), "a duplicate polygon row doubles")
      assert(rows.exists(r => r.head == 2) && rows.exists(r => r.head == 3))
      assert(rows.filter(_.head == 6).map(_.takeRight(2)) == Seq(Seq(1L, null)),
        "a group of null values counts them and has a null sum")
    }
    // box interior only: 5 x 5 grid points, edges and corners excluded
    assert(reference(pts, polys.where(col("zone_id") === 1).limit(1), Nil, lit(1)).keys.toSeq
      .map(_.takeRight(2)) == Seq(Seq(25L, 25.0)))

    // an empty point side gives no rows on either path
    val none = pts.where(lit(false))
    assert(bothPaths(none, polys, Seq(col("k")), col("value")) == ((Map.empty, Map.empty)))
  }

  /** A probe index built straight from (x, y, value) points at `level`,
    * with no key, as [[SpatialJoin.zonalAgg]] builds it. */
  private def index(points: Seq[(Double, Double, Option[Double])], level: Int): CellPoints =
    CellPoints.build(Array(CellPoints.part(points.iterator.map { case (x, y, v) =>
      InternalRow(CellIndex.cellOf(x, y, level), x, y, v.getOrElse(null))
    }, Nil)))

  /** The probe's case for each cover cell of `wkt` that holds two or more
    * of `points`, worked out from those points: "skip" if their bounds miss
    * the open envelope, "totals" if `wkt` is a rectangle that holds them
    * strictly, else "loop". A NaN coordinate makes the bounds NaN. */
  private def cellCases(points: Seq[(Double, Double)], wkt: String, level: Int): Set[String] = {
    val (e0, e1, e2, e3, rect) = GeoFunctions.envRect(wkt)
    val cover = CellIndex.cover(e0, e1, e2, e3, level).toSet
    points.groupBy { case (x, y) => CellIndex.cellOf(x, y, level) }.collect {
      case (c, ps) if ps.size > 1 && cover(c) =>
        val (xs, ys) = ps.unzip
        val (x0, x1) = (xs.reduce((a, b) => math.min(a, b)), xs.reduce((a, b) => math.max(a, b)))
        val (y0, y1) = (ys.reduce((a, b) => math.min(a, b)), ys.reduce((a, b) => math.max(a, b)))
        if (x1 <= e0 || x0 >= e2 || y1 <= e1 || y0 >= e3) "skip"
        else if (rect && x0 > e0 && x1 < e2 && y0 > e1 && y1 < e3) "totals"
        else "loop"
    }.toSet
  }

  test("zonalAgg probe: skipped, whole and looped cells on a 0.25 grid, with NaN, ±Inf and clamped points") {
    import spark.implicits._
    // 16 points per level-7 cell; the key changes every 0.5 in x, so each
    // cell straddles a key boundary; cell (14, 14) has only null values
    val grid = for (i <- 0 until 128; j <- 0 until 128) yield {
      val x = i * 0.25; val y = j * 0.25
      val v = if (i / 4 == 14 && j / 4 == 14 || (i + j) % 7 == 0) None else Some(i % 5 * 0.5)
      (x, y, v, i / 2 % 3)
    }
    // NaN and ±Inf coordinates, and points outside the [0, 128) domain
    // that clamp into edge cells
    val odd = Seq(
      (Double.NaN, 5.5, Some(1.0), 0), (5.5, Double.NaN, Some(1.0), 0),
      (Double.NegativeInfinity, 5.25, Some(1.0), 0), (Double.PositiveInfinity, 6.5, Some(1.0), 0),
      (5.5, Double.PositiveInfinity, Some(1.0), 0), (6.5, Double.NegativeInfinity, Some(1.0), 0),
      (-3.0, 5.5, Some(2.0), 1), (-3.0, -3.0, Some(2.0), 1),
      (200.0, 5.5, Some(4.0), 2), (5.5, 130.0, Some(4.0), 2))
    val pts = (grid ++ odd).toDF("x", "y", "value", "k")
    def box(x0: Double, y0: Double, x1: Double, y1: Double) =
      s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
    val rects = Seq(
      1 -> box(2.1, 2.1, 9.9, 9.9), // whole interior cells, looped edge cells
      2 -> box(2.8, 2.8, 8.1, 8.1), // the x = 2 column's points miss it: skipped
      5 -> box(13.95, 13.95, 14.9, 14.9), // one whole cell, all values null
      6 -> box(-5, 4, 1.5, 7), // a NaN x, -Inf x and a clamped x = -3 in cell (0, 5)
      7 -> box(-10, -10, 0.9, 0.9), // cell (0, 0) whole, with the clamped (-3, -3)
      8 -> box(126, 5, 300, 6), // (200, 5.5) whole in cell (127, 5); (+Inf, 6.5) skipped
      9 -> box(4, 126, 7, 200), // (5.5, 130) and (5.5, +Inf) in cell (5, 127)
      10 -> box(4.9, -1, 5.95, 0.9)) // cell (5, 0) would be whole, but for its NaN y
    val shapes = Seq(
      3 -> "POLYGON ((10 1, 19 10, 10 19, 1 10, 10 1))", // diamond
      4 -> "POLYGON ((20.9 0.9, 30.1 0.9, 30.1 4.1, 24.1 4.1, 24.1 10.1, 20.9 10.1, 20.9 0.9))") // L
    val polys = (rects ++ shapes).toDF("zone_id", "wkt")

    // the fixture reaches every probe case on the rectangles, and skips
    // and loops on the non-rectangles
    val xy = (grid ++ odd).map { case (x, y, _, _) => (x, y) }
    def cases(zones: Seq[(Int, String)]) =
      zones.flatMap { case (_, w) => cellCases(xy, w, GeoTables.JoinLevel) }.toSet
    assert(cases(rects) == Set("skip", "totals", "loop"))
    assert(cases(shapes) == Set("skip", "loop"))
    assert(cases(rects.filter(_._1 == 5)).contains("totals")) // the all-null cell
    assert(!cases(rects.filter(_._1 == 10)).contains("totals")) // the NaN y loops

    for (keys <- Seq(Seq(col("k")), Nil)) {
      val expected = reference(pts, polys, keys, col("value"))
      val (fused, fallback) = bothPaths(pts, polys, keys, col("value"))
      assert(fused == expected, s"fused, keys $keys")
      assert(fallback == expected, s"fallback, keys $keys")
      def zone(z: Int) = expected.keys.toSeq.filter(_.head == z).map(_.takeRight(2))
      assert(zone(5).nonEmpty && zone(5).forall(_(1) == null), "the all-null cell counts, with no sum")
      assert(zone(5).map(_.head.asInstanceOf[Long]).sum == 16)
      assert(zone(6).map(_.head.asInstanceOf[Long]).sum > 0 && zone(8) == Seq(Seq(1L, 4.0)))
      assert(zone(7).nonEmpty && zone(9) == Seq(Seq(1L, 4.0)))
      assert(zone(10).map(_.head.asInstanceOf[Long]).sum == 16)
    }
  }

  test("zonalAgg at level 12: tens of thousands of distinct point cells") {
    import spark.implicits._
    val level = 12
    val raw = (0 until 40000).map { i =>
      (SplitMix64.uniform(i, 3L) * 64, SplitMix64.uniform(i, 5L) * 64, (i % 7).toDouble, i % 2)
    }
    val pts = raw.toDF("x", "y", "value", "k")
    val polys = Seq(
      (1, "POLYGON ((10 10, 14.3 10, 14.3 13.7, 10 13.7, 10 10))"),
      (2, "POLYGON ((40 30, 44 34, 40 38, 36 34, 40 30))"),
      (3, "POLYGON ((50.01 0.5, 50.09 0.5, 50.09 63.5, 50.01 63.5, 50.01 0.5))"))
      .toDF("zone_id", "wkt")
    val ix = index(raw.map { case (x, y, v, _) => (x, y, Some(v)) }, level)
    assert(ix.cellCount > 30000) // distinct point cells
    val expected = reference(pts, polys, Seq(col("k")), col("value"))
    val (fused, fallback) = bothPaths(pts, polys, Seq(col("k")), col("value"), level)
    assert(expected.keys.map(_.head).toSet == Set(1, 2, 3))
    assert(fused == expected, "fused zonalAgg differs from the brute-force reference")
    assert(fallback == expected, "fallback zonalAgg differs from the brute-force reference")
  }

  test("CellPoints directory: every indexed cell is found at its CSR index, an absent cell is not") {
    val rng = new scala.util.Random(7)
    def cell() = CellIndex.encode(12, rng.nextInt(4096), rng.nextInt(4096))
    val cells = Array.fill(60000)(cell())
    // three partitions, as the collected point side arrives
    val ix = CellPoints.build(cells.grouped(20000).map(part =>
      CellPoints.part(part.iterator.map(c => InternalRow(c, 1.0, 2.0, 3.0)), Nil)).toArray)
    val distinct = cells.distinct
    assert(ix.cellCount == distinct.length)
    assert(distinct.map(ix.slot).sorted.sameElements(0 until ix.cellCount), "an indexed cell is lost")
    val present = distinct.toSet
    val absent = Iterator.continually(cell()).filterNot(present).take(60000).toSeq ++
      distinct.take(1000).map(c => c ^ (1L << 58)) // the same (ix, iy) one level off
    assert(absent.forall(ix.slot(_) == -1), "an absent cell is found")
    assert(CellPoints.build(Array.empty).slot(cells(0)) == -1)
  }
}
