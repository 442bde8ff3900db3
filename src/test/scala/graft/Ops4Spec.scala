package graft

import org.apache.spark.sql.functions._
import graft.geo.{CrsMath, SplitMix64}
import graft.io.GeoTables
import graft.model.{GridSpec, RasterTile, TileCodec}
import graft.ops._

class Ops4Spec extends SparkSpec {

  test("streaming docs ingest equals the batch zonal result (availableNow)") {
    val tmp = java.nio.file.Files.createTempDirectory("docs-stream")
    val docsDir = s"$tmp/docs"; val ck = s"$tmp/ck"
    GeoTables.docs(spark, sf001).write.parquet(docsDir)
    val polys = GeoTables.zones(spark, sf001).select(col("zone_id"), col("wkt"))

    graft.streaming.DocsStream.runAvailableNow(spark, docsDir, polys, ck,
      "stream_zonal", s"$tmp/sink")

    val batch = SpatialJoin.pip(GeoTables.points(spark, sf001), polys, GeoTables.JoinLevel)
      .groupBy(col("zone_id"))
      .agg(count(lit(1)).as("n_pts"), sum(col("value")).as("sum_val"))
    assert(rowSet(spark.table("stream_zonal")) == rowSet(batch))
    // the sink is read back with its footer schema, equal to the inferred one
    assert(spark.read.schema(graft.io.ParquetFooters.schema(spark, Seq(s"$tmp/sink")))
      .parquet(s"$tmp/sink").schema == spark.read.parquet(s"$tmp/sink").schema)
    // a batch above the broadcast threshold takes the zonal aggregate's
    // hash-join fallback: the same rows
    withBroadcastThreshold("-1")(graft.streaming.DocsStream.runAvailableNow(spark, docsDir,
      polys, s"$tmp/ck-nobc", "stream_zonal_nobc", s"$tmp/sink-nobc"))
    assert(rowSet(spark.table("stream_zonal_nobc")) == rowSet(batch))
  }

  test("adaptive salted PIP equals plain PIP on a Zipfian distribution") {
    import spark.implicits._
    // Zipfian points: most mass in one hot cell around (50,50)
    val pts = spark.range(30000).map { i =>
      val u = SplitMix64.uniform(i, 7L)
      val hot = u < 0.8
      val x = if (hot) 50.0 + SplitMix64.uniform(i, 11L) * 0.9
              else SplitMix64.uniform(i, 13L) * 100.0
      val y = if (hot) 50.0 + SplitMix64.uniform(i, 17L) * 0.9
              else SplitMix64.uniform(i, 19L) * 100.0
      (i, x, y, 1.0)
    }.toDF("point_id", "x", "y", "value")
    val zones = GeoTables.zones(spark, sf001)
    // every plan, the plain PointBuild one on both sides of the broadcast
    // threshold included, against the brute-force box reference (no cell
    // cover)
    val expected = bboxPairs(pts, zones)
    assert(expected.nonEmpty)
    forPipInputs(Seq(PipPlan.PointBuild, PipPlan.Salted(4),
                     PipPlan.Adaptive(1000L))) { (plan, thr) =>
      val got = SpatialJoin.pip(pts, zones.select(col("zone_id"), col("wkt")),
        GeoTables.JoinLevel, plan)
      assert(pipPairs(got) == expected, s"$plan, threshold $thr")
    }
    // the hot cell actually got a salt factor > 1
    val maxSalt = AdaptiveSkew.saltFactors(pts, GeoTables.JoinLevel, 1000L)
      .agg(max("salt")).collect()(0).getInt(0)
    assert(maxSalt > 1, s"expected hot-cell fanout, got max salt $maxSalt")
  }

  test("CRS-warped reproject: UTM raster sampled onto a lon/lat grid") {
    import spark.implicits._
    // src: UTM 32645 raster, 100×100 @ 1000 m, origin near Everest,
    // value = easting/1e4 + northing/1e6 (smooth, CRS-checkable)
    val x0 = 450000.0; val y1 = 3150000.0
    val tiles = spark.createDataset(for { tr <- 0 until 4; tc <- 0 until 4 } yield {
      val data = new Array[Double](625)
      for (di <- 0 until 25; dj <- 0 until 25) {
        val e = x0 + (tc * 25 + dj + 0.5) * 1000
        val n = y1 - (tr * 25 + di + 0.5) * 1000
        data(di * 25 + dj) = e / 1e4 + n / 1e6
      }
      RasterTile("utm", 0, tr, tc, 25, 25, 1000, 1000,
        x0 + tc * 25000, y1 - tr * 25000, "EPSG:32645", -9999, "Area", "float64",
        TileCodec.packDoubles(data), TileCodec.packMask(Array.fill(625)(true)),
        graft.geo.CellIndex.cellOf(tc.toDouble, tr.toDouble, 3))
    })
    val srcGrid = GridSpec(1000, 1000, x0, y1, 100, 100, 25, 25, "EPSG:32645")
    // dst: lon/lat grid covering the interior of the source footprint
    val dst = GridSpec(0.005, 0.005, 86.6, 28.4, 80, 60, 20, 20, "EPSG:4326")
    val ll2utm = CrsMath.transform(4326, 32645)
    val out = Reproject.resample(tiles, srcGrid, dst, "nearest", ll2utm)
    val cells = RasterOps.cells(out).collect()
    assert(cells.length > 3000, s"most dst cells should land inside: ${cells.length}")
    cells.foreach { r =>
      val lon = 86.6 + (r.getInt(1) + 0.5) * 0.005
      val lat = 28.4 - (r.getInt(0) + 0.5) * 0.005
      val (e, n) = ll2utm(lon, lat)
      // nearest sample: value of the pixel containing (e, n)
      val j = math.floor((e - x0) / 1000).toInt; val i = math.floor((y1 - n) / 1000).toInt
      val exp = (x0 + (j + 0.5) * 1000) / 1e4 + (y1 - (i + 0.5) * 1000) / 1e6
      assert(math.abs(r.getDouble(2) - exp) < 1e-9, s"(${r.getInt(0)},${r.getInt(1)})")
    }
  }

  test("tile algebra: astype rounds and set_nodata remasks") {
    val t = Ops4Spec.smallLinear(spark)
    val rounded = RasterOps.cells(TileOps.astype(t, "int32")).collect()
    rounded.foreach(r => assert(r.getDouble(2) == math.rint(r.getDouble(2))))
    // set_nodata to an existing value masks those cells
    val before = RasterOps.cells(t).where(col("val") === 7.5).count()
    assert(before > 0)
    val after = RasterOps.stats(TileOps.setNodata(t, 7.5)).collect()(0)
    val total = RasterOps.stats(t).collect()(0)
    assert(after.getAs[Long]("n_valid") == total.getAs[Long]("n_valid") - before)
  }
}

object Ops4Spec {
  import org.apache.spark.sql.{Dataset, SparkSession}
  def smallLinear(spark: SparkSession): Dataset[RasterTile] = {
    import spark.implicits._
    spark.createDataset(for { tr <- 0 until 2; tc <- 0 until 2 } yield {
      val data = new Array[Double](25)
      for (di <- 0 until 5; dj <- 0 until 5)
        data(di * 5 + dj) = ((tr * 5 + di) * 2 + (tc * 5 + dj)) % 13 + 0.5
      RasterTile("sl", 0, tr, tc, 5, 5, 1, 1, tc * 5, 10 - tr * 5,
        "EPSG:32645", -9999, "Area", "float64",
        TileCodec.packDoubles(data), TileCodec.packMask(Array.fill(25)(true)),
        graft.geo.CellIndex.cellOf(tc * 5, 10 - tr * 5 - 5, 3))
    })
  }
}
