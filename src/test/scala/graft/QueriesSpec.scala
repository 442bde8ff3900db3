package graft

import org.apache.spark.sql.functions._

/** Smoke + semantics for every SparkEntry query at sf0.001. */
class QueriesSpec extends SparkSpec {

  test("entry (flagship) returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    // the rows of a PIP join grouped per polygon doc
    import graft.io.GeoTables
    import graft.ops.SpatialJoin
    val spans = GeoTables.docs(spark, sf001).select(col("doc_id"), explode(col("spans")).as("s"))
    val expected = SpatialJoin.pip(GeoTables.pointSpans(spans, col("doc_id")),
        GeoTables.polySpans(spans, col("doc_id")), GeoTables.JoinLevel)
      .groupBy(col("poly_doc"))
      .agg(count(lit(1)).as("n_pts"), round(sum(col("value")), 3).as("sum_val"))
    assert(rowSet(df) == rowSet(expected))
  }

  test("every query runs at sf0.001 and every oracle key exists") {
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle $k has no query")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf001).count()
      assert(n >= 0, name)
      info(f"$name%-24s rows=$n")
    }
  }

  test("zonal stats is partition-invariant (chunked == base)") {
    import graft.io.GeoTables
    import graft.ops.SpatialJoin
    def inputs(parts: Int) =
      (GeoTables.points(spark, sf001).repartition(parts),
       GeoTables.zones(spark, sf001).select(col("zone_id"), col("wkt")).repartition(parts))
    def run(parts: Int) = {
      val (pts, z) = inputs(parts)
      SpatialJoin.pip(pts, z, GeoTables.JoinLevel)
        .groupBy("zone_id").agg(count(lit(1)).as("n"), sum("value").as("s"))
    }
    assert(rowSet(run(1)) == rowSet(run(16)))
    def zonal(parts: Int) = {
      val (pts, z) = inputs(parts)
      SpatialJoin.zonalAgg(pts, z, GeoTables.JoinLevel, Nil, col("value"))
        .select("zone_id", "n_pts", "sum_val")
    }
    assert(rowSet(zonal(1)) == rowSet(zonal(16)))
    assert(rowSet(zonal(1)) == rowSet(run(1)))
  }

  test("salted PIP join equals unsalted") {
    import graft.io.GeoTables
    import graft.ops.{PipPlan, SpatialJoin}
    val pts = GeoTables.points(spark, sf001)
    val z = GeoTables.zones(spark, sf001).select(col("zone_id"), col("wkt"))
    val plain = pipPairs(SpatialJoin.pip(pts, z, GeoTables.JoinLevel))
    for (plan <- Seq(PipPlan.Salted(4), PipPlan.Adaptive(1000L)))
      assert(pipPairs(SpatialJoin.pip(pts, z, GeoTables.JoinLevel, plan)) == plain, plan)
    // the default plan broadcasts this point side; at threshold -1 it
    // takes the shuffle-hash build
    assert(withBroadcastThreshold("-1")(
      pipPairs(SpatialJoin.pip(pts, z, GeoTables.JoinLevel))) == plain, "threshold -1")
  }

  test("pip equals pipBox on box zones (JTS refine vs codegen refine)") {
    // the codegen box refine is the crossJoin reference in bboxPairs; pip
    // must match it under every PipPlan
    import graft.io.GeoTables
    import graft.ops.{PipPlan, SpatialJoin}
    val pts = GeoTables.points(spark, sf001)
    val zones = GeoTables.zones(spark, sf001)
    val expected = bboxPairs(pts, zones)
    assert(expected.nonEmpty)
    forPipInputs(Seq(PipPlan.PointBuild, PipPlan.Salted(4),
                     PipPlan.Adaptive(1000L))) { (plan, thr) =>
      val got = SpatialJoin.pip(pts, zones.select(col("zone_id"), col("wkt")),
        GeoTables.JoinLevel, plan)
      assert(pipPairs(got) == expected, s"$plan, threshold $thr")
    }
  }

  test("kNN matches brute force") {
    import graft.io.GeoTables
    import graft.ops.Knn
    val pts = GeoTables.points(spark, sf001)
    val centers = GeoTables.zones(spark, sf001).select(
      col("zone_id").as("qid"),
      ((col("zxmin") + col("zxmax")) / 2).as("qx"),
      ((col("zymin") + col("zymax")) / 2).as("qy"))
    val grid = Knn.nearest(centers, pts, GeoTables.JoinLevel)
    val brute = centers.crossJoin(pts)
      .withColumn("d2", (col("x") - col("qx")) * (col("x") - col("qx")) +
                        (col("y") - col("qy")) * (col("y") - col("qy")))
      .groupBy("qid").agg(min("d2").as("nn_d2"))
    assert(rowSet(grid) == rowSet(brute))
  }

  test("docs round-trip preserves span sequence (per-row invariant)") {
    import graft.io.GeoTables
    val docs = GeoTables.docs(spark, sf001)
    // reconstruct one doc's expected spans straight from the source tables
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .where(col("l_orderkey") === 1)
      .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity").collect()
    assume(li.nonEmpty)
    val ord = spark.read.parquet(s"$sf001/orders.parquet")
      .where(col("o_orderkey") === 1).collect()(0)
    val got = docs.where(col("doc_id") === "doc-000000001")
      .select(explode(col("spans")).as("s")).select("s.kind", "s.text", "s.media_ref", "s.offset")
      .orderBy("offset").collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))

    assert(got.head == (("meta", s"status=${ord.getAs[String]("o_orderstatus")};prio=${ord.getAs[String]("o_orderpriority")}", "", 0)))
    li.zipWithIndex.foreach { case (r, i) =>
      val x4 = (r.getAs[Long]("l_partkey") * 7 + r.getAs[Long]("l_orderkey") * 11) % 400
      val y4 = (r.getAs[Long]("l_suppkey") * 13 + r.getAs[Long]("l_orderkey") * 17) % 400
      val q = r.getAs[Double]("l_quantity").toLong
      assert(got(i + 1) == (("point", s"$x4,$y4,$q", "", i + 1)))
    }
    val n = got.length
    assert(got(n - 2)._1 == "wkt" && got(n - 2)._2.startsWith("POLYGON(("))
    assert(got(n - 1)._1 == "raster" &&
      got(n - 1)._3 == s"tile://dem/0/${1 % 8}/${3 % 8}")
    // offsets are contiguous 0..n-1
    assert(got.map(_._4).toSeq == (0 until n))
  }

  test("offsets contiguous for all docs") {
    import graft.io.GeoTables
    val bad = GeoTables.docs(spark, sf001)
      .select(expr("size(filter(transform(spans, (x, i) -> x.offset = i), b -> NOT b))").as("viol"))
      .where(col("viol") > 0).count()
    assert(bad == 0)
  }

  test("LSH ANN recall@5 vs brute top-k meets the 0.6 floor") {
    import graft.ops.Similarity
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val brute = rowSet(Similarity.bruteTopK(emb, q, 5).select("qid", "nid"))
    val lsh = rowSet(Similarity.lshTopK(emb, q, 5).select("qid", "nid"))
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    info(f"LSH recall@5 = $recall%.2f")
    assert(recall >= 0.6, f"recall $recall%.2f below floor")
  }

  test("IVF ANN recall@5 vs brute top-k meets the 0.6 floor") {
    import graft.ops.Similarity
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val brute = rowSet(Similarity.bruteTopK(emb, q, 5).select("qid", "nid"))
    val ivf = rowSet(Similarity.ivfTopK(emb, q, 5).select("qid", "nid"))
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"IVF recall@5 = $recall%.2f")
    assert(recall >= 0.6, f"recall $recall%.2f below floor")
    // partition invariance of the whole index+probe pipeline
    assert(rowSet(Similarity.ivfTopK(emb.repartition(16), q, 5)) ==
           rowSet(Similarity.ivfTopK(emb.repartition(1), q, 5)))
  }

  test("IVF at nClusters=64 on the sf0.1 corpus holds the recall floor") {
    import graft.ops.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val brute = rowSet(Similarity.bruteTopK(emb, q, 5).select("qid", "nid"))
    val ivf = rowSet(Similarity.ivfTopK(emb, q, 5, nClusters = 64).select("qid", "nid"))
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"IVF(nc=64) recall@5 = $recall%.2f")
    assert(recall >= 0.6, f"recall $recall%.2f below floor")
  }

  test("exhaustive IVF/LSH settings equal brute-force top-k exactly") {
    import graft.ops.Similarity
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val brute = rowSet(Similarity.bruteTopK(emb, q, 5))
    // nProbe = nClusters → all clusters probed; rowsPerBand = 0 → one
    // zero-bit band value, every pair collides: both must be EXACT
    assert(rowSet(Similarity.ivfTopK(emb, q, 5, nClusters = 16, nProbe = 16)) == brute)
    assert(rowSet(Similarity.lshTopK(emb, q, 5, rowsPerBand = 0, bands = 1)) == brute)
  }

  test("simhash Hamming pair join matches brute force") {
    import graft.ops.TextOps
    import spark.implicits._
    // base docs + near-identical variants (one token changed) so some
    // pairs land within Hamming ≤ 3
    val base = (0 until 40).map(i =>
      (s"d$i", (0 until 60).map(t => s"tok${(i * 13 + t * 7) % 50}").mkString(" ")))
    val vars = (0 until 40).map(i =>
      (s"v$i", (0 until 60).map(t =>
        if (t == 30) "CHANGED" else s"tok${(i * 13 + t * 7) % 50}").mkString(" ")))
    val docs = (base ++ vars).toDF("doc_id", "text")
    val got = rowSet(TextOps.simhashPairs(docs, 3))
    val fp = (base ++ vars).map { case (id, t) => id -> TextOps.simhash(t) }
    val exp = (for {
      (a, ha) <- fp; (b, hb) <- fp
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield Seq(a, b, java.lang.Long.bitCount(ha ^ hb).toLong)).toSet
    assert(exp.nonEmpty, "fixture must contain near-dup pairs")
    assert(got.map(_.take(2)) == exp.map(_.take(2)))
  }

  test("minhash near-dup finds injected duplicates") {
    import graft.ops.TextOps
    import spark.implicits._
    val base = "spark tile join zonal raster vector point cloud index shuffle partition broadcast"
    val docs = Seq(
      (1L, base), (2L, base + " extra"), (3L, "totally unrelated content words only here"),
      (4L, base)).toDF("doc_id", "text")
    val dups = TextOps.nearDups(docs, 0.5).select("a_id", "b_id")
    val got = rowSet(dups)
    assert(got.contains(Seq(1L, 4L)), s"expected (1,4) in $got")
    assert(got.contains(Seq(1L, 2L)) || got.contains(Seq(2L, 4L)))
    assert(!got.exists(r => r.contains(3L)))
  }
}
