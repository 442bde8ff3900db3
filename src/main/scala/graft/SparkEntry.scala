package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions
import graft.io.{GeoTables, Layout, RasterGen}
import graft.model.GridSpec
import graft.ops._

/** Driver contract (SURVEY.md §7). Every operator ships as a `queries`
  * entry over `/root/testdata/sfX/`; SQL-expressible ones carry a DuckDB
  * oracle built on the same integer-exact derivations (GeoTables.Sql).
  */
object SparkEntry {

  /** Flagship (sf0.001, driver smoke-checks rows>0): interleaved docs →
    * explode spans → WKT polygons + points → cell-cover PIP join (JTS
    * refine) → per-doc zonal aggregate. The SURVEY §7.2 minimum slice. */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val docs = GeoTables.docs(spark, sfDir)
    val spans = docs.select(col("doc_id"), explode(col("spans")).as("s"))
    SpatialJoin.zonalAgg(GeoTables.pointSpans(spans, col("doc_id")),
        GeoTables.polySpans(spans, col("doc_id")), GeoTables.JoinLevel, Nil, col("value"))
      .groupBy(col("poly_doc"))
      .agg(sum(col("n_pts")).as("n_pts"), round(sum(col("sum_val")), 3).as("sum_val"))
  }

  /** The zonal stats of the points per zone through [[SpatialJoin.pip]]
    * under a pinned `plan`, in place of the size-driven `zonalAgg`. */
  private def pinnedZonal(s: SparkSession, dir: String, plan: PipPlan): DataFrame =
    SpatialJoin.pip(GeoTables.points(s, dir),
        GeoTables.zones(s, dir).select(col("zone_id"), col("wkt")), GeoTables.JoinLevel, plan)
      .groupBy(col("zone_id"))
      .agg(count(lit(1)).as("n_pts"), sum(col("value")).as("sum_val"))

  // ---------------------------------------------------------------------

  private val W = "WITH "
  private def withCtes(ctes: String*): String = W + ctes.mkString(",\n")

  /** σ=1 truncated gaussian (radius 4), quantized to 1e4-scaled integer
    * weights: round(1e4·exp(−k²/2)). Integer weights × integer grid values
    * sum exactly in doubles on BOTH engines — the oracle-safe kernel. */
  val GaussQ1: Array[Double] =
    Array(3, 111, 1353, 6065, 10000, 6065, 1353, 111, 3).map(_.toDouble)

  /** The same kernel as a DuckDB VALUES CTE. */
  private val GaussQ1Cte: String =
    "k AS (SELECT * FROM (VALUES (-4, 3), (-3, 111), (-2, 1353), (-1, 6065), " +
    "(0, 10000), (1, 6065), (2, 1353), (3, 111), (4, 3)) AS t(d, w))"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.2 spatial slice (cx analog): bbox filter, pushdown-friendly
    "q_bbox_filter" -> ((s, dir) =>
      GeoTables.points(s, dir)
        .where(col("x") > 20 && col("x") < 60 && col("y") > 30 && col("y") < 70)),

    // §2.4 flagship: PIP spatial join (cell equi-prejoin + JTS refine)
    // + §2.5 zonal stats, as one zonal aggregate per zone
    "q_zonal_stats_points" -> ((s, dir) =>
      SpatialJoin.zonalAgg(
          GeoTables.points(s, dir),
          GeoTables.zones(s, dir).select(col("zone_id"), col("wkt")),
          GeoTables.JoinLevel, Nil, col("value"))
        .select(col("zone_id"), col("n_pts"), col("sum_val"),
          round(col("sum_val") / col("n_pts"), 3).as("avg_val"))),

    // same join, uniformly salted (PipPlan.Salted) — must agree
    "q_zonal_stats_salted" -> ((s, dir) => pinnedZonal(s, dir, PipPlan.Salted(4))),

    // same join again through the per-cell ADAPTIVE salting path (north
    // rule: repartition by measured cell density, salt only hot cells)
    "q_zonal_stats_adaptive" -> ((s, dir) =>
      pinnedZonal(s, dir, PipPlan.Adaptive(targetRowsPerTask = 2000L))),

    // §2.5 per-cell histogram (north-rule metric): level-4 cells (size 8)
    "q_cell_histogram" -> ((s, dir) => {
      val dec = udf((c: Long) => {
        val (_, ix, iy) = graft.geo.CellIndex.decode(c); (ix, iy)
      })
      GeoTables.points(s, dir)
        .withColumn("cell", GeoFunctions.cell_of(col("x"), col("y"), lit(4)))
        .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
        .withColumn("d", dec(col("cell")))
        .select(col("d._1").as("ix"), col("d._2").as("iy"), col("cnt"))
    }),

    // §2.5/§2.11 multi-resolution cell-histogram rollup: one corpus
    // shuffle at the finest level, parents sum the tiny child histograms
    "q_cell_rollup" -> ((s, dir) =>
      Rollup.cellRollup(GeoTables.points(s, dir), "x", "y", 2, 6)),

    // §2.6 as-of join: each click enriched with the user's latest
    // preceding view (two-phase bucketed carry — no per-key mega-window)
    "q_asof_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      AsOf.join(ev.where(col("event_type") === "click"),
          ev.where(col("event_type") === "view"),
          "user_id", "ts", "event_id", "value")
        .select(col("event_id"), col("user_id"), col("r_id"), col("r_value"))
    }),

    // §2.6 interval (range) join: the 1-D cell-cover pattern — intervals
    // explode into owning buckets, points key by ONE bucket, exact
    // between-refine in codegen; no theta/cartesian join anywhere
    "q_interval_join" -> ((s, dir) => {
      val epoch = lit("1992-01-01").cast("date")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_quantity"),
          datediff(col("l_shipdate").cast("date"), epoch).cast("long").as("d"))
      val iv = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderkey") % 199 === 0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), epoch).cast("long").as("d0"))
        .withColumn("d1", col("d0") + 6)
      RangeJoin.intervalJoin(li, "d", iv, "d0", "d1", bucket = 4)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 3).as("sum_qty"))
    }),

    // §2.5 KMV distinct-count sketch: O(k) mergeable state per group vs
    // count(distinct)'s every-key shuffle; the bijective permutation hash
    // makes the sketch (and the estimate) exactly DuckDB-replayable
    "q_kmv_distinct" -> ((s, dir) => {
      val sk = udaf(new graft.functions.KmvSketch(
        128, id => (id * 2654435761L) % 1000000007L, 1000000007.0))
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"))
        .agg(sk(col("user_id")).as("kmv"))
        .select(col("event_type"), col("kmv.n_kept").as("n_kept"),
          col("kmv.kth").as("kth_key"), round(col("kmv.est"), 6).as("est"))
    }),

    // §2.5 HyperLogLog distinct-count sketch: CONSTANT 256-byte state
    // per group (KMV's O(k) sibling); the replayable quadratic-mix mode
    // makes registers, the dyadic-exact s_scaled, and the estimate
    // SQL-replayable (a LINEAR permutation is unusable for HLL — see
    // HllSketch scaladoc)
    "q_hll_distinct" -> ((s, dir) => {
      val sk = udaf(graft.functions.HllSketch.replayable())
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"))
        .agg(sk(col("user_id")).as("hll"))
        .select(col("event_type"), col("hll.n_zero").as("n_zero"),
          col("hll.s_scaled").as("s_scaled"),
          round(col("hll.est"), 6).as("est"))
    }),

    // §2.5 Count–Min heavy hitters: ONE 4×512 counter array (16 KB,
    // constant at any scale) built with map-side combine, broadcast
    // against the candidate keys; estimate = least of 4 codegen
    // element_at reads. CM never underestimates, so `est >= T` is a
    // superset-safe heavy-hitter gate; the affine field hashes are
    // exactly SQL-replayable
    "q_cm_heavy" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.functions.CmSketch
        .estimate(ev, ev.select(col("user_id")).distinct(), "user_id", w = 4096)
        .filter(col("est") >= 75)
    }),

    // §2.5 HDR-histogram quantile sketch: monotone integer log₂-bucket
    // (k=5 → rel err ≤ 1/32), groupBy(bucket) partial-agg state, exact
    // integer rank test 100·cum ≥ pct·n — deterministic under any
    // partitioning, unlike approx_percentile's merge-order-sensitive
    // KLL (see ops/Quantiles.scala)
    "q_hdr_quantiles" -> ((s, dir) =>
      Quantiles.hdrQuantiles(
        s.read.parquet(s"$dir/events.parquet"), "event_type",
        floor(col("value") * 100).cast("long") + 1, Seq(50, 90, 99))),

    // storage layout: both join sides bucketed by the join key into the
    // same bucket count → sort-merge join with ZERO Exchange on either
    // side (the 100-TB lever: the join shuffle is paid once at write
    // time); plan shape guarded in Ops23Spec
    "q_bucket_join" -> ((s, dir) => {
      val lt = Layout.bucketedTable(s,
        s.read.parquet(s"$dir/lineitem.parquet"), "graft_b_lineitem",
        "l_orderkey", 8)
      val ot = Layout.bucketedTable(s,
        s.read.parquet(s"$dir/orders.parquet"), "graft_b_orders",
        "o_orderkey", 8)
      Layout.bucketedEquiJoin(s, lt, "l_orderkey", ot, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 3).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").as("revenue"))
    }),

    // storage layout: directory-partitioned write + planning-time pruning
    // (the filter on the partition column never touches non-click files;
    // PartitionFilters guarded in Ops23Spec)
    "q_partition_prune" -> ((s, dir) => {
      val path = Layout.partitionedWrite(
        s.read.parquet(s"$dir/events.parquet"), "graft_p_events",
        "event_type")
      s.read.parquet(path)
        .where(col("event_type") === "click")
        .groupBy((col("user_id") % 100).as("ub"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 3).as("sum_val"))
    }),

    // data mixing: weighted per-group sample ∝ n_chars without
    // replacement (Efraimidis–Spirakis exponential race over a
    // deterministic uniform) — two-phase salted windows as in
    // q_stratified_sample, selection exactly SQL-replayable
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedTopK(
        s.read.parquet(s"$dir/documents.parquet"),
        "lang", "doc_id", "n_chars", 20)),

    // §2.5 chunk-invariant topk sampling (deterministic hash key)
    "q_topk_sample" -> ((s, dir) =>
      GeoTables.points(s, dir)
        .withColumn("skey", (col("point_id") * 2654435761L) % 1000000007L)
        .orderBy(col("skey"), col("point_id"))
        .limit(100)
        .select(col("point_id"), col("skey"))),

    // §2.5 stats bundle (get_stats: mean/median/NMAD/LE90/RMSE/IQR…).
    // exact=true for the bit-stable oracle; StatsBundle(exact=false) is
    // the approx_percentile scale gate (spec-verified tolerance)
    "q_stats_bundle" -> ((s, dir) =>
      StatsBundle.bundle(GeoTables.points(s, dir), "value", exact = true)),

    // §2.4 grid-aligned kNN join (sjoin_nearest): exact NN distance
    "q_knn_zones" -> ((s, dir) => {
      val centers = GeoTables.zones(s, dir).select(
        col("zone_id").as("qid"),
        ((col("zxmin") + col("zxmax")) / 2).as("qx"),
        ((col("zymin") + col("zymax")) / 2).as("qy"))
      Knn.nearest(centers, GeoTables.points(s, dir), GeoTables.KnnLevel)
        .select(col("qid").as("zone_id"), col("nn_d2"))
    }),

    // §2.5 raster get_stats over valid cells (masked-array semantics)
    "q_raster_stats" -> ((s, _) =>
      RasterOps.stats(RasterGen.tiles(s)).select(
        col("n_valid"), col("sum_val"), col("min_val"), col("max_val"),
        round(col("sum_val") / col("n_valid"), 3).as("avg_val"))),

    // §2.5 get_stats with an inlier mask (base.py:768-785,
    // stats.py:275-284): inlier = NOT(dem < 10) — maskNot makes invalid
    // dem cells inlier-true, so Total inlier count ≠ Valid inlier count
    // and all four mask stats are exercised
    "q_stats_inlier" -> ((s, _) => {
      val dem = RasterGen.tiles(s)
      RasterOps.statsInlier(dem, TileOps.maskNot(TileOps.compareScalar(dem, "<", 10)))
    }),

    // §2.10 crop: tile pruning + edge trim, emits pixel rows
    "q_raster_crop" -> ((s, _) =>
      RasterOps.cropCells(RasterGen.tiles(s), 10, 20, 35, 60)),

    // §2.8/§2.5 zonal stats raster×vector (BASELINE flagship kernel)
    "q_raster_zonal" -> ((s, dir) =>
      RasterOps.zonalBox(RasterGen.tiles(s), GeoTables.zones(s, dir), RasterGen.Grid)
        .select(col("zone_id"), col("n_cells"), col("sum_val"),
          round(col("sum_val") / col("n_cells"), 3).as("avg_val"))),

    // §2.5 value histogram (unique/count analog)
    "q_raster_hist" -> ((s, _) => RasterOps.valueHistogram(RasterGen.tiles(s))),

    // §2.8 polygonize (label_union): per-tile labeling + seam union-find +
    // distributed dissolve. Deterministic component ids; geometry checked
    // in ScalaTest (ring sets), area here.
    "q_polygonize" -> ((s, _) =>
      Polygonize.polygonize(RasterGen.tiles(s), conn = 4)
        .select(col("component_id"), col("raster_value"), col("n_cells"),
          round(GeoFunctions.st_area(col("wkt")), 6).as("area"))),

    // §2.8 polygonize conservation, through the label_stitch strategy:
    // per-value cell counts summed over components must equal the raster's
    // per-value histogram — a full-pipeline oracle for the vector-stitching
    // path (ring sets themselves are ScalaTest-verified)
    "q_polygonize_conserve" -> ((s, _) =>
      Polygonize.polygonize(RasterGen.tiles(s), conn = 4, strategy = "label_stitch")
        .groupBy(round(col("raster_value"), 6).as("raster_value"))
        .agg(sum(col("n_cells")).as("n_cells"))),

    // §2.10 reproject (nearest, 2× coarser grid) — the shuffle op; full
    // DuckDB oracle via the integer-exact src-index mapping
    "q_reproject" -> ((s, _) => {
      val dst = GridSpec(0.5, 0.5, 0, 100, 200, 200, 50, 50, "EPSG:32645")
      RasterOps.cells(Reproject.resample(RasterGen.tiles(s), RasterGen.Grid, dst, "nearest"))
    }),

    // §2.10 reproject `average` (rasterio Resampling.average, the
    // downsample workhorse): 2× decimation means every dst pixel averages
    // its 2×2 valid src pixels — integer sums / counts ≤4, so both engines
    // produce bit-identical doubles (no rounding needed)
    "q_reproject_avg" -> ((s, _) => {
      val dst = GridSpec(0.5, 0.5, 0, 100, 200, 200, 50, 50, "EPSG:32645")
      RasterOps.cells(Reproject.resample(RasterGen.tiles(s), RasterGen.Grid, dst, "average"))
    }),

    // §2.10 reproject `cubic_spline` (rasterio Resampling.cubic_spline, the
    // B-spline smoother): at 2× decimation every dst pixel sits at constant
    // kernel phase 0.5, so the 4×4 support has fixed rational weights
    // (1/48, 23/48 per axis — both engines' kernel evaluations are the
    // correctly-rounded doubles of the same rationals). The true value is
    // m/2304 with integer m, so scaling by 2304 and rounding makes the
    // compare exact despite different summation orders.
    "q_reproject_spline" -> ((s, _) => {
      val dst = GridSpec(0.5, 0.5, 0, 100, 200, 200, 50, 50, "EPSG:32645")
      RasterOps.cells(Reproject.resample(RasterGen.tiles(s), RasterGen.Grid, dst, "cubic_spline"))
        .select(col("i"), col("j"),
          round(col("val") * 2304).cast("long").as("sval"))
    }),

    // §2.10 reproject `gauss` (GDAL overview gaussian): 3×3 [1,2,1]⊗[1,2,1]
    // integer kernel at the nearest src pixel, renormalized over valid
    // contributors — integer num/den ⇒ bit-exact across engines, no rounding
    "q_reproject_gauss" -> ((s, _) => {
      val dst = GridSpec(0.5, 0.5, 0, 100, 200, 200, 50, 50, "EPSG:32645")
      RasterOps.cells(Reproject.resample(RasterGen.tiles(s), RasterGen.Grid, dst, "gauss"))
    }),

    // §1.4 interleaved docs codec: per-row span-sequence digest
    "q_docs_roundtrip" -> ((s, dir) =>
      GeoTables.docs(s, dir).select(
        col("doc_id"),
        size(col("spans")).as("n_spans"),
        md5(concat_ws("#", expr(
          "transform(spans, x -> concat_ws('|', x.kind, x.text, x.media_ref, x.offset))"))
          .cast("binary")).as("digest"))),

    // multimodal: media_ref parse → per-tile span counts. Projected off
    // the span SOURCE (the q_media_features precedent): each doc carries
    // exactly one raster span `tile://dem/0/<k%8>/<k*3%8>` (GeoTables.docs
    // rasterSpans), so the per-tile count is the distinct-doc count per
    // (k%8, k*3%8) — no document assembly (window + 3 aggregates +
    // collect_list) and no spans explode just to read back a pure
    // function of the doc key. Result proven identical vs the unchanged
    // oracle (round-6 verify).
    "q_media_tiles" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .select((col("l_orderkey") % 8).cast("int").as("r"),
          ((col("l_orderkey") * 3) % 8).cast("int").as("c"),
          col("l_orderkey").as("k"))
        .groupBy(col("r"), col("c")).agg(countDistinct(col("k")).as("cnt"))),

    // text analysis: token counting
    "q_doc_tokens" -> ((s, dir) =>
      TextOps.tokenStats(s.read.parquet(s"$dir/documents.parquet"))),

    // text analysis: BPE-ish regex token counting
    "q_doc_tokens_re" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet").select(
        col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("n_re_tokens"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("n_numeric"))),

    // text analysis: n-gram language-ID heuristic (rows-only)
    "q_lang_id" -> ((s, dir) =>
      TextOps.langId(s.read.parquet(s"$dir/documents.parquet"))),

    // text analysis: quality scoring
    "q_quality" -> ((s, dir) =>
      TextOps.quality(s.read.parquet(s"$dir/documents.parquet"))),

    // text analysis: corpus-unigram NLL quality score (CCNet-style
    // perplexity filter with the corpus as the LM)
    "q_unigram_nll" -> ((s, dir) =>
      TextOps.unigramNll(s.read.parquet(s"$dir/documents.parquet"))),

    // text analysis: per-doc top-3 TF-IDF terms (smooth idf, deterministic
    // rounded-score ranking)
    "q_tfidf" -> ((s, dir) =>
      TextOps.tfidfTopK(s.read.parquet(s"$dir/documents.parquet"), 3)),

    // data mixing: per-language deterministic top-k quota sample
    // (two-phase salted windows — no single-task language funnels)
    "q_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedTopK(
        s.read.parquet(s"$dir/documents.parquet"), "lang", "doc_id", 20)),

    // data mixing: greedy sequence packing of the doc_id-ordered token
    // stream into 64-token context windows (two-phase distributed scan —
    // no unpartitioned running-sum window)
    "q_seq_pack" -> ((s, dir) =>
      Packing.pack(s.read.parquet(s"$dir/documents.parquet"), 64)),

    // data mixing: per-source token-budget cap (whole docs in doc_id
    // order while the source's cumulative tokens stay <= 700)
    "q_token_budget" -> ((s, dir) =>
      Packing.tokenBudget(
        s.read.parquet(s"$dir/documents.parquet"), "source", 700L)),

    // data mixing: the assembled 64-token window texts (shard writer's
    // view of q_seq_pack — codegen slices, bounded per-window collect)
    "q_pack_windows" -> ((s, dir) =>
      Packing.assembleWindows(s.read.parquet(s"$dir/documents.parquet"), 64)),

    // curation: PII detection + redaction witness. The synthetic corpus
    // carries no PII, so a deterministic fixture is injected IN the query
    // (both sides derive it identically from doc_id): every 5th doc gets
    // an email + phone + IPv4 appended, and the op must count and scrub
    // exactly those.
    "q_pii_scrub" -> ((s, dir) =>
      Curation.piiScrub(
        s.read.parquet(s"$dir/documents.parquet").withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" reach user"), col("doc_id"),
              lit("@mail.example or +1-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit("."), ((col("doc_id") * 7) % 256).cast("string")))
            .otherwise(col("text"))))),

    // curation: C4/Gopher-style composite quality gate (first violated
    // rule as the reason string)
    "q_quality_filter" -> ((s, dir) =>
      Curation.qualityFilter(s.read.parquet(s"$dir/documents.parquet"))),

    // curation: temperature-style source-mixing weights (alpha=0.5) and
    // epochs at a 100k-token budget
    "q_mix_weights" -> ((s, dir) =>
      Curation.mixWeights(s.read.parquet(s"$dir/documents.parquet"))),

    // curation: deterministic 90/5/5 train/val/test assignment by
    // multiplicative doc_id hash; per (split, source) manifest counts
    "q_split_assign" -> ((s, dir) =>
      Curation.splitAssign(s.read.parquet(s"$dir/documents.parquet"))),

    // retrieval: BM25 top-20 for a fixed 3-term query (no corpus
    // explode — bounded per-doc array scans + one-row broadcast stats)
    "q_bm25" -> ((s, dir) =>
      Curation.bm25(s.read.parquet(s"$dir/documents.parquet"),
        Seq("spark", "join", "window"))),

    // text analysis: corpus top-30 bigram vocabulary
    "q_vocab_bigrams" -> ((s, dir) =>
      Curation.vocabBigrams(s.read.parquet(s"$dir/documents.parquet"))),

    // text analysis: language histogram
    "q_lang_stats" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n"),
          round(avg(col("n_chars")), 3).as("avg_chars"))),

    // dedup: exact content-hash
    "q_exact_dedup" -> ((s, dir) =>
      TextOps.exactDedup(s.read.parquet(s"$dir/documents.parquet"))),

    // dedup: MinHash+LSH near-dup candidates + Jaccard verify (rows-only)
    "q_minhash_dedup" -> ((s, dir) =>
      TextOps.nearDups(s.read.parquet(s"$dir/documents.parquet"), 0.5)),

    // tokenizer TRAINING: distributed BPE (Sennrich'16) — one corpus
    // pass into a word-frequency table, then 20 argmax-merge rounds on
    // that small table; every round DuckDB-replayable by construction
    // (shared ` a b ` → ` ab ` replace() representation)
    "q_bpe_merges" -> ((s, dir) =>
      Bpe.train(s.read.parquet(s"$dir/documents.parquet"), 20)),

    // dedup: exact dedup after canonical-form normalization (lowercase,
    // strip punctuation, collapse whitespace) — case/punct variants of
    // the same text hash together
    "q_norm_dedup" -> ((s, dir) =>
      TextOps.normDedup(s.read.parquet(s"$dir/documents.parquet"))),

    // dedup: quality-aware canonical keeper — per simhash dup cluster,
    // keep the LONGEST member (ties → min doc_id), not the min-id one;
    // truncated/boilerplate copies lose to the full document
    "q_dedup_keeper" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.qualityKeeper(docs,
        TextOps.dupClusters(docs, TextOps.simhashPairs(docs, 3)))
    }),

    // dedup: CROSS-CORPUS MinHash near-dup — a probe slice (doc_id%5==0,
    // the "new crawl") deduped against the rest (the "existing corpus")
    // without self-pairing the corpus; best corpus match per probe doc
    "q_minhash_xdedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.nearDupsAgainst(
        docs.where(col("doc_id") % 5 =!= 0),
        docs.where(col("doc_id") % 5 === 0))
    }),

    // dedup: EXACT n-gram Jaccard self-join via prefix filtering
    // (AllPairs/PPJoin) — lossless, so a brute-force DuckDB intersection
    // is an exact oracle (the verification MinHash can't have)
    "q_jaccard_join" -> ((s, dir) =>
      TextOps.jaccardJoin(s.read.parquet(s"$dir/documents.parquet"), 3, 0.5)),

    // dedup: duplicate-SPAN detection (Lee et al. ACL'22 style) — maximal
    // per-doc token intervals covered by corpus-duplicated 8-grams;
    // DuckDB replays the whole construction (gram hash → HAVING count>=2
    // → gaps-and-islands merge) exactly
    "q_dup_spans" -> ((s, dir) =>
      TextOps.dupSpans(s.read.parquet(s"$dir/documents.parquet"), 8)),

    // dedup: train/eval DECONTAMINATION (GPT-3 appendix C / The Pile /
    // Llama style, canonical 13-gram) — training docs sharing any 13-gram
    // with a held-out eval slice (deterministic doc_id % 20 split),
    // reported as maximal contaminated spans; full DuckDB replay
    "q_contamination" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.contamination(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0), 13)
    }),

    // dedup: the same decontamination through the broadcast-Bloom
    // pre-filter (the 100 TB shape: the train gram stream is pruned in
    // its scan stage before any exchange; no false negatives + exact
    // verification join = identical spans, shared oracle)
    // curation: the END-TO-END keep/drop manifest — exact dedup, quality
    // cascade, and 13-gram decontamination composed in pipeline order,
    // first failing stage as the reason (eval slice doc_id % 20 = 0
    // excluded from the output: it is the benchmark, not training data)
    "q_keep_manifest" -> ((s, dir) =>
      Curation.keepManifest(s.read.parquet(s"$dir/documents.parquet"))),

    "q_contamination_bloom" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.contaminationBloom(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0), 13)
    }),

    // quality: within-doc repetition signals (Gopher repetition filters):
    // most-frequent-bigram mass + duplicated-3-gram coverage via exact
    // islands union (no double-counting of overlapping windows)
    "q_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(s.read.parquet(s"$dir/documents.parquet"), 3)),

    // dedup: SimHash fingerprints (rows-only)
    "q_simhash" -> ((s, dir) =>
      TextOps.simhashDf(s.read.parquet(s"$dir/documents.parquet"))),

    // dedup: SimHash Hamming-≤3 pairs via 4-table bit-chunk bucketing
    // (rows-only; verified vs brute-force Hamming in ScalaTest)
    "q_simhash_dups" -> ((s, dir) =>
      TextOps.simhashPairs(s.read.parquet(s"$dir/documents.parquet"), 3)),

    // dedup: near-dup CLUSTERS — connected components over the SimHash
    // Hamming-≤3 pair graph, every doc labeled with its cluster root
    // (min reachable doc key): the canonical-keeper step after pair
    // detection. Driver union-find at this scale; the distributed
    // hash-min path is equality-tested in Ops3Spec (ufThreshold=0).
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.dupClusters(docs, TextOps.simhashPairs(docs, 3))
    }),

    // similarity: brute-force cosine top-k
    "q_cosine_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.bruteTopK(emb, emb.where(col("vec_id") < 10), 5)
    }),

    // cell index: the PRODUCTION codegen owning-cell expression (the
    // equi-join key under every spatial join) plus the pure-arithmetic
    // level-(L−2) parent — oracle-replayed in SQL by the magic-number
    // Morton bit spread, so the index arithmetic itself is pinned
    "q_zorder" -> ((s, dir) =>
      GeoTables.points(s, dir).select(
        col("point_id"),
        graft.plans.CellOfExpr.cellOfNative(
          col("x"), col("y"), lit(GeoTables.JoinLevel)).as("cell"))
        .withColumn("parent", expr(
          s"CAST(${(GeoTables.JoinLevel - 2).toLong << 58} AS BIGINT) | " +
          "shiftright(cell & CAST(288230376151711743 AS BIGINT), 4)"))),

    // clustering: distributed Lloyd's k-means (k=8, 5 rounds) — argmin
    // assignment against broadcast centroid literals, one (cid, dim)
    // aggregation per round; round-to-6 lockstep makes every round
    // DuckDB-replayable (see ops/Clustering.scala)
    "q_kmeans" -> ((s, dir) =>
      Clustering.kmeansAssign(s.read.parquet(s"$dir/embeddings.parquet"), 8, 5)),

    // similarity: SQ8 scalar-quantized ANN — int8-grid quantization,
    // integer-domain candidate scoring, exact re-rank of the top 4k;
    // closed-form quantizer ⇒ fully DuckDB-replayable (unlike PQ)
    "q_sq_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.sqTopK(emb, emb.where(col("vec_id") < 10), 5)
    }),

    // similarity: LSH-bucketed ANN (rows-only; recall tested in ScalaTest)
    "q_lsh_knn" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 10), 5)
    }),

    // similarity: IVF coarse-quantizer ANN — the FAISS-style scale path
    // (rows-only; recall floor + partition invariance in ScalaTest)
    "q_ivf_knn" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), 5)
    }),

    // IVF with nProbe = nClusters: every cluster probed, candidates =
    // whole corpus, so the result DEGENERATES to exact brute-force top-k.
    // This pins the candidate-join + exact-cosine + window machinery of
    // the IVF path against the same DuckDB oracle as q_cosine_topk
    // (recall of the approximate setting stays spec-only by nature).
    "q_ivf_exhaustive" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), 5,
        nClusters = 16, nProbe = 16)
    }),

    // LSH with rowsPerBand=0: the single band value is 0 bits wide, so
    // EVERY (query, corpus) pair collides and the banded path degenerates
    // to exact brute-force top-k — same oracle as q_cosine_topk, pinning
    // the band-join + distinct + rescoring machinery.
    "q_lsh_exhaustive" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 10), 5,
        rowsPerBand = 0, bands = 1)
    }),

    // multimodal: resolve media_refs → binary payloads → batch feature
    // extraction (decode step stubbed; plumbing real). Refs project
    // straight off the span source — rebuilding whole documents to
    // distinct a handful of refs cost 13.8s/8 rows in round 1.
    "q_media_features" -> ((s, dir) => {
      val refs = GeoTables.mediaRefs(s, dir)
      Multimodal.extractFeatures(Multimodal.resolveMedia(refs, RasterGen.tiles(s)))
        .select(col("media_ref"), col("n_bytes"), col("width"), col("height"))
    }),

    // multimodal image-preproc: 2× block-mean resize in the blob domain
    // (binary payload in → resized pixels out; real decode of the packed
    // grid). Valid-only block means of integer-valued doubles are exact
    // in both engines, so no rounding is needed.
    "q_media_resize" -> ((s, dir) => {
      val refs = GeoTables.mediaRefs(s, dir)
      Multimodal.resizeMedia(Multimodal.resolveMedia(refs, RasterGen.tiles(s)), 2)
    }),

    // multimodal video-style frame sampling: payload rows = frame axis,
    // keep every 5th frame with per-frame valid count + mean
    "q_media_frames" -> ((s, dir) => {
      val refs = GeoTables.mediaRefs(s, dir)
      Multimodal.sampleFrames(Multimodal.resolveMedia(refs, RasterGen.tiles(s)), 5)
    }),

    // §2.10 focal mean (map_overlap stencil with cross-tile halo)
    "q_focal_mean" -> ((s, _) =>
      RasterOps.cells(Filters.focal(RasterGen.tiles(s), "mean", 1,
          RasterGen.TilesX, RasterGen.TilesY))
        .select(col("i"), col("j"), round(col("val"), 6).as("val"))),

    // §2.8 rasterize: burn zone ids, highest burn wins on overlap
    "q_rasterize" -> ((s, dir) =>
      RasterOps.cells(Rasterize.rasterize(
        GeoTables.zones(s, dir).select(col("wkt"), col("zone_id").cast("double").as("b")),
        Some("b"), 0.25, 0.25, 0, 100, 400, 400, 50, 50))),

    // §2.4 interp_points: bilinear raster sample at the derived points.
    // point_id is not row-unique (duplicate source rows) → disambiguate
    // with a PARTITIONED window (partitionBy point_id — no global sort,
    // no single-partition WindowExec) composed into a unique long.
    // Ties are fully-identical rows so any tie-order yields the same set.
    "q_interp_points" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("point_id")).orderBy(col("x"), col("y"), col("value"))
      PointInterp.interp(
        GeoTables.points(s, dir)
          .withColumn("pid", col("point_id") * 1024 + row_number().over(w))
          .select(col("pid").cast("long").as("pid"), col("x"), col("y")),
        RasterGen.tiles(s), 0.25, 0.25, 0, 100, 400, 400, 50, 50, "bilinear")
        .select(col("pid"), col("value"))
    }),

    // §2.4 interp_points cubic (Keys order-3): grid fractions are exactly
    // 0.5, so weights are dyadic (−1,9,9,−1)/16 and the 16-term sum is
    // integer-exact — bit-identical to the DuckDB oracle
    "q_interp_cubic" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("point_id")).orderBy(col("x"), col("y"), col("value"))
      PointInterp.interp(
        GeoTables.points(s, dir)
          .withColumn("pid", col("point_id") * 1024 + row_number().over(w))
          .select(col("pid").cast("long").as("pid"), col("x"), col("y")),
        RasterGen.tiles(s), 0.25, 0.25, 0, 100, 400, 400, 50, 50, "cubic")
        .select(col("pid"), col("value"))
    }),

    // §2.4 interp_points quintic (order-5 Lagrange): 6×6 support, halo-3
    // nodata spread (interpolation.py:40,72-86); half-pixel fractions make
    // the weights dyadic (3,−25,150,150,−25,3)/256 → integer-exact sum
    "q_interp_quintic" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("point_id")).orderBy(col("x"), col("y"), col("value"))
      PointInterp.interp(
        GeoTables.points(s, dir)
          .withColumn("pid", col("point_id") * 1024 + row_number().over(w))
          .select(col("pid").cast("long").as("pid"), col("x"), col("y")),
        RasterGen.tiles(s), 0.25, 0.25, 0, 100, 400, 400, 50, 50, "quintic")
        .select(col("pid"), col("value"))
    }),

    // §2.10 gaussian focal filter (filters.py:264-298): NaN-aware
    // normalized convolution with the σ=1 kernel quantized to integers so
    // both engines sum exactly (order-invariant)
    "q_focal_gaussian" -> ((s, _) =>
      RasterOps.cells(Filters.weighted(RasterGen.tiles(s), GaussQ1,
          RasterGen.TilesX, RasterGen.TilesY))
        .select(col("i"), col("j"), round(col("val"), 6).as("val"))),

    // §2.10 distance (outlier) filter (filters.py:458-491): drop cells
    // farther than `thr` from their local gaussian mean
    "q_distance_filter" -> ((s, _) =>
      RasterOps.cells(Filters.distanceFilter(RasterGen.tiles(s), GaussQ1,
          threshold = 30.0, RasterGen.TilesX, RasterGen.TilesY))),

    // §2.4 proximity (exact kNN distance transform) on a 100×100-px crop
    "q_proximity" -> ((s, _) =>
      Proximity.proximity(
        RasterGen.tiles(s).filter(t => t.tile_row < 2 && t.tile_col < 2),
        target = 50.0, 0.25, 0.25, 0, 100, level = 6)
        .select(col("i"), col("j"), round(col("dist"), 6).as("dist"))),

    // §2.4 vector-target proximity with out-masking (distance.py:37-126):
    // distance to the rasterized zone boundaries on a 100×100 crop grid,
    // zeroed inside the zones
    "q_proximity_vector" -> ((s, dir) =>
      Proximity.vectorProximity(
        GeoTables.zones(s, dir)
          .where(col("zxmax") < 25 && col("zymin") > 75)
          .select(col("wkt")),
        0.25, 0.25, 0, 100, 100, 100, inOrOut = "out")
        .select(col("i"), col("j"), round(col("dist"), 6).as("dist"))),

    // §2.5 dissolve: groupBy + cascaded geometry union (exact integer area)
    "q_dissolve" -> ((s, dir) =>
      GeoTables.zones(s, dir)
        .groupBy((col("zone_id") % 10).as("grp"))
        .agg(Polygonize.st_union_agg(col("wkt")).as("u"))
        .select(col("grp"), GeoFunctions.st_area(col("u")).as("area"))),

    // §2.9 geometry scalar functions (area/length/centroid via JTS)
    "q_geom_ops" -> ((s, dir) => {
      val z = GeoTables.zones(s, dir)
      z.select(col("zone_id"),
        GeoFunctions.st_area(col("wkt")).as("area"),
        GeoFunctions.st_length(col("wkt")).as("perimeter"),
        GeoFunctions.st_centroid_x(col("wkt")).as("cx"),
        GeoFunctions.st_centroid_y(col("wkt")).as("cy"))
    }),

    // §2.3 bounds algebra: merged bounds (union) of all zones
    "q_bounds_merge" -> ((s, dir) => {
      val z = GeoTables.zones(s, dir)
        .withColumn("env", GeoFunctions.st_envelope(col("wkt")))
      z.agg(min(col("env")(0)).as("minx"), min(col("env")(1)).as("miny"),
            max(col("env")(2)).as("maxx"), max(col("env")(3)).as("maxy"),
            count(lit(1)).as("n"))
    }),

    // §2.3 sensor-metadata parse (satimg analog): regex + timestamp parts
    "q_sensor_parse" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet").select(
        col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k"),
        col("event_type"),
        year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"), hour(col("ts")).as("h"))),

    // §2.6 window: top-3 events by value per type (rank + tiebreak)
    "q_window_topk" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("event_type"), col("rk"), col("event_id"), col("value"))
    }),

    // §2.8 pointcloud gridding: nearest-value per cell + distance cutoff
    // (40×40-cell window; ties → min value, mirrored exactly in SQL)
    "q_point_grid" -> ((s, dir) =>
      PointGrid.grid(GeoTables.points(s, dir).select(col("x"), col("y"), col("value")),
        0.25, 0.25, 0, 100, w = 40, h = 40, cutoff = 2.0)),

    // §2.5 unique / count_nonzero (array-function analogs)
    "q_count_distinct" -> ((s, dir) =>
      GeoTables.points(s, dir).agg(
        countDistinct(col("value")).as("n_distinct_val"),
        count(when(col("value") =!= 0, 1)).as("n_nonzero"),
        countDistinct(col("x"), col("y")).as("n_distinct_xy"))),

    // streaming-style tumbling window: events per hour per type
    "q_tumbling_window" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        // scaled-long sum: order-invariant and exact (see q_sessionize)
        .agg(count(lit(1)).as("n"),
             (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_val"))),

    // §2.2 set_mask: mask extension from a compare-derived Mask raster
    "q_set_mask" -> ((s, _) => {
      val dem = RasterGen.tiles(s)
      RasterOps.stats(RasterOps.applyMask(dem, TileOps.compareScalar(dem, ">", 48)))
        .select(col("n_valid"), col("sum_val"))
    }),

    // §2.4 reduce_points: 3×3 windowed reducer around point coordinates.
    // pid disambiguation via a partitioned window (see q_interp_points).
    "q_reduce_points" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("point_id")).orderBy(col("x"), col("y"), col("value"))
      RasterOps.reducePoints(
        GeoTables.points(s, dir)
          .withColumn("pid", col("point_id") * 1024 + row_number().over(w))
          .select(col("pid").cast("long").as("pid"), col("x"), col("y")),
        RasterGen.tiles(s), 1, 0.25, 0.25, 0, 100, 400, 400, 50, 50)
    }),

    // §2.4 reduce_points with a custom reducer (median window reducer,
    // interpolation.py:853-995)
    "q_reduce_points_median" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("point_id")).orderBy(col("x"), col("y"), col("value"))
      RasterOps.reducePointsWith(
        GeoTables.points(s, dir)
          .withColumn("pid", col("point_id") * 1024 + row_number().over(w))
          .select(col("pid").cast("long").as("pid"), col("x"), col("y")),
        RasterGen.tiles(s), 1, 0.25, 0.25, 0, 100, 400, 400, 50, 50, "median")
    }),

    // §2.2 ufunc catalog: per-cell sqrt (IEEE-exact on both engines)
    "q_raster_ufunc" -> ((s, _) =>
      RasterOps.cells(TileOps.ufunc(RasterGen.tiles(s), "sqrt"))),

    // §2.2 np.gradient analog: row-axis derivative (band 0), central
    // differences with one-sided edges, cross-tile halo
    "q_raster_gradient" -> ((s, _) =>
      RasterOps.cells(TileOps.gradient(RasterGen.tiles(s),
        RasterGen.TilesX, RasterGen.TilesY).filter(_.band == 0))),

    // §2.2 get_valid_extent (array.py:91-102): first/last valid row/col
    // after set_mask(val > 48) — set_mask REMOVES where the mask is true,
    // so the surviving extent is that of val <= 48 cells
    "q_valid_extent" -> ((s, _) =>
      RasterOps.validExtent(RasterOps.applyMask(
        RasterGen.tiles(s), TileOps.compareScalar(RasterGen.tiles(s), ">", 48)))),

    // §2.2 mask indexing / value assignment under mask: dem[dem < 10] = 999
    "q_assign_mask" -> ((s, _) => {
      val dem = RasterGen.tiles(s)
      RasterOps.stats(TileOps.assignWhere(dem, TileOps.compareScalar(dem, "<", 10), 999.0))
        .select(col("n_valid"), col("sum_val"))
    }),

    // §2.3 satimg filename metadata tables (satimg.py:52-183): parse
    // constructed Landsat/Sentinel-2/SETSM names; oracle rebuilds the
    // expected fields with pure string arithmetic
    "q_satimg_parse" -> ((s, dir) => {
      val k = col("o_orderkey")
      val fname = when(k % 3 === 0,
          concat(lit("LC08_L1TP_"), lpad((k % 1000000).cast("string"), 6, "0"),
            lit("_20170503_20170503_01_T1.tif")))
        .when(k % 3 === 1,
          concat(lit("T31TGK_20210101T1030"), lpad((k % 60).cast("string"), 2, "0"), lit(".tif")))
        .otherwise(
          concat(lit("SETSM_WV02_201506"), lpad((k % 28 + 1).cast("string"), 2, "0"),
            lit("_ex1_ex2_mosaic5_2m_v3.0_dem.tif")))
      val parse = udf((f: String) => graft.geo.SatImg.parseMetadata(f))
      s.read.parquet(s"$dir/orders.parquet")
        .select(k.as("okey"), parse(fname).as("m"))
        .select(col("okey"), col("m.platform").as("platform"),
          col("m.sensor").as("sensor"), col("m.product").as("product"),
          col("m.tile_name").as("tile_name"), col("m.datetime").as("dt"))
    }),

    // §2.8 Delaunay gridding (gridding.py:33-102): linear triangulated
    // interpolation over a SHEARED LATTICE point cloud. The shear (row i
    // offset by i/2 in x) makes every lattice parallelogram non-cyclic,
    // so the Delaunay triangulation is forced: each cell splits along its
    // shorter diagonal and the interpolant is a closed-form two-plane
    // CASE the DuckDB oracle replicates EXACTLY — every coordinate is
    // dyadic (res 1/4, spacing 2, shear 1/2), the barycentric determinant
    // is ±4, and z is integer, so both engines evaluate in exact double
    // arithmetic (no rounding tolerance needed). distNodataPixel=16 ≥ the
    // lattice covering radius (~6.4 px) keeps every in-hull cell alive.
    // Scattered-point coverage stays in ScalaTest (Ops9: linear-field
    // exactness, curved golden, partition invariance).
    "q_point_grid_delaunay" -> ((s, dir) => {
      val lat = s.range(-13, 51).select(col("id").as("jj"))
        .crossJoin(s.range(0, 51).select(col("id").as("ii")))
        .select(
          (col("jj") * 2.0 + col("ii") * 0.5).as("x"),
          (col("ii") * 2.0).as("y"),
          (pmod(col("ii") * 7 + col("jj") * 13, lit(19)) - 9).cast("double").as("value"))
      RasterOps.cells(Gridding.delaunayGrid(
        lat, 0.25, 0.25, 0, 100, 400, 400, 50, 50, distNodataPixel = 16.0))
        .select(col("i"), col("j"), col("val"))
    }),

    // §2.8 Delaunay gridding, the reference's Clough–Tocher griddata mode
    // (`griddata(method="cubic")` = scipy's C1 CT spline): since r5 this
    // runs the REAL reduced-HCT element with Nielson MNN gradients
    // (method="cubic_ct") over genuinely scattered sites — the same
    // interpolant class as scipy, halo-local gradient solve (the one
    // remaining documented delta, SURVEY §7.4.8; `globalMnnGradients`
    // removes even that when the caller pays the iterative global solve).
    // rows-only: scattered curved-field values have no SQL closed form —
    // the pipeline is oracle-pinned by q_point_grid_cubic_{lattice,
    // scatter,ct} and the C1 behavior by ScalaTest Ops12/Ops13.
    "q_point_grid_cubic" -> ((s, dir) =>
      RasterOps.cells(Gridding.delaunayGrid(
        GeoTables.points(s, dir).select(col("x"), col("y"), col("value")),
        0.25, 0.25, 0, 100, 400, 400, 50, 50, method = "cubic_ct"))
        .select(col("i"), col("j"), round(col("val"), 6).as("val"))),

    // §2.8 cubic gridding over the same sheared lattice, AFFINE z-field
    // (z = x/2 + y/4 + 3): the Clough–Tocher-analog patch reproduces any
    // plane exactly (LS vertex gradients have zero residual on linear
    // data; Bézier control points collapse to the plane), so the oracle
    // is the closed-form plane at cell centers under the same in-hull
    // mask as q_point_grid_delaunay. round(,6) absorbs the ≤1e-12 float
    // noise of solving the 2×2 LS normal equations. This oracles the
    // whole cubic pipeline — tiled Delaunay, gradient estimation, patch
    // evaluation, grid mapping — leaving only the curved-field VALUES to
    // ScalaTest (Ops9 golden); q_point_grid_cubic keeps scattered input.
    "q_point_grid_cubic_lattice" -> ((s, dir) => {
      val lat = s.range(-13, 51).select(col("id").as("jj"))
        .crossJoin(s.range(0, 51).select(col("id").as("ii")))
        .select(
          (col("jj") * 2.0 + col("ii") * 0.5).as("x"),
          (col("ii") * 2.0).as("y"),
          (col("jj") + col("ii") * 0.75 + 3.0).as("value"))
      RasterOps.cells(Gridding.delaunayGrid(
        lat, 0.25, 0.25, 0, 100, 400, 400, 50, 50,
        distNodataPixel = 16.0, method = "cubic"))
        .select(col("i"), col("j"), round(col("val"), 6).as("val"))
    }),

    // §2.8 cubic gridding over SCATTERED sites with a closed-form oracle:
    // the sheared lattice's INTERIOR sites are jittered by a deterministic
    // dyadic offset (±10/32 per axis — site spacing is 2, so triangles
    // stay fat and the hull, whose vertices are the UNPERTURBED boundary
    // sites, is unchanged ⇒ the in-hull mask is still the full grid). The
    // z-field is affine IN THE JITTERED COORDINATES (z = x/2 + y/4 + 3),
    // and the CT-analog patch reproduces any plane exactly on ANY
    // triangulation (LS vertex gradients have zero residual on linear
    // data), so the oracle is the same closed-form plane at cell centers
    // — yet the Spark side runs the REAL scattered-site path: genuinely
    // irregular Delaunay triangulations per tile, LS gradient solves on
    // irregular neighborhoods, halo routing of off-lattice points. This
    // oracles the scattered pipeline end-to-end; only curved-field
    // scattered VALUES remain ScalaTest-pinned (the documented C0-vs-C1
    // scipy divergence, SURVEY §7.4.8).
    "q_point_grid_cubic_scatter" -> ((s, dir) => {
      val base = s.range(-13, 51).select(col("id").as("jj"))
        .crossJoin(s.range(0, 51).select(col("id").as("ii")))
      val interior = col("ii") > 0 && col("ii") < 50 &&
        col("jj") > -13 && col("jj") < 50
      val dx = when(interior,
        (pmod(col("ii") * 31 + col("jj") * 17, lit(21)) - 10) / 32.0).otherwise(0.0)
      val dy = when(interior,
        (pmod(col("ii") * 13 + col("jj") * 29, lit(21)) - 10) / 32.0).otherwise(0.0)
      val sites = base
        .select((col("jj") * 2.0 + col("ii") * 0.5 + dx).as("x"),
                (col("ii") * 2.0 + dy).as("y"))
        .select(col("x"), col("y"),
                (col("x") * 0.5 + col("y") * 0.25 + 3.0).as("value"))
      RasterOps.cells(Gridding.delaunayGrid(
        sites, 0.25, 0.25, 0, 100, 400, 400, 50, 50,
        distNodataPixel = 16.0, method = "cubic"))
        .select(col("i"), col("j"), round(col("val"), 6).as("val"))
    }),

    // §2.8 C1 Clough–Tocher gridding (method="cubic_ct", r5): the REAL
    // reduced-HCT centroid split with Nielson minimum-norm-network
    // gradients — scipy's interpolant class — over the same jittered
    // scattered-site fixture. On the affine field the MNN energy is zero
    // at the exact constant gradient (the LS start), so the element
    // reproduces the plane exactly on the genuinely irregular
    // triangulation, and the oracle is closed-form. This pins the whole
    // C1 pipeline end-to-end: MNN Gauss–Seidel solve, 3-split ordinate
    // construction, mini-patch selection, halo routing. Curved-field C1
    // behavior (cross-edge derivative continuity, quadratic reproduction,
    // third-order convergence) is ScalaTest-pinned in Ops12.
    "q_point_grid_cubic_ct" -> ((s, dir) => {
      val base = s.range(-13, 51).select(col("id").as("jj"))
        .crossJoin(s.range(0, 51).select(col("id").as("ii")))
      val interior = col("ii") > 0 && col("ii") < 50 &&
        col("jj") > -13 && col("jj") < 50
      val dx = when(interior,
        (pmod(col("ii") * 31 + col("jj") * 17, lit(21)) - 10) / 32.0).otherwise(0.0)
      val dy = when(interior,
        (pmod(col("ii") * 13 + col("jj") * 29, lit(21)) - 10) / 32.0).otherwise(0.0)
      val sites = base
        .select((col("jj") * 2.0 + col("ii") * 0.5 + dx).as("x"),
                (col("ii") * 2.0 + dy).as("y"))
        .select(col("x"), col("y"),
                (col("x") * 0.5 + col("y") * 0.25 + 3.0).as("value"))
      RasterOps.cells(Gridding.delaunayGrid(
        sites, 0.25, 0.25, 0, 100, 400, 400, 50, 50,
        distNodataPixel = 16.0, method = "cubic_ct"))
        .select(col("i"), col("j"), round(col("val"), 6).as("val"))
    }),

    // dedup: embedding-cosine near-duplicate pairs (rows-only)
    "q_embed_dups" -> ((s, dir) =>
      Similarity.cosineDupPairs(
        s.read.parquet(s"$dir/embeddings.parquet"), threshold = 0.95)),

    // dedup: SemDeDup-style semantic dedup manifest — near-dup pairs →
    // connected components → keep the min-id representative. The
    // synthetic embeddings hold no true near-dups (nothing in
    // [0.90, 0.97] — the q_embed_dups check), so the dup structure is
    // injected deterministically in-query (the q_pii_scrub fixture
    // precedent): exact copies of every 50th/100th vector at offset ids,
    // giving clusters of size 2 and 3. Copies are bit-identical, so the
    // SRP bands collide with certainty (candidate recall is exactly 1 —
    // the banding can only miss sub-threshold noise the exact-cosine
    // verify drops anyway) and the DuckDB brute-force twin sees the
    // identical pair set.
    "q_semantic_dedup" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val corpus = base
        .unionByName(base.where(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")))
        .unionByName(base.where(col("vec_id") % 100 === 0)
          .select((col("vec_id") + 20000000L).as("vec_id"), col("embedding")))
      Similarity.semanticDedup(corpus, 0.95)
    }),

    // text: rolling-hash document fingerprints (rows-only)
    "q_fingerprint" -> ((s, dir) =>
      TextOps.fingerprintDf(s.read.parquet(s"$dir/documents.parquet"))),

    // text: winnowing fingerprint selection (SIGMOD'03) — token 3-gram
    // md5-prefix hashes, window w=4 minima, rightmost ties; DuckDB
    // replays the whole selection exactly (windowed min + range join)
    "q_winnow" -> ((s, dir) =>
      TextOps.winnow(s.read.parquet(s"$dir/documents.parquet"), 3, 4)
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("hash"))),

    // §2.2 raster⊗raster arithmetic (tileZip): 2a+b over aligned grids
    "q_raster_arith" -> ((s, _) =>
      RasterOps.stats(RasterOps.tileZip(RasterGen.tiles(s), RasterGen.tiles(s))(
          (a, b) => 2 * a + b))
        .select(col("n_valid"), col("sum_val"), col("min_val"), col("max_val"))),

    // §2.2 comparison → Mask raster
    "q_raster_compare" -> ((s, _) =>
      RasterOps.stats(TileOps.compareScalar(RasterGen.tiles(s), ">", 48))
        .select(col("n_valid"), col("sum_val").as("n_true"))),

    // §2.7 mask boolean algebra (AND/OR/XOR/NOT cell counts)
    "q_mask_algebra" -> ((s, _) => {
      val m1 = TileOps.compareScalar(RasterGen.tiles(s), ">", 30)
      val m2 = TileOps.compareScalar(RasterGen.tiles(s), "<", 60)
      def trues(m: org.apache.spark.sql.Dataset[graft.model.RasterTile]) =
        RasterOps.stats(m).select(col("sum_val"))
      trues(TileOps.maskCombine(m1, m2, "and")).withColumnRenamed("sum_val", "and_cnt")
        .crossJoin(trues(TileOps.maskCombine(m1, m2, "or")).withColumnRenamed("sum_val", "or_cnt"))
        .crossJoin(trues(TileOps.maskCombine(m1, m2, "xor")).withColumnRenamed("sum_val", "xor_cnt"))
        .crossJoin(trues(TileOps.maskNot(m1)).withColumnRenamed("sum_val", "not1_cnt"))
    }),

    // §2.7 multi-raster merge: mean over per-cell valid contributions
    "q_raster_merge" -> ((s, _) =>
      RasterOps.cells(TileOps.merge(
        Seq(RasterGen.tiles(s), RasterGen.tiles2(s)), "mean"))),

    // §2.10 split_bands: stack dem (band 0) + dem2 (band 1) into one
    // multi-band raster, split, read band 1's valid cells — the oracle
    // rebuilds dem2's value/mask fields arithmetically
    "q_split_bands" -> ((s, _) => {
      import s.implicits._
      val multi = RasterGen.tiles(s)
        .union(RasterGen.tiles2(s).map(_.copy(raster_id = "dem", band = 1)))
      RasterOps.cells(TileOps.splitBands(multi)(1))
        .select(col("i"), col("j"), col("val"))
    }),

    // §2.4 sjoin: polygon⊗polygon intersects (cell prejoin + JTS refine)
    "q_sjoin_boxes" -> ((s, dir) => {
      val z = GeoTables.zones(s, dir)
      SpatialJoin.sjoin(
        z.select(col("zone_id").as("id_a"), col("wkt").as("wkt_a")),
        z.select(col("zone_id").as("id_b"), col("wkt").as("wkt_b")),
        "intersects", level = 5)
        .where(col("id_a") < col("id_b"))
    }),

    // §2.4/§2.7 overlay (how="intersection"), rectangle fast plan: the
    // sjoin builds the pair set (single-emission, id pairs only), the
    // id filter halves it BEFORE anything wide joins back, and the piece
    // areas come from the zones' bbox COLUMNS in pure codegen — no WKT
    // re-parse, no JTS, geometry pruned from every post-join exchange.
    // General-geometry overlay (incl. the JTS path) is q_overlay_union +
    // Ops8Spec. Deterministic 1/10 subset bounds the O(n²) pair set; the
    // oracle applies the same subset.
    "q_overlay" -> ((s, dir) => {
      val z = GeoTables.zones(s, dir).where(col("zone_id") % 10 === 0)
      // the bbox-column area shortcut is only valid while every zone is an
      // axis-aligned rectangle; fail LOUDLY (not silently-wrong) if a
      // future fixture change breaks that invariant
      val boxes = z
        .where(assert_true(graft.functions.GeoFunctions.st_is_rect(col("wkt")),
          lit("q_overlay bbox-area shortcut requires rectangular zones")).isNull)
        .select(col("zone_id"), col("zxmin"), col("zymin"),
          col("zxmax"), col("zymax"))
      val x0 = greatest(col("ax0"), col("bx0")); val x1 = least(col("ax1"), col("bx1"))
      val y0 = greatest(col("ay0"), col("by0")); val y1 = least(col("ay1"), col("by1"))
      SpatialJoin.sjoin(
          z.select(col("zone_id").as("id_a"), col("wkt").as("wkt_a")),
          z.select(col("zone_id").as("id_b"), col("wkt").as("wkt_b")),
          "intersects", level = 5)
        .where(col("id_a") < col("id_b"))
        .join(boxes.toDF("id_a", "ax0", "ay0", "ax1", "ay1"), Seq("id_a"))
        .join(boxes.toDF("id_b", "bx0", "by0", "bx1", "by1"), Seq("id_b"))
        .where(x1 > x0 && y1 > y0)
        .select(col("id_a"), col("id_b"), ((x1 - x0) * (y1 - y0)).as("area"))
    }),

    // §2.4/§2.7 overlay how=union (vector.py:974-989): intersection pieces
    // + per-feature differences both ways; ids null on difference rows.
    // areaOnly: the query aggregates areas, so difference pieces measure
    // via the rectilinear sweep instead of materializing JTS geometry.
    // Areas are integer-exact (integer-coordinate rectilinear polygons).
    "q_overlay_union" -> ((s, dir) => {
      val z = GeoTables.zones(s, dir)
      Overlay.overlay(
        z.where(col("zone_id") % 10 === 1)
          .select(col("zone_id").as("id_a"), col("wkt").as("wkt_a")),
        z.where(col("zone_id") % 10 === 3)
          .select(col("zone_id").as("id_b"), col("wkt").as("wkt_b")),
        "union", areaOnly = true)
        .select(col("id_a"), col("id_b"), col("area"))
    }),

    // §2.4 sjoin how=anti: zones in A intersecting NO zone of B
    "q_sjoin_anti" -> ((s, dir) => {
      val z = GeoTables.zones(s, dir)
      SpatialJoin.sjoin(
        z.where(col("zone_id") % 10 === 1)
          .select(col("zone_id").as("id_a"), col("wkt").as("wkt_a")),
        z.where(col("zone_id") % 10 === 3)
          .select(col("zone_id").as("id_b"), col("wkt").as("wkt_b")),
        "intersects", how = "anti")
    }),

    // sessionization (30-min gap) — training-pipeline event grouping
    "q_sessionize" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("gap", unix_timestamp(col("ts")) -
          unix_timestamp(lag(col("ts"), 1).over(w)))
        .withColumn("new_sess", when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        // order-invariant exact sum: event values have 2 decimals, so sum
        // scaled longs (double summation is partition-order-dependent in
        // the last ulp and can flip the rounded 3rd decimal vs the oracle)
        .agg(count(lit(1)).as("n_events"),
             (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_val"))
    }),

    // §2.6 window: running per-user value sum in time order
    "q_window_running" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          round(sum(col("value")).over(w), 4).as("running"))
    }))

  // ---------------------------------------------------------------------

  def oracleSql: Map[String, String] = Map(
    "q_bbox_filter" -> (withCtes(GeoTables.Sql.pts) +
      "\nSELECT point_id, x, y, value FROM pts WHERE x > 20 AND x < 60 AND y > 30 AND y < 70"),

    "q_zonal_stats_points" -> (withCtes(GeoTables.Sql.pts, GeoTables.Sql.zones) +
      """
        |SELECT z.zone_id, count(*) AS n_pts, sum(p.value) AS sum_val,
        |       round(avg(p.value), 3) AS avg_val
        |FROM zones z JOIN pts p
        |  ON p.x > z.zxmin AND p.x < z.zxmax AND p.y > z.zymin AND p.y < z.zymax
        |GROUP BY z.zone_id""".stripMargin),

    "q_zonal_stats_salted" -> (withCtes(GeoTables.Sql.pts, GeoTables.Sql.zones) +
      """
        |SELECT z.zone_id, count(*) AS n_pts, sum(p.value) AS sum_val
        |FROM zones z JOIN pts p
        |  ON p.x > z.zxmin AND p.x < z.zxmax AND p.y > z.zymin AND p.y < z.zymax
        |GROUP BY z.zone_id""".stripMargin),

    "q_zonal_stats_adaptive" -> (withCtes(GeoTables.Sql.pts, GeoTables.Sql.zones) +
      """
        |SELECT z.zone_id, count(*) AS n_pts, sum(p.value) AS sum_val
        |FROM zones z JOIN pts p
        |  ON p.x > z.zxmin AND p.x < z.zxmax AND p.y > z.zymin AND p.y < z.zymax
        |GROUP BY z.zone_id""".stripMargin),

    "q_cell_histogram" -> (withCtes(GeoTables.Sql.pts) +
      """
        |SELECT CAST(floor(x/8) AS BIGINT) AS ix, CAST(floor(y/8) AS BIGINT) AS iy,
        |       count(*) AS cnt
        |FROM pts GROUP BY 1, 2""".stripMargin),

    "q_cell_rollup" -> (withCtes(GeoTables.Sql.pts) +
      """
        |SELECT 6 AS level, CAST(floor(x/2) AS BIGINT) AS ix,
        |       CAST(floor(y/2) AS BIGINT) AS iy, count(*) AS cnt
        |FROM pts GROUP BY 2, 3
        |UNION ALL SELECT 5, CAST(floor(x/4) AS BIGINT),
        |       CAST(floor(y/4) AS BIGINT), count(*) FROM pts GROUP BY 2, 3
        |UNION ALL SELECT 4, CAST(floor(x/8) AS BIGINT),
        |       CAST(floor(y/8) AS BIGINT), count(*) FROM pts GROUP BY 2, 3
        |UNION ALL SELECT 3, CAST(floor(x/16) AS BIGINT),
        |       CAST(floor(y/16) AS BIGINT), count(*) FROM pts GROUP BY 2, 3
        |UNION ALL SELECT 2, CAST(floor(x/32) AS BIGINT),
        |       CAST(floor(y/32) AS BIGINT), count(*) FROM pts GROUP BY 2, 3""".stripMargin),

    // Single-window replay of the two-phase bucketed as-of: right rows
    // sort before left at equal ts (side 0 < 1), larger event_id wins
    // among right duplicates — the same total order the op uses.
    "q_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, event_id, value, 0 AS side
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, NULL, 1
        |  FROM events WHERE event_type = 'click'),
        |w AS (
        |  SELECT user_id, event_id, side,
        |         last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, side, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r_id,
        |         last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, side, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r_value
        |  FROM u)
        |SELECT event_id, user_id, r_id, r_value FROM w WHERE side = 1""".stripMargin,

    // the theta-join formulation — what the bucketed equi-join plan must
    // reproduce exactly
    "q_interval_join" ->
      """WITH iv AS (
        |  SELECT o_orderkey,
        |         datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d0
        |  FROM orders WHERE o_orderkey % 199 = 0),
        |li AS (
        |  SELECT l_quantity,
        |         datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS d
        |  FROM lineitem)
        |SELECT o_orderkey, count(*) AS n, round(sum(l_quantity), 3) AS sum_qty
        |FROM iv JOIN li ON li.d BETWEEN iv.d0 AND iv.d0 + 6
        |GROUP BY o_orderkey""".stripMargin,

    // full KMV replay: k smallest distinct permutation-hashes per group,
    // exact below saturation, (k-1)*p/h_k above — bit-identical after
    // 6-dp rounding (identical IEEE multiply/divide on exact integers)
    "q_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |         (user_id * 2654435761) % 1000000007 AS hk
        |  FROM events),
        |r AS (SELECT event_type, hk,
        |             row_number() OVER (PARTITION BY event_type ORDER BY hk) AS rn
        |      FROM h),
        |agg AS (SELECT event_type, count(*) AS n_kept, max(hk) AS kth_key
        |        FROM r WHERE rn <= 128 GROUP BY event_type)
        |SELECT event_type, n_kept, kth_key,
        |       round(CASE WHEN n_kept < 128 THEN CAST(n_kept AS DOUBLE)
        |                  ELSE 127.0 * 1000000007.0 / CAST(kth_key AS DOUBLE)
        |             END, 6) AS est
        |FROM agg""".stripMargin,

    // full HLL replay: per-bucket max rank over distinct quadratic-mix
    // hashes; s_scaled is a sum of dyadics with exponent >= -23 (< 33
    // mantissa bits) so SQL's unordered sum is exact; est is the same
    // IEEE expression on the same exact inputs on both sides
    "q_hll_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |         ((user_id * user_id) % 1000000007 * 2654435761 + user_id)
        |           % 1000000007 AS hk
        |  FROM events),
        |b AS (
        |  SELECT event_type, hk % 256 AS bucket,
        |         CASE WHEN hk // 256 = 0 THEN 23
        |              ELSE 23 - length(bin(hk // 256)) END AS r
        |  FROM h),
        |reg AS (SELECT event_type, bucket, max(r) AS mr
        |        FROM b GROUP BY event_type, bucket),
        |g AS (SELECT event_type,
        |             CAST(256 - count(*) AS BIGINT) AS n_zero,
        |             sum(pow(2.0, -mr)) + (256 - count(*)) AS s_scaled
        |      FROM reg GROUP BY event_type),
        |e AS (SELECT event_type, n_zero, s_scaled,
        |             (0.7213 / (1 + 1.079 / 256.0)) * 65536.0 / s_scaled AS raw
        |      FROM g)
        |SELECT event_type, n_zero, s_scaled,
        |       round(CASE WHEN raw <= 640.0 AND n_zero > 0
        |                  THEN 256.0 * ln(256.0 / n_zero)
        |                  ELSE raw END, 6) AS est
        |FROM e""".stripMargin,

    // full Count–Min replay: the same 4 affine row-hashes bucket every
    // event, counters are exact per-(row, bucket) sums, and each key's
    // estimate is the min of its 4 counters — pure integer arithmetic,
    // bit-identical
    "q_cm_heavy" ->
      """WITH par(j, a, b) AS (VALUES
        |    (0, 2654435761, 97), (1, 2246822519, 1013),
        |    (2, 3266489917, 65537), (3, 668265263, 20117)),
        |cnt AS (
        |  SELECT p.j, ((e.user_id * p.a + p.b) % 1000000007) % 4096 AS bkt,
        |         count(*) AS c
        |  FROM events e CROSS JOIN par p GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT user_id FROM events),
        |est AS (
        |  SELECT k.user_id, min(c.c) AS est
        |  FROM keys k CROSS JOIN par p
        |  JOIN cnt c ON c.j = p.j
        |            AND c.bkt = ((k.user_id * p.a + p.b) % 1000000007) % 4096
        |  GROUP BY 1)
        |SELECT user_id, est FROM est WHERE est >= 75""".stripMargin,

    // full HDR-quantile replay: identical integer bucketization
    // (length(bin(x)) bit length, >> shift), cumulative walk, and the
    // cross-multiplied rank test; rep re-derives the bucket's exact
    // lower bound
    "q_hdr_quantiles" ->
      """WITH v AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) + 1 AS x
        |  FROM events),
        |b AS (
        |  SELECT event_type, greatest(length(bin(x)) - 6, 0) AS shift, x
        |  FROM v),
        |bk AS (
        |  SELECT event_type, shift * 32 + (x >> shift) AS bucket,
        |         count(*) AS c
        |  FROM b GROUP BY 1, 2),
        |cw AS (
        |  SELECT event_type, bucket, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM bk),
        |q AS (
        |  SELECT event_type, p.pct, min(bucket) AS bucket
        |  FROM cw CROSS JOIN (VALUES (50), (90), (99)) AS p(pct)
        |  WHERE cum * 100 >= p.pct * n
        |  GROUP BY 1, 2)
        |SELECT event_type, pct, bucket,
        |       (bucket - greatest(bucket // 32 - 1, 0) * 32)
        |         << greatest(bucket // 32 - 1, 0) AS rep
        |FROM q""".stripMargin,

    // layout queries: the oracle replays the JOIN SEMANTICS on the raw
    // parquet — bucketing/partitioning are pure layout, so results must
    // be identical to the direct plan. revenue sums in decimal(18,2)
    // (exact, order-independent) before the final double cast.
    "q_bucket_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       round(sum(l_quantity), 3) AS sum_qty,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
        |            AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "q_partition_prune" ->
      """SELECT user_id % 100 AS ub, count(*) AS n,
        |       round(sum(value), 3) AS sum_val
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1""".stripMargin,

    // the naive single-window formulation — what the two-phase salted
    // plan must reproduce exactly
    "q_weighted_sample" ->
      """SELECT lang, doc_id, n_chars, CAST(rk AS INT) AS rk FROM (
        |  SELECT lang, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY
        |           -ln((((doc_id * 2654435761) % 1000000007) + 1) / 1000000008.0)
        |             / n_chars,
        |           doc_id) AS rk
        |  FROM documents WHERE n_chars > 0)
        |WHERE rk <= 20""".stripMargin,

    "q_topk_sample" -> (withCtes(GeoTables.Sql.pts) +
      """
        |SELECT point_id, (point_id * 2654435761) % 1000000007 AS skey
        |FROM pts ORDER BY skey, point_id LIMIT 100""".stripMargin),

    "q_stats_bundle" -> (withCtes(GeoTables.Sql.pts,
      "med AS (SELECT quantile_cont(value, 0.5) AS m FROM pts)") +
      """
        |SELECT count(*) AS n, sum(value) AS sum_val, round(avg(value), 3) AS avg_val,
        |       min(value) AS min_val, max(value) AS max_val,
        |       round(stddev(value), 6) AS std_val,
        |       round(quantile_cont(value, 0.5), 6) AS median_val,
        |       round(quantile_cont(value, 0.05), 6) AS p05,
        |       round(quantile_cont(value, 0.95), 6) AS p95,
        |       round(quantile_cont(value, 0.95) - quantile_cont(value, 0.05), 6) AS le90,
        |       round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6) AS iqr,
        |       round(1.4826 * quantile_cont(abs(value - m), 0.5), 6) AS nmad,
        |       round(sqrt(avg(value * value)), 6) AS rmse
        |FROM pts, med GROUP BY m""".stripMargin),

    "q_knn_zones" -> (withCtes(GeoTables.Sql.pts, GeoTables.Sql.zones) +
      """
        |SELECT z.zone_id,
        |       min((p.x - (z.zxmin+z.zxmax)/2) * (p.x - (z.zxmin+z.zxmax)/2) +
        |           (p.y - (z.zymin+z.zymax)/2) * (p.y - (z.zymin+z.zymax)/2)) AS nn_d2
        |FROM zones z, pts p GROUP BY z.zone_id""".stripMargin),

    "q_raster_stats" -> (withCtes(GeoTables.Sql.grid) +
      """
        |SELECT count(*) AS n_valid, sum(val) AS sum_val, min(val) AS min_val,
        |       max(val) AS max_val, round(sum(val)/count(*), 3) AS avg_val
        |FROM grid""".stripMargin),

    // On the synthetic grid every 4-neighbor differs (val steps 7/13 mod
    // 97 ≠ 0), so every component is a single cell: component_id is then
    // the deterministic gid packing ((tile_row*2^20 + tile_col) << 24) |
    // local-label, local label = row-major valid-cell rank in the 50×50
    // tile — a full-pipeline identity oracle for label_union + seam UF +
    // dissolve (multi-cell component structure is ScalaTest-verified)
    "q_polygonize" -> (withCtes(GeoTables.Sql.grid,
      """l AS (
        |  SELECT i, j, val,
        |         ((i//50)*1048576 + (j//50))*16777216 +
        |         row_number() OVER (PARTITION BY i//50, j//50 ORDER BY i, j) - 1 AS component_id
        |  FROM grid)""".stripMargin) +
      """
        |SELECT component_id,
        |       CAST(round(val/CAST(0.000001 AS DOUBLE)) AS BIGINT)*CAST(0.000001 AS DOUBLE) AS raster_value,
        |       CAST(1 AS BIGINT) AS n_cells, CAST(0.0625 AS DOUBLE) AS area
        |FROM l""".stripMargin),

    "q_stats_inlier" -> (withCtes(GeoTables.Sql.grid,
      """a AS (
        |  SELECT count(*) AS n_valid,
        |         CAST(sum(CASE WHEN val >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS valid_inlier,
        |         sum(CASE WHEN val >= 10 THEN val ELSE 0 END) AS sum_val,
        |         min(CASE WHEN val >= 10 THEN val END) AS min_val,
        |         max(CASE WHEN val >= 10 THEN val END) AS max_val
        |  FROM grid)""".stripMargin) +
      """
        |SELECT n_valid, CAST(160000 AS BIGINT) AS n_total, valid_inlier,
        |       CAST(160000 - n_valid + valid_inlier AS BIGINT) AS total_inlier,
        |       sum_val, min_val, max_val,
        |       round(n_valid*100.0/160000, 6) AS pct_valid,
        |       round(valid_inlier*100.0/n_valid, 6) AS pct_inlier,
        |       round(valid_inlier*100.0/(160000 - n_valid + valid_inlier), 6) AS pct_valid_inlier
        |FROM a""".stripMargin),

    "q_raster_crop" -> (withCtes(GeoTables.Sql.grid) +
      "\nSELECT i, j, val FROM grid WHERE cx > 10 AND cx < 35 AND cy > 20 AND cy < 60"),

    "q_raster_zonal" -> (withCtes(GeoTables.Sql.grid, GeoTables.Sql.zones) +
      """
        |SELECT z.zone_id, count(*) AS n_cells, sum(g.val) AS sum_val,
        |       round(sum(g.val)/count(*), 3) AS avg_val
        |FROM zones z JOIN grid g
        |  ON g.cx > z.zxmin AND g.cx < z.zxmax AND g.cy > z.zymin AND g.cy < z.zymax
        |GROUP BY z.zone_id""".stripMargin),

    "q_raster_hist" -> (withCtes(GeoTables.Sql.grid) +
      "\nSELECT val, count(*) AS cnt FROM grid GROUP BY val"),

    "q_polygonize_conserve" -> (withCtes(GeoTables.Sql.grid) +
      "\nSELECT val AS raster_value, count(*) AS n_cells FROM grid GROUP BY val"),

    "q_reproject" ->
      """SELECT t.i AS i, s.j AS j,
        |       CAST(((2*t.i+1)*7 + (2*s.j+1)*13)%97 AS DOUBLE) AS val
        |FROM generate_series(0,199) t(i), generate_series(0,199) s(j)
        |WHERE ((2*t.i+1)*31 + (2*s.j+1)*17)%101 <> 0""".stripMargin,

    // 2× decimation average: mean of the 2×2 valid src block (grid CTE
    // holds valid cells only; integer-valued doubles sum exactly in any
    // order, so avg() here equals the kernel's sum/count bit for bit)
    "q_reproject_avg" -> (withCtes(GeoTables.Sql.grid) +
      """
        |SELECT g.i // 2 AS i, g.j // 2 AS j, avg(g.val) AS val
        |FROM grid g GROUP BY 1, 2""".stripMargin),

    // gauss at 2× decimation: 3×3 integer stencil at src center (2i+1,
    // 2j+1), valid-renormalized; exact integer num/den on both engines.
    // si/sj are projected before the join so DuckDB extracts an equi hash
    // join (same trick as q_focal_gaussian)
    "q_reproject_gauss" -> (withCtes(GeoTables.Sql.grid) +
      """,
        |k AS (SELECT * FROM (VALUES (-1, 1), (0, 2), (1, 1)) t(d, w)),
        |e AS (
        |  SELECT d.i AS i, s.j AS j,
        |         2*d.i + 1 + ki.d AS si, 2*s.j + 1 + kj.d AS sj,
        |         ki.w * kj.w AS w
        |  FROM generate_series(0,199) d(i), generate_series(0,199) s(j),
        |       k ki, k kj)
        |SELECT e.i AS i, e.j AS j, sum(e.w * g.val) / sum(e.w) AS val
        |FROM e JOIN grid g ON g.i = e.si AND g.j = e.sj
        |GROUP BY 1, 2""".stripMargin),

    // cubic_spline at 2× decimation: fixed 4×4 B-spline stencil with
    // per-axis weights (1/48, 23/48, 23/48, 1/48); a dst pixel is valid
    // only if all 16 support pixels are in-bounds and valid (the kernel's
    // strict nodata spreading ⇒ HAVING count(*)=16). sum(w·v)/sum(w) is
    // m/2304 exactly, so round(·*2304) is an integer both engines agree on.
    "q_reproject_spline" -> (withCtes(GeoTables.Sql.grid) +
      """,
        |wts AS (
        |  SELECT a, CASE WHEN a IN (-1, 2) THEN 1.0/48 ELSE 23.0/48 END AS w
        |  FROM (VALUES (-1), (0), (1), (2)) t(a)),
        |sup AS (
        |  SELECT d.i AS i, e.j AS j, wa.w * wb.w AS wt,
        |         2*d.i + wa.a AS si, 2*e.j + wb.a AS sj
        |  FROM generate_series(0,199) d(i), generate_series(0,199) e(j),
        |       wts wa, wts wb)
        |SELECT s.i AS i, s.j AS j,
        |       CAST(round(sum(s.wt*g.val)/sum(s.wt)*2304) AS BIGINT) AS sval
        |FROM sup s JOIN grid g ON g.i = s.si AND g.j = s.sj
        |GROUP BY 1, 2 HAVING count(*) = 16""".stripMargin),

    "q_media_features" ->
      """SELECT DISTINCT
        |  'tile://dem/0/' || CAST(o_orderkey%8 AS VARCHAR) || '/' ||
        |  CAST((o_orderkey*3)%8 AS VARCHAR) AS media_ref,
        |  CAST(20000 AS BIGINT) AS n_bytes, 50 AS width, 50 AS height
        |FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)""".stripMargin,

    // 2× blob resize: per-block mean over VALID pixels of the referenced
    // 50×50 tile (tile (r,c) covers global rows 50r.., cols 50c..); blocks
    // with zero valid pixels are absent on both sides
    "q_media_resize" -> (withCtes(GeoTables.Sql.grid) +
      """,
        |refs AS (
        |  SELECT DISTINCT l_orderkey%8 AS r, (l_orderkey*3)%8 AS c
        |  FROM lineitem)
        |SELECT 'tile://dem/0/' || CAST(t.r AS VARCHAR) || '/' ||
        |       CAST(t.c AS VARCHAR) AS media_ref,
        |       CAST((g.i - 50*t.r) // 2 AS INT) AS bi,
        |       CAST((g.j - 50*t.c) // 2 AS INT) AS bj,
        |       avg(g.val) AS val
        |FROM refs t JOIN grid g
        |  ON g.i BETWEEN 50*t.r AND 50*t.r + 49
        | AND g.j BETWEEN 50*t.c AND 50*t.c + 49
        |GROUP BY 1, 2, 3""".stripMargin),

    // every-5th-frame sampling: frame f = tile-local row; per-frame valid
    // count + mean over the referenced tile's row
    "q_media_frames" -> (withCtes(GeoTables.Sql.grid) +
      """,
        |refs AS (
        |  SELECT DISTINCT l_orderkey%8 AS r, (l_orderkey*3)%8 AS c
        |  FROM lineitem)
        |SELECT 'tile://dem/0/' || CAST(t.r AS VARCHAR) || '/' ||
        |       CAST(t.c AS VARCHAR) AS media_ref,
        |       CAST(g.i - 50*t.r AS INT) AS frame,
        |       count(*) AS n_valid, avg(g.val) AS val
        |FROM refs t JOIN grid g
        |  ON g.i BETWEEN 50*t.r AND 50*t.r + 49
        | AND g.j BETWEEN 50*t.c AND 50*t.c + 49
        |WHERE (g.i - 50*t.r) % 5 = 0
        |GROUP BY 1, 2""".stripMargin),

    "q_focal_mean" -> (withCtes(GeoTables.Sql.grid) +
      """
        |SELECT g.i AS i, g.j AS j, round(avg(n.val), 6) AS val
        |FROM grid g JOIN grid n
        |  ON n.i BETWEEN g.i-1 AND g.i+1 AND n.j BETWEEN g.j-1 AND g.j+1
        |GROUP BY g.i, g.j""".stripMargin),

    "q_rasterize" -> (withCtes(GeoTables.Sql.zones) +
      """
        |SELECT t.i AS i, s.j AS j, CAST(max(z.zone_id) AS DOUBLE) AS val
        |FROM generate_series(0,399) t(i), generate_series(0,399) s(j)
        |JOIN zones z ON 0.125 + s.j*0.25 > z.zxmin AND 0.125 + s.j*0.25 < z.zxmax
        |            AND 100 - 0.125 - t.i*0.25 > z.zymin AND 100 - 0.125 - t.i*0.25 < z.zymax
        |GROUP BY t.i, s.j""".stripMargin),

    "q_interp_points" -> (withCtes(GeoTables.Sql.pts,
      """p AS (
        |  SELECT point_id*1024 +
        |         row_number() OVER (PARTITION BY point_id ORDER BY x, y, value) AS pid,
        |         CAST(x*4 AS BIGINT) - 1 AS j0,
        |         CAST((100-y)*4 AS BIGINT) - 1 AS i0
        |  FROM pts)""".stripMargin) +
      """
        |SELECT pid,
        |  CASE WHEN i0 >= 0 AND i0+1 < 400 AND j0 >= 0 AND j0+1 < 400
        |        AND (i0*31 + j0*17)%101 <> 0 AND (i0*31 + (j0+1)*17)%101 <> 0
        |        AND ((i0+1)*31 + j0*17)%101 <> 0 AND ((i0+1)*31 + (j0+1)*17)%101 <> 0
        |  THEN CAST((i0*7 + j0*13)%97 + (i0*7 + (j0+1)*13)%97 +
        |            ((i0+1)*7 + j0*13)%97 + ((i0+1)*7 + (j0+1)*13)%97 AS DOUBLE)/4
        |  ELSE NULL END AS value
        |FROM p""".stripMargin),

    "q_interp_cubic" -> (withCtes(GeoTables.Sql.pts,
      """p AS (
        |  SELECT point_id*1024 +
        |         row_number() OVER (PARTITION BY point_id ORDER BY x, y, value) AS pid,
        |         CAST(x*4 AS BIGINT) - 1 AS j0,
        |         CAST((100-y)*4 AS BIGINT) - 1 AS i0
        |  FROM pts)""".stripMargin,
      "cw AS (SELECT * FROM (VALUES (-1, -1), (0, 9), (1, 9), (2, -1)) AS t(d, w))",
      """n AS (
        |  SELECT p.pid, p.i0 + a.d AS si, p.j0 + b.d AS sj, a.w * b.w AS w
        |  FROM p, cw a, cw b)""".stripMargin) +
      """
        |SELECT pid,
        |  CASE WHEN sum(CASE WHEN si BETWEEN 0 AND 399 AND sj BETWEEN 0 AND 399
        |                      AND (si*31 + sj*17)%101 <> 0 THEN 1 ELSE 0 END) = 16
        |  THEN sum(w * CAST(CASE WHEN si >= 0 AND sj >= 0
        |                         THEN (si*7 + sj*13)%97 ELSE 0 END AS DOUBLE))/256
        |  ELSE NULL END AS value
        |FROM n GROUP BY pid""".stripMargin),

    "q_interp_quintic" -> (withCtes(GeoTables.Sql.pts,
      """p AS (
        |  SELECT point_id*1024 +
        |         row_number() OVER (PARTITION BY point_id ORDER BY x, y, value) AS pid,
        |         CAST(x*4 AS BIGINT) - 1 AS j0,
        |         CAST((100-y)*4 AS BIGINT) - 1 AS i0
        |  FROM pts)""".stripMargin,
      "qw AS (SELECT * FROM (VALUES (-2, 3), (-1, -25), (0, 150), (1, 150), (2, -25), (3, 3)) AS t(d, w))",
      """n AS (
        |  SELECT p.pid, p.i0 + a.d AS si, p.j0 + b.d AS sj, a.w * b.w AS w
        |  FROM p, qw a, qw b)""".stripMargin) +
      """
        |SELECT pid,
        |  CASE WHEN sum(CASE WHEN si BETWEEN 0 AND 399 AND sj BETWEEN 0 AND 399
        |                      AND (si*31 + sj*17)%101 <> 0 THEN 1 ELSE 0 END) = 36
        |  THEN sum(w * CAST(CASE WHEN si >= 0 AND sj >= 0
        |                         THEN (si*7 + sj*13)%97 ELSE 0 END AS DOUBLE))/65536
        |  ELSE NULL END AS value
        |FROM n GROUP BY pid""".stripMargin),

    // NOTE the exploded join key is PROJECTED (e.si/e.sj) before the join:
    // DuckDB can't extract an equi hash join from `g.i = p.i + ki.d`
    // (multi-table expression) and falls back to a quadratic scan
    "q_focal_gaussian" -> (withCtes(GeoTables.Sql.grid, GaussQ1Cte,
      """e AS (
        |  SELECT t.i AS i, s.j AS j, t.i + ki.d AS si, s.j + kj.d AS sj,
        |         ki.w * kj.w AS w
        |  FROM generate_series(0,399) t(i), generate_series(0,399) s(j),
        |       k ki, k kj)""".stripMargin) +
      """
        |SELECT e.i AS i, e.j AS j,
        |       round(sum(e.w * g.val) / sum(e.w), 6) AS val
        |FROM e JOIN grid g ON g.i = e.si AND g.j = e.sj
        |GROUP BY e.i, e.j""".stripMargin),

    "q_distance_filter" -> (withCtes(GeoTables.Sql.grid, GaussQ1Cte,
      """e AS (
        |  SELECT g0.i AS i, g0.j AS j, g0.val AS val,
        |         g0.i + ki.d AS si, g0.j + kj.d AS sj, ki.w * kj.w AS w
        |  FROM grid g0, k ki, k kj)""".stripMargin,
      """m AS (
        |  SELECT e.i AS i, e.j AS j, e.val AS val,
        |         sum(e.w * g.val) / sum(e.w) AS mean
        |  FROM e JOIN grid g ON g.i = e.si AND g.j = e.sj
        |  GROUP BY e.i, e.j, e.val)""".stripMargin) +
      "\nSELECT i, j, val FROM m WHERE abs(val - mean) <= 30.0"),

    "q_proximity" -> (withCtes(GeoTables.Sql.grid) +
      """
        |, crop AS (SELECT * FROM grid WHERE i < 100 AND j < 100),
        |targets AS (SELECT cx, cy FROM crop WHERE val = 50)
        |SELECT c.i AS i, c.j AS j,
        |       round(sqrt(min((c.cx-t.cx)*(c.cx-t.cx) + (c.cy-t.cy)*(c.cy-t.cy))), 6) AS dist
        |FROM crop c, targets t GROUP BY c.i, c.j""".stripMargin),

    "q_proximity_vector" -> (withCtes(GeoTables.Sql.zones,
      "zc AS (SELECT * FROM zones WHERE zxmax < 25 AND zymin > 75)",
      // inner-boundary cells of each zone's rasterized mask: index-rect edges
      """tg AS (
        |  SELECT DISTINCT t.i AS ti, s.j AS tj
        |  FROM zc z, generate_series(0,99) t(i), generate_series(0,99) s(j)
        |  WHERE t.i BETWEEN CAST((100 - z.zymax)*4 AS INT) AND CAST((100 - z.zymin)*4 AS INT) - 1
        |    AND s.j BETWEEN CAST(z.zxmin*4 AS INT) AND CAST(z.zxmax*4 AS INT) - 1
        |    AND (t.i = CAST((100 - z.zymax)*4 AS INT) OR t.i = CAST((100 - z.zymin)*4 AS INT) - 1
        |      OR s.j = CAST(z.zxmin*4 AS INT) OR s.j = CAST(z.zxmax*4 AS INT) - 1))""".stripMargin,
      """cells AS (
        |  SELECT t.i AS i, s.j AS j,
        |         0.125 + s.j*0.25 AS cx, 100 - 0.125 - t.i*0.25 AS cy
        |  FROM generate_series(0,99) t(i), generate_series(0,99) s(j))""".stripMargin,
      """d AS (
        |  SELECT c.i, c.j,
        |         min((c.cx - (0.125 + tg.tj*0.25)) * (c.cx - (0.125 + tg.tj*0.25)) +
        |             (c.cy - (100 - 0.125 - tg.ti*0.25)) * (c.cy - (100 - 0.125 - tg.ti*0.25))) AS nn
        |  FROM cells c, tg GROUP BY c.i, c.j)""".stripMargin,
      """ins AS (
        |  SELECT DISTINCT c.i, c.j FROM cells c JOIN zc z
        |    ON c.cx > z.zxmin AND c.cx < z.zxmax AND c.cy > z.zymin AND c.cy < z.zymax)""".stripMargin) +
      """
        |SELECT d.i AS i, d.j AS j,
        |       CASE WHEN ins.i IS NOT NULL THEN 0.0 ELSE round(sqrt(d.nn), 6) END AS dist
        |FROM d LEFT JOIN ins ON d.i = ins.i AND d.j = ins.j""".stripMargin),

    "q_dissolve" -> (withCtes(GeoTables.Sql.zones) +
      """
        |, cov AS (
        |  SELECT DISTINCT z.zone_id%10 AS grp, t.i AS x, s.j AS y
        |  FROM generate_series(0,99) t(i), generate_series(0,99) s(j)
        |  JOIN zones z ON t.i + 0.5 > z.zxmin AND t.i + 0.5 < z.zxmax
        |              AND s.j + 0.5 > z.zymin AND s.j + 0.5 < z.zymax)
        |SELECT grp, CAST(count(*) AS DOUBLE) AS area FROM cov GROUP BY grp""".stripMargin),

    "q_geom_ops" -> (withCtes(GeoTables.Sql.zones) +
      """
        |SELECT zone_id, (zxmax-zxmin)*(zymax-zymin) AS area,
        |       2*((zxmax-zxmin) + (zymax-zymin)) AS perimeter,
        |       (zxmin+zxmax)/2 AS cx, (zymin+zymax)/2 AS cy
        |FROM zones""".stripMargin),

    "q_bounds_merge" -> (withCtes(GeoTables.Sql.zones) +
      """
        |SELECT min(zxmin) AS minx, min(zymin) AS miny,
        |       max(zxmax) AS maxx, max(zymax) AS maxy, count(*) AS n
        |FROM zones""".stripMargin),

    "q_sensor_parse" ->
      """SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k,
        |       event_type,
        |       CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
        |       CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h
        |FROM events""".stripMargin,

    "q_window_topk" ->
      """SELECT event_type, rk, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id) AS rk
        |  FROM events) WHERE rk <= 3""".stripMargin,

    "q_window_running" ->
      """SELECT event_id, user_id,
        |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS UNBOUNDED PRECEDING), 4) AS running
        |FROM events""".stripMargin,

    "q_point_grid" -> (withCtes(GeoTables.Sql.pts,
      """cells AS (
        |  SELECT t.i AS i, s.j AS j,
        |         0.125 + s.j*0.25 AS cx, 100 - 0.125 - t.i*0.25 AS cy
        |  FROM generate_series(0,39) t(i), generate_series(0,39) s(j))""".stripMargin,
      """d AS (
        |  SELECT c.i, c.j, (p.x-c.cx)*(p.x-c.cx) + (p.y-c.cy)*(p.y-c.cy) AS d2, p.value
        |  FROM cells c, pts p)""".stripMargin,
      "m AS (SELECT i, j, min(d2) AS nn_d2 FROM d GROUP BY i, j)") +
      """
        |SELECT m.i, m.j, m.nn_d2, min(d.value) AS nn_value
        |FROM m JOIN d ON d.i = m.i AND d.j = m.j AND d.d2 = m.nn_d2
        |WHERE m.nn_d2 <= 4.0
        |GROUP BY m.i, m.j, m.nn_d2""".stripMargin),

    // Sheared-lattice Delaunay gridding: the lattice basis U=(2,0),
    // V=(1/2,2) makes each cell a non-cyclic parallelogram whose SHORTER
    // diagonal (V−U, length² 6.25 < 10.25) is the forced Delaunay split,
    // so the linear interpolant is two planes per cell. In lattice
    // coordinates u=(x−y/4)/2, v=y/2 the split is the anti-diagonal
    // fu+fv=1. All coordinates are dyadic and the barycentric determinant
    // is ±4 ⇒ both engines are bit-exact, no rounding needed.
    "q_point_grid_delaunay" -> (withCtes(
      """lat AS MATERIALIZED (
        |  SELECT a.li AS li, b.lj AS lj,
        |         CAST((((a.li*7 + b.lj*13) % 19) + 19) % 19 - 9 AS DOUBLE) AS z
        |  FROM generate_series(0,50) a(li), generate_series(-13,50) b(lj))""".stripMargin,
      """f AS MATERIALIZED (
        |  SELECT ci, cj,
        |         CAST(floor(u) AS BIGINT) AS j0, CAST(floor(v) AS BIGINT) AS i0,
        |         u - floor(u) AS fu, v - floor(v) AS fv
        |  FROM (
        |    SELECT t.ci AS ci, s.cj AS cj,
        |           ((s.cj + 0.5)*0.25 - 0.25*(100 - (t.ci + 0.5)*0.25))/2 AS u,
        |           (100 - (t.ci + 0.5)*0.25)/2 AS v
        |    FROM generate_series(0,399) t(ci), generate_series(0,399) s(cj)))""".stripMargin) +
      """
        |SELECT f.ci AS i, f.cj AS j,
        |       CASE WHEN f.fu + f.fv < 1
        |         THEN z00.z + f.fu*(z01.z - z00.z) + f.fv*(z10.z - z00.z)
        |         ELSE z11.z + (1-f.fu)*(z10.z - z11.z) + (1-f.fv)*(z01.z - z11.z)
        |       END AS val
        |FROM f
        |JOIN lat z00 ON z00.li = f.i0     AND z00.lj = f.j0
        |JOIN lat z01 ON z01.li = f.i0     AND z01.lj = f.j0 + 1
        |JOIN lat z10 ON z10.li = f.i0 + 1 AND z10.lj = f.j0
        |JOIN lat z11 ON z11.li = f.i0 + 1 AND z11.lj = f.j0 + 1""".stripMargin),

    // Cubic gridding on the sheared lattice with an affine z-field: the
    // CT-analog interpolant reproduces the plane z = x/2 + y/4 + 3
    // exactly, so the oracle is the plane at cell centers; the in-hull
    // mask (floor-based lattice-cell bounds) is identical to the
    // q_point_grid_delaunay joins' effective range.
    "q_point_grid_cubic_lattice" -> (withCtes(
      """f AS MATERIALIZED (
        |  SELECT ci, cj, cx, cy,
        |         CAST(floor(u) AS BIGINT) AS j0, CAST(floor(v) AS BIGINT) AS i0
        |  FROM (
        |    SELECT t.ci AS ci, s.cj AS cj,
        |           (s.cj + 0.5)*0.25 AS cx, 100 - (t.ci + 0.5)*0.25 AS cy,
        |           ((s.cj + 0.5)*0.25 - 0.25*(100 - (t.ci + 0.5)*0.25))/2 AS u,
        |           (100 - (t.ci + 0.5)*0.25)/2 AS v
        |    FROM generate_series(0,399) t(ci), generate_series(0,399) s(cj)))""".stripMargin) +
      """
        |SELECT ci AS i, cj AS j, round(cx/2 + cy/4 + 3, 6) AS val
        |FROM f
        |WHERE i0 BETWEEN 0 AND 50 AND j0 BETWEEN -13 AND 50""".stripMargin),

    // Scattered-site cubic gridding: interior sites are jittered but the
    // hull (unperturbed boundary sites) and the affine field are not —
    // the CT-analog reproduces the plane z = x/2 + y/4 + 3 exactly on any
    // triangulation, and every cell center stays in-hull (the hull is the
    // parallelogram 0 ≤ y ≤ 100, y/4 − 26 ≤ x ≤ y/4 + 100, which strictly
    // contains the [0.125, 99.875]² center grid), so the oracle is the
    // plane over the full grid.
    "q_point_grid_cubic_scatter" ->
      """SELECT t.ci AS i, s.cj AS j,
        |       round(((s.cj + 0.5)*0.25)/2 + (100 - (t.ci + 0.5)*0.25)/4 + 3, 6) AS val
        |FROM generate_series(0,399) t(ci), generate_series(0,399) s(cj)""".stripMargin,

    // C1 Clough–Tocher over the same jittered fixture: the reduced-HCT
    // element reproduces affine fields exactly (the MNN energy's unique
    // minimizer on a plane is the exact constant gradient, every Bézier
    // ordinate collapses onto the plane), so the oracle is the identical
    // closed-form plane over the full in-hull grid.
    "q_point_grid_cubic_ct" ->
      """SELECT t.ci AS i, s.cj AS j,
        |       round(((s.cj + 0.5)*0.25)/2 + (100 - (t.ci + 0.5)*0.25)/4 + 3, 6) AS val
        |FROM generate_series(0,399) t(ci), generate_series(0,399) s(cj)""".stripMargin,

    "q_count_distinct" -> (withCtes(GeoTables.Sql.pts) +
      """
        |SELECT count(DISTINCT value) AS n_distinct_val,
        |       count(CASE WHEN value <> 0 THEN 1 END) AS n_nonzero,
        |       count(DISTINCT (x, y)) AS n_distinct_xy
        |FROM pts""".stripMargin),

    "q_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_val
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_set_mask" -> (withCtes(GeoTables.Sql.grid) +
      "\nSELECT count(*) AS n_valid, sum(val) AS sum_val FROM grid WHERE val <= 48"),

    "q_reduce_points" -> (withCtes(GeoTables.Sql.pts,
      """p AS (
        |  SELECT point_id*1024 +
        |         row_number() OVER (PARTITION BY point_id ORDER BY x, y, value) AS pid,
        |         CAST((100-y)*4 AS BIGINT) AS ci, CAST(x*4 AS BIGINT) AS cj
        |  FROM pts)""".stripMargin,
      """d AS (
        |  SELECT pid, ci + a.di AS si, cj + b.dj AS sj
        |  FROM p, generate_series(-1,1) a(di), generate_series(-1,1) b(dj))""".stripMargin) +
      """
        |SELECT pid, count(*) AS n_valid,
        |       sum(CAST((si*7 + sj*13)%97 AS DOUBLE)) AS sum_val
        |FROM d
        |WHERE si BETWEEN 0 AND 399 AND sj BETWEEN 0 AND 399
        |  AND (si*31 + sj*17)%101 <> 0
        |GROUP BY pid""".stripMargin),

    "q_reduce_points_median" -> (withCtes(GeoTables.Sql.pts,
      """p AS (
        |  SELECT point_id*1024 +
        |         row_number() OVER (PARTITION BY point_id ORDER BY x, y, value) AS pid,
        |         CAST((100-y)*4 AS BIGINT) AS ci, CAST(x*4 AS BIGINT) AS cj
        |  FROM pts)""".stripMargin,
      """d AS (
        |  SELECT pid, ci + a.di AS si, cj + b.dj AS sj
        |  FROM p, generate_series(-1,1) a(di), generate_series(-1,1) b(dj))""".stripMargin) +
      """
        |SELECT pid, count(*) AS n_valid,
        |       quantile_cont(CAST((si*7 + sj*13)%97 AS DOUBLE), 0.5) AS red_val
        |FROM d
        |WHERE si BETWEEN 0 AND 399 AND sj BETWEEN 0 AND 399
        |  AND (si*31 + sj*17)%101 <> 0
        |GROUP BY pid""".stripMargin),

    "q_raster_ufunc" -> (withCtes(GeoTables.Sql.grid) +
      "\nSELECT i, j, sqrt(val) AS val FROM grid"),

    // MATERIALIZED CTEs pin the join order — DuckDB otherwise cross-joins
    // the two neighbor sides before probing (quadratic)
    "q_raster_gradient" -> (withCtes(
      """vals AS MATERIALIZED (
        |  SELECT t.i AS i, s.j AS j, CAST((t.i*7 + s.j*13)%97 AS DOUBLE) AS val,
        |         ((t.i*31 + s.j*17)%101 <> 0) AS ok,
        |         least(t.i + 1, 399) AS bi, greatest(t.i - 1, 0) AS ci
        |  FROM generate_series(0,399) t(i), generate_series(0,399) s(j))""".stripMargin,
      """ab AS MATERIALIZED (
        |  SELECT a.i AS i, a.j AS j, a.ci AS ci, b.val AS bval, b.i AS bi2
        |  FROM vals a JOIN vals b ON b.j = a.j AND b.i = a.bi
        |  WHERE b.ok)""".stripMargin) +
      """
        |SELECT ab.i AS i, ab.j AS j,
        |       (ab.bval - c.val) / ((ab.bi2 - c.i) * 0.25) AS val
        |FROM ab JOIN vals c ON c.j = ab.j AND c.i = ab.ci
        |WHERE c.ok AND ab.bi2 > c.i""".stripMargin),

    "q_valid_extent" -> (withCtes(GeoTables.Sql.grid) +
      """
        |SELECT min(i) AS rowmin, max(i) AS rowmax, min(j) AS colmin, max(j) AS colmax
        |FROM grid WHERE val <= 48""".stripMargin),

    "q_assign_mask" -> (withCtes(GeoTables.Sql.grid) +
      """
        |SELECT count(*) AS n_valid,
        |       sum(CASE WHEN val < 10 THEN 999.0 ELSE val END) AS sum_val
        |FROM grid""".stripMargin),

    "q_satimg_parse" ->
      """SELECT o_orderkey AS okey,
        |  CASE o_orderkey % 3 WHEN 0 THEN 'Landsat 8' WHEN 1 THEN 'Sentinel-2'
        |       ELSE 'WorldView' END AS platform,
        |  CASE o_orderkey % 3 WHEN 0 THEN 'OLI/TIRS' WHEN 1 THEN 'MSI'
        |       ELSE 'WV02' END AS sensor,
        |  CASE o_orderkey % 3 WHEN 0 THEN NULL WHEN 1 THEN NULL
        |       ELSE 'ArcticDEM/REMA/EarthDEM' END AS product,
        |  CASE o_orderkey % 3 WHEN 0 THEN lpad(CAST(o_orderkey % 1000000 AS VARCHAR), 6, '0')
        |       WHEN 1 THEN '31TGK' ELSE NULL END AS tile_name,
        |  CASE o_orderkey % 3 WHEN 0 THEN '2017-05-03 00:00:00'
        |       WHEN 1 THEN '2021-01-01 10:30:' || lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0')
        |       ELSE '2015-06-' || lpad(CAST(o_orderkey % 28 + 1 AS VARCHAR), 2, '0') || ' 00:00:00' END AS dt
        |FROM orders""".stripMargin,

    "q_raster_arith" -> (withCtes(GeoTables.Sql.grid) +
      """
        |SELECT count(*) AS n_valid, sum(3*val) AS sum_val,
        |       min(3*val) AS min_val, max(3*val) AS max_val FROM grid""".stripMargin),

    "q_raster_compare" -> (withCtes(GeoTables.Sql.grid) +
      """
        |SELECT CAST(160000 AS BIGINT) AS n_valid,
        |       sum(CASE WHEN val > 48 THEN 1.0 ELSE 0.0 END) AS n_true FROM grid""".stripMargin),

    "q_mask_algebra" -> (withCtes(GeoTables.Sql.grid) +
      """
        |SELECT sum(CASE WHEN val > 30 AND val < 60 THEN 1.0 ELSE 0.0 END) AS and_cnt,
        |       sum(CASE WHEN val > 30 OR val < 60 THEN 1.0 ELSE 0.0 END) AS or_cnt,
        |       sum(CASE WHEN (val > 30) <> (val < 60) THEN 1.0 ELSE 0.0 END) AS xor_cnt,
        |       160000 - sum(CASE WHEN val > 30 THEN 1.0 ELSE 0.0 END) AS not1_cnt
        |FROM grid""".stripMargin),

    "q_raster_merge" -> (withCtes(GeoTables.Sql.grid,
      """grid2 AS (
        |  SELECT t.i AS i, s.j AS j, CAST((t.i*5 + s.j*3)%89 AS DOUBLE) AS val
        |  FROM generate_series(0,399) t(i), generate_series(0,399) s(j)
        |  WHERE (t.i*13 + s.j*7)%103 <> 0
        |)""".stripMargin) +
      """
        |SELECT COALESCE(g1.i, g2.i) AS i, COALESCE(g1.j, g2.j) AS j,
        |       CASE WHEN g1.val IS NOT NULL AND g2.val IS NOT NULL THEN (g1.val + g2.val)/2
        |            WHEN g1.val IS NOT NULL THEN g1.val ELSE g2.val END AS val
        |FROM grid g1 FULL OUTER JOIN grid2 g2 ON g1.i = g2.i AND g1.j = g2.j""".stripMargin),

    // split_bands: band 1 of the 2-band stack is dem2 — its valid cells
    // are exactly the grid2 derivation used by the merge oracle
    "q_split_bands" ->
      """SELECT t.i AS i, s.j AS j, CAST((t.i*5 + s.j*3)%89 AS DOUBLE) AS val
        |FROM generate_series(0,399) t(i), generate_series(0,399) s(j)
        |WHERE (t.i*13 + s.j*7)%103 <> 0""".stripMargin,

    "q_sjoin_boxes" -> (withCtes(GeoTables.Sql.zones) +
      """
        |SELECT a.zone_id AS id_a, b.zone_id AS id_b
        |FROM zones a JOIN zones b
        |  ON a.zone_id < b.zone_id
        | AND a.zxmin <= b.zxmax AND b.zxmin <= a.zxmax
        | AND a.zymin <= b.zymax AND b.zymin <= a.zymax""".stripMargin),

    "q_overlay" -> (withCtes(GeoTables.Sql.zones) +
      """
        |SELECT a.zone_id AS id_a, b.zone_id AS id_b,
        |       (least(a.zxmax, b.zxmax) - greatest(a.zxmin, b.zxmin)) *
        |       (least(a.zymax, b.zymax) - greatest(a.zymin, b.zymin)) AS area
        |FROM zones a JOIN zones b
        |  ON a.zone_id < b.zone_id
        | AND a.zone_id % 10 = 0 AND b.zone_id % 10 = 0
        | AND least(a.zxmax, b.zxmax) > greatest(a.zxmin, b.zxmin)
        | AND least(a.zymax, b.zymax) > greatest(a.zymin, b.zymin)""".stripMargin),

    "q_overlay_union" -> (withCtes(GeoTables.Sql.zones,
      "za AS (SELECT * FROM zones WHERE zone_id % 10 = 1)",
      "zb AS (SELECT * FROM zones WHERE zone_id % 10 = 3)",
      """cells AS (
        |  SELECT t.i + 0.5 AS cx, s.j + 0.5 AS cy
        |  FROM generate_series(0,99) t(i), generate_series(0,99) s(j))""".stripMargin,
      """inter AS (
        |  SELECT a.zone_id AS id_a, b.zone_id AS id_b,
        |         (least(a.zxmax,b.zxmax) - greatest(a.zxmin,b.zxmin)) *
        |         (least(a.zymax,b.zymax) - greatest(a.zymin,b.zymin)) AS area
        |  FROM za a JOIN zb b
        |    ON least(a.zxmax,b.zxmax) > greatest(a.zxmin,b.zxmin)
        |   AND least(a.zymax,b.zymax) > greatest(a.zymin,b.zymin))""".stripMargin,
      """diffa AS (
        |  SELECT a.zone_id AS id_a, CAST(count(*) AS DOUBLE) AS area
        |  FROM za a JOIN cells c
        |    ON c.cx > a.zxmin AND c.cx < a.zxmax AND c.cy > a.zymin AND c.cy < a.zymax
        |  WHERE NOT EXISTS (SELECT 1 FROM zb b
        |    WHERE c.cx > b.zxmin AND c.cx < b.zxmax AND c.cy > b.zymin AND c.cy < b.zymax)
        |  GROUP BY a.zone_id)""".stripMargin,
      """diffb AS (
        |  SELECT b.zone_id AS id_b, CAST(count(*) AS DOUBLE) AS area
        |  FROM zb b JOIN cells c
        |    ON c.cx > b.zxmin AND c.cx < b.zxmax AND c.cy > b.zymin AND c.cy < b.zymax
        |  WHERE NOT EXISTS (SELECT 1 FROM za a
        |    WHERE c.cx > a.zxmin AND c.cx < a.zxmax AND c.cy > a.zymin AND c.cy < a.zymax)
        |  GROUP BY b.zone_id)""".stripMargin) +
      """
        |SELECT id_a, id_b, area FROM inter
        |UNION ALL SELECT id_a, NULL, area FROM diffa
        |UNION ALL SELECT NULL, id_b, area FROM diffb""".stripMargin),

    "q_sjoin_anti" -> (withCtes(GeoTables.Sql.zones) +
      """
        |SELECT a.zone_id AS id_a FROM zones a
        |WHERE a.zone_id % 10 = 1 AND NOT EXISTS (
        |  SELECT 1 FROM zones b WHERE b.zone_id % 10 = 3
        |    AND a.zxmin <= b.zxmax AND b.zxmin <= a.zxmax
        |    AND a.zymin <= b.zymax AND b.zymin <= a.zymax)""".stripMargin),

    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) -
        |         CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap,
        |         ts, event_id
        |  FROM events
        |), s AS (
        |  SELECT user_id, value,
        |         CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_val
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "q_docs_roundtrip" ->
      """WITH per_order AS (
        |  SELECT l_orderkey AS k, count(*) AS maxln, min(l_partkey) AS minpk
        |  FROM lineitem GROUP BY 1
        |), spans AS (
        |  SELECT l_orderkey AS k, 'point' AS kind,
        |         CAST((l_partkey*7 + l_orderkey*11)%400 AS VARCHAR) || ',' ||
        |         CAST((l_suppkey*13 + l_orderkey*17)%400 AS VARCHAR) || ',' ||
        |         CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS text,
        |         '' AS media_ref,
        |         row_number() OVER (PARTITION BY l_orderkey
        |           ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS off
        |  FROM lineitem
        |  UNION ALL
        |  SELECT o.o_orderkey, 'meta',
        |         'status=' || o.o_orderstatus || ';prio=' || o.o_orderpriority, '', 0
        |  FROM orders o JOIN per_order po ON o.o_orderkey = po.k
        |  UNION ALL
        |  SELECT k, 'wkt',
        |         'POLYGON((' ||
        |         CAST((minpk*17)%90 AS VARCHAR) || ' ' || CAST((minpk*31)%90 AS VARCHAR) || ',' ||
        |         CAST((minpk*17)%90 + 4 + minpk%7 AS VARCHAR) || ' ' || CAST((minpk*31)%90 AS VARCHAR) || ',' ||
        |         CAST((minpk*17)%90 + 4 + minpk%7 AS VARCHAR) || ' ' || CAST((minpk*31)%90 + 4 + (minpk*11)%7 AS VARCHAR) || ',' ||
        |         CAST((minpk*17)%90 AS VARCHAR) || ' ' || CAST((minpk*31)%90 + 4 + (minpk*11)%7 AS VARCHAR) || ',' ||
        |         CAST((minpk*17)%90 AS VARCHAR) || ' ' || CAST((minpk*31)%90 AS VARCHAR) || '))',
        |         '', maxln + 1
        |  FROM per_order
        |  UNION ALL
        |  SELECT k, 'raster', '',
        |         'tile://dem/0/' || CAST(k%8 AS VARCHAR) || '/' || CAST((k*3)%8 AS VARCHAR),
        |         maxln + 2
        |  FROM per_order
        |)
        |SELECT 'doc-' || lpad(CAST(k AS VARCHAR), 9, '0') AS doc_id,
        |       count(*) AS n_spans,
        |       md5(string_agg(kind || '|' || text || '|' || media_ref || '|' ||
        |                      CAST(off AS VARCHAR), '#' ORDER BY off)) AS digest
        |FROM spans GROUP BY k""".stripMargin,

    "q_media_tiles" ->
      """SELECT CAST(o_orderkey%8 AS INT) AS r, CAST((o_orderkey*3)%8 AS INT) AS c,
        |       count(*) AS cnt
        |FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)
        |GROUP BY 1, 2""".stripMargin,

    "q_doc_tokens" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INT) AS n_tokens,
        |       CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS INT) AS n_distinct,
        |       n_chars
        |FROM documents""".stripMargin,

    "q_doc_tokens_re" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+', 0)) AS INT) AS n_re_tokens,
        |       CAST(len(regexp_extract_all(text, '[0-9]+', 0)) AS INT) AS n_numeric
        |FROM documents""".stripMargin,

    "q_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, text, n_chars,
        |         list_filter(string_split(text, ' '), t -> t <> '') AS tl
        |  FROM documents)
        |SELECT doc_id, CAST(len(tl) AS INT) AS n_tokens,
        |       round(CAST(len(list_filter(tl, t -> t IN ('the','a','and','of','in','to'))) AS DOUBLE) / len(tl), 4) AS stop_ratio,
        |       round(CAST(len(list_distinct(tl)) AS DOUBLE) / len(tl), 4) AS distinct_ratio,
        |       round(CAST(length(text) AS DOUBLE) / len(tl), 4) AS avg_tok_len
        |FROM toks""".stripMargin,

    "q_lang_stats" ->
      "SELECT lang, count(*) AS n, round(avg(n_chars), 3) AS avg_chars FROM documents GROUP BY lang",

    "q_stratified_sample" ->
      """SELECT lang, doc_id, skey, CAST(rk AS INT) AS rk FROM (
        |  SELECT lang, doc_id,
        |         (doc_id * 2654435761) % 1000000007 AS skey,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20""".stripMargin,

    // Sequence-packing replay: the oracle computes the SAME running sum
    // with the naive global window (fine at oracle scale) and the same
    // straddle arithmetic; window w covers token offsets [64w, 64w+64).
    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n, CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM t WHERE n > 0),
        |e AS (
        |  SELECT doc_id, n, cum, cum - n AS cs,
        |         unnest(range(CAST((cum - n) // 64 AS BIGINT),
        |                      CAST((cum - 1) // 64 AS BIGINT) + 1)) AS w
        |  FROM c)
        |SELECT w AS win_id, doc_id,
        |       GREATEST(cs, w * 64) - w * 64 AS start_tok,
        |       GREATEST(cs, w * 64) - cs AS doc_off,
        |       LEAST(cum, (w + 1) * 64) - GREATEST(cs, w * 64) AS n_toks
        |FROM e""".stripMargin,

    // Window assembly replay: same piece plan, pieces sliced out of the
    // token list (1-based inclusive bounds) and concatenated in
    // start_tok order per window.
    "q_pack_windows" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ts, len(ts) AS n,
        |         CAST(sum(len(ts)) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM t WHERE len(ts) > 0),
        |e AS (
        |  SELECT ts, n, cum, cum - n AS cs,
        |         unnest(range(CAST((cum - n) // 64 AS BIGINT),
        |                      CAST((cum - 1) // 64 AS BIGINT) + 1)) AS w
        |  FROM c),
        |p AS (
        |  SELECT w AS win_id,
        |         GREATEST(cs, w * 64) - w * 64 AS start_tok,
        |         GREATEST(cs, w * 64) - cs AS doc_off,
        |         LEAST(cum, (w + 1) * 64) - GREATEST(cs, w * 64) AS n_toks,
        |         ts
        |  FROM e)
        |SELECT win_id,
        |       string_agg(array_to_string(ts[doc_off + 1 : doc_off + n_toks], ' '),
        |                  ' ' ORDER BY start_tok) AS wtext,
        |       CAST(sum(n_toks) AS BIGINT) AS n_toks
        |FROM p GROUP BY win_id""".stripMargin,

    "q_token_budget" ->
      """SELECT source, doc_id, n AS n_tokens, cum AS cum_tokens FROM (
        |  SELECT source, doc_id, n,
        |         CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM (SELECT source, doc_id,
        |               len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
        |        FROM documents)
        |  WHERE n > 0)
        |WHERE cum <= 700""".stripMargin,

    // Fixture (CASE) mirrors the Spark side exactly; counts use
    // regexp_extract_all (full-match group), redaction chains the three
    // global replaces in the same order.
    "q_pii_scrub" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN
        |           text || ' reach user' || doc_id || '@mail.example or +1-555-' ||
        |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |           ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |           CAST(doc_id * 7 % 256 AS VARCHAR)
        |         ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |       CAST(len(regexp_extract_all(text,
        |         '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
        |       CAST(len(regexp_extract_all(text,
        |         '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INT) AS n_ips,
        |       md5(regexp_replace(regexp_replace(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |         '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')) AS red_md5
        |FROM f""".stripMargin,

    "q_quality_filter" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(ts) AS n,
        |         len(list_filter(ts, x -> x IN ('the','a','and','of','in','to'))) AS n_stop,
        |         list_sum(list_transform(ts, x -> len(x)))::DOUBLE / len(ts) AS avg_len,
        |         len(list_distinct(ts))::DOUBLE / len(ts) AS dratio,
        |         list_max(list_transform(list_distinct(ts),
        |           t -> len(list_filter(ts, x -> x = t)))) AS max_cnt
        |  FROM t),
        |r AS (
        |  SELECT doc_id, n,
        |         CASE WHEN n < 25 THEN 'too_short'
        |              WHEN n_stop = 0 THEN 'no_stopword'
        |              WHEN avg_len < 3.8 OR avg_len > 5.2 THEN 'word_len'
        |              WHEN dratio < 0.38 THEN 'low_diversity'
        |              WHEN max_cnt::DOUBLE / n > 0.12 THEN 'max_tok_ratio'
        |              ELSE 'ok' END AS reason
        |  FROM m)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, reason,
        |       CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM r""".stripMargin,

    // End-to-end keep/drop manifest: the dedup-keeper, quality-cascade,
    // and contamination pieces of the oracles above composed in the same
    // first-failure order over the train slice (doc_id % 20 <> 0).
    "q_keep_manifest" ->
      """WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
        |keepers AS (SELECT min(doc_id) AS doc_id FROM train GROUP BY md5(text)),
        |t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM train),
        |m AS (
        |  SELECT doc_id, len(ts) AS n,
        |         len(list_filter(ts, x -> x IN ('the','a','and','of','in','to'))) AS n_stop,
        |         list_sum(list_transform(ts, x -> len(x)))::DOUBLE / len(ts) AS avg_len,
        |         len(list_distinct(ts))::DOUBLE / len(ts) AS dratio,
        |         list_max(list_transform(list_distinct(ts),
        |           t2 -> len(list_filter(ts, x -> x = t2)))) AS max_cnt
        |  FROM t),
        |q AS (
        |  SELECT doc_id,
        |         CASE WHEN n < 25 THEN 'too_short'
        |              WHEN n_stop = 0 THEN 'no_stopword'
        |              WHEN avg_len < 3.8 OR avg_len > 5.2 THEN 'word_len'
        |              WHEN dratio < 0.38 THEN 'low_diversity'
        |              WHEN max_cnt::DOUBLE / n > 0.12 THEN 'max_tok_ratio'
        |              ELSE 'ok' END AS q_reason
        |  FROM m),
        |tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |pg AS (
        |  SELECT doc_id, unnest([p for p in range(1, len(ts) - 11)]) AS pos, ts
        |  FROM tok),
        |grams AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(array_to_string(ts[pos:pos+12], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM pg),
        |ev AS (SELECT DISTINCT h FROM grams WHERE doc_id % 20 = 0),
        |contam AS (
        |  SELECT DISTINCT g.doc_id FROM grams g JOIN ev USING (h)
        |  WHERE g.doc_id % 20 <> 0),
        |r AS (
        |  SELECT tr.doc_id,
        |         CASE WHEN k.doc_id IS NULL THEN 'exact_dup'
        |              WHEN q.q_reason <> 'ok' THEN 'quality:' || q.q_reason
        |              WHEN c.doc_id IS NOT NULL THEN 'contaminated'
        |              ELSE 'ok' END AS reason
        |  FROM train tr
        |  LEFT JOIN keepers k ON tr.doc_id = k.doc_id
        |  JOIN q ON tr.doc_id = q.doc_id
        |  LEFT JOIN contam c ON tr.doc_id = c.doc_id)
        |SELECT doc_id, reason,
        |       CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM r""".stripMargin,

    "q_mix_weights" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |z AS (SELECT sum(pow(n_tokens, 0.5)) AS z FROM per)
        |SELECT source, n_docs, n_tokens,
        |       round(pow(n_tokens, 0.5) / z, 6) AS weight,
        |       round(pow(n_tokens, 0.5) / z * 100000 / n_tokens, 6) AS epochs
        |FROM per CROSS JOIN z""".stripMargin,

    "q_split_assign" ->
      """SELECT CASE WHEN b < 18 THEN 'train' WHEN b = 18 THEN 'val'
        |            ELSE 'test' END AS split,
        |       source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT source, (doc_id * 2654435761) % 1000000007 % 20 AS b,
        |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
        |  FROM documents)
        |GROUP BY 1, 2""".stripMargin,

    // Scores sum in sorted-term order ((join + spark) + window) to match
    // the Spark side's fixed association; round BEFORE rank.
    "q_bm25" ->
      """WITH b AS (
        |  SELECT doc_id, len(ts)::DOUBLE AS n_d,
        |         len(list_filter(ts, x -> x = 'join'))::DOUBLE AS tf_join,
        |         len(list_filter(ts, x -> x = 'spark'))::DOUBLE AS tf_spark,
        |         len(list_filter(ts, x -> x = 'window'))::DOUBLE AS tf_window
        |  FROM (SELECT doc_id,
        |                list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |        FROM documents)),
        |d AS (
        |  SELECT count(*)::DOUBLE AS n_docs, avg(n_d) AS avgdl,
        |         sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_join,
        |         sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_spark,
        |         sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_window
        |  FROM b),
        |s AS (
        |  SELECT doc_id, round(
        |    (CASE WHEN tf_join > 0 THEN
        |       ln(1 + (n_docs - df_join + 0.5) / (df_join + 0.5)) * tf_join * 2.2 /
        |       (tf_join + 1.2 * (0.25 + 0.75 * n_d / avgdl)) ELSE 0 END
        |     + CASE WHEN tf_spark > 0 THEN
        |       ln(1 + (n_docs - df_spark + 0.5) / (df_spark + 0.5)) * tf_spark * 2.2 /
        |       (tf_spark + 1.2 * (0.25 + 0.75 * n_d / avgdl)) ELSE 0 END)
        |     + CASE WHEN tf_window > 0 THEN
        |       ln(1 + (n_docs - df_window + 0.5) / (df_window + 0.5)) * tf_window * 2.2 /
        |       (tf_window + 1.2 * (0.25 + 0.75 * n_d / avgdl)) ELSE 0 END, 6) AS score
        |  FROM b CROSS JOIN d)
        |SELECT doc_id, score FROM s WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_vocab_bigrams" ->
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT unnest(list_transform(range(1, len(ts)),
        |                i -> ts[i] || ' ' || ts[i + 1])) AS gram
        |  FROM t)
        |SELECT gram, count(*) AS n FROM g
        |GROUP BY gram ORDER BY n DESC, gram LIMIT 30""".stripMargin,

    "q_unigram_nll" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        |  FROM documents),
        |dt AS (SELECT doc_id, term, count(*) AS c_dt FROM toks GROUP BY 1, 2),
        |tc AS (SELECT term, count(*) AS c_t FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS total FROM tc)
        |SELECT doc_id, CAST(sum(c_dt) AS BIGINT) AS n_tokens,
        |       round(ln(total) - sum(c_dt * ln(c_t)) / sum(c_dt), 6) AS avg_nll
        |FROM dt JOIN tc USING (term) CROSS JOIN tot
        |GROUP BY doc_id, total""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        |  FROM documents),
        |dt AS (SELECT doc_id, term, count(*) AS c_dt FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(c_dt) AS n_d FROM dt GROUP BY 1),
        |dft AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, term,
        |         round(c_dt / CAST(n_d AS DOUBLE) *
        |               (ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1), 6) AS score
        |  FROM dt JOIN dl USING (doc_id) JOIN dft USING (term) CROSS JOIN nd)
        |SELECT doc_id, term, score, CAST(rk AS INT) AS rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY score DESC, term ASC) AS rk
        |  FROM sc)
        |WHERE rk <= 3""".stripMargin,

    // trigram hit counts via replace-shrinkage (non-overlapping scan —
    // identical to Spark's split-count); argmax tiebreak = lang DESC
    // (matches sort_array desc on struct(score, lang))
    "q_lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id, 'en' AS lang,
        |         (length(text) - length(replace(text, 'the', ''))) // 3 +
        |         (length(text) - length(replace(text, 'ing', ''))) // 3 +
        |         (length(text) - length(replace(text, 'and', ''))) // 3 AS score FROM documents
        |  UNION ALL SELECT doc_id, 'es',
        |         (length(text) - length(replace(text, 'que', ''))) // 3 +
        |         (length(text) - length(replace(text, 'los', ''))) // 3 +
        |         (length(text) - length(replace(text, 'ent', ''))) // 3 FROM documents
        |  UNION ALL SELECT doc_id, 'de',
        |         (length(text) - length(replace(text, 'der', ''))) // 3 +
        |         (length(text) - length(replace(text, 'sch', ''))) // 3 +
        |         (length(text) - length(replace(text, 'ein', ''))) // 3 FROM documents
        |  UNION ALL SELECT doc_id, 'fr',
        |         (length(text) - length(replace(text, 'les', ''))) // 3 +
        |         (length(text) - length(replace(text, 'ent', ''))) // 3 +
        |         (length(text) - length(replace(text, 'que', ''))) // 3 FROM documents
        |  UNION ALL SELECT doc_id, 'zh',
        |         (length(text) - length(replace(text, 'zh_', ''))) // 3 +
        |         (length(text) - length(replace(text, 'ch_', ''))) // 3 +
        |         (length(text) - length(replace(text, 'sh_', ''))) // 3 FROM documents)
        |SELECT doc_id, lang AS pred_lang FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rk
        |  FROM sc)
        |WHERE rk = 1""".stripMargin,

    "q_exact_dedup" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keeper_id
        |FROM documents GROUP BY 1""".stripMargin,

    // BPE replay: the identical word table, N unrolled merge rounds —
    // pair counts → (c DESC, pair ASC) argmax with a c>=2 floor → the
    // same literal replace() — generated by bpeSql(20); an exhausted
    // round (no pair with c>=2) empties b_r and every later w_r, which
    // mirrors the Spark loop's early stop
    "q_bpe_merges" -> bpeSql(20),

    // Canonical-form dedup: identical normalization chain (lower → strip
    // non-[a-z0-9 ] → collapse space runs → trim); DuckDB regexp_replace
    // needs the 'g' flag where Spark replaces all matches by default
    "q_norm_dedup" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS content_hash,
        |       count(*) AS n_docs, min(doc_id) AS keeper_id
        |FROM documents GROUP BY 1""".stripMargin,

    // SimHash recomputed from scratch: token hash = high 60 bits of MD5
    // (= first 15 hex chars), exactly TextOps.simhash
    "q_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, b.b AS b,
        |         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th, generate_series(0, 59) b(b) GROUP BY doc_id, b.b)
        |SELECT d.doc_id,
        |       coalesce(CAST(sum(CASE WHEN s.cnt > 0 THEN (1::BIGINT << s.b) ELSE 0 END) AS BIGINT), 0) AS simhash
        |FROM documents d LEFT JOIN bits s ON d.doc_id = s.doc_id
        |GROUP BY d.doc_id""".stripMargin,

    // Brute-force Hamming pairs over the recomputed fingerprints — the
    // pigeonhole chunk join must find EXACTLY these (complete recall)
    "q_simhash_dups" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, b.b AS b,
        |         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th, generate_series(0, 59) b(b) GROUP BY doc_id, b.b),
        |sh AS (
        |  SELECT d.doc_id,
        |         coalesce(CAST(sum(CASE WHEN s.cnt > 0 THEN (1::BIGINT << s.b) ELSE 0 END) AS BIGINT), 0) AS simhash
        |  FROM documents d LEFT JOIN bits s ON d.doc_id = s.doc_id
        |  GROUP BY d.doc_id)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    // Winnowing replay: identical gram hashes (md5-prefix of the space-
    // joined token 3-gram), identical window-min + rightmost-tie
    // selection. generate_series(1,0) is empty in DuckDB (short docs);
    // full windows only (pos >= w), matching the operator's contract.
    "q_winnow" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |pg AS (
        |  -- list comprehension: lateral generate_series can't take column
        |  -- bounds; range(1, len-1) is end-exclusive = positions 1..len-2
        |  SELECT doc_id, unnest([p for p in range(1, len(ts) - 1)]) AS pos, ts
        |  FROM tok),
        |grams AS (
        |  SELECT doc_id, pos,
        |         CAST(('0x' || substr(md5(array_to_string(ts[pos:pos+2], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM pg),
        |wm AS (
        |  SELECT doc_id, pos AS endp,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        |  FROM grams QUALIFY pos >= 4),
        |sel AS (
        |  SELECT g.doc_id AS doc_id, w.endp, w.wmin AS hash, max(g.pos) AS pos
        |  FROM wm w JOIN grams g ON g.doc_id = w.doc_id
        |    AND g.pos BETWEEN w.endp - 3 AND w.endp AND g.h = w.wmin
        |  GROUP BY g.doc_id, w.endp, w.wmin)
        |SELECT DISTINCT doc_id, pos, hash FROM sel""".stripMargin,

    // Near-dup clusters: DuckDB recursive-CTE transitive closure over the
    // same brute-force simhash pair graph (tiny at sf0.01), root = min
    // reachable key. Set-semantics UNION terminates the recursion; the
    // fixed-width zero-padded doc_id makes string order == key order.
    "q_dedup_clusters" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, b.b AS b,
        |         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th, generate_series(0, 59) b(b) GROUP BY doc_id, b.b),
        |sh AS (
        |  SELECT d.doc_id,
        |         coalesce(CAST(sum(CASE WHEN s.cnt > 0 THEN (1::BIGINT << s.b) ELSE 0 END) AS BIGINT), 0) AS simhash
        |  FROM documents d LEFT JOIN bits s ON d.doc_id = s.doc_id
        |  GROUP BY d.doc_id),
        |prs AS (
        |  SELECT CAST(a.doc_id AS BIGINT) AS a, CAST(b.doc_id AS BIGINT) AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |comp AS (SELECT src, least(src, min(dst)) AS root FROM reach GROUP BY src)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_key,
        |       coalesce(c.root, CAST(d.doc_id AS BIGINT)) AS cluster
        |FROM documents d
        |LEFT JOIN comp c ON CAST(d.doc_id AS BIGINT) = c.src""".stripMargin,

    // Quality-aware keeper: the q_dedup_clusters transitive closure plus
    // token counts, arg-max by (n_tokens DESC, doc_key ASC) per cluster
    "q_dedup_keeper" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, b.b AS b,
        |         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th, generate_series(0, 59) b(b) GROUP BY doc_id, b.b),
        |sh AS (
        |  SELECT d.doc_id,
        |         coalesce(CAST(sum(CASE WHEN s.cnt > 0 THEN (1::BIGINT << s.b) ELSE 0 END) AS BIGINT), 0) AS simhash
        |  FROM documents d LEFT JOIN bits s ON d.doc_id = s.doc_id
        |  GROUP BY d.doc_id),
        |prs AS (
        |  SELECT CAST(a.doc_id AS BIGINT) AS a, CAST(b.doc_id AS BIGINT) AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |comp AS (SELECT src, least(src, min(dst)) AS root FROM reach GROUP BY src),
        |cl AS (
        |  SELECT CAST(d.doc_id AS BIGINT) AS doc_key,
        |         coalesce(c.root, CAST(d.doc_id AS BIGINT)) AS cluster
        |  FROM documents d
        |  LEFT JOIN comp c ON CAST(d.doc_id AS BIGINT) = c.src),
        |tk AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_key,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |m AS (
        |  SELECT cluster, doc_key, n_tokens,
        |         row_number() OVER (PARTITION BY cluster
        |           ORDER BY n_tokens DESC, doc_key ASC) AS rn,
        |         count(*) OVER (PARTITION BY cluster) AS nm
        |  FROM cl JOIN tk USING (doc_key))
        |SELECT cluster, nm AS n_members, doc_key AS keeper_id,
        |       n_tokens AS keeper_tokens
        |FROM m WHERE rn = 1""".stripMargin,

    // Semantic-dedup manifest: the same injected corpus, brute-force
    // cosine pairs, recursive-CTE transitive closure (the
    // q_dedup_clusters pattern), keep = (vec_id = root). Candidate
    // recall is exactly 1 here — all true pairs are bit-identical
    // copies, which collide in every SRP band — so the banded Spark
    // path and this exhaustive replay agree exactly.
    "q_semantic_dedup" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT CAST(vec_id + 10000000 AS BIGINT), embedding FROM embeddings
        |  WHERE vec_id % 50 = 0
        |  UNION ALL
        |  SELECT CAST(vec_id + 20000000 AS BIGINT), embedding FROM embeddings
        |  WHERE vec_id % 100 = 0),
        |prs AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.95),
        |edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |comp AS (SELECT src, least(src, min(dst)) AS root FROM reach GROUP BY src)
        |SELECT c.vec_id, coalesce(m.root, c.vec_id) AS root,
        |       CAST(CASE WHEN coalesce(m.root, c.vec_id) = c.vec_id
        |            THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM corpus c LEFT JOIN comp m ON c.vec_id = m.src""".stripMargin,

    // Brute-force word-3-shingle Jaccard pairs ≥ 0.5. The LSH banding is
    // probabilistic in general, but every true pair in the synthetic
    // corpus sits at J ≥ 0.9 (injected near-dups; nothing else above
    // J=0.35), where the 8×4 banding's miss probability is ≤ 2e-4 and the
    // deterministic signatures verifiably catch all 25 — so candidate
    // recall is exactly 1 here and the exact-Jaccard verify makes the
    // outputs equal. Shingles compare as strings; Spark compares 64-bit
    // shingle hashes (collision-free at this cardinality).
    "q_minhash_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  -- list comprehension = ALL shingle start positions, no length
        |  -- cap to silently fall behind the datagen's token bound
        |  SELECT DISTINCT doc_id,
        |         unnest([ts[k] || chr(1) || ts[k+1] || chr(1) || ts[k+2]
        |                 for k in range(1, len(ts)-1)]) AS s
        |  FROM tok),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ni
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id,
        |       round(CAST(ni AS DOUBLE)/(sa.n + sb.n - ni), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a_id
        |JOIN sizes sb ON sb.doc_id = b_id
        |WHERE CAST(ni AS DOUBLE)/(sa.n + sb.n - ni) >= 0.5""".stripMargin,

    // Cross-corpus minhash replay: same exact-Jaccard construction as
    // q_minhash_dedup, restricted to probe(doc_id%5=0)×corpus pairs,
    // then the identical rounded arg-max (jaccard DESC, match_id ASC)
    "q_minhash_xdedup" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         unnest([ts[k] || chr(1) || ts[k+1] || chr(1) || ts[k+2]
        |                 for k in range(1, len(ts)-1)]) AS s
        |  FROM tok),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT p.doc_id AS probe_id, c.doc_id AS match_id, count(*) AS ni
        |  FROM sh p JOIN sh c ON p.s = c.s
        |  WHERE p.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT probe_id, match_id,
        |         round(CAST(ni AS DOUBLE)/(sp.n + sc.n - ni), 4) AS jaccard
        |  FROM inter
        |  JOIN sizes sp ON sp.doc_id = probe_id
        |  JOIN sizes sc ON sc.doc_id = match_id
        |  WHERE round(CAST(ni AS DOUBLE)/(sp.n + sc.n - ni), 4) >= 0.5),
        |r AS (
        |  SELECT probe_id, match_id, jaccard, row_number() OVER (
        |    PARTITION BY probe_id ORDER BY jaccard DESC, match_id ASC) AS rn
        |  FROM j)
        |SELECT probe_id, match_id, jaccard FROM r WHERE rn = 1""".stripMargin,

    // Exact Jaccard join: brute-force set intersection over the SAME
    // md5-prefix gram hashes (winnow's hash), an EXACT oracle because the
    // prefix-filter join is lossless — every pair it returns and no other
    // has true Jaccard >= 0.5. range(1, len-1) is end-exclusive =
    // 3-gram starts 1..len-2, matching Spark's sequence(1, size-2).
    "q_jaccard_join" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |pg AS (
        |  SELECT doc_id, unnest([p for p in range(1, len(ts) - 1)]) AS pos, ts
        |  FROM tok),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |         CAST(('0x' || substr(md5(array_to_string(ts[pos:pos+2], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM pg),
        |sz AS (SELECT doc_id, count(*) AS s FROM grams GROUP BY doc_id),
        |ov AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS o
        |  FROM grams a JOIN grams b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id,
        |       round(CAST(o AS DOUBLE)/(sa.s + sb.s - o), 4) AS jaccard
        |FROM ov
        |JOIN sz sa ON sa.doc_id = a_id
        |JOIN sz sb ON sb.doc_id = b_id
        |WHERE CAST(o AS DOUBLE)/(sa.s + sb.s - o) >= 0.5""".stripMargin,

    // Duplicate-span replay: same md5-prefix 8-gram hashes, corpus-wide
    // HAVING count(*) >= 2, then the identical gaps-and-islands merge
    // (break when the gap between flagged starts exceeds k=8). DuckDB
    // forbids nested window calls, so the lag-break and the running sum
    // sit in separate CTEs. range(1, len-6) is end-exclusive = 8-gram
    // starts 1..len-7, matching Spark's sequence(1, size-7).
    "q_dup_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |pg AS (
        |  SELECT doc_id, unnest([p for p in range(1, len(ts) - 6)]) AS pos, ts
        |  FROM tok),
        |grams AS (
        |  SELECT doc_id, pos,
        |         CAST(('0x' || substr(md5(array_to_string(ts[pos:pos+7], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM pg),
        |dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
        |fl AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)),
        |brk AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |              THEN 1 ELSE 0 END AS b
        |  FROM fl),
        |isl AS (
        |  SELECT doc_id, pos,
        |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
        |                      ROWS UNBOUNDED PRECEDING) AS isle
        |  FROM brk)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
        |       count(*) AS n_grams
        |FROM isl GROUP BY doc_id, isle""".stripMargin,

    "q_contamination" -> contaminationSql,

    // the Bloom pre-filter admits no false negatives and the exact
    // semi-join removes its false positives, so the pruned variant
    // replays against the identical SQL
    "q_contamination_bloom" -> contaminationSql,

    // Gopher repetition signals replay: per-doc max bigram count and
    // duplicated-3-gram coverage via the same islands union; LEFT JOINs
    // keep repetition-free docs with zero signals.
    "q_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5(array_to_string(ts[pos:pos+1], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest([p for p in range(1, len(ts))]) AS pos, ts FROM tok)),
        |top2 AS (
        |  SELECT doc_id, max(c) AS top2_cnt
        |  FROM (SELECT doc_id, h, count(*) AS c FROM g2 GROUP BY doc_id, h)
        |  GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, pos,
        |         CAST(('0x' || substr(md5(array_to_string(ts[pos:pos+2], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest([p for p in range(1, len(ts) - 1)]) AS pos, ts FROM tok)),
        |fl AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id, h) AS c FROM g3)
        |  WHERE c >= 2),
        |brk AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 3
        |              THEN 1 ELSE 0 END AS b
        |  FROM fl),
        |isl AS (
        |  SELECT doc_id, pos,
        |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
        |                      ROWS UNBOUNDED PRECEDING) AS isle
        |  FROM brk),
        |cov AS (
        |  SELECT doc_id, sum(c) AS dup_cov
        |  FROM (SELECT doc_id, isle, max(pos) - min(pos) + 3 AS c
        |        FROM isl GROUP BY doc_id, isle)
        |  GROUP BY doc_id),
        |base AS (SELECT doc_id, len(ts) AS n_tokens FROM tok)
        |SELECT b.doc_id, b.n_tokens,
        |       coalesce(top2_cnt, 0) AS top2_cnt,
        |       CASE WHEN b.n_tokens = 0 THEN 0.0
        |            ELSE round(coalesce(top2_cnt, 0) * 2.0 / b.n_tokens, 4) END AS top2_frac,
        |       coalesce(dup_cov, 0) AS dup_cov,
        |       CASE WHEN b.n_tokens = 0 THEN 0.0
        |            ELSE round(coalesce(dup_cov, 0) * 1.0 / b.n_tokens, 4) END AS dup_frac
        |FROM base b
        |LEFT JOIN top2 USING (doc_id)
        |LEFT JOIN cov USING (doc_id)""".stripMargin,

    // FNV-1a 64-bit rolling fingerprint replayed per character in HUGEINT
    // arithmetic mod 2^64, signed-wrapped to BIGINT at the end
    "q_fingerprint" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
        |            THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS fingerprint
        |FROM (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(1469598103934665603::HUGEINT,
        |                 list_transform(string_split(text, ''), c -> CAST(unicode(c) AS HUGEINT))),
        |    (acc, c) -> (xor(CAST(acc AS UBIGINT), CAST(c AS UBIGINT))::HUGEINT
        |                 * 1099511628211) % 18446744073709551616::HUGEINT
        |  ) AS u
        |  FROM documents)""".stripMargin,

    // Brute-force cosine near-dup pairs: no pair in the synthetic
    // embeddings is near the 0.95 threshold (checked: none in [0.90,0.97]
    // at sf0.01/sf0.1), so this is recall- and rounding-robust; it pins
    // the banded LSH path to zero false positives
    "q_embed_dups" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.95""".stripMargin,

    "q_cosine_topk" -> bruteTopkSql,
    "q_kmeans" -> kmeansSql(8, 5, 64),

    // Z-order replay: clamped floor to (ix, iy) at level 7 (cellSize 1.0
    // on the [0,128)² domain), then the EXACT magic-number bit spread of
    // CellIndex.interleave as chained shift/mask CTE steps; parent =
    // same Morton bits >> 4 with the level field rewritten to 5
    "q_zorder" -> (withCtes(GeoTables.Sql.pts) + """,
        |p AS (
        |  SELECT point_id,
        |         least(127, greatest(0, CAST(floor(x / 1.0) AS BIGINT))) AS vx,
        |         least(127, greatest(0, CAST(floor(y / 1.0) AS BIGINT))) AS vy
        |  FROM pts),
        |s0 AS (SELECT point_id, vx & 536870911 AS vx, vy & 536870911 AS vy FROM p),
        |s1 AS (SELECT point_id, (vx | (vx << 16)) & 281470681808895 AS vx,
        |              (vy | (vy << 16)) & 281470681808895 AS vy FROM s0),
        |s2 AS (SELECT point_id, (vx | (vx << 8)) & 71777214294589695 AS vx,
        |              (vy | (vy << 8)) & 71777214294589695 AS vy FROM s1),
        |s3 AS (SELECT point_id, (vx | (vx << 4)) & 1085102592571150095 AS vx,
        |              (vy | (vy << 4)) & 1085102592571150095 AS vy FROM s2),
        |s4 AS (SELECT point_id, (vx | (vx << 2)) & 3689348814741910323 AS vx,
        |              (vy | (vy << 2)) & 3689348814741910323 AS vy FROM s3),
        |s5 AS (SELECT point_id, (vx | (vx << 1)) & 6148914691236517205 AS vx,
        |              (vy | (vy << 1)) & 6148914691236517205 AS vy FROM s4)
        |SELECT point_id,
        |       (CAST(7 AS BIGINT) << 58) | vx | (vy << 1) AS cell,
        |       (CAST(5 AS BIGINT) << 58) | ((vx | (vy << 1)) >> 4) AS parent
        |FROM s5""".stripMargin),
    // SQ8 replay: quantize (round(x·127/A), A = global max-|x|), rank by
    // the integer-domain cosine rounded to 6 with id tiebreak, keep the
    // top 20 per query, exact-cosine re-rank to the final 5 — every
    // stage the same arithmetic on the same values as the Spark plan
    "q_sq_topk" ->
      """WITH sc AS (
        |  SELECT CAST(max(greatest(list_max(embedding), -list_min(embedding))) AS DOUBLE) AS a
        |  FROM embeddings),
        |cq AS (
        |  SELECT vec_id, embedding,
        |         [CAST(round(CAST(embedding[i] AS DOUBLE) * 127.0 / sc.a) AS BIGINT)
        |          for i in range(1, 65)] AS cv
        |  FROM embeddings, sc),
        |qq AS (SELECT vec_id AS qid, embedding AS q_emb, cv AS qv
        |       FROM cq WHERE vec_id < 10),
        |ap AS (
        |  SELECT q.qid, c.vec_id, c.embedding, q.q_emb,
        |    round(CAST((SELECT sum(q.qv[t.k] * c.cv[t.k])
        |                FROM generate_series(1, 64) t(k)) AS DOUBLE) /
        |      (sqrt(CAST((SELECT sum(c.cv[t.k] * c.cv[t.k])
        |                  FROM generate_series(1, 64) t(k)) AS DOUBLE)) *
        |       sqrt(CAST((SELECT sum(q.qv[t.k] * q.qv[t.k])
        |                  FROM generate_series(1, 64) t(k)) AS DOUBLE))), 6) AS approx
        |  FROM cq c, qq q WHERE c.vec_id <> q.qid),
        |cand AS (
        |  SELECT qid, vec_id, embedding, q_emb FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY qid ORDER BY approx DESC, vec_id) AS ark
        |    FROM ap) WHERE ark <= 20),
        |pairs AS (
        |  SELECT qid, vec_id AS nid,
        |    round((SELECT sum(CAST(q_emb[t.k] AS DOUBLE) * CAST(embedding[t.k] AS DOUBLE))
        |           FROM generate_series(1, 64) t(k)) /
        |      (sqrt((SELECT sum(CAST(q_emb[t.k] AS DOUBLE) * CAST(q_emb[t.k] AS DOUBLE))
        |             FROM generate_series(1, 64) t(k))) *
        |       sqrt((SELECT sum(CAST(embedding[t.k] AS DOUBLE) * CAST(embedding[t.k] AS DOUBLE))
        |             FROM generate_series(1, 64) t(k)))), 6) AS cosine
        |  FROM cand)
        |SELECT qid, nid, cosine, rk FROM (
        |  SELECT qid, nid, cosine,
        |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk
        |  FROM pairs) WHERE rk <= 5""".stripMargin,
    // the exhaustive ANN settings degenerate to exact brute-force top-k,
    // so they share the brute oracle verbatim
    "q_ivf_exhaustive" -> bruteTopkSql,
    "q_lsh_exhaustive" -> bruteTopkSql)

  /** Decontamination replay — the oracle for q_contamination AND (the
    * Bloom pre-filter is exact after its verification join) for
    * q_contamination_bloom. eval slice (doc_id % 20 = 0) reduced to
    * distinct hashes, train postings semi-joined, then the identical
    * islands merge (break at gap > 13). range(1, len-11) is
    * end-exclusive = 13-gram starts 1..len-12, matching Spark's
    * sequence(1, size-12). */
  private val contaminationSql: String =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |  FROM documents),
      |pg AS (
      |  SELECT doc_id, unnest([p for p in range(1, len(ts) - 11)]) AS pos, ts
      |  FROM tok),
      |grams AS (
      |  SELECT doc_id, pos,
      |         CAST(('0x' || substr(md5(array_to_string(ts[pos:pos+12], ' ')), 1, 15)) AS BIGINT) AS h
      |  FROM pg),
      |ev AS (SELECT DISTINCT h FROM grams WHERE doc_id % 20 = 0),
      |fl AS (
      |  SELECT g.doc_id, g.pos FROM grams g JOIN ev USING (h)
      |  WHERE g.doc_id % 20 <> 0),
      |brk AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 13
      |              THEN 1 ELSE 0 END AS b
      |  FROM fl),
      |isl AS (
      |  SELECT doc_id, pos,
      |         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
      |                      ROWS UNBOUNDED PRECEDING) AS isle
      |  FROM brk)
      |SELECT doc_id, min(pos) AS span_start, max(pos) + 12 AS span_end,
      |       count(*) AS n_grams
      |FROM isl GROUP BY doc_id, isle""".stripMargin

  /** Exact cosine top-5 for queries vec_id < 10 — the oracle for
    * q_cosine_topk AND for the two degenerate-exhaustive ANN queries. */
  /** Unrolled-round BPE oracle: round r counts adjacent symbol pairs of
    * w_r (weighted by word frequency), picks the (c DESC, pair ASC)
    * argmax with a c >= 2 floor into the 1-row b_r, and derives w_{r+1}
    * by the same literal `replace(seq, ' a b ', ' ab ')` the Spark loop
    * applies — both engines' replace() scans left-to-right over
    * non-overlapping occurrences and resumes after the replacement, so
    * the rounds agree by construction. freq is CAST to BIGINT (DuckDB
    * sum(BIGINT) is otherwise HUGEINT). */
  private def bpeSql(merges: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w1 AS MATERIALIZED (
      |  SELECT ' ' || array_to_string([substr(word, i, 1)
      |           for i in range(1, len(word) + 1)], ' ') || ' </w> ' AS seq,
      |         cnt
      |  FROM (SELECT word, count(*) AS cnt
      |        FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
      |              FROM documents)
      |        WHERE regexp_matches(word, '^[a-z]+$')
      |        GROUP BY word))""".stripMargin
    for (r <- 1 to merges) {
      sb ++= s""",
         |p$r AS MATERIALIZED (
         |  SELECT pair, sum(cnt) AS c FROM (
         |    SELECT unnest([arr[i] || ' ' || arr[i + 1]
         |             for i in range(1, len(arr))]) AS pair, cnt
         |    FROM (SELECT list_filter(string_split(trim(seq), ' '), x -> x <> '') AS arr, cnt
         |          FROM w$r))
         |  GROUP BY pair),
         |b$r AS MATERIALIZED (SELECT $r AS rank, pair, replace(pair, ' ', '') AS merged,
         |               CAST(c AS BIGINT) AS freq
         |        FROM p$r WHERE c >= 2 ORDER BY c DESC, pair ASC LIMIT 1),
         |w${r + 1} AS MATERIALIZED (SELECT replace(seq, ' ' || b.pair || ' ', ' ' || b.merged || ' ') AS seq, cnt
         |            FROM w$r, b$r b)""".stripMargin
    }
    sb ++= "\nSELECT rank, pair, merged, freq FROM (" +
      (1 to merges).map(r => s"SELECT * FROM b$r").mkString(" UNION ALL ") + ")"
    sb.toString
  }

  /** Unrolled Lloyd's k-means oracle: init = the k lowest-id vectors,
    * round r assigns by (round(dist, 6) ASC, cid ASC) argmin against
    * cent_{r-1} and derives cent_r as per-(cid, dim) means rounded to 6
    * (empty clusters keep their centroid via the LEFT JOIN coalesce) —
    * the same 1e-6 lockstep grid the Spark loop rounds to, so the two
    * engines' rounds cannot drift apart on summation order. */
  private def kmeansSql(k: Int, iters: Int, dim: Int): String = {
    val d1 = dim + 1
    val sb = new StringBuilder
    sb ++= s"""WITH cent0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
       |         [CAST(embedding[i] AS DOUBLE) for i in range(1, $d1)] AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $k))""".stripMargin
    for (r <- 1 to iters) {
      val prev = s"cent${r - 1}"
      sb ++= s""",
         |a$r AS MATERIALIZED (
         |  SELECT vec_id, cid, d FROM (
         |    SELECT vec_id, cid, d,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
         |    FROM (SELECT e.vec_id, c.cid,
         |            round(list_sum([
         |              (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) *
         |              (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
         |              for i in range(1, $d1)]), 6) AS d
         |          FROM embeddings e, $prev c))
         |  WHERE rn = 1)""".stripMargin
      if (r < iters) sb ++= s""",
         |u$r AS (
         |  SELECT a.cid, t.i, round(avg(CAST(e.embedding[t.i] AS DOUBLE)), 6) AS v
         |  FROM a$r a JOIN embeddings e USING (vec_id), generate_series(1, $dim) t(i)
         |  GROUP BY a.cid, t.i),
         |cent$r AS MATERIALIZED (
         |  SELECT c.cid, coalesce(u.cvec, c.cvec) AS cvec
         |  FROM $prev c LEFT JOIN (SELECT cid, list(v ORDER BY i) AS cvec
         |                          FROM u$r GROUP BY cid) u USING (cid))""".stripMargin
    }
    sb ++= s"\nSELECT vec_id, cid, d AS dist FROM a$iters"
    sb.toString
  }

  private val bruteTopkSql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
      |pairs AS (
      |  SELECT q.qid, e.vec_id AS nid,
      |    round((SELECT sum(CAST(q.q_emb[t.k] AS DOUBLE) * CAST(e.embedding[t.k] AS DOUBLE))
      |           FROM generate_series(1, 64) t(k)) /
      |      (sqrt((SELECT sum(CAST(q.q_emb[t.k] AS DOUBLE) * CAST(q.q_emb[t.k] AS DOUBLE))
      |             FROM generate_series(1, 64) t(k))) *
      |       sqrt((SELECT sum(CAST(e.embedding[t.k] AS DOUBLE) * CAST(e.embedding[t.k] AS DOUBLE))
      |             FROM generate_series(1, 64) t(k)))), 6) AS cosine
      |  FROM embeddings e, q WHERE e.vec_id <> q.qid)
      |SELECT qid, nid, cosine, rk FROM (
      |  SELECT qid, nid, cosine,
      |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk
      |  FROM pairs) WHERE rk <= 5""".stripMargin
}
