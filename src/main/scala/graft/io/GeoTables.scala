package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic geo tables derived from the driver's TPC-H-ish parquet.
  *
  * Everything here is *pure integer arithmetic* over the source tables, so
  * the exact same derivation is expressible as DuckDB SQL (the `Sql`
  * fragments below) — giving every spatial operator a cross-engine oracle.
  * Coordinates land on the 0.25 grid in [0,100)², so all bbox/distance
  * arithmetic is exact in doubles on both engines.
  *
  * World domain: [0,100)² inside CellIndex.DefaultDomain [0,128)².
  */
object GeoTables {

  /** Cell level for the point⋈zone equi-prejoin. Cell size 1.0 against
    * 4–10-unit zones ⇒ bbox dilation ≤ (w+1)(h+1)/(wh) ≈ 1.3× false
    * candidates (level 5 / size 4 measured 2.5× and dominated the bench). */
  val JoinLevel = 7

  /** Finer level for point kNN candidate rings (cell 0.5): ring-2 explores
    * a 2.5×2.5 window — ~hundreds of candidates per query at bench density
    * instead of tens of thousands at the join level. */
  val KnnLevel = 8

  /** points: one per lineitem row. x,y ∈ [0,100) on the 0.25 grid.
    * (orderkey, linenumber) is NOT unique in the source data, so point_id
    * is a content key, not a row key — every consumer treats points as a
    * multiset. */
  def points(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("point_id"),
      ((col("l_partkey") * 7 + col("l_orderkey") * 11) % 400 / lit(4.0)).as("x"),
      ((col("l_suppkey") * 13 + col("l_orderkey") * 17) % 400 / lit(4.0)).as("y"),
      col("l_quantity").as("value"))

  /** zones: one axis-aligned box per part row; 4–10 units on a side.
    * `wkt` is the box as a real WKT polygon (the JTS path operates on it;
    * the oracle uses the numeric bounds). */
  def zones(spark: SparkSession, sfDir: String): DataFrame = {
    val p = spark.read.parquet(s"$sfDir/part.parquet")
    val x0 = ((col("p_partkey") * 17) % 90).cast("int")
    val y0 = ((col("p_partkey") * 31) % 90).cast("int")
    val x1 = (x0 + 4 + (col("p_partkey") % 7)).cast("int")
    val y1 = (y0 + 4 + ((col("p_partkey") * 11) % 7)).cast("int")
    p.select(
      col("p_partkey").as("zone_id"),
      x0.cast("double").as("zxmin"), y0.cast("double").as("zymin"),
      x1.cast("double").as("zxmax"), y1.cast("double").as("zymax"),
      concat(lit("POLYGON(("),
        x0, lit(" "), y0, lit(","), x1, lit(" "), y0, lit(","),
        x1, lit(" "), y1, lit(","), x0, lit(" "), y1, lit(","),
        x0, lit(" "), y0, lit("))")).as("wkt"))
  }

  /** Interleaved docs table (BASELINE input_hint schema), assembled from
    * orders ⋈ lineitem. Span layout per doc (doc = order):
    *   offset 0                : meta  "status=<s>;prio=<p>"
    *   offset 1..n (linenumber): point "<x4>,<y4>,<q>"  (scaled-int CSV)
    *   offset n+1              : wkt   zone polygon of min(l_partkey)
    *   offset n+2              : raster media_ref tile://dem/0/<r>/<c>
    * All text fields are integer-built so the DuckDB oracle can reproduce
    * them byte-for-byte. */
  def docs(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")

    // offsets via row_number: l_linenumber is neither unique nor contiguous
    // per order; the sort key (ln, pk, sk, qty) fully determines the span
    // text, so ties are interchangeable and the sequence is deterministic.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val pointSpans = li.select(
      col("l_orderkey").as("k"),
      lit("point").as("kind"),
      concat((col("l_partkey") * 7 + col("l_orderkey") * 11) % 400, lit(","),
             (col("l_suppkey") * 13 + col("l_orderkey") * 17) % 400, lit(","),
             col("l_quantity").cast("bigint")).as("text"),
      lit("").as("media_ref"),
      row_number().over(w).cast("int").as("offset"))

    val perOrder = li.groupBy(col("l_orderkey").as("k")).agg(
      count(lit(1)).cast("int").as("maxln"),
      min(col("l_partkey")).as("minpk"))

    val zx0 = ((col("minpk") * 17) % 90).cast("int")
    val zy0 = ((col("minpk") * 31) % 90).cast("int")
    val zx1 = (zx0 + 4 + (col("minpk") % 7)).cast("int")
    val zy1 = (zy0 + 4 + ((col("minpk") * 11) % 7)).cast("int")
    val wktSpans = perOrder.select(
      col("k"), lit("wkt").as("kind"),
      concat(lit("POLYGON(("),
        zx0, lit(" "), zy0, lit(","), zx1, lit(" "), zy0, lit(","),
        zx1, lit(" "), zy1, lit(","), zx0, lit(" "), zy1, lit(","),
        zx0, lit(" "), zy0, lit("))")).as("text"),
      lit("").as("media_ref"),
      (col("maxln") + 1).as("offset"))

    val rasterSpans = perOrder.select(
      col("k"), lit("raster").as("kind"), lit("").as("text"),
      concat(lit("tile://dem/0/"), col("k") % 8, lit("/"), (col("k") * 3) % 8)
        .as("media_ref"),
      (col("maxln") + 2).as("offset"))

    val metaSpans = ord.join(perOrder, ord("o_orderkey") === col("k"), "inner")
      .select(col("k"), lit("meta").as("kind"),
        concat(lit("status="), col("o_orderstatus"),
               lit(";prio="), col("o_orderpriority")).as("text"),
        lit("").as("media_ref"), lit(0).as("offset"))

    val all = metaSpans.unionByName(pointSpans).unionByName(wktSpans)
      .unionByName(rasterSpans)

    all.groupBy(col("k"))
      .agg(array_sort(collect_list(struct(
        col("offset"), col("kind"), col("text"), col("media_ref")))).as("s0"))
      .select(
        format_string("doc-%09d", col("k")).as("doc_id"),
        expr("transform(s0, x -> struct(x.kind as kind, x.text as text, " +
             "x.media_ref as media_ref, x.offset as offset))").as("spans"))
  }

  /** Point spans of an exploded docs frame (one span struct per row in
    * column `s`): the "<x4>,<y4>,<q>" scaled-int CSV (see [[docs]])
    * decoded to (`key`, x, y, value). */
  def pointSpans(spans: DataFrame, key: Column): DataFrame = {
    val f = split(col("s.text"), ",")
    spans.where(col("s.kind") === "point")
      .select(key,
        (f.getItem(0).cast("double") / 4.0).as("x"),
        (f.getItem(1).cast("double") / 4.0).as("y"),
        f.getItem(2).cast("double").as("value"))
  }

  /** Polygon spans of an exploded docs frame: (`key` as poly_doc, wkt). */
  def polySpans(spans: DataFrame, key: Column): DataFrame =
    spans.where(col("s.kind") === "wkt")
      .select(key.as("poly_doc"), col("s.text").as("wkt"))

  /** Distinct media_refs straight off the span SOURCE — the projection a
    * 10^12-doc pipeline wants: no window, no collect_list, no document
    * assembly; just the distinct doc keys that carry a raster span. */
  def mediaRefs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("k")).distinct()
      .select(concat(lit("tile://dem/0/"), col("k") % 8, lit("/"), (col("k") * 3) % 8)
        .as("media_ref"))
      .distinct()

  /** DuckDB CTE fragments mirroring the derivations above, verbatim per
    * oracle query. */
  object Sql {
    val pts: String =
      """pts AS (
        |  SELECT l_orderkey*10 + l_linenumber AS point_id,
        |         ((l_partkey*7 + l_orderkey*11)%400)/4.0 AS x,
        |         ((l_suppkey*13 + l_orderkey*17)%400)/4.0 AS y,
        |         l_quantity AS value
        |  FROM lineitem
        |)""".stripMargin

    val zones: String =
      """zones AS (
        |  SELECT p_partkey AS zone_id,
        |         CAST((p_partkey*17)%90 AS DOUBLE) AS zxmin,
        |         CAST((p_partkey*31)%90 AS DOUBLE) AS zymin,
        |         CAST((p_partkey*17)%90 + 4 + p_partkey%7 AS DOUBLE) AS zxmax,
        |         CAST((p_partkey*31)%90 + 4 + (p_partkey*11)%7 AS DOUBLE) AS zymax
        |  FROM part
        |)""".stripMargin

    /** Valid cells of the synthetic 400×400 raster (see RasterGen). */
    val grid: String =
      """grid AS (
        |  SELECT t.i AS i, s.j AS j,
        |         CAST((t.i*7 + s.j*13)%97 AS DOUBLE) AS val,
        |         0.125 + s.j*0.25 AS cx,
        |         100 - 0.125 - t.i*0.25 AS cy
        |  FROM generate_series(0,399) t(i), generate_series(0,399) s(j)
        |  WHERE (t.i*31 + s.j*17)%101 <> 0
        |)""".stripMargin
  }
}
