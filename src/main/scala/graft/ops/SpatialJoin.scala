package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, LongType, StructField, StructType}
import graft.functions.GeoFunctions._

/** How [[SpatialJoin.pip]] distributes its cell equi-join. Every plan
  * runs the same annotate, cover, join and refine; the plan picks only the
  * exchange shape and the per-cell salt fan-out. Three plans; a zonal
  * caller picks none and calls [[SpatialJoin.zonalAgg]] instead.
  *
  *  - `PointBuild`: the point side is the hash build. It is broadcast when
  *    Spark's estimate of its size is at most
  *    `spark.sql.autoBroadcastJoinThreshold` (Spark's own rule for joins
  *    without a hint, decided at planning time, no job run), so the
  *    poly-cell side is never exchanged and each polygon's candidates stay
  *    in the task that exploded its cells; above the threshold (or with it
  *    at -1) it is a shuffle-hash join keyed on `cell`.
  *  - `Salted(n)`: every cell fans out `n` ways, for skewed cells.
  *  - `Adaptive(targetRowsPerTask)`: only hot cells fan out, in proportion
  *    to their measured point count ([[AdaptiveSkew.saltFactors]]).
  */
sealed trait PipPlan
object PipPlan {
  case object PointBuild extends PipPlan
  final case class Salted(n: Int) extends PipPlan {
    require(n >= 1, s"salt count $n must be >= 1")
  }
  final case class Adaptive(targetRowsPerTask: Long) extends PipPlan {
    require(targetRowsPerTask >= 1, s"targetRowsPerTask $targetRowsPerTask must be >= 1")
  }
}

/** Point-in-polygon spatial join — the heart of the graft (SURVEY.md §2.4,
  * reference `vector/vector.py:1519-1571` create_mask /
  * `interface/rasterization.py:382-511` rasterize candidate pruning).
  *
  * Plan shape: polygons explode to covering cells (the STRtree substitute),
  * points key by owning cell, equi-join on `cell` (hash-partitioned — the
  * scalable path), then JTS prepared-geometry refine. The equi pre-join is
  * what Catalyst can shuffle/broadcast/AQE-skew-optimize; the refine is a
  * cheap scalar UDF on surviving candidates only. Zonal callers (`entry`,
  * the kernel, `DocsStream`, `q_zonal_stats_points`) use [[zonalAgg]].
  */
object SpatialJoin {

  /** polys must carry `wkt`; points must carry (x, y).
    * Returns candidates refined by interior containment (boundary
    * excluded — matches the strict-inequality oracle). `plan` picks how
    * the cell equi-join is distributed (see [[PipPlan]]); the result rows
    * are the same under every plan.
    */
  def pip(points: DataFrame, polys: DataFrame, level: Int,
          plan: PipPlan = PipPlan.PointBuild): DataFrame = {
    // Envelope + rectangle flag from ONE cached parse per polygon
    // (st_env_rect). Single join:
    //  - the exchange carries four flat envelope doubles + `gen_geom`,
    //    which is NULL for rectangles (a null bit, not a string) — the
    //    geometry string never rides the shuffle for rect layers;
    //  - refine is bbox-first in codegen; the JTS prepared-geometry UDF
    //    only evaluates on bbox survivors of general polygons (CASE
    //    branches are lazy in codegen).
    val annotated = polys
      .withColumn("pa", st_env_rect(col("wkt")))
      // flat envelope doubles, not struct fields: the bbox refine reads
      // them once per CANDIDATE (~10^8-10^9 at scale), and a flat column
      // is a direct UnsafeRow read where a struct field pays an extra
      // indirection
      .withColumn("e0", col("pa._1")).withColumn("e1", col("pa._2"))
      .withColumn("e2", col("pa._3")).withColumn("e3", col("pa._4"))
      .withColumn("gen_geom",
        when(col("pa._5"), lit(null).cast("string")).otherwise(col("wkt")))
      .drop("pa")
    val ptCells = points.withColumn("cell", graft.plans.CellOfExpr.cellOfNative(col("x"), col("y"), lit(level)))

    val cells = annotated.withColumn("cell",
      explode(cover_cells(col("e0"), col("e1"), col("e2"), col("e3"), lit(level))))

    // Salt step of the salted plans: `salt_n` is a cell's fan-out. A
    // point takes one bucket by a deterministic hash of its coordinates; a
    // poly-cell row is replicated into every bucket, so each candidate pair
    // meets exactly once on (cell, salt).
    def salted(withSaltN: DataFrame => DataFrame) =
      (withSaltN(ptCells)
         .withColumn("salt", pmod(xxhash64(col("x"), col("y")), col("salt_n")).cast("int"))
         .drop("salt_n").hint("shuffle_hash"),
       withSaltN(cells)
         .withColumn("salt", explode(sequence(lit(0), col("salt_n") - 1)))
         .drop("salt_n"),
       Seq("cell", "salt"))
    // the POINT side is the hash build: the exploded poly-cell side is
    // cover-factor× larger (60× at the kernel's level-7 boxes, times the
    // salt for the salted plans), so building the hash relation from
    // points and streaming poly-cells probes the smaller table (candidate
    // emission is unchanged)
    val (left, right, keys) = plan match {
      case PipPlan.PointBuild =>
        (if (broadcastable(ptCells)) broadcast(ptCells) else ptCells.hint("shuffle_hash"),
         cells, Seq("cell"))
      case PipPlan.Salted(n) => salted(_.withColumn("salt_n", lit(n)))
      case PipPlan.Adaptive(target) =>
        // hot cells only; a cell missing from the histogram gets 1
        val salts = broadcast(AdaptiveSkew.saltFactors(points, level, target))
        salted(_.join(salts, Seq("cell"), "left")
          .withColumn("salt_n", coalesce(col("salt"), lit(1))))
    }
    left.join(right, keys, "inner")
      .where(col("x") > col("e0") && col("x") < col("e2") &&
             col("y") > col("e1") && col("y") < col("e3"))
      .where(col("gen_geom").isNull ||
             st_contains_xy(col("gen_geom"), col("x"), col("y")))
      .drop(keys ++ Seq("e0", "e1", "e2", "e3", "gen_geom"): _*)
  }

  /** Spark's rule for a join without a hint: the estimated size of `df`
    * is at most `spark.sql.autoBroadcastJoinThreshold` (decided at planning
    * time, no job run; -1 turns it off). */
  private def broadcastable(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** Zonal aggregate: per polygon ROW and point-side group key, the count
    * and the value sum of the points [[pip]] matches. Returns the polygon
    * columns, the `keys` (expressions over the point columns, named apart
    * from the polygon columns), `n_pts` and `sum_val` (the sum of `value`
    * as a double: null values are counted, not summed, and a group of
    * only null values has a null `sum_val`). These are the rows of
    * `pip(points, polys, level).groupBy(<polygon row>, keys)`; two equal
    * polygon rows give two rows each, and a polygon with no hit gives none.
    *
    * When the projected point side `(cell, x, y, value, keys)` is
    * broadcastable by [[PipPlan.PointBuild]]'s size rule, the aggregate is
    * fused: the point side is collected once (one job), indexed by cell on
    * the driver ([[CellPoints]]) and broadcast, and one pass over the
    * polygon rows probes the index per polygon and emits that polygon's
    * final groups — no hash join, no hash aggregate, no exchange. The
    * probe finds each cover cell in a hashed directory, skips a cell whose
    * points all miss the polygon's envelope, adds the per-key totals of a
    * cell whose points all lie inside a rectangular polygon, and tests the
    * points of any other cell one by one. Sums may then add in another order than
    * the join's. Above the threshold it is `pip(PointBuild)` plus a hash
    * aggregate on a polygon row id. */
  def zonalAgg(points: DataFrame, polys: DataFrame, level: Int,
               keys: Seq[Column], value: Column): DataFrame = {
    // -0.0/0.0 and NaN payloads are one group key, as in Spark's groupBy
    def normalized(c: Column, t: DataType) = t match {
      case DoubleType | FloatType =>
        when(isnan(c), lit(Double.NaN).cast(t)).when(c === 0, lit(0).cast(t)).otherwise(c)
      case _ => c
    }
    val v = "_zonal_val"
    val keyed = points.select(Seq(col("x"), col("y"), value.cast("double").as(v)) ++ keys: _*)
    val keyFields = keyed.schema.fields.drop(3)
    val pts = keyed.select(Seq(col("x"), col("y"), col(v)) ++
      keyFields.map(f => normalized(col(f.name), f.dataType).as(f.name)): _*)
    val keyNames = keyFields.map(_.name).toSeq
    val side = pts.select(graft.plans.CellOfExpr.cellOfNative(col("x"), col("y"), lit(level))
      .as("cell") +: pts.columns.toSeq.map(col): _*)

    if (broadcastable(side)) {
      val spark = polys.sparkSession
      val keyTypes = keyFields.map(_.dataType).toSeq
      val index = spark.sparkContext.broadcast(CellPoints.build(side.queryExecution.toRdd
        .mapPartitions(rows => Iterator(CellPoints.part(rows, keyTypes))).collect()))
      val wktAt = polys.schema.fieldIndex("wkt")
      val rows = polys.queryExecution.toRdd.mapPartitions(
        polyRows => index.value.aggregate(polyRows, wktAt, level))
      org.apache.spark.sql.GraftShim.dataFrame(spark, rows, StructType(
        polys.schema.fields ++ side.schema.fields.drop(4) ++ Seq(
          StructField("n_pts", LongType, nullable = false),
          StructField("sum_val", DoubleType, nullable = true))))
    } else {
      // the row id keeps equal polygon rows apart; the other polygon
      // columns ride the key (functionally dependent on the id), except the
      // geometry, which the aggregate carries only if a consumer reads it
      val rid = "_zonal_row"
      pip(pts, polys.withColumn(rid, monotonically_increasing_id()), level)
        .groupBy((Seq(rid) ++ polys.columns.filter(_ != "wkt") ++ keyNames).map(col): _*)
        .agg(count(lit(1)).as("n_pts"), sum(col(v)).as("sum_val"), first(col("wkt")).as("wkt"))
        .select((polys.columns.toSeq ++ keyNames :+ "n_pts" :+ "sum_val").map(col): _*)
    }
  }

  /** Uniformly salted [[pip]]: `pip(..., PipPlan.Salted(salt))`. */
  def pipSalted(points: DataFrame, polys: DataFrame, level: Int, salt: Int): DataFrame =
    pip(points, polys, level, PipPlan.Salted(salt))

  /** Adaptive cover-level of an envelope (clamped to [minLvl, maxLvl]). */
  private val adLevel = udf((minx: Double, miny: Double, maxx: Double, maxy: Double,
                             perAxis: Int, minLvl: Int, maxLvl: Int) =>
    math.max(minLvl,
      graft.geo.CellIndex.coverLevel(minx, miny, maxx, maxy, perAxis, maxLvl)))

  /** Cover cells at EVERY level minLvl..ownLvl — the ancestor emission of
    * the hierarchical grid join (a cover cell's ancestors at level L are
    * exactly cover(env, L)). */
  private val coverUpTo = udf((minx: Double, miny: Double, maxx: Double, maxy: Double,
                               minLvl: Int, ownLvl: Int) =>
    (minLvl to ownLvl).flatMap(L =>
      graft.geo.CellIndex.cover(minx, miny, maxx, maxy, L)).toArray)

  /** Geometry⋈geometry spatial join (GeoPandas sjoin, reference
    * `vector/vector.py:935-942`), hierarchical-grid shaped for scale:
    *
    *  - ADAPTIVE per-geometry cover level (`CellIndex.coverLevel`): small
    *    geometries index finely, large ones coarsely — no single level has
    *    to fit both.
    *  - Cross-level matching without coarse-bucket blowup: the DEEPER side
    *    of a pair emits its ancestor covers down to `minLevel`, the
    *    shallower side emits its OWN level only; two equi-joins (deeper-A,
    *    strictly-deeper-B) catch every envelope-overlapping pair exactly
    *    at level min(lvl_a, lvl_b).
    *  - SINGLE-CELL pair emission: a pair colliding in k shared cells is
    *    kept only in the canonical one — the cell owning the overlap
    *    corner (max minx, max miny) — pure codegen arithmetic, which
    *    removes the distinct shuffle entirely.
    *  - rect⊗rect fast path for intersects/contains/within (envelope
    *    algebra, no JTS); JTS refine for everything else.
    *
    * predicate ∈ {intersects, contains, within, touches, crosses,
    * overlaps, dwithin(dist)}; how ∈ {inner, left, semi, anti}
    * (`vector.py:935-942` `how=`). Output: inner/left → (id_a, id_b);
    * semi/anti → (id_a).
    *
    * `emitEnv` (inner only): also carry (env_a, rect_a, env_b, rect_b)
    * through to the output — the join computes them once per FEATURE for
    * its own cover/refine anyway, and consumers like Overlay otherwise
    * re-derive them with a WKT parse per PAIR (2 orders of magnitude more
    * parses on dense layers). env is the raw geometry envelope
    * [minx,miny,maxx,maxy]; for dwithin, env_a includes the dist expansion. */
  def sjoin(a: DataFrame, b: DataFrame, predicate: String, level: Int = 7,
            how: String = "inner", minLevel: Int = 3,
            maxCellsPerAxis: Int = 4, dist: Double = 0.0,
            emitEnv: Boolean = false): DataFrame = {
    require(Seq("intersects", "contains", "within", "touches", "crosses",
      "overlaps", "dwithin").contains(predicate), predicate)
    require(Seq("inner", "left", "semi", "anti").contains(how), how)
    require(!emitEnv || how == "inner", "emitEnv requires how=inner")
    val rectFast = Seq("intersects", "contains", "within").contains(predicate)

    val pred: (Column, Column) => Column = predicate match {
      case "intersects" => (x, y) => st_intersects(x, y)
      case "contains"   => (x, y) => st_contains(x, y)
      case "within"     => (x, y) => st_within(x, y)
      case "touches"    => (x, y) => st_touches(x, y)
      case "crosses"    => (x, y) => st_crosses(x, y)
      case "overlaps"   => (x, y) => st_overlaps(x, y)
      case "dwithin"    => (x, y) => st_dwithin(x, y, lit(dist))
    }
    // Envelopes travel as FOUR FLAT double columns per side (ea0..ea3 /
    // eb0..eb3), not arrays: the overlap/canonical/refine predicates read
    // them once per CANDIDATE (~10^8+ at scale) and a flat column is a
    // direct UnsafeRow read where an array element pays an indirection.
    // `emitEnv` consumers get the array rebuilt once per emitted PAIR.
    def e(p: String, i: Int): Column = col(s"e$p$i")
    // envelope relation for the rect⊗rect fast path
    def envPred(pa: String, pb: String): Column = predicate match {
      case "intersects" =>
        e(pa, 0) <= e(pb, 2) && e(pb, 0) <= e(pa, 2) &&
        e(pa, 1) <= e(pb, 3) && e(pb, 1) <= e(pa, 3)
      case "contains" =>
        e(pb, 0) >= e(pa, 0) && e(pb, 2) <= e(pa, 2) &&
        e(pb, 1) >= e(pa, 1) && e(pb, 3) <= e(pa, 3)
      case "within" =>
        e(pa, 0) >= e(pb, 0) && e(pa, 2) <= e(pb, 2) &&
        e(pa, 1) >= e(pb, 1) && e(pa, 3) <= e(pb, 3)
      case _ => lit(true)
    }
    // loose prefilter valid for every predicate (all imply envelope
    // intersection; side a is pre-expanded by dist for dwithin)
    def envOverlap(pa: String, pb: String): Column =
      e(pa, 0) <= e(pb, 2) && e(pb, 0) <= e(pa, 2) &&
      e(pa, 1) <= e(pb, 3) && e(pb, 1) <= e(pa, 3)

    // One cached parse per feature (st_env_rect). `gwkt` is the geometry
    // the general refine reads: NULL for rectangles — a rect's geometry IS
    // its envelope, so the refine rebuilds the WKT from env doubles on the
    // (rare) mixed pairs instead of shipping the string through the cell
    // exchange or re-joining the inputs per pair. Under dwithin the
    // envelope is dist-expanded and can't rebuild the original, so the
    // expanded side keeps its wkt.
    def annotated(df: DataFrame, id: String, wkt: String, p: String,
                  rectN: String, lvlN: String, gwktN: String, expand: Double) =
      df.withColumn("pa", st_env_rect(col(wkt)))
        .withColumn(s"e${p}0", col("pa._1") - expand)
        .withColumn(s"e${p}1", col("pa._2") - expand)
        .withColumn(s"e${p}2", col("pa._3") + expand)
        .withColumn(s"e${p}3", col("pa._4") + expand)
        .withColumn(rectN, col("pa._5"))
        .withColumn(gwktN,
          if (expand != 0.0) col(wkt)
          else when(col(rectN), lit(null).cast("string")).otherwise(col(wkt)))
        .withColumn(lvlN, adLevel(e(p, 0), e(p, 1), e(p, 2), e(p, 3),
          lit(maxCellsPerAxis), lit(minLevel), lit(level)))
        .select(col(id), e(p, 0), e(p, 1), e(p, 2), e(p, 3),
          col(rectN), col(lvlN), col(gwktN))

    // dwithin: expand ONE side's envelope by dist so cover cells + the
    // envelope prefilter capture pairs within distance
    val aAnn = annotated(a, "id_a", "wkt_a", "a", "rect_a", "lvl_a", "gwkt_a",
      if (predicate == "dwithin") dist else 0.0)
    val bAnn = annotated(b, "id_b", "wkt_b", "b", "rect_b", "lvl_b", "gwkt_b", 0.0)

    def cellsAll(df: DataFrame, p: String, lvl: String) = df.withColumn("cell",
      explode(coverUpTo(e(p, 0), e(p, 1), e(p, 2), e(p, 3),
        lit(minLevel), col(lvl))))
    def cellsOwn(df: DataFrame, p: String, lvl: String) = df.withColumn("cell",
      explode(cover_cells(e(p, 0), e(p, 1), e(p, 2), e(p, 3), col(lvl))))

    // j1 matches at lvl_b (bOwn cells) ⇒ implies lvl_a ≥ lvl_b;
    // j2 restricted to strictly-deeper b so equal levels emit once
    val j1 = cellsAll(aAnn, "a", "lvl_a")
      .join(cellsOwn(bAnn, "b", "lvl_b").hint("shuffle_hash"), Seq("cell"))
    val j2 = cellsOwn(aAnn, "a", "lvl_a")
      .join(cellsAll(bAnn, "b", "lvl_b").hint("shuffle_hash"), Seq("cell"))
      .where(col("lvl_b") > col("lvl_a"))

    // canonical single-cell emission: keep the pair only in the cell that
    // owns the overlap corner at the matched (coarser) level
    val matchedLvl = least(col("lvl_a"), col("lvl_b"))
    val cand = j1.unionByName(j2)
      .where(envOverlap("a", "b"))
      .where(graft.plans.CellOfExpr.cellOfNative(
        greatest(e("a", 0), e("b", 0)),
        greatest(e("a", 1), e("b", 1)),
        matchedLvl) === col("cell"))

    val outCols = Seq(col("id_a"), col("id_b")) ++
      (if (emitEnv)
        Seq(array(e("a", 0), e("a", 1), e("a", 2), e("a", 3)).as("env_a"),
          col("rect_a"),
          array(e("b", 0), e("b", 1), e("b", 2), e("b", 3)).as("env_b"),
          col("rect_b"))
      else Nil)

    // Single-pass refine (round 6; the rect/general split into two
    // subplans re-joined a and b per general pair — two extra shuffle
    // joins even when the general set was empty): rect⊗rect fast pairs
    // resolve by envelope algebra in codegen; every other pair runs the
    // JTS predicate on gwkt, with a NULL rect side rebuilt from its
    // envelope (same geometry, so the boolean is identical). CASE
    // branches are lazy in codegen — rect pairs never build a string.
    def envWkt(p: String): Column =
      concat(lit("POLYGON (("), e(p, 0), lit(" "), e(p, 1), lit(", "),
        e(p, 2), lit(" "), e(p, 1), lit(", "), e(p, 2), lit(" "), e(p, 3),
        lit(", "), e(p, 0), lit(" "), e(p, 3), lit(", "),
        e(p, 0), lit(" "), e(p, 1), lit("))"))
    val rectFastPair = col("rect_a") && col("rect_b") && lit(rectFast)
    val pairs = cand
      .where(when(rectFastPair, envPred("a", "b"))
        .otherwise(pred(coalesce(col("gwkt_a"), envWkt("a")),
                        coalesce(col("gwkt_b"), envWkt("b")))))
      .select(outCols: _*)
    how match {
      case "inner" => pairs
      case "left"  => a.select(col("id_a")).join(pairs, Seq("id_a"), "left")
      case "semi"  => a.select(col("id_a")).join(pairs, Seq("id_a"), "left_semi")
      case "anti"  => a.select(col("id_a")).join(pairs, Seq("id_a"), "left_anti")
    }
  }
}
