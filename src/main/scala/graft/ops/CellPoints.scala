package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow,
  JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.DataType

import graft.functions.GeoFunctions
import graft.geo.CellIndex

/** A point side indexed by owning cell, in CSR form: the broadcast build of
  * [[SpatialJoin.zonalAgg]]'s fused path. The points of the cell at CSR
  * index `k` are rows `offsets(k) until offsets(k + 1)` of the per-point
  * arrays. A null value is a set `valueNull` bit. Point-side group keys
  * are dictionary-encoded: `keyIds(j)` indexes `keys`, the distinct key
  * rows.
  *
  * [[CellPoints.build]] also derives a hashed directory from cell to `k`
  * (open addressing over `dirCells`, with `dirSlots` holding `k + 1` and 0
  * for an empty slot; load ≤ 0.5), so that [[slot]] finds a cell in O(1).
  * The cells with two or more points come first, `k < totOffsets.length -
  * 1`, and only they carry:
  *  - `box(4k until 4k + 4)`: min x, min y, max x, max y of the cell's own
  *    points, NaN if any of them has a NaN coordinate;
  *  - their per-key totals, rows `totOffsets(k) until totOffsets(k + 1)`:
  *    key id, point count, sum of the non-null values and whether any
  *    value was non-null.
  * A single-point cell needs neither: the loop's test on its point is the
  * test on its bounds. */
private[graft] final class CellPoints(
    offsets: Array[Int],
    xs: Array[Double], ys: Array[Double],
    values: Array[Double], valueNull: Array[Boolean],
    keyIds: Array[Int], keys: Array[UnsafeRow],
    dirCells: Array[Long], dirSlots: Array[Int], box: Array[Double],
    totOffsets: Array[Int], totKeys: Array[Int], totCnt: Array[Int],
    totSum: Array[Double], totSummed: Array[Boolean]) extends Serializable {

  import CellPoints.{Loop, Skip, Totals}

  /** The CSR index `k` of `cell`, or -1 if no point lies in it. */
  def slot(cell: Long): Int = CellPoints.find(dirCells, dirSlots, cell)

  /** The number of indexed cells. */
  def cellCount: Int = offsets.length - 1

  /** How the probe treats indexed cell `k` under a polygon with envelope
    * `e0..e3` (`rect` if it is its envelope):
    *  - `Skip`: the cell's point bounds miss the open envelope, so no point
    *    can pass the strict bbox test;
    *  - `Totals`: the polygon is a rectangle and the bounds lie strictly
    *    inside it, so every point is a hit;
    *  - `Loop`: anything else: a single-point cell, NaN bounds, or a
    *    non-rectangle whose envelope holds the bounds. (A JTS
    *    `containsProperly` of the bounds box cost more than the loop at 4
    *    or fewer points per cell and saved under a third at 16; BENCH.md.)
    * The bounds are those of the indexed points, never the cell's nominal
    * square, so points clamped into an edge cell are decided exactly. */
  private def coverCase(k: Int, e0: Double, e1: Double, e2: Double, e3: Double,
                        rect: Boolean): Int =
    if (k >= totOffsets.length - 1) Loop
    else {
      val x0 = box(4 * k); val y0 = box(4 * k + 1)
      val x1 = box(4 * k + 2); val y1 = box(4 * k + 3)
      if (x1 <= e0 || x0 >= e2 || y1 <= e1 || y0 >= e3) Skip
      else if (rect && x0 > e0 && x1 < e2 && y0 > e1 && y1 < e3) Totals
      else Loop
    }

  /** The zonal aggregate of one partition of polygon rows (`wkt` at
    * ordinal `wktAt`). Each row's cover cells at `level` are looked up in
    * the directory. A found cell is skipped, adds its per-key totals, or
    * runs the per-point loop, as [[coverCase]] says; the loop applies the
    * strict bbox test on primitive doubles and, for a non-rectangle, the
    * JTS refine. Hits are counted and summed per key in arrays indexed by
    * key id, reset after the row. Emits (polygon row, key row, n_pts,
    * sum_val) per key with a hit; `sum_val` is null when every hit's value
    * is null. */
  def aggregate(polys: Iterator[InternalRow], wktAt: Int, level: Int): Iterator[InternalRow] = {
    val cnt = new Array[Long](keys.length)
    val sum = new Array[Double](keys.length)
    val summed = new Array[Boolean](keys.length)
    val touched = new Array[Int](keys.length)
    polys.flatMap { poly =>
      val wkt = poly.getUTF8String(wktAt).toString
      val (e0, e1, e2, e3, rect) = GeoFunctions.envRect(wkt)
      val cover = CellIndex.cover(e0, e1, e2, e3, level)
      var hit = 0
      var c = 0
      while (c < cover.length) {
        val k = slot(cover(c))
        if (k >= 0) {
          val how = coverCase(k, e0, e1, e2, e3, rect)
          if (how == Totals) {
            var t = totOffsets(k)
            val end = totOffsets(k + 1)
            while (t < end) {
              val g = totKeys(t)
              if (cnt(g) == 0) { touched(hit) = g; hit += 1 }
              cnt(g) += totCnt(t)
              if (totSummed(t)) { sum(g) += totSum(t); summed(g) = true }
              t += 1
            }
          } else if (how == Loop) {
            var j = offsets(k)
            val end = offsets(k + 1)
            while (j < end) {
              val x = xs(j); val y = ys(j)
              if (x > e0 && x < e2 && y > e1 && y < e3 &&
                  (rect || GeoFunctions.containsXy(wkt, x, y))) {
                val g = keyIds(j)
                if (cnt(g) == 0) { touched(hit) = g; hit += 1 }
                cnt(g) += 1
                if (!valueNull(j)) { sum(g) += values(j); summed(g) = true }
              }
              j += 1
            }
          }
        }
        c += 1
      }
      if (hit == 0) Iterator.empty
      else {
        val row = poly.copy()
        val out = new Array[InternalRow](hit)
        var t = 0
        while (t < hit) {
          val g = touched(t)
          out(t) = new JoinedRow(row, new JoinedRow(keys(g),
            new GenericInternalRow(Array[Any](cnt(g), if (summed(g)) sum(g) else null))))
          cnt(g) = 0; sum(g) = 0.0; summed(g) = false
          t += 1
        }
        out.iterator
      }
    }
  }
}

private[graft] object CellPoints {

  /** The cases of [[CellPoints.coverCase]]. */
  private final val Skip = 0
  private final val Totals = 1
  private final val Loop = 2

  /** One partition of the projected point side, in input order, with
    * partition-local key ids: the input of [[build]]. */
  final class Part(val cells: Array[Long], val xs: Array[Double], val ys: Array[Double],
                   val values: Array[Double], val valueNull: Array[Boolean],
                   val keyIds: Array[Int], val keys: Array[UnsafeRow]) extends Serializable {
    def size: Int = xs.length
  }

  /** Distinct key rows and their ids, in first-seen order. */
  private final class Dict {
    private val ids = new java.util.HashMap[UnsafeRow, Integer]()
    val rows = Array.newBuilder[UnsafeRow]
    def id(k: UnsafeRow): Int = {
      val found = ids.get(k)
      if (found != null) found.intValue
      else {
        val id = ids.size
        val c = k.copy()
        ids.put(c, id); rows += c
        id
      }
    }
  }

  /** The home slot of `cell` in a directory of `2^bits` slots: the top
    * bits of a Fibonacci (multiplicative) hash. */
  @inline private def home(cell: Long, bits: Int): Int =
    ((cell * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt

  /** Linear probing from the home slot; -1 if `cell` is absent. */
  @inline private def find(dirCells: Array[Long], dirSlots: Array[Int], cell: Long): Int = {
    val mask = dirSlots.length - 1
    var h = home(cell, Integer.numberOfTrailingZeros(dirSlots.length))
    var s = dirSlots(h)
    while (s != 0 && dirCells(h) != cell) { h = (h + 1) & mask; s = dirSlots(h) }
    s - 1
  }

  /** One partition of the projected point side `(cell, x, y, value,
    * keys...)`. Points with a null x or y are dropped: their cell is null,
    * and a null cell joins nothing. */
  def part(rows: Iterator[InternalRow], keyTypes: Seq[DataType]): Part = {
    val keyOf = UnsafeProjection.create(keyTypes.zipWithIndex.map { case (t, i) =>
      BoundReference(4 + i, t, nullable = true) })
    val dict = new Dict
    val cells = Array.newBuilder[Long]
    val xs, ys, values = Array.newBuilder[Double]
    val valueNull = Array.newBuilder[Boolean]
    val keyIds = Array.newBuilder[Int]
    rows.foreach { r =>
      if (!r.isNullAt(1) && !r.isNullAt(2)) {
        cells += r.getLong(0); xs += r.getDouble(1); ys += r.getDouble(2)
        val nullValue = r.isNullAt(3)
        valueNull += nullValue; values += (if (nullValue) 0.0 else r.getDouble(3))
        keyIds += dict.id(keyOf(r))
      }
    }
    new Part(cells.result(), xs.result(), ys.result(), values.result(), valueNull.result(),
      keyIds.result(), dict.rows.result())
  }

  /** The index of all partitions: key ids re-mapped to one dictionary, the
    * points counting-sorted by CSR index, the directory, and the bounds and
    * totals of the multi-point cells. Primitive arrays throughout and O(n)
    * after one `long[]` sort for the distinct cells. */
  def build(parts: Array[Part]): CellPoints = {
    val n = parts.map(_.size).sum
    val cell = new Array[Long](n)
    val x, y, v = new Array[Double](n)
    val vNull = new Array[Boolean](n)
    val kid = new Array[Int](n)
    val dict = new Dict
    var o = 0
    parts.foreach { p =>
      val m = p.size
      System.arraycopy(p.cells, 0, cell, o, m)
      System.arraycopy(p.xs, 0, x, o, m)
      System.arraycopy(p.ys, 0, y, o, m)
      System.arraycopy(p.values, 0, v, o, m)
      System.arraycopy(p.valueNull, 0, vNull, o, m)
      val remap = p.keys.map(dict.id)
      var i = 0
      while (i < m) { kid(o + i) = remap(p.keyIds(i)); i += 1 }
      o += m
    }
    val keys = dict.rows.result()

    // the distinct cells, each with its point count
    val sorted = cell.clone()
    java.util.Arrays.sort(sorted)
    val runs = new Array[Int](n)
    var d = 0
    var i = 0
    while (i < n) {
      if (d == 0 || sorted(i) != sorted(d - 1)) { sorted(d) = sorted(i); d += 1 }
      runs(d - 1) += 1
      i += 1
    }

    // CSR order: the `multi` cells with two or more points first, as only
    // they get bounds and totals; each group in cell order
    var multi = 0
    var k = 0
    while (k < d) { if (runs(k) > 1) multi += 1; k += 1 }
    var bits = 1
    while ((1 << bits) < 2 * d) bits += 1
    val dirCells = new Array[Long](1 << bits)
    val dirSlots = new Array[Int](1 << bits)
    val mask = (1 << bits) - 1
    var nextMulti = 0
    var nextSingle = multi
    k = 0
    while (k < d) {
      var h = home(sorted(k), bits)
      while (dirSlots(h) != 0) h = (h + 1) & mask
      dirCells(h) = sorted(k)
      if (runs(k) > 1) { nextMulti += 1; dirSlots(h) = nextMulti }
      else { nextSingle += 1; dirSlots(h) = nextSingle }
      k += 1
    }

    val bucket = new Array[Int](n)
    val offsets = new Array[Int](d + 1)
    i = 0
    while (i < n) {
      val b = find(dirCells, dirSlots, cell(i))
      bucket(i) = b; offsets(b + 1) += 1
      i += 1
    }
    i = 0
    while (i < d) { offsets(i + 1) += offsets(i); i += 1 }
    val next = java.util.Arrays.copyOf(offsets, d)
    val xs, ys, values = new Array[Double](n)
    val valueNull = new Array[Boolean](n)
    val keyIds = new Array[Int](n)
    i = 0
    while (i < n) {
      val j = next(bucket(i))
      next(bucket(i)) = j + 1
      xs(j) = x(i); ys(j) = y(i); values(j) = v(i); valueNull(j) = vNull(i); keyIds(j) = kid(i)
      i += 1
    }

    // per multi-point cell: the points' bounds (Math.min/max keep a NaN)
    // and the per-key totals; `at(g)` is key g's total row while
    // `seen(g) == k`
    val box = new Array[Double](4 * multi)
    val totOffsets = new Array[Int](multi + 1)
    val totKeys, totCnt = new Array[Int](n)
    val totSum = new Array[Double](n)
    val totSummed = new Array[Boolean](n)
    val seen = Array.fill(keys.length)(-1)
    val at = new Array[Int](keys.length)
    var t = 0
    k = 0
    while (k < multi) {
      totOffsets(k) = t
      var j = offsets(k)
      var x0, x1 = xs(j)
      var y0, y1 = ys(j)
      while (j < offsets(k + 1)) {
        x0 = math.min(x0, xs(j)); x1 = math.max(x1, xs(j))
        y0 = math.min(y0, ys(j)); y1 = math.max(y1, ys(j))
        val g = keyIds(j)
        if (seen(g) != k) { seen(g) = k; at(g) = t; totKeys(t) = g; t += 1 }
        totCnt(at(g)) += 1
        if (!valueNull(j)) { totSum(at(g)) += values(j); totSummed(at(g)) = true }
        j += 1
      }
      box(4 * k) = x0; box(4 * k + 1) = y0; box(4 * k + 2) = x1; box(4 * k + 3) = y1
      k += 1
    }
    totOffsets(multi) = t
    new CellPoints(offsets, xs, ys, values, valueNull, keyIds, keys,
      dirCells, dirSlots, box, totOffsets, java.util.Arrays.copyOf(totKeys, t),
      java.util.Arrays.copyOf(totCnt, t), java.util.Arrays.copyOf(totSum, t),
      java.util.Arrays.copyOf(totSummed, t))
  }
}
