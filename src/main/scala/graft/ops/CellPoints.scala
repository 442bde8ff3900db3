package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow,
  JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.DataType

import graft.functions.GeoFunctions
import graft.geo.CellIndex

/** A point side indexed by owning cell, in CSR form: the broadcast build of
  * [[SpatialJoin.zonalAgg]]'s fused path. `cells` are the sorted distinct
  * cells; the points of `cells(k)` are rows `offsets(k) until
  * offsets(k + 1)` of the per-point arrays. A null value is a set
  * `valueNull` bit. Point-side group keys are dictionary-encoded:
  * `keyIds(j)` indexes `keys`, the distinct key rows. */
private[ops] final class CellPoints(
    val cells: Array[Long], val offsets: Array[Int],
    val xs: Array[Double], val ys: Array[Double],
    val values: Array[Double], val valueNull: Array[Boolean],
    val keyIds: Array[Int], val keys: Array[UnsafeRow]) extends Serializable {
  def size: Int = xs.length

  /** The zonal aggregate of one partition of polygon rows (`wkt` at
    * ordinal `wktAt`). Each row's cover cells at `level` are looked up by
    * binary search; their points pass the strict bbox test on primitive
    * doubles and, for a non-rectangle, the JTS refine. Hits are counted and
    * summed per key in arrays indexed by key id, reset after the row.
    * Emits (polygon row, key row, n_pts, sum_val) per key with a hit;
    * `sum_val` is null when every hit's value is null. */
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
        val k = java.util.Arrays.binarySearch(cells, cover(c))
        if (k >= 0) {
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

private[ops] object CellPoints {

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

  /** One partition of the projected point side `(cell, x, y, value,
    * keys...)`, in input order and with partition-local key ids (the
    * `offsets` are unset). Points with a null x or y are dropped: their
    * cell is null, and a null cell joins nothing. */
  def part(rows: Iterator[InternalRow], keyTypes: Seq[DataType]): CellPoints = {
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
    new CellPoints(cells.result(), Array.emptyIntArray, xs.result(), ys.result(),
      values.result(), valueNull.result(), keyIds.result(), dict.rows.result())
  }

  /** The index of all partitions: key ids re-mapped to one dictionary, and
    * the points counting-sorted by cell. Primitive arrays throughout: one
    * `long[]` sort for the distinct cells, one binary search per point for
    * its bucket. */
  def build(parts: Array[CellPoints]): CellPoints = {
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

    val sorted = cell.clone()
    java.util.Arrays.sort(sorted)
    var d = 0
    var i = 0
    while (i < n) {
      if (d == 0 || sorted(i) != sorted(d - 1)) { sorted(d) = sorted(i); d += 1 }
      i += 1
    }
    val cells = java.util.Arrays.copyOf(sorted, d)

    val bucket = new Array[Int](n)
    val offsets = new Array[Int](d + 1)
    i = 0
    while (i < n) {
      val b = java.util.Arrays.binarySearch(cells, cell(i))
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
    new CellPoints(cells, offsets, xs, ys, values, valueNull, keyIds, dict.rows.result())
  }
}
