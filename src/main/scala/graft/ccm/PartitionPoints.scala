package graft.ccm

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.graft.TaskHeapReservation
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform

/** One task's points for [[Ccm.bySeries]]: rows of (skey, x, y,
  * order...) gathered into primitive buffers, then put in (series key,
  * order...) order by Spark's own ordering of the order columns
  * (Catalyst's generated ordering, ascending, nulls first), which is the
  * order `sortWithinPartitions` gives, so NaN, -0.0, null, string and
  * composite orders place and tie as Spark's sort places and ties them.
  *
  * Each point holds its key, x and y, the end offset of its order values
  * (packed as one `UnsafeRow`: an 8-byte null word, 8 bytes per column
  * and the bytes of any string) and 24 bytes to sort it: 68 bytes for one
  * long order column. These buffers, which grow with the partition, are
  * reserved from the task's memory manager before they are allocated;
  * they cannot spill, so a partition that does not fit fails, naming the
  * remedy.
  */
private[ccm] final class PartitionPoints(orderSchema: StructType) {
  import PartitionPoints._

  private val width = orderSchema.size
  private val toCatalyst = orderSchema.fields.map(f => CatalystTypeConverters.createToCatalystConverter(f.dataType))
  private val staged = new GenericInternalRow(width)
  private val pack = UnsafeProjection.create(orderSchema)
  private val ordering = GenerateOrdering.create(orderSchema)
  private val left = new UnsafeRow(width)
  private val right = new UnsafeRow(width)
  private val memory =
    TaskHeapReservation.forTask(s"the CCM runner's partition does not fit in the task's execution memory; $Remedy")

  private var n = 0
  private var keys = Array.emptyLongArray
  private var xs = Array.emptyDoubleArray
  private var ys = Array.emptyDoubleArray
  private var ends = Array.emptyIntArray
  private var packed = Array.emptyByteArray

  /** Appends one (skey, x, y, order...) row; a null x or y is held as NaN. */
  def add(r: Row): Unit = {
    if (r.isNullAt(0)) throw new IllegalArgumentException("null series key")
    var c = 0
    while (c < width) { staged.update(c, toCatalyst(c)(r.get(3 + c))); c += 1 }
    val row = pack(staged)
    val start = if (n == 0) 0 else ends(n - 1)
    if (n == keys.length) growPoints()
    if (start.toLong + row.getSizeInBytes > packed.length) growPacked(start.toLong + row.getSizeInBytes)
    row.writeToMemory(packed, Platform.BYTE_ARRAY_OFFSET + start)
    keys(n) = r.getLong(0)
    xs(n) = if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
    ys(n) = if (r.isNullAt(2)) Double.NaN else r.getDouble(2)
    ends(n) = start + row.getSizeInBytes
    n += 1
  }

  def x(i: Int): Double = xs(i)
  def y(i: Int): Double = ys(i)

  /** Spark's ordering of points i and j by their order values alone. */
  def compareOrder(i: Int, j: Int): Int = ordering.compare(point(left, i), point(right, j))

  /** Point i's order values as the input held them, e.g. "(2024-01-01, 7)". */
  def orderText(i: Int): String = {
    val r = point(left, i)
    orderSchema.fields.indices
      .map(c => CatalystTypeConverters.convertToScala(r.get(c, orderSchema(c).dataType), orderSchema(c).dataType))
      .mkString("(", ", ", ")")
  }

  /** The series in ascending key order, each as its points' indices in
    * Spark's order of the order columns: points are grouped by a primitive
    * sort of (key rank, index), then each series is put in order by
    * [[compareOrder]] as it is handed on. The reservation is freed once
    * the last series has been handed on.
    */
  def series(): Iterator[(Long, Array[Int])] = {
    memory.grow(24L * n)
    val distinct = java.util.Arrays.copyOf(keys, n)
    java.util.Arrays.sort(distinct)
    var m = 0
    var i = 0
    while (i < n) {
      if (m == 0 || distinct(i) != distinct(m - 1)) { distinct(m) = distinct(i); m += 1 }
      i += 1
    }
    val byKey = Array.tabulate(n)(p => (java.util.Arrays.binarySearch(distinct, 0, m, keys(p)).toLong << 32) | p)
    java.util.Arrays.sort(byKey)
    val idx = byKey.map(_.toInt)
    val tmp = new Array[Int](n)
    val runs = Iterator.unfold(0) { s =>
      if (s == n) None
      else {
        var e = s + 1
        while (e < n && keys(idx(e)) == keys(idx(s))) e += 1
        sort(idx, tmp, s, e)
        Some(((keys(idx(s)), java.util.Arrays.copyOfRange(idx, s, e)), e))
      }
    }
    // `++` takes its right side by name, so this runs after the last series
    runs ++ { memory.close(); Iterator.empty }
  }

  private def point(r: UnsafeRow, i: Int): UnsafeRow = {
    val start = if (i == 0) 0 else ends(i - 1)
    r.pointTo(packed, Platform.BYTE_ARRAY_OFFSET + start, ends(i) - start)
    r
  }

  /** Merge sort of idx[lo, hi) by [[compareOrder]]; a merge whose halves
    * are already in order is skipped, so a series that arrives in order,
    * as one written in time order does, costs about one comparison a point.
    */
  private def sort(idx: Array[Int], tmp: Array[Int], lo: Int, hi: Int): Unit =
    if (hi - lo <= 16) {
      var i = lo + 1
      while (i < hi) {
        val v = idx(i)
        var j = i - 1
        while (j >= lo && compareOrder(idx(j), v) > 0) { idx(j + 1) = idx(j); j -= 1 }
        idx(j + 1) = v
        i += 1
      }
    } else {
      val mid = (lo + hi) >>> 1
      sort(idx, tmp, lo, mid)
      sort(idx, tmp, mid, hi)
      if (compareOrder(idx(mid - 1), idx(mid)) > 0) {
        System.arraycopy(idx, lo, tmp, lo, hi - lo)
        var i = lo
        var j = mid
        var o = lo
        while (o < hi) {
          if (j >= hi || (i < mid && compareOrder(tmp(i), tmp(j)) <= 0)) { idx(o) = tmp(i); i += 1 }
          else { idx(o) = tmp(j); j += 1 }
          o += 1
        }
      }
    }

  private def growPoints(): Unit = {
    val cap = capacity(math.max(64L, 2L * n))
    memory.grow((cap - n) * PointBytes)
    keys = java.util.Arrays.copyOf(keys, cap)
    xs = java.util.Arrays.copyOf(xs, cap)
    ys = java.util.Arrays.copyOf(ys, cap)
    ends = java.util.Arrays.copyOf(ends, cap)
  }

  private def growPacked(need: Long): Unit = {
    val cap = capacity(math.max(need, math.max(1024L, 2L * packed.length)))
    memory.grow(cap.toLong - packed.length)
    packed = java.util.Arrays.copyOf(packed, cap)
  }

  private def capacity(want: Long): Int = {
    if (want > MaxArray)
      throw new IllegalStateException(s"the CCM runner's partition holds more than $MaxArray points or order bytes; $Remedy")
    want.toInt
  }
}

private object PartitionPoints {

  /** Key, x, y and the end offset of the point's order values. */
  private val PointBytes = 28L

  /** The largest array the JVM reliably allocates. */
  private val MaxArray = Int.MaxValue - 8

  private val Remedy = "raise spark.sql.shuffle.partitions so that fewer series share a task"
}
