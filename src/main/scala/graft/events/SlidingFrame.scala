package graft.events

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.math.BigInteger
import scala.collection.mutable.ArrayBuffer

/** The one-pass sliding-frame kernel behind [[EventFeatures.trailingWindow]]
  * (E10) and [[EventFunctions.touchAttribution]] (W17).
  *
  * A row at second `s` sees the same entity's rows whose second lies in
  * `[s - windowSec, s]` (inclusive frames) or `[s - windowSec, s - 1]`
  * (strictly earlier). Rows of one entity in one second share one frame.
  * Rows with a null second frame exactly the entity's null-second rows,
  * as a range frame over a null order key does.
  *
  * Cost: one exchange hash-partitions by entity, a sort within
  * partitions orders each entity's rows by (second, order columns), and
  * one `mapPartitions` pass walks them with two pointers. A row enters
  * its frame once and leaves it once, so the pass is O(n) after the
  * O(n log n) sort — never rows × rows-per-frame, which is what a
  * `rangeBetween` frame costs when it re-aggregates on every move. The
  * pass stays in the SQL plan (a `MapPartitions` over `Encoders.row`),
  * so AQE and plan inspection see it. */
private[events] object SlidingFrame {

  private val SecCol = "__sec"

  /** Per-entity frame state. Rows enter in sort order and leave, oldest
    * first, once their second falls below the frame's lower bound. A row
    * holds the input columns, then the frame's second. */
  abstract class Frame {
    def clear(): Unit
    def enter(sec: Long, r: Row): Unit
    def evictBefore(sec: Long): Unit
    /** The output row for `r` over the current frame, or null for none. */
    def emit(r: Row): Row
  }

  /** Runs `frame` over `events`: `sec` is the frame's epoch-second key,
    * `order` breaks ties inside a second, and `frame` builds one
    * partition's state. The output is the input columns, then `outCols`
    * as the frame emits them. */
  def run(events: DataFrame, entity: String, sec: Column, order: Seq[Column],
      windowSec: Long, inclusive: Boolean, outCols: Seq[StructField])(
      frame: () => Frame): DataFrame = {
    val in = events.withColumn(SecCol, sec)
    val eIx = in.schema.fieldIndex(entity)
    val sIx = in.schema.fieldIndex(SecCol)
    in.repartition(col(entity))
      .sortWithinPartitions((col(entity) +: col(SecCol) +: order): _*)
      .mapPartitions(rows => new Pass(rows, eIx, sIx, windowSec, inclusive,
        frame()))(Encoders.row(StructType(in.schema ++ outCols)))
      .drop(SecCol)
  }

  /** One partition's walk: groups each entity's rows by second, moves the
    * frame's lower bound, and emits every row of the group. */
  private final class Pass(rows: Iterator[Row], eIx: Int, sIx: Int,
      windowSec: Long, inclusive: Boolean, frame: Frame) extends Iterator[Row] {
    private val in = rows.buffered
    private val group = ArrayBuffer.empty[Row]
    private var out: Iterator[Row] = Iterator.empty
    // the frame starts empty, so a first entity that is null needs no clear
    private var entity: Any = null

    def hasNext: Boolean = {
      while (!out.hasNext && in.hasNext) out = nextGroup()
      out.hasNext
    }

    def next(): Row =
      if (hasNext) out.next() else throw new NoSuchElementException

    private def sameEntity(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case _ => java.util.Objects.equals(a, b)
    }

    private def nextGroup(): Iterator[Row] = {
      val head = in.next()
      val e = head.get(eIx)
      if (!sameEntity(e, entity)) {
        frame.clear()
        entity = e
      }
      group.clear()
      group += head
      val nullSec = head.isNullAt(sIx)
      val s = if (nullSec) 0L else head.getLong(sIx)
      while (in.hasNext && sameEntity(in.head.get(eIx), e) &&
          (if (nullSec) in.head.isNullAt(sIx)
           else !in.head.isNullAt(sIx) && in.head.getLong(sIx) == s))
        group += in.next()
      val emitted = ArrayBuffer.empty[Row]
      def emitAll(): Unit = group.foreach { r =>
        val o = frame.emit(r)
        if (o != null) emitted += o
      }
      if (nullSec) {
        // null seconds sort first and frame only each other
        group.foreach(frame.enter(0L, _))
        emitAll()
        frame.clear()
      } else {
        frame.evictBefore(s - windowSec)
        if (inclusive) group.foreach(frame.enter(s, _))
        emitAll()
        if (!inclusive) group.foreach(frame.enter(s, _))
      }
      emitted.iterator
    }
  }

  /** E10's frame: row count, exact value sum and value max. The max is
    * the head of a monotonic deque. The sum is exact: an integer `acc`,
    * read as `acc × 2^-k` for floating values and as `acc × 10^-scale`
    * for decimals. A double is `m × 2^e` exactly, so it enters the frame
    * as a shift and an integer add and leaves as the same subtract; the
    * sum never drifts, and a double sum reads as the double nearest the
    * exact sum. NaN and ±Infinity are counted apart and decide a double
    * sum as they decide a double sum in Spark. (A `BigDecimal` sum is as
    * exact, but its `doubleValue` prints and parses a string for sums of
    * this many digits: 4 µs a row, more than the rest of the pass.) */
  final class Trailing(vIx: Int, valueType: DataType) extends Frame {
    private final class Entry(val sec: Long, val v: Any)
    private val rows = new java.util.ArrayDeque[Entry]
    private val maxes = new java.util.ArrayDeque[Entry]
    private val order = ordering(valueType)
    private val floating = valueType == DoubleType || valueType == FloatType
    private val decimalScale = valueType match {
      case d: DecimalType => Some(d.scale)
      case _ => None
    }
    private var acc = BigInteger.ZERO
    private var k = 0
    private var nonNull, nan, posInf, negInf = 0L

    def clear(): Unit = {
      rows.clear(); maxes.clear()
      acc = BigInteger.ZERO; k = 0
      nonNull = 0L; nan = 0L; posInf = 0L; negInf = 0L
    }

    private def add(v: Any, sign: Int): Unit = {
      nonNull += sign
      v match {
        case b: java.math.BigDecimal =>
          addScaled(b.setScale(decimalScale.get).unscaledValue, 0, sign)
        case n: Number if !floating =>
          addScaled(BigInteger.valueOf(n.longValue), 0, sign)
        case n: Number =>
          val d = n.doubleValue
          if (d.isNaN) nan += sign
          else if (d == Double.PositiveInfinity) posInf += sign
          else if (d == Double.NegativeInfinity) negInf += sign
          else {
            val bits = java.lang.Double.doubleToRawLongBits(d)
            val biased = ((bits >>> 52) & 0x7ff).toInt
            val frac = bits & ((1L << 52) - 1)
            val m = if (biased == 0) frac else frac | (1L << 52)
            addScaled(BigInteger.valueOf(if (bits < 0) -m else m),
              math.max(biased, 1) - 1075, sign)
          }
      }
    }

    /** `acc += sign × m × 2^e`, widening `k` so the term is an integer. */
    private def addScaled(m: BigInteger, e: Int, sign: Int): Unit = {
      if (-e > k) {
        acc = acc.shiftLeft(-e - k)
        k = -e
      }
      val x = m.shiftLeft(e + k)
      acc = if (sign > 0) acc.add(x) else acc.subtract(x)
    }

    /** `acc × 2^-k` rounded to the nearest double, ties to even: the top
      * 62 bits of `|acc|`, with a sticky bit for any set bit below them,
      * round as the whole would. (A sum below 2^-1022 in magnitude may
      * round once more in the final scaling.) */
    private def nearestDouble: Double = {
      val mag = acc.abs
      val sh = math.max(0, mag.bitLength - 62)
      val top = mag.shiftRight(sh).longValue |
        (if (sh > 0 && mag.getLowestSetBit < sh) 1L else 0L)
      val r = Math.scalb(top.toDouble, sh - k)
      if (acc.signum < 0) -r else r
    }

    private def sumValue: Any =
      if (nonNull == 0) null
      else if (floating) {
        if (nan > 0 || (posInf > 0 && negInf > 0)) Double.NaN
        else if (posInf > 0) Double.PositiveInfinity
        else if (negInf > 0) Double.NegativeInfinity
        else nearestDouble
      }
      else decimalScale.fold[Any](acc.longValueExact)(
        new java.math.BigDecimal(acc, _))

    def enter(sec: Long, r: Row): Unit = {
      val e = new Entry(sec, r.get(vIx))
      rows.addLast(e)
      if (e.v != null) {
        add(e.v, 1)
        // strictly smaller leave: among equal maxima the earliest stays
        while (!maxes.isEmpty && order(maxes.peekLast.v, e.v) < 0)
          maxes.pollLast()
        maxes.addLast(e)
      }
    }

    def evictBefore(sec: Long): Unit =
      while (!rows.isEmpty && rows.peekFirst.sec < sec) {
        val e = rows.pollFirst()
        if (e.v != null) {
          add(e.v, -1)
          if (maxes.peekFirst eq e) maxes.pollFirst()
        }
      }

    def emit(r: Row): Row = extend(r, rows.size.toLong, sumValue,
      if (maxes.isEmpty) null else maxes.peekFirst.v)
  }

  /** `r`'s values, then `more`. */
  private def extend(r: Row, more: Any*): Row = {
    val a = new Array[Any](r.length + more.length)
    var i = 0
    while (i < r.length) {
      a(i) = r.get(i)
      i += 1
    }
    more.copyToArray(a, r.length)
    new org.apache.spark.sql.catalyst.expressions.GenericRow(a)
  }

  /** Spark's ordering of a numeric column's values: NaN is the largest
    * double, and -0.0 equals 0.0. */
  private def ordering(t: DataType): (Any, Any) => Int = t match {
    case DoubleType | FloatType => (a, b) => {
      val x = a.asInstanceOf[Number].doubleValue
      val y = b.asInstanceOf[Number].doubleValue
      if (x == y) 0 else java.lang.Double.compare(x, y)
    }
    case _: DecimalType => (a, b) => a.asInstanceOf[java.math.BigDecimal]
      .compareTo(b.asInstanceOf[java.math.BigDecimal])
    case _ => (a, b) => java.lang.Long.compare(
      a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
  }

  /** Spark's `sum` result type for a numeric column. */
  def sumTypeOf(t: DataType): DataType = t match {
    case FloatType | DoubleType => DoubleType
    case d: DecimalType =>
      DecimalType(math.min(DecimalType.MAX_PRECISION, d.precision + 10), d.scale)
    case ByteType | ShortType | IntegerType | LongType => LongType
    case other => throw new IllegalArgumentException(
      s"a trailing sum needs a numeric value column, got ${other.catalogString}")
  }

  /** W17's frame: the touch rows in the frame, in (ts, id, type) order, so
    * the first touch is the head and the last touch the tail. Emits one
    * row per conversion: its input columns, then the first and last touch
    * types (null when the frame holds no touch). */
  final class Touches(tIx: Int, conversion: String, touches: Set[String])
      extends Frame {
    private val inFrame = new java.util.ArrayDeque[(Long, String)]

    def clear(): Unit = inFrame.clear()

    def enter(sec: Long, r: Row): Unit = {
      val t = r.getString(tIx)
      if (t != null && touches(t)) inFrame.addLast((sec, t))
    }

    def evictBefore(sec: Long): Unit =
      while (!inFrame.isEmpty && inFrame.peekFirst._1 < sec) inFrame.pollFirst()

    def emit(r: Row): Row =
      if (r.getString(tIx) != conversion) null
      else if (inFrame.isEmpty) extend(r, null, null)
      else extend(r, inFrame.peekFirst._2, inFrame.peekLast._2)
  }
}
