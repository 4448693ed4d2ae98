package graft.io

import graft.format.Canonical
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-file, per-column bloom filters for equality file-skipping (reference
  * docs/09-query-performance.md's data-skipping story, extended to point
  * lookups): min/max bounds cannot prune an `=` probe that falls inside a
  * file's value range but between its actual values; a bloom filter can.
  * Sound by construction — bits are set from exactly the values present, so
  * a "definitely absent" answer is never wrong, and a saturated filter
  * (high-cardinality column in one file) merely degrades to "maybe".
  *
  * Representation: a power-of-two bitmap, base64 in the manifest. Each
  * value probes two positions derived from ONE xxhash64 of the value's
  * canonical string — the classic (h1 + i·h2) double-hashing split of the
  * 64-bit hash — so the executor side is a single codegen'd hash call, and
  * the driver reproduces it exactly by evaluating the SAME catalyst
  * expressions (Cast to string, then XxHash64, [[hashOf]]) on a probe
  * literal or on the rows of a small append it reads back itself.
  *
  * Sizing: every build sets its positions modulo [[MaxBits]] (2^18 bits,
  * 32 KB), then [[Bitmap.result]] folds the bitmap — ORs its upper half
  * into its lower half — while the folded bitmap keeps at most 30 % of its
  * bits set, down to [[MinBits]]. A file whose values saturate MinBits thus
  * gets the smallest power of two that keeps a probe's false-positive rate
  * at most 0.3² = 9 %: one of 5,000 distinct keys ends at 32,768 bits
  * (4 KB). A file of fewer values keeps MinBits, whose false-positive rate
  * is far lower: a runtime filter probes a file with many keys at once, and
  * a 9 % rate per key would keep most files for a few dozen of them.
  * Because positions are `h mod 2^b`, a folded bitmap answers every probe
  * exactly as a direct build at its final size would, and rules out every
  * key a smaller fold of it rules out. The probe takes positions modulo the
  * length of the bitmap it reads, so bitmaps of any power-of-two size,
  * fixed-size ones written before sizing included, probe soundly.
  *
  * Instant-timestamp columns hash through the session time zone on
  * executors and UTC on the driver; Graft already requires UTC sessions
  * wherever instants meet formatting (see GraftWriter's guard).
  */
object Bloom {

  /** The size every bitmap is built at before [[Bitmap.result]] folds it. */
  val MaxBits: Int = 1 << 18

  /** The size folding stops at, so a small file stays selective under a
    * many-key IN list or runtime filter.
    */
  val MinBits: Int = 4096

  /** Folding continues while at most this share of the folded bits is set. */
  private val MaxFill = 0.3

  /** Executor-side: the two positions of `c` in the [[MaxBits]]-bit bitmap.
    * NULLs yield NULL positions via the explicit guard — Spark's xxhash64
    * returns the SEED (42) for a NULL input, so without it every file
    * containing a null would set hash-42's bits and weaken the filter
    * (nulls are tracked by null-count, not bloom).
    */
  def positionColumns(c: Column): (Column, Column) = {
    val h = when(c.isNotNull, xxhash64(c.cast("string")))
    val h1 = pmod(h, lit(0x100000000L))
    val h2 = pmod(shiftright(h, 32), lit(0x100000000L))
    (pmod(h1, lit(MaxBits.toLong)).cast("int"), pmod(h1 + h2, lit(MaxBits.toLong)).cast("int"))
  }

  /** Driver-side twin of [[positionColumns]]: the two positions of a hash
    * pair in the [[MaxBits]]-bit bitmap.
    */
  def positions(hashes: (Long, Long)): (Int, Int) = {
    val (h1, h2) = hashes
    ((h1 % MaxBits).toInt, ((h1 + h2) % MaxBits).toInt)
  }

  /** The hash every bloom is built and probed with: xxhash64 (seed 42) of
    * the value's string cast in UTC — the catalyst evaluation
    * [[positionColumns]] codegens on executors, bound here to a probe
    * literal ([[hashPair]]) or to a column of a row read on the driver.
    */
  def hashOf(value: Expression): Expression =
    XxHash64(Seq(Cast(value, StringType, Some("UTC"))), 42L)

  /** The (h1, h2) double-hashing split of one 64-bit hash, as
    * [[positionColumns]] computes it.
    */
  def pairOf(h: Long): (Long, Long) =
    (java.lang.Long.remainderUnsigned(h, 0x100000000L),
      java.lang.Long.remainderUnsigned(h >>> 32, 0x100000000L))

  /** Probe side: the (h1, h2) hash pair of a predicate value for a
    * `dt`-typed column. None when the value cannot be represented (null /
    * unsupported type / conversion failure) — callers must not prune then.
    */
  def hashPair(dt: DataType, value: Any): Option[(Long, Long)] =
    external(dt, value).flatMap { ext =>
      val literal =
        try Literal.create(ext, dt)
        catch { case _: Exception => return None }
      val h = hashOf(literal)
      if (!h.resolved) None
      else h.eval() match {
        case l: java.lang.Long => Some(pairOf(l.longValue()))
        case _ => None
      }
    }

  /** Convert a raw predicate literal to the external JVM type
    * `Literal.create` expects for `dt`, via the canonical space (so e.g. an
    * Int probe against a LongType column still hashes as a long). Narrowing
    * a value outside the column type's domain may wrap, but such a probe
    * can never equal any stored value, so any bloom answer is sound.
    */
  private def external(dt: DataType, v: Any): Option[Any] =
    Canonical.of(dt, v).flatMap { c =>
      try {
        dt match {
          case ByteType => Some(c.asInstanceOf[Long].toByte)
          case ShortType => Some(c.asInstanceOf[Long].toShort)
          case IntegerType => Some(c.asInstanceOf[Long].toInt)
          case LongType => Some(c.asInstanceOf[Long])
          case FloatType => Some(c.asInstanceOf[Double].toFloat)
          case DoubleType => Some(c.asInstanceOf[Double])
          case _: DecimalType => Some(c.asInstanceOf[BigDecimal])
          case StringType => Some(c.asInstanceOf[String])
          case BooleanType => Some(c.asInstanceOf[Boolean])
          case DateType => Some(java.time.LocalDate.ofEpochDay(c.asInstanceOf[Int].toLong))
          case TimestampType =>
            val us = c.asInstanceOf[Long]
            Some(java.time.Instant.ofEpochSecond(
              Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
          case TimestampNTZType => Some(Canonical.microsToLdt(c.asInstanceOf[Long]))
          case _ => None
        }
      } catch { case _: Exception => None }
    }

  /** One file's bitmap for one column while it is built: [[MaxBits]] bits
    * (32 KB) whatever the file holds, sized only when it is encoded.
    */
  final class Bitmap {
    private val words = new Array[Long](MaxBits / 64)

    /** Set a position below [[MaxBits]]. */
    def add(p: Int): Unit = words(p >>> 6) |= 1L << (p & 63)

    /** The folded bitmap, base64-encoded: bit `p` is bit `p & 7` of byte
      * `p >>> 3`, the layout [[mayContainBits]] reads. Folds in place, so
      * it is called once per bitmap.
      */
    def result(): String = {
      def foldedSetBits(half: Int) =
        (0 until half).iterator.map(i => java.lang.Long.bitCount(words(i) | words(i + half))).sum
      var n = words.length // in 64-bit words
      while (n > MinBits / 64 && foldedSetBits(n / 2) <= MaxFill * (n / 2) * 64) {
        n /= 2
        (0 until n).foreach(i => words(i) |= words(i + n))
      }
      val bytes = Array.tabulate[Byte](n * 8)(j => (words(j >>> 3) >>> ((j & 7) * 8)).toByte)
      java.util.Base64.getEncoder.encodeToString(bytes)
    }
  }

  /** The sized bitmap of a set of [[MaxBits]]-bit positions, base64-encoded. */
  def encode(positions: Iterable[Int]): String = {
    val b = new Bitmap
    positions.foreach(b.add)
    b.result()
  }

  /** Decoded bitmap, or None when the text is unusable (malformed/empty) —
    * callers treat None as "maybe" (cannot prune). Split from the probe so
    * a k-key runtime filter decodes each file's bitmap ONCE, not per key.
    */
  def decode(encoded: String): Option[Array[Byte]] =
    try {
      val b = java.util.Base64.getDecoder.decode(encoded)
      if (b.isEmpty) None else Some(b)
    } catch { case _: IllegalArgumentException => None }

  /** May the encoded filter contain a value with this hash pair? */
  def mayContain(encoded: String, hashes: (Long, Long)): Boolean =
    decode(encoded).forall(mayContainBits(_, hashes))

  /** [[mayContain]] over an already-decoded bitmap. [[decode]] never returns
    * an empty array, but this is callable on its own (e.g. a future caller
    * bypassing the scan-wide decode memo) — an empty bitmap answers the
    * sound "maybe" instead of dividing by zero (r17 ADVICE).
    */
  def mayContainBits(bytes: Array[Byte], hashes: (Long, Long)): Boolean = {
    if (bytes.isEmpty) return true
    val bits = bytes.length * 8
    val (h1, h2) = hashes
    Seq(h1 % bits, (h1 + h2) % bits).forall { pl =>
      val p = pl.toInt
      ((bytes(p >>> 3) >> (p & 7)) & 1) == 1
    }
  }
}
