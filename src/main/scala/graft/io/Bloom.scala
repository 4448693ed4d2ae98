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
  * Representation: a bits/8-byte bitmap, base64 in the manifest (4096 bits
  * = ~700 JSON chars per column per file). Each value probes two positions
  * derived from ONE xxhash64 of the value's canonical string — the classic
  * (h1 + i·h2) double-hashing split of the 64-bit hash — so the executor
  * side is a single codegen'd hash call, and the driver reproduces it
  * exactly by evaluating the SAME catalyst expressions (Cast to string,
  * then XxHash64, [[hashOf]]) on a probe literal or on the rows of a small
  * append it reads back itself. The hash pair is bitmap-size-free;
  * positions are taken modulo the size of the bitmap being probed, so a
  * table whose `write.bloom-bits` changed over time stays consistent
  * per-file.
  *
  * Instant-timestamp columns hash through the session time zone on
  * executors and UTC on the driver; Graft already requires UTC sessions
  * wherever instants meet formatting (see GraftWriter's guard).
  */
object Bloom {

  val DefaultBits = 4096

  /** Executor-side: the two probe positions of `c` in a `bits`-bit bitmap.
    * NULLs yield NULL positions via the explicit guard — Spark's xxhash64
    * returns the SEED (42) for a NULL input, so without it every file
    * containing a null would set hash-42's bits and weaken the filter
    * (nulls are tracked by null-count, not bloom).
    */
  def positionColumns(c: Column, bits: Int): (Column, Column) = {
    val h = when(c.isNotNull, xxhash64(c.cast("string")))
    val h1 = pmod(h, lit(0x100000000L))
    val h2 = pmod(shiftright(h, 32), lit(0x100000000L))
    (pmod(h1, lit(bits.toLong)).cast("int"), pmod(h1 + h2, lit(bits.toLong)).cast("int"))
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

  /** Bitmap from set positions, base64-encoded. */
  def encode(positions: Iterable[Int], bits: Int): String = {
    val bytes = new Array[Byte](bits / 8)
    positions.foreach { p => bytes(p >>> 3) = (bytes(p >>> 3) | (1 << (p & 7))).toByte }
    java.util.Base64.getEncoder.encodeToString(bytes)
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
