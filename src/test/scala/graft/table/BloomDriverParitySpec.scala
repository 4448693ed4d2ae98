package graft.table

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.format.TableProperties
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The driver-built bloom path (small appends skip the per-append Spark
  * job) must produce BIT-IDENTICAL bitmaps to the executor job path for
  * every bloom-able type — a single diverging bit would make bloom
  * pruning unsound (a probe could skip a file that holds its value).
  * Both paths run on the same written file by calling the bloom builder
  * with the default cutover (driver) and a cutover of 0 bytes (job); the
  * per-file bloom base64 strings must match exactly.
  */
class BloomDriverParitySpec extends SparkSpec {

  test("driver-built blooms are bit-identical to job-built blooms per type") {
    import java.time.{Instant, LocalDate, LocalDateTime}
    // one column per atomic type a bloom column may have, boundary values
    // included: each type's string cast is what both sides hash
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("f", FloatType), StructField("b", ByteType),
      StructField("h", ShortType), StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType), StructField("dt", DateType),
      StructField("dec", DecimalType(12, 2)), StructField("bool", BooleanType),
      StructField("bin", BinaryType)))
    def dec(s: String) = new java.math.BigDecimal(s)
    val rows = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 7, "alpha", 1.5, 2.5f, 1.toByte, 3.toShort,
        Instant.parse("2024-01-01T10:00:00Z"), LocalDateTime.parse("2024-01-01T10:00:00"),
        LocalDate.of(2024, 1, 1), dec("12.34"), true, Array[Byte](1, 2, 3)),
      Row(-42L, -1, "", -0.0, Float.NaN, java.lang.Byte.MIN_VALUE, java.lang.Short.MIN_VALUE,
        Instant.parse("1969-12-31T23:59:59.999999Z"), LocalDateTime.parse("1969-12-31T23:59:59.999999"),
        LocalDate.of(1969, 12, 31), dec("-9999999999.99"), false, Array.emptyByteArray),
      Row(Long.MaxValue, Int.MinValue, "üñïçødé nul\u0000tab\t", Double.NaN, -3.25f,
        java.lang.Byte.MAX_VALUE, java.lang.Short.MAX_VALUE,
        Instant.parse("2262-04-11T23:47:16.854775Z"), LocalDateTime.parse("1900-01-01T00:00:00"),
        LocalDate.of(9999, 12, 31), dec("0.01"), true, "üñï".getBytes("UTF-8")),
      Row(null, null, null, null, null, null, null, null, null, null, null, null, null),
      // duplicates must not change the bitmap set
      Row(0L, 0, "alpha", 1.5, 2.5f, 0.toByte, 0.toShort,
        Instant.parse("2024-01-01T10:00:00Z"), LocalDateTime.parse("2024-01-01T10:00:00"),
        LocalDate.of(2024, 1, 1), dec("12.34"), true, Array[Byte](1, 2, 3))
    ), schema).coalesce(1)

    val cat = new GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-bloompar").toString)
    val t = cat.createTable("db.bp", rows.schema,
      properties = Map(TableProperties.BloomColumns -> schema.fieldNames.mkString(",")))
    t.append(spark, rows)
    val unbloomed = t.scan().dataFiles.map(df =>
      df.copy(stats = df.stats.map { case (id, st) => id -> st.copy(bloom = None) }))

    def bloomsOf(driverMaxBytes: Long): Map[String, Map[Int, String]] = {
      val files = GraftWriter.attachBlooms(spark, unbloomed, t.meta, t.meta.currentSchema,
        driverMaxBytes)
      assert(files.size == 1, s"expected one file, got ${files.size}")
      files.map(df => df.path ->
        df.stats.collect { case (id, st) if st.bloom.isDefined => id -> st.bloom.get })
        .toMap
    }

    val driver = bloomsOf(64L * 1024 * 1024).values.head // tiny write: driver path
    val job = bloomsOf(0L).values.head // cutover 0: always the Spark job
    assert(driver.keySet == job.keySet,
      s"bloom'd column ids differ: ${driver.keySet} vs ${job.keySet}")
    assert(driver.size == schema.size, s"expected a bloom per column, got ${driver.keySet}")
    driver.keySet.foreach { id =>
      assert(driver(id) == job(id), s"bitmap for field id $id diverges")
    }
    // and the bitmaps are non-trivial (some bits set)
    assert(driver.values.exists(b => java.util.Base64.getDecoder.decode(b).exists(_ != 0)))
  }
}
