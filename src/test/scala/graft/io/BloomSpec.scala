package graft.io

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.format.{Predicate, TableProperties}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Per-file bloom filters for equality file-skipping (S3 extension; see
  * [[graft.io.Bloom]]): soundness (no present value is ever pruned away),
  * skipping power (absent-but-in-range probes skip files that min/max
  * cannot), the driver/executor hash-pair agreement, and the type-change
  * guard (a widened column stops consulting stale blooms).
  */
class BloomSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("tag", StringType)))

  /** Interleaved sparse keys (step 10) so every file spans the full range:
    * min/max stats can never prune an in-range probe, only the bloom can. */
  private def mk(offset: Int) = spark.createDataFrame(
    (0 until 200).map(i => Row((((i * 37) % 200) * 10 + offset).toLong, s"t$i")).asJava,
    schema)

  private def table(bloom: Boolean) = {
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.bl", schema)
    if (bloom) t.setProperty(TableProperties.BloomColumns, "id")
    (0 until 4).foreach(o => t.append(spark, mk(o)))
    t
  }

  test("equality probe on an absent in-range value skips all files") {
    val t = table(bloom = true)
    // present ids are 10k+o for k<200, o<4 (last digit 0-3), so 995 is
    // inside every file's [0+o, 1990+o] range but absent everywhere
    val sc = t.scan(Predicate.Eq("id", 995L))
    assert(sc.metrics.filesTotal >= 4)
    assert(sc.plan._1.isEmpty, s"bloom should prune all 4 files, scanned ${sc.metrics.filesScanned}")
    // without blooms the same probe scans everything
    val ctrl = table(bloom = false).scan(Predicate.Eq("id", 995L))
    assert(ctrl.metrics.filesScanned == ctrl.metrics.filesTotal)
  }

  test("soundness: every present value survives pruning and is found") {
    val t = table(bloom = true)
    for (probe <- Seq(0L, 3L, 1001L, 1990L, 1993L)) {
      val n = t.scan(Predicate.Eq("id", probe)).toDF(spark)
        .filter(col("id") === probe).count()
      assert(n == 1L, s"probe $probe should find its row")
    }
  }

  test("IN probes prune when no member may be present") {
    val t = table(bloom = true)
    val none = t.scan(Predicate.In("id", Seq(15L, 25L, 35L)))
    assert(none.plan._1.isEmpty, "all members absent -> all files skipped")
    val some = t.scan(Predicate.In("id", Seq(15L, 1001L)))
    assert(some.toDF(spark).count() == 1L)
  }

  test("widening the bloomed column disables stale blooms soundly") {
    val cat = new GraftCatalog(tempWarehouse())
    val s0 = StructType(Seq(StructField("id", FloatType), StructField("tag", StringType)))
    val t = cat.createTable("db.blw", s0)
    t.setProperty(TableProperties.BloomColumns, "id")
    t.append(spark, spark.createDataFrame(
      Seq(Row(0.1f, "a"), Row(0.5f, "b"), Row(0.9f, "c")).asJava, s0))
    t.widenColumn("id", DoubleType)
    // the widened read value of float 0.1 is 0.10000000149...; its string
    // differs from the write-time "0.1", so a stale bloom would wrongly
    // prune — the type guard must fall back to "maybe" and find the row
    val widened = 0.1f.toDouble
    val sc = t.scan(Predicate.Eq("id", widened))
    assert(sc.toDF(spark).filter(col("id") === widened).count() == 1L)
  }

  test("hash pair has no false negatives across types") {
    val cases: Seq[(DataType, Any)] = Seq(
      (LongType, 42L), (IntegerType, -7), (StringType, "hello"),
      (DoubleType, 3.25), (DateType, java.sql.Date.valueOf("2026-01-15")),
      (DecimalType(18, 2), new java.math.BigDecimal("12.34")),
      (BooleanType, true))
    for ((dt, v) <- cases) {
      val hp = Bloom.hashPair(dt, v)
      assert(hp.isDefined, s"hashPair must handle $dt")
      val (p1, p2) = Bloom.positions(hp.get)
      val enc = Bloom.encode(Seq(p1, p2))
      assert(Bloom.mayContain(enc, hp.get), s"false negative for $dt $v")
    }
    assert(Bloom.hashPair(LongType, null).isEmpty)
    // undecodable filter degrades to "maybe", never an exception
    assert(Bloom.mayContain("not-base64!!!", (1L, 2L)))
  }

  test("NULL inputs yield NULL positions — no spurious hash-42 bits in the bitmap") {
    // Spark's xxhash64(NULL) returns the SEED (42): without the isNotNull
    // guard every file containing a null would set hash-42's positions and
    // weaken the filter for any probe landing on those bits
    val df = spark.createDataFrame(
      Seq(Row(null), Row("x")).asJava,
      StructType(Seq(StructField("c", StringType))))
    val (p1, p2) = Bloom.positionColumns(col("c"))
    val rows = df.select(col("c"), p1.as("a"), p2.as("b")).collect()
    val byVal = rows.map(r => Option(r.getString(0)) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(byVal(None) == ((true, true)), "null input must contribute no positions")
    assert(byVal(Some("x")) == ((false, false)))
  }

  test("seeded multi-type soundness: no present value is ever bloom-pruned") {
    val rng = new scala.util.Random(42)
    val cases: Seq[(DataType, Int => Any)] = Seq(
      (IntegerType, i => rng.nextInt(100000) * 2 + (i % 2)),
      (LongType, i => rng.nextLong() / 1000),
      (StringType, i => s"v${rng.nextInt(100000)}_${"x" * (i % 20)}"),
      (DecimalType(18, 2), i => new java.math.BigDecimal(s"${rng.nextInt(100000)}.${10 + i % 90}")),
      (DateType, i => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rng.nextInt(20000).toLong))),
      (TimestampNTZType, i =>
        java.time.LocalDateTime.ofEpochSecond(rng.nextInt(1700000000).toLong, 0,
          java.time.ZoneOffset.UTC)),
      (DoubleType, i => rng.nextDouble() * 1e6),
      (FloatType, i => rng.nextFloat() * 1e3f))
    for ((dt, gen) <- cases) {
      val s2 = StructType(Seq(StructField("k", dt), StructField("i", IntegerType)))
      val values = (0 until 40).map(gen).distinct
      val cat = new GraftCatalog(tempWarehouse())
      val t = cat.createTable("db.bs", s2)
      t.setProperty(TableProperties.BloomColumns, "k")
      t.append(spark, spark.createDataFrame(
        values.zipWithIndex.map { case (v, i) => Row(v, i) }.asJava, s2))
      // every present value must survive bloom pruning and be found
      for (v <- values.take(12)) {
        val n = t.scan(Predicate.Eq("k", v)).toDF(spark).filter(col("k") === lit(v)).count()
        assert(n >= 1L, s"$dt: present value $v was lost (false negative)")
      }
    }
  }

  /** A bitmap of a fixed `bits` size with the two positions of each hash
    * pair set, in the layout the probe reads: how blooms were encoded before
    * they were sized from the data, and what a direct build at a folded
    * bitmap's final size gives.
    */
  private def fixedBitmap(pairs: Seq[(Long, Long)], bits: Int): Array[Byte] = {
    val bytes = new Array[Byte](bits / 8)
    pairs.flatMap { case (h1, h2) => Seq(h1 % bits, (h1 + h2) % bits) }.foreach { pl =>
      val p = pl.toInt
      bytes(p >>> 3) = (bytes(p >>> 3) | (1 << (p & 7))).toByte
    }
    bytes
  }

  private def pairsOf(keys: Seq[Long]) = keys.map(k => Bloom.hashPair(LongType, k).get)

  test("a file of 5,000 distinct keys gets a bitmap that skips absent in-range keys") {
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.bsz", schema)
    t.setProperty(TableProperties.BloomColumns, "id")
    // even keys 0..9998: every odd key in range is absent, and min/max keep it
    t.append(spark, spark.createDataFrame(
      (0 until 5000).map(i => Row(2L * i, s"t$i")).asJava, schema).coalesce(1))
    val files = t.scan().dataFiles
    assert(files.size == 1, s"expected one file, got ${files.size}")
    val bitmap = Bloom.decode(files.head.stats.values.flatMap(_.bloom).head).get
    val rng = new scala.util.Random(5)
    val absent = Seq.fill(1000)(2L * rng.nextInt(5000) + 1)
    val kept = pairsOf(absent).count(Bloom.mayContainBits(bitmap, _))
    assert(kept <= 120, s"${bitmap.length * 8}-bit bitmap kept $kept of 1000 absent keys")
    assert(pairsOf((0 until 5000).map(2L * _)).forall(Bloom.mayContainBits(bitmap, _)))
    // the scan's bloom plane skips the file for an absent key it rules out
    val ruledOut = absent.find(k => !Bloom.mayContainBits(bitmap, pairsOf(Seq(k)).head)).get
    assert(t.scan(Predicate.Eq("id", ruledOut)).plan._1.isEmpty)
  }

  test("seeded: a folded bitmap equals a direct build at its size, with no false negative") {
    val rng = new scala.util.Random(20261020L)
    for (n <- Seq(0, 1, 5, 12, 40, 300, 2000, 5000, 20000, 60000, 200000) ++
        Seq.fill(12)(rng.nextInt(30000))) {
      val pairs = Seq.fill(n)(Bloom.pairOf(rng.nextLong()))
      val folded = Bloom.decode(Bloom.encode(pairs.flatMap { hp =>
        val (p1, p2) = Bloom.positions(hp); Seq(p1, p2)
      })).get
      val bits = folded.length * 8
      assert(Integer.bitCount(bits) == 1 && bits >= Bloom.MinBits && bits <= Bloom.MaxBits,
        s"n=$n: $bits bits")
      assert(folded.sameElements(fixedBitmap(pairs, bits)), s"n=$n: fold differs from a direct build")
      assert(pairs.forall(Bloom.mayContainBits(folded, _)), s"n=$n: false negative")
      // the size rule: at most 30 % set, and one more fold would exceed it
      def fill(b: Array[Byte]) = b.map(x => Integer.bitCount(x & 0xff)).sum.toDouble / (b.length * 8)
      assert(bits == Bloom.MaxBits || fill(folded) <= 0.3, s"n=$n: ${fill(folded)} set")
      assert(bits == Bloom.MinBits || fill(fixedBitmap(pairs, bits / 2)) > 0.3,
        s"n=$n: $bits bits not minimal")
    }
  }

  test("a fixed 4,096-bit bitmap written before sizing probes soundly") {
    val present = (0 until 3000).map(i => 7L * i)
    val enc = java.util.Base64.getEncoder.encodeToString(fixedBitmap(pairsOf(present), 4096))
    assert(pairsOf(present).forall(Bloom.mayContain(enc, _)), "false negative on a 4,096-bit bitmap")
    val sparse = java.util.Base64.getEncoder.encodeToString(fixedBitmap(pairsOf(Seq(1L, 2L)), 4096))
    assert(pairsOf((3L until 203L)).exists(!Bloom.mayContain(sparse, _)),
      "a sparse 4,096-bit bitmap still rules keys out")
  }

  test("compaction rewrites carry blooms forward") {
    val t = table(bloom = true)
    t.compact(spark)
    val sc = t.scan(Predicate.Eq("id", 995L))
    assert(sc.plan._1.isEmpty, "post-compaction files should still bloom-skip")
  }
}
