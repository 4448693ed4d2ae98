package graft.table

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.format.{DataFile, GraftUtil, TableProperties, Transform}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver-side parquet write (small driver-local appends skip the
  * per-append Spark job) must be indistinguishable from the executor job
  * path: same read-back rows, same partition tuples, same manifest stats
  * (bounds + null counts + record counts) — a diverging lower/upper bound
  * would make min/max pruning unsound, exactly like a diverging bloom bit.
  * Both paths run on the same rows: a local frame takes the driver path,
  * the same rows read back from a parquet directory (a non-local plan)
  * take the job path.
  */
class DriverWriteParitySpec extends SparkSpec {

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  /** The same rows as a driver-local frame and as a non-local (parquet-read) plan. */
  private def localAndRemote(rows: DataFrame): (DataFrame, DataFrame) = {
    val local = spark.createDataFrame(java.util.Arrays.asList(rows.collect(): _*), rows.schema)
    val dir = tmp("graft-dwsrc")
    rows.coalesce(1).write.mode("overwrite").parquet(dir)
    (local, spark.read.parquet(dir))
  }

  private def buildBoth(partitioned: Boolean) = {
    import spark.implicits._
    val rows = Seq[(java.lang.Long, String, java.lang.Double, java.lang.Boolean, java.lang.Integer)](
      (1L, "alpha", 1.5, true, 7),
      (2L, "", -0.0, false, null),
      (3L, null, Double.NaN, null, -1),
      (4L, "üñïçødé and spaces", 9.25, true, Int.MinValue),
      (11L, "alpha", 1.5, true, 7),
      (12L, "zz", -3.5, false, 0)
    ).toDF("id", "s", "d", "b", "i")
    val (local, remote) = localAndRemote(rows)

    def tableOf(df: DataFrame): GraftTable = {
      val t = new GraftCatalog(tmp("graft-dwpar")).createTable("db.dw", rows.schema,
        partitionBy = if (partitioned) Seq("id" -> Transform.Bucket(2)) else Nil,
        properties = Map(TableProperties.BloomColumns -> "id,s"))
      t.append(spark, df)
      t
    }
    (tableOf(local), tableOf(remote)) // driver path vs job path
  }

  private def check(partitioned: Boolean): Unit = {
    val (driver, job) = buildBoth(partitioned)
    // read-back parity through the full scan stack
    val a = driver.toDF(spark).orderBy("id").collect().toSeq
    val b = job.toDF(spark).orderBy("id").collect().toSeq
    assert(a == b, s"read-back rows diverge (partitioned=$partitioned)")
    // manifest parity: per-partition-tuple record counts and column stats
    def statsOf(t: GraftTable) = t.scan().dataFiles
      .groupBy(_.partition)
      .map { case (p, fs) =>
        val perCol = fs.flatMap(_.stats.toSeq).groupBy(_._1).map { case (id, sts) =>
          // bounds aggregated across files of the tuple for comparability
          id -> ((sts.flatMap(_._2.min).sorted.headOption,
            sts.flatMap(_._2.max).sorted.lastOption,
            sts.flatMap(_._2.nullCount).sum))
        }
        p -> ((fs.map(_.recordCount).sum, perCol))
      }
    val sa = statsOf(driver)
    val sb = statsOf(job)
    assert(sa == sb, s"manifest stats diverge (partitioned=$partitioned):\n$sa\nvs\n$sb")
    // bloom parity rides on BloomDriverParitySpec's machinery: both tables
    // carry blooms on id,s; assert present and equal per partition tuple
    def blooms(t: GraftTable) = t.scan().dataFiles.groupBy(_.partition).map {
      case (p, fs) => p -> fs.flatMap(_.stats.toSeq.collect {
        case (id, st) if st.bloom.isDefined => id -> st.bloom.get }).sortBy(_._1)
    }
    assert(blooms(driver) == blooms(job), "bloom bitmaps diverge")
    // a point-lookup prunes identically on both
    val pa = driver.scan(graft.format.Predicate.Eq("s", "alpha")).dataFiles.map(_.path).size
    val pb = job.scan(graft.format.Predicate.Eq("s", "alpha")).dataFiles.map(_.path).size
    assert(pa == pb, s"pruning diverges: $pa vs $pb files kept")
  }

  private def footerOf(path: String) = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  private def filesOf(t: GraftTable): Seq[DataFile] = t.scan().dataFiles

  /** A data file's partition directory, relative to its `data/<uuid>/` write dir. */
  private def partDir(f: DataFile): String =
    f.path.split('/').drop(2).dropRight(1).mkString("/")

  private val typedSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("d", DateType),
    StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType),
    StructField("amt", DecimalType(12, 2)),
    StructField("tag", StringType),
    StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType))))))

  private def typedRows: DataFrame = {
    import java.time.{Instant, LocalDate, LocalDateTime}
    def dec(s: String) = new java.math.BigDecimal(s)
    val rows = Seq(
      Row(1L, LocalDate.of(2024, 1, 1), Instant.parse("2024-01-01T10:00:00Z"),
        LocalDateTime.parse("2024-01-01T10:00:00"), dec("12.34"), "a/b", Row(1, "x")),
      Row(2L, LocalDate.of(1969, 12, 31), Instant.parse("1969-12-31T23:59:59.999999Z"),
        LocalDateTime.parse("1969-12-31T23:59:59.999999"), dec("-9999999999.99"), "sp ace",
        Row(null, null)),
      Row(3L, null, Instant.parse("2024-01-02T00:00:00Z"), null, null, "k=v", null),
      Row(4L, LocalDate.of(2024, 1, 2), Instant.parse("2024-01-02T23:59:59.000001Z"),
        LocalDateTime.parse("2024-01-02T23:59:59.000001"), dec("0.01"), "50%", Row(-7, "")),
      Row(5L, LocalDate.of(2024, 1, 1), null, LocalDateTime.parse("2024-01-01T00:00:00"),
        dec("9999999999.99"), "", Row(3, "y")),
      Row(6L, LocalDate.of(2024, 1, 3), Instant.parse("2024-01-01T10:00:00Z"), null,
        dec("-0.50"), null, Row(4, null)),
      Row(7L, LocalDate.of(2024, 1, 1), Instant.parse("2024-01-03T05:06:07.123456Z"),
        LocalDateTime.parse("2024-01-03T05:06:07.123456"), dec("12.34"), "a/b", Row(1, "x")))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), typedSchema)
  }

  /** Driver path against job path, file by file, for the types the old
    * hand-mirrored writer sent to the job path.
    */
  private def checkTyped(partitionBy: Seq[(String, Transform)]): Set[String] = {
    val (local, remote) = localAndRemote(typedRows)
    def tableOf(df: DataFrame, tag: String): GraftTable = {
      val t = new GraftCatalog(tmp(s"graft-dwtyped-$tag")).createTable("db.typed", typedSchema,
        partitionBy = partitionBy,
        properties = Map(TableProperties.BloomColumns -> "id,d,ts,ntz,amt,tag"))
      t.append(spark, df)
      t
    }
    var driver: GraftTable = null
    val jobs = jobsDuring { driver = tableOf(local, "driver") }
    assert(jobs.isEmpty, s"the driver-path append ran Spark jobs: $jobs")
    val job = tableOf(remote, "job")

    val a = driver.toDF(spark).orderBy("id").collect().toSeq
    val b = job.toDF(spark).orderBy("id").collect().toSeq
    assert(a == b, s"read-back rows diverge ($partitionBy)")
    assert(a.size == 7)

    def schemaOf(t: GraftTable, f: DataFile) =
      footerOf(GraftUtil.resolve(t.meta.location, f.path)).getFileMetaData.getSchema
    val dFiles = filesOf(driver).groupBy(partDir)
    val jFiles = filesOf(job).groupBy(partDir)
    assert(dFiles.keySet == jFiles.keySet,
      s"partition directories diverge: ${dFiles.keySet} vs ${jFiles.keySet}")
    dFiles.keys.foreach { dir =>
      assert(dFiles(dir).size == 1 && jFiles(dir).size == 1, s"expected one file per side in '$dir'")
      val (d, j) = (dFiles(dir).head, jFiles(dir).head)
      assert(d.partition == j.partition, s"partition tuples diverge in '$dir'")
      assert(d.recordCount == j.recordCount, s"record counts diverge in '$dir'")
      assert(d.stats == j.stats, s"manifest stats or blooms diverge in '$dir':\n${d.stats}\nvs\n${j.stats}")
      assert(d.stats.values.exists(_.bloom.isDefined), s"no blooms in '$dir'")
      val (ds, js) = (schemaOf(driver, d), schemaOf(job, j))
      assert(ds == js, s"footer schemas diverge in '$dir':\n$ds\nvs\n$js")
      Seq("int32 d (DATE)", "int64 ts (TIMESTAMP(MICROS,true))",
        "int64 ntz (TIMESTAMP(MICROS,false))", "int64 amt (DECIMAL(12,2))").foreach { t =>
        assert(ds.toString.contains(t), s"footer lacks '$t':\n$ds")
      }
    }
    dFiles.keySet
  }

  test("driver-written files are manifest- and read-identical (unpartitioned)") {
    check(partitioned = false)
  }

  test("driver-written files are manifest- and read-identical (bucket-partitioned)") {
    check(partitioned = true)
  }

  test("date, timestamp, timestamp_ntz, decimal and struct columns take the driver path with job-path files (unpartitioned)") {
    checkTyped(Nil)
  }

  test("date, timestamp, timestamp_ntz, decimal and struct columns take the driver path with job-path files (days(ts))") {
    checkTyped(Seq("ts" -> Transform.Day))
  }

  test("identity partitions on strings that need escaping take the driver path with job-path directory names") {
    val dirs = checkTyped(Seq("tag" -> Transform.Identity))
    // "/", "=" and "%" Hive-escaped; null and "" both in the default partition
    assert(dirs == Set("a%2Fb", "sp ace", "k%3Dv", "50%25", "__HIVE_DEFAULT_PARTITION__")
      .map("_gp_tag=" + _), dirs)
  }

  test("driver-written files carry the session's parquet compression codec") {
    import spark.implicits._
    val rows = (0L until 50L).map(i => (i, s"v$i")).toDF("id", "s")
    val (local, remote) = localAndRemote(rows)
    val prev = spark.conf.getOption("spark.sql.parquet.compression.codec")
    spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
    try {
      Seq(local, remote).foreach { df =>
        val t = new GraftCatalog(tmp("graft-dwcodec")).createTable("db.codec", rows.schema)
        t.append(spark, df)
        val codecs = filesOf(t).flatMap { f =>
          import scala.jdk.CollectionConverters._
          footerOf(GraftUtil.resolve(t.meta.location, f.path)).getBlocks.asScala
            .flatMap(_.getColumns.asScala.map(_.getCodec.name))
        }.toSet
        assert(codecs == Set("ZSTD"), s"footer codecs $codecs")
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.compression.codec", v)
      case None => spark.conf.unset("spark.sql.parquet.compression.codec")
    }
  }

  test("driver writes go through NIO: no Hadoop .crc sidecars, files still readable") {
    // The driver path writes through the raw local filesystem (measured ~10x
    // cheaper per small file than Hadoop's ChecksumFileSystem), so no .crc
    // sidecar may appear next to driver-written files; readers and manifest
    // stats are unaffected (the parity legs above prove that on the same rows).
    val (driver, _) = buildBoth(partitioned = true)
    val dataDir = java.nio.file.Paths.get(driver.meta.location)
    val walk = java.nio.file.Files.walk(dataDir)
    val (crcs, parquets) = try {
      import scala.jdk.CollectionConverters._
      val names = walk.iterator().asScala.map(_.getFileName.toString).toVector
      (names.count(_.endsWith(".crc")), names.count(_.endsWith(".parquet")))
    } finally walk.close()
    assert(parquets > 0, "expected driver-written parquet files under the table location")
    assert(crcs == 0, s"driver-written table carries $crcs Hadoop .crc sidecars")
  }

  private def parquetCrcs(t: GraftTable): Int = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t.meta.location))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet.crc"))
    } finally walk.close()
  }

  test("non-local plans and oversize appends keep the job path") {
    import spark.implicits._
    val rows = (0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
    val cat = new GraftCatalog(tmp("graft-dwfb"))
    val t = cat.createTable("db.fb", rows.schema)
    // a parquet-backed (non-local) plan must take the job path and still work
    val dir = tmp("graft-dwsrc")
    rows.write.mode("overwrite").parquet(dir)
    t.append(spark, spark.read.parquet(dir))
    assert(t.toDF(spark).count() == 200)
    // a local append over the 8 MB driver cap (20k rows of ~0.5 KB) falls
    // back and still works
    val big = (0L until 20000L).map(i => (1000L + i, "x" * 500 + i)).toDF("id", "s")
    val local = spark.createDataFrame(java.util.Arrays.asList(big.collect(): _*), big.schema)
    val before = parquetCrcs(t)
    t.append(spark, local)
    assert(t.toDF(spark).count() == 20200)
    assert(t.toDF(spark).filter(col("id") >= 1000L).orderBy("id").as[(Long, String)].collect()
      .toSeq == (0L until 20000L).map(i => (1000L + i, "x" * 500 + i)))
    // job-written files carry the Hadoop .crc sidecars the driver path never writes
    assert(parquetCrcs(t) > before, "the oversize append must have taken the job path")
  }

  test("a coalesce(1)'d local append takes the driver path without a Spark job") {
    import spark.implicits._
    // the crawl loops pin each micro-batch as coalesce(1) over local rows
    val local = (0L until 50L).map(i => (i, s"v$i")).toDF("id", "s").coalesce(1)
    val t = new GraftCatalog(tmp("graft-dwcoal")).createTable("db.coal", local.schema)
    val jobs = jobsDuring(t.append(spark, local))
    assert(jobs.isEmpty, s"the coalesce(1)'d local append ran Spark jobs: $jobs")
    assert(t.toDF(spark).orderBy("id").as[(Long, String)].collect().toSeq ==
      (0L until 50L).map(i => (i, s"v$i")))
    assert(parquetCrcs(t) == 0, "the append must have taken the driver path")
  }

  test("an all-local plan that expands past the row cap takes the job path without a driver collect") {
    import spark.implicits._
    // two 8k-row local frames cross-join to 64M rows: every leaf is a
    // LocalRelation, so the driver path is considered, but its probe reads
    // at most row-cap + 1 rows and the append falls back to the job write
    // (a full collect would hold all 64M rows in driver memory)
    val a = (0L until 8192L).toDF("a")
    val b = (0L until 8192L).toDF("b")
    val crossed = a.crossJoin(b).select(lit(1L).as("one"))
    val cat = new GraftCatalog(tmp("graft-dwcross"))
    val t = cat.createTable("db.cross", crossed.schema)
    t.append(spark, crossed)
    assert(t.scan().dataFiles.map(_.recordCount).sum == 8192L * 8192L)
    // job-written files carry the Hadoop .crc sidecars the driver path never writes
    assert(parquetCrcs(t) > 0, "the expanding append must have taken the job path")
  }
}
