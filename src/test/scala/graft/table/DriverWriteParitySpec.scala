package graft.table

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.format.{TableProperties, Transform}
import org.apache.spark.sql.functions._

/** The driver-side parquet write (small driver-local appends skip the
  * per-append Spark job) must be indistinguishable from the executor job
  * path: same read-back rows, same partition tuples, same manifest stats
  * (bounds + null counts + record counts) — a diverging lower/upper bound
  * would make min/max pruning unsound, exactly like a diverging bloom bit.
  * Both paths run on the same rows by flipping the bytes cutover conf.
  */
class DriverWriteParitySpec extends SparkSpec {

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

    def tableOf(maxBytes: Long): GraftTable = {
      val prev = spark.conf.getOption("graft.write.driver-max-bytes")
      spark.conf.set("graft.write.driver-max-bytes", maxBytes.toString)
      try {
        val cat = new GraftCatalog(
          java.nio.file.Files.createTempDirectory("graft-dwpar").toString)
        val t = cat.createTable("db.dw", rows.schema,
          partitionBy = if (partitioned) Seq("id" -> Transform.Bucket(2)) else Nil,
          properties = Map(TableProperties.BloomColumns -> "id,s"))
        // a LOCAL plan: the driver path triggers only on all-local leaves
        val local = spark.createDataFrame(
          java.util.Arrays.asList(rows.collect(): _*), rows.schema).coalesce(1)
        t.append(spark, local)
        t
      } finally prev match {
        case Some(v) => spark.conf.set("graft.write.driver-max-bytes", v)
        case None => spark.conf.unset("graft.write.driver-max-bytes")
      }
    }
    (tableOf(8L * 1024 * 1024), tableOf(0L)) // driver path vs job path
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

  test("driver-written files are manifest- and read-identical (unpartitioned)") {
    check(partitioned = false)
  }

  test("driver-written files are manifest- and read-identical (bucket-partitioned)") {
    check(partitioned = true)
  }

  test("driver writes go through NIO: no Hadoop .crc sidecars, files still readable") {
    // The driver path writes via parquet's LocalOutputFile (measured ~10x
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

  test("non-local plans and oversize appends keep the job path") {
    import spark.implicits._
    val rows = (0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
    val cat = new GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-dwfb").toString)
    val t = cat.createTable("db.fb", rows.schema)
    // a parquet-backed (non-local) plan must take the job path and still work
    val dir = java.nio.file.Files.createTempDirectory("graft-dwsrc").toString
    rows.write.mode("overwrite").parquet(dir)
    t.append(spark, spark.read.parquet(dir))
    assert(t.toDF(spark).count() == 200)
    // oversize local append falls back and still works
    val prev = spark.conf.getOption("graft.write.driver-max-bytes")
    spark.conf.set("graft.write.driver-max-bytes", "64") // bytes: forces fallback
    try {
      val local = spark.createDataFrame(
        java.util.Arrays.asList(rows.collect(): _*), rows.schema)
      t.append(spark, local)
      assert(t.toDF(spark).count() == 400)
    } finally prev match {
      case Some(v) => spark.conf.set("graft.write.driver-max-bytes", v)
      case None => spark.conf.unset("graft.write.driver-max-bytes")
    }
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
    val cat = new GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-dwcross").toString)
    val t = cat.createTable("db.cross", crossed.schema)
    t.append(spark, crossed)
    assert(t.scan().dataFiles.map(_.recordCount).sum == 8192L * 8192L)
    // job-written files carry the Hadoop .crc sidecars the driver path never writes
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t.meta.location))
    val crcs = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet.crc"))
    } finally walk.close()
    assert(crcs > 0, "the expanding append must have taken the job path")
  }
}
