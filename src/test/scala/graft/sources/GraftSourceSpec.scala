package graft.sources

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.format.Transform
import graft.table.QueryHistory
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

class GraftSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("cat", StringType),
    StructField("v", DoubleType)))

  private def mk(rows: Seq[(Long, String, Double)]) =
    spark.createDataFrame(
      rows.map { case (a, b, c) => Row(a, b, c) }.asJava, schema)

  private val base = Seq(
    (1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "b", 4.0), (5L, "c", 5.0))

  test("write + read through spark.read/write.format(graft)") {
    val wh = tempWarehouse()
    mk(base).write.format("graft")
      .option("warehouse", wh).option("table", "db.t").save()
    val back = spark.read.format("graft")
      .option("warehouse", wh).option("table", "db.t").load()
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      == base.toSet)

    // append mode adds a snapshot
    mk(Seq((6L, "c", 6.0))).write.format("graft").mode(SaveMode.Append)
      .option("warehouse", wh).option("table", "db.t").save()
    assert(spark.read.format("graft")
      .option("warehouse", wh).option("table", "db.t").load().count() == 6)

    // overwrite replaces content
    mk(base.take(2)).write.format("graft").mode(SaveMode.Overwrite)
      .option("warehouse", wh).option("table", "db.t").save()
    assert(spark.read.format("graft")
      .option("warehouse", wh).option("table", "db.t").load().count() == 2)
  }

  test("filters push through the source into manifest pruning") {
    val wh = tempWarehouse()
    val cat = new GraftCatalog(wh)
    val t = cat.createTable("db.p", schema, partitionBy = Seq("cat" -> Transform.Identity))
    t.append(spark, mk(base))

    QueryHistory.clear()
    val df = spark.read.format("graft")
      .option("warehouse", wh).option("table", "db.p").load()
      .filter(col("cat") === "a")
      .select("id")
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val m = QueryHistory.all.filter(_.table == "db.p").last
    assert(m.filesScanned < m.filesTotal,
      s"source scan did not prune: ${m.filesScanned}/${m.filesTotal}")
  }

  test("time-travel options: snapshotId and asOfTimestampMs") {
    val wh = tempWarehouse()
    val cat = new GraftCatalog(wh)
    val t = cat.createTable("db.tt", schema)
    t.append(spark, mk(base.take(2)))
    val s1 = t.meta.currentSnapshotId.get
    val ts1 = t.meta.snapshots.head.timestampMs
    t.append(spark, mk(base.drop(2)))

    assert(spark.read.format("graft")
      .option("warehouse", wh).option("table", "db.tt")
      .option("snapshotId", s1.toString).load().count() == 2)
    assert(spark.read.format("graft")
      .option("warehouse", wh).option("table", "db.tt")
      .option("asOfTimestampMs", ts1.toString).load().count() == 2)
    assert(spark.read.format("graft")
      .option("warehouse", wh).option("table", "db.tt").load().count() == 5)
  }

  test("SQL over the source relation") {
    val wh = tempWarehouse()
    mk(base).write.format("graft")
      .option("warehouse", wh).option("table", "db.sqlt").save()
    spark.read.format("graft")
      .option("warehouse", wh).option("table", "db.sqlt").load()
      .createOrReplaceTempView("sqlt")
    val out = spark.sql("SELECT cat, count(*) n FROM sqlt WHERE v > 1.5 GROUP BY cat ORDER BY cat")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 1L), ("b", 2L), ("c", 1L)))
  }

  test("getTable after inferSchema with the same options returns the same table instance") {
    val wh = tempWarehouse()
    mk(base).write.format("graft")
      .option("warehouse", wh).option("table", "db.memo").save()
    // Spark's provider protocol: inferSchema on the case-insensitive options,
    // then getTable on their original-case map, on one provider instance
    val src = new GraftSource
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      Map("Warehouse" -> wh, "table" -> "db.memo").asJava)
    val inferred = src.inferSchema(opts)
    val t = src.getTable(inferred, Array.empty, opts.asCaseSensitiveMap())
    assert(t.isInstanceOf[GraftSparkTable])
    assert(src.getTable(inferred, Array.empty, opts.asCaseSensitiveMap()) eq t)
    // other options (a time-travel read) load their own table
    val s1 = new GraftCatalog(wh).loadTable("db.memo").meta.currentSnapshotId.get
    val travel = Map("warehouse" -> wh, "table" -> "db.memo", "snapshotId" -> s1.toString).asJava
    assert(!(src.getTable(inferred, Array.empty, travel) eq t))
  }
}
