package graft.tools

import graft.catalog.GraftCatalog
import graft.format.{Predicate, Transform}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Prints formatted physical plans for representative queries so the scan
  * characteristics that matter at 100 TB are auditable: PushedFilters reach
  * the parquet scan, ReadSchema is pruned to referenced columns, small dims
  * broadcast, aggregates run partial+final inside WholeStageCodegen.
  * Run: sbt "runMain graft.tools.ExplainAudit"
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"

    def audit(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n=============== $name ===============")
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(plan)
    }

    audit("relational filter+project (expect PushedFilters + pruned ReadSchema)") {
      graft.queries.Tables.orders(spark, d)
        .filter(col("o_totalprice") > 200000.0)
        .select("o_orderkey", "o_totalprice")
    }

    audit("star join (expect BroadcastHashJoin for dims, one shuffle for agg)") {
      val o = graft.queries.Tables.orders(spark, d)
      val c = graft.queries.Tables.customer(spark, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    }

    // Graft table scan (`toDF`): the same DSv2 scan over the pinned file
    // list; the predicate must still push into the parquet reader AFTER
    // driver-side file pruning, and the read schema stays pruned.
    val cat = new GraftCatalog(java.nio.file.Files.createTempDirectory("graft-audit").toString)
    val events = graft.queries.Tables.events(spark, d)
    val t = cat.createTable("db.events", events.schema,
      partitionBy = Seq("ts" -> Transform.Day))
    t.append(spark, events)
    audit("graft scan w/ predicate (expect graft-dpp BatchScan, pushed EqualTo(event_type) + pruned ReadSchema on surviving files)") {
      t.toDF(spark, Predicate.Eq("event_type", "click"))
        .select("event_id", "event_type", "value")
    }

    // DSv2 catalog SQL read of a bare table: the one DSv2 batch scan
    // (graft-dpp, columnar under a ColumnarToRow, filters pushed) — NOT a
    // RowDataSourceScan, and no runtime-filter subquery for a bare table.
    spark.conf.set("spark.sql.catalog.g_audit",
      classOf[graft.sources.GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.g_audit.warehouse",
      java.nio.file.Files.createTempDirectory("graft-audit-sql").toString)
    spark.sql("CREATE TABLE g_audit.db.ev (event_id BIGINT, event_type STRING, value DOUBLE)")
    events.select("event_id", "event_type", "value").createOrReplaceTempView("ev_src")
    spark.sql("INSERT INTO g_audit.db.ev SELECT * FROM ev_src")
    audit("DSv2 SQL read (expect graft-dpp BatchScan + ColumnarToRow + pushed filters, no RowDataSourceScan)") {
      spark.sql("SELECT event_id, value FROM g_audit.db.ev WHERE event_type = 'click' AND value > 1.0")
    }

    // the runtime-filter subquery must sit ON the DSv2 batch scan, here in
    // its key-grouped (bucket) layout — the dim's selective filter is on a
    // non-join column, so only dynamic pruning can cut the fact read
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(
      "CREATE TABLE g_audit.db.fact (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(8, k))")
    spark.sql(
      "INSERT INTO g_audit.db.fact SELECT id % 50 AS k, CAST(id AS DOUBLE) AS v " +
        "FROM range(0, 5000)")
    spark.range(0, 50).selectExpr("id AS k", "concat('d', id) AS name")
      .createOrReplaceTempView("dim_src")
    audit("DSv2 runtime filter (expect dynamicpruning subquery on the graft-spj scan)") {
      spark.sql(
        """SELECT f.k, sum(f.v) AS sv
          |FROM g_audit.db.fact f JOIN dim_src d ON f.k = d.k
          |WHERE d.name = 'd7' GROUP BY f.k""".stripMargin)
    }

    // the same scan in its packed layout: a month-partitioned (non-bucket)
    // fact joined to a dim filtered on a DERIVED non-join column; the
    // dynamic-pruning subquery must sit on the graft-dpp scan, whose
    // partition spec alone offers the runtime filter (there is no conf)
    {
      spark.sql(
        "CREATE TABLE g_audit.db.factm (d DATE, v DOUBLE) PARTITIONED BY (months(d))")
      spark.sql(
        """INSERT INTO g_audit.db.factm
          |SELECT date_add(DATE'2023-01-01', CAST(id % 360 AS INT)) AS d,
          |  CAST(id AS DOUBLE) AS v FROM range(0, 3600)""".stripMargin)
      spark.range(0, 360)
        .selectExpr("date_add(DATE'2023-01-01', CAST(id AS INT)) AS d_date",
          "concat(year(date_add(DATE'2023-01-01', CAST(id AS INT))), 'Q', " +
            "quarter(date_add(DATE'2023-01-01', CAST(id AS INT)))) AS d_quarter")
        .createOrReplaceTempView("dates_src")
      audit("generalized DSv2 runtime filter (expect dynamicpruning subquery on the graft-dpp scan)") {
        spark.sql(
          """SELECT count(*) AS n, sum(f.v) AS sv
            |FROM g_audit.db.factm f JOIN dates_src d ON f.d = d.d_date
            |WHERE d.d_quarter = '2023Q2'""".stripMargin)
      }
    }

    spark.stop()
  }
}
