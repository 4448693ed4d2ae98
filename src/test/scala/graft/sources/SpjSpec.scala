package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.SparkPlan

/** Storage-partitioned join: co-bucketed Graft tables join with zero
  * shuffle exchanges, and the SPJ batch read returns exactly what the
  * substituted native path returns.
  */
class SpjSpec extends SparkSpec {

  private def countShuffles(plan: SparkPlan): Int = {
    val expanded = plan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }
    (plan +: expanded).map(_.collect { case _: ShuffleExchangeExec => 1 }.sum).sum
  }

  private def setup(): String = {
    val wh = tempWarehouse()
    spark.conf.set("spark.sql.catalog.spj", classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.spj.warehouse", wh)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.sql("CREATE TABLE spj.db.fact (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE spj.db.dim (k BIGINT, name STRING) PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO spj.db.fact SELECT id % 100 AS k, CAST(id AS DOUBLE) AS v FROM range(0, 10000)")
    spark.sql("INSERT INTO spj.db.dim SELECT id AS k, concat('n', id) AS name FROM range(0, 100)")
    wh
  }

  test("co-bucketed join plans with zero exchanges and matches the shuffled result") {
    val wh = setup()
    val q =
      """SELECT /*+ MERGE(d) */ f.k, count(*) AS n, sum(f.v) AS sv
        |FROM spj.db.fact f JOIN spj.db.dim d ON f.k = d.k
        |GROUP BY f.k ORDER BY f.k""".stripMargin
    val df = spark.sql(q)
    // the scan must be the SPJ batch scan, not the substituted native plan
    assert(df.queryExecution.executedPlan.toString.contains("graft-spj"),
      s"expected SPJ scan in:\n${df.queryExecution.executedPlan}")
    // one exchange for the final groupBy re-agg is fine; the JOIN itself
    // must not shuffle either side: with SPJ the only exchange below the
    // sort-merge join is none — count exchanges under the join node.
    val spjRows = df.collect()

    // reference result: the native GraftTable.scan reads — Spark's own
    // parquet scan over the pruned file list (+ shuffles)
    val cat = new graft.catalog.GraftCatalog(wh)
    Seq("fact", "dim").foreach { t =>
      cat.loadTable(s"db.$t").scan().toDF(spark).createOrReplaceTempView(s"spj_ref_$t")
    }
    val ref = spark.sql(q.replace("spj.db.fact", "spj_ref_fact")
      .replace("spj.db.dim", "spj_ref_dim")).collect()
    assert(spjRows.toSeq == ref.toSeq)

    // no shuffle between the two scans and the join: the aggregate above
    // reuses the join's clustering, so the whole plan carries zero shuffles.
    val joinPlan = spark.sql(
      """SELECT /*+ MERGE(d) */ f.k, f.v, d.name
        |FROM spj.db.fact f JOIN spj.db.dim d ON f.k = d.k""".stripMargin)
    joinPlan.collect()
    val shuffles = countShuffles(joinPlan.queryExecution.executedPlan)
    assert(shuffles == 0,
      s"expected 0 shuffles, got $shuffles:\n${joinPlan.queryExecution.executedPlan}")
  }

  test("SPJ falls back to the native path under deletes, evolution, and time travel") {
    spark.sql("DELETE FROM spj.db.fact WHERE k = 1")
    val df = spark.sql("SELECT count(*) AS c FROM spj.db.fact WHERE k < 50")
    // still correct after a COW/MOR delete (whichever mode) — and if any
    // delete files or rewritten schemas broke eligibility, the fallback
    // native path serves the rows.
    assert(df.head.getLong(0) == 4900)
    val t = spark.sql("SELECT count(*) FROM spj.db.fact VERSION AS OF 1").head.getLong(0)
    assert(t == 10000)
  }

  test("bucket function matches the write-path transform") {
    import org.apache.spark.sql.functions.col
    val f = GraftBucketUnbound.bind(
      new org.apache.spark.sql.types.StructType()
        .add("n", org.apache.spark.sql.types.IntegerType)
        .add("c", org.apache.spark.sql.types.LongType))
      .asInstanceOf[GraftBucketFunction]
    val rows = spark.range(0, 1000).select(
      col("id"),
      graft.format.Transform.Bucket(8)
        .toColumn(col("id"), org.apache.spark.sql.types.LongType).as("b"))
      .collect()
    rows.foreach { r =>
      val viaFn = f.produceResult(
        org.apache.spark.sql.catalyst.InternalRow(8, r.getLong(0)))
      assert(viaFn == r.getLong(1), s"id=${r.getLong(0)}")
    }
  }
}
