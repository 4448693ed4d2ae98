package graft.table

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.format.{Predicate, Transform}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Metadata-only aggregates: COUNT(*) / MIN / MAX answered from manifest
  * record counts and file stats with zero data-file I/O — both the scan API
  * ([[GraftScan.metadataCount]]) and the optimizer rule that collapses a SQL
  * global aggregate over a Graft relation to a LocalRelation.
  */
class MetadataAggSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("cat", StringType),
    StructField("v", DoubleType)))

  private def mk(n: Int, cat: String) = spark.createDataFrame(
    (0 until n).map(i => Row(i.toLong, cat, i / 2.0)).asJava, schema)

  test("count/min/max from metadata on an unfiltered table") {
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.m", schema)
    t.append(spark, mk(100, "a"))
    t.append(spark, mk(50, "b"))
    val sc = t.scan()
    assert(sc.metadataCount.contains(150L))
    assert(sc.metadataMinMax("id", isMin = true).contains(Some(0L)))
    assert(sc.metadataMinMax("id", isMin = false).contains(Some(99L)))
    // FP columns store no bounds (NaN-soundness, see ParquetStats): the
    // metadata plane must refuse rather than guess
    assert(sc.metadataMinMax("v", isMin = false).isEmpty)
    // short string LOWER bounds are provably exact (truncation always
    // yields exactly MaxStringBound chars); UPPER bounds are rounded up at
    // arbitrary length, so string MAX must always refuse
    assert(sc.metadataMinMax("cat", isMin = true).contains(Some("a")))
    assert(sc.metadataMinMax("cat", isMin = false).isEmpty)
  }

  test("identity-partition predicates stay exactly answerable") {
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.mp", schema,
      partitionBy = Seq("cat" -> Transform.Identity))
    t.append(spark, mk(100, "a"))
    t.append(spark, mk(50, "b"))
    assert(t.scan(Predicate.Eq("cat", "a")).metadataCount.contains(100L))
    assert(t.scan(Predicate.In("cat", Seq("a", "b"))).metadataCount.contains(150L))
    assert(t.scan(Predicate.NotEq("cat", "a")).metadataCount.contains(50L))
    assert(t.scan(Predicate.Eq("cat", "zzz")).metadataCount.contains(0L))
    // predicate on a NON-partition column: not exactly decidable
    assert(t.scan(Predicate.Gt("id", 10L)).metadataCount.isEmpty)
    // min under an exact partition filter
    assert(t.scan(Predicate.Eq("cat", "b")).metadataMinMax("id", isMin = false)
      .contains(Some(49L)))
  }

  test("MOR deletes disqualify metadata answers; COW keeps them") {
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.md", schema)
    t.setProperty(graft.format.TableProperties.MergeOnRead, "true")
    t.append(spark, mk(100, "a"))
    t.delete(spark, Seq(Predicate.Lt("id", 10L)))
    assert(t.scan().metadataCount.isEmpty, "position deletes overcount record totals")

    val c = cat.createTable("db.mc", schema)
    c.append(spark, mk(100, "a"))
    c.delete(spark, Seq(Predicate.Lt("id", 10L))) // COW: files rewritten
    assert(c.scan().metadataCount.contains(90L))
  }

  test("empty table, all-null column and truncated strings") {
    val cat = new GraftCatalog(tempWarehouse())
    val s2 = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val t = cat.createTable("db.mn", s2)
    assert(t.scan().metadataCount.contains(0L))
    assert(t.scan().metadataMinMax("id", isMin = true).contains(None))
    t.append(spark, spark.createDataFrame(
      Seq(Row(1L, null), Row(2L, null)).asJava, s2))
    assert(t.scan().metadataMinMax("s", isMin = true).contains(None), "all-null MIN is NULL")
    // a >=16-char string bound may be truncated: must refuse, not guess
    t.append(spark, spark.createDataFrame(
      Seq(Row(3L, "averylongstringvaluebeyondbounds")).asJava, s2))
    assert(t.scan().metadataMinMax("s", isMin = false).isEmpty)
    assert(t.scan().metadataCount.contains(3L))
  }

  test("hybrid countRows: stats-decided files free, only boundary scanned") {
    val cat = new GraftCatalog(tempWarehouse())
    val s2 = StructType(Seq(StructField("id", LongType), StructField("pad", StringType)))
    val t = cat.createTable("db.hyb", s2)
    // 4 appends of disjoint contiguous ranges -> 4+ files with tight bounds
    for (base <- Seq(0, 100, 200, 300))
      t.append(spark, spark.createDataFrame(
        (base until base + 100).map(i => Row(i.toLong, s"p$i")).asJava, s2))
    // cutoff mid-file (local[4] splits each append into 25-row slabs, so
    // 145 straddles the [125,149] file): earlier files fully match, later
    // ones prune, exactly the straddling file(s) need scanning
    val sc = t.scan(Predicate.Lt("id", 145L))
    val (n, decided, scanned) = sc.countRows(spark)
    assert(n == 145L)
    assert(decided >= 1L, "the fully-covered range must be metadata-decided")
    assert(scanned >= 1L && scanned < sc.metrics.filesTotal,
      s"only boundary files scanned, got $scanned of ${sc.metrics.filesTotal}")
    // pure-metadata count also benefits from stats-decided files when
    // nothing is left undecided
    assert(t.scan(Predicate.Lt("id", 100L)).metadataCount.contains(100L))
    // MOR deletes force the full-scan fallback, still correct
    val m = cat.createTable("db.hybm", s2)
    m.setProperty(graft.format.TableProperties.MergeOnRead, "true")
    m.append(spark, spark.createDataFrame(
      (0 until 100).map(i => Row(i.toLong, s"p$i")).asJava, s2))
    m.delete(spark, Seq(Predicate.Lt("id", 10L)))
    assert(m.scan(Predicate.Lt("id", 50L)).countRows(spark)._1 == 40L)
  }

  test("SQL count(*)/min/max collapse to LocalRelation — no scan in the plan") {
    val wh = tempWarehouse()
    spark.conf.set("spark.sql.catalog.gmeta", classOf[graft.sources.GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmeta.warehouse", wh)
    spark.sql("CREATE TABLE gmeta.db.t (id BIGINT, cat STRING, v DOUBLE) PARTITIONED BY (cat)")
    spark.sql("INSERT INTO gmeta.db.t SELECT id, CASE WHEN id < 60 THEN 'a' ELSE 'b' END, " +
      "CAST(id AS DOUBLE) FROM range(100)")

    val q1 = spark.sql("SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM gmeta.db.t")
    assert(q1.head() == Row(100L, 0L, 99L))
    val p1 = q1.queryExecution.executedPlan.toString
    assert(!p1.contains("BatchScan") && p1.contains("LocalTableScan"),
      s"expected metadata-only answer:\n$p1")

    val q2 = spark.sql("SELECT count(*) AS n FROM gmeta.db.t WHERE cat = 'a'")
    assert(q2.head().getLong(0) == 60L)
    val p2 = q2.queryExecution.executedPlan.toString
    assert(!p2.contains("BatchScan") && p2.contains("LocalTableScan"),
      s"expected metadata-only answer under identity-partition filter:\n$p2")

    // a filter on a data column must NOT collapse (and must stay correct);
    // the real scan is the DSv2 graft-dpp batch scan
    def realScan(p: String): Boolean = p.contains("graft-dpp")
    val q3 = spark.sql("SELECT count(*) FROM gmeta.db.t WHERE v >= 50.0")
    assert(q3.head().getLong(0) == 50L)
    assert(realScan(q3.queryExecution.executedPlan.toString),
      "non-exact predicate must fall back to a real scan")

    // an OR with a half-translatable AND branch must not collapse either:
    // the pruning translator would weaken (cat='b' AND v>=50) to cat='b'
    // and overcount — the exact translator must refuse
    val q3b = spark.sql(
      "SELECT count(*) FROM gmeta.db.t WHERE cat = 'a' OR (cat = 'b' AND v >= 90.0)")
    assert(q3b.head().getLong(0) == 70L, "60 cat=a rows + 10 cat=b rows with v>=90")
    assert(realScan(q3b.queryExecution.executedPlan.toString),
      "weakened OR-branch predicate must fall back to a real scan")

    // distinct aggregates must not collapse
    val q4 = spark.sql("SELECT count(DISTINCT cat) FROM gmeta.db.t")
    assert(q4.head().getLong(0) == 2L)
  }

  test("SQL metadata count respects time travel") {
    val wh = tempWarehouse()
    spark.conf.set("spark.sql.catalog.gmtt", classOf[graft.sources.GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmtt.warehouse", wh)
    spark.sql("CREATE TABLE gmtt.db.t (id BIGINT)")
    spark.sql("INSERT INTO gmtt.db.t SELECT id FROM range(10)")
    spark.sql("INSERT INTO gmtt.db.t SELECT id FROM range(5)")
    val q = spark.sql("SELECT count(*) FROM gmtt.db.t VERSION AS OF 1")
    assert(q.head().getLong(0) == 10L)
    assert(q.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(spark.sql("SELECT count(*) FROM gmtt.db.t").head().getLong(0) == 15L)
  }
}
