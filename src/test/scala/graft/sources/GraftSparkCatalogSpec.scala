package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** DSv2 catalog surface: SQL DDL/DML (CREATE/INSERT/DELETE/ALTER), time
  * travel (VERSION AS OF / TIMESTAMP AS OF), and the substituted read path
  * (native parquet scan — no RowDataSourceScan — with pushed filters).
  */
class GraftSparkCatalogSpec extends SparkSpec {

  private def registerCatalog(name: String): String = {
    val wh = tempWarehouse()
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  test("SQL CREATE / INSERT / SELECT / DELETE / VERSION AS OF round-trip") {
    registerCatalog("gsql")
    spark.sql("CREATE TABLE gsql.db.t (id BIGINT, cat STRING, v DOUBLE) PARTITIONED BY (cat)")
    spark.range(1, 6).selectExpr("id", "CASE WHEN id <= 2 THEN 'a' ELSE 'b' END AS cat",
      "CAST(id AS DOUBLE) AS v").createOrReplaceTempView("src")
    spark.sql("INSERT INTO gsql.db.t SELECT * FROM src")
    assert(spark.sql("SELECT count(*) FROM gsql.db.t").head.getLong(0) == 5)

    spark.sql("DELETE FROM gsql.db.t WHERE cat = 'a'")
    assert(spark.sql("SELECT count(*) FROM gsql.db.t").head.getLong(0) == 3)

    // snapshot 1 = the INSERT; VERSION AS OF sees the pre-delete state
    assert(spark.sql("SELECT count(*) FROM gsql.db.t VERSION AS OF 1").head.getLong(0) == 5)

    // INSERT OVERWRITE truncates then writes
    spark.sql("INSERT OVERWRITE gsql.db.t SELECT id, 'z' AS cat, CAST(0.5 AS DOUBLE) FROM range(2)")
    assert(spark.sql("SELECT count(*) FROM gsql.db.t").head.getLong(0) == 2)
  }

  test("namespace DDL: CREATE/SHOW/DROP DATABASE + USE route to the catalog (docs/04:32, docs/12:55)") {
    registerCatalog("gns")
    spark.sql("CREATE DATABASE gns.analytics")
    spark.sql("CREATE DATABASE IF NOT EXISTS gns.analytics") // idempotent form
    assert(spark.sql("SHOW DATABASES IN gns").collect().map(_.getString(0))
      .contains("analytics"))
    // tables land inside the namespace and resolve via USE
    spark.sql("CREATE TABLE gns.analytics.m (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gns.analytics.m SELECT id, CAST(id AS DOUBLE) FROM range(4)")
    spark.sql("USE gns.analytics")
    try {
      assert(spark.sql("SELECT count(*) FROM m").head.getLong(0) == 4)
      assert(spark.sql("SHOW TABLES").collect().map(_.getString(1)).contains("m"))
    } finally spark.sql("USE spark_catalog.default")
    // DROP DATABASE refuses non-empty without CASCADE, then cascades
    intercept[Exception](spark.sql("DROP DATABASE gns.analytics"))
    spark.sql("DROP DATABASE gns.analytics CASCADE")
    assert(!spark.sql("SHOW DATABASES IN gns").collect().map(_.getString(0))
      .contains("analytics"))
  }

  test("SQL task surface: create_task/alter_task/advance_tasks/task_history") {
    registerCatalog("gtask")
    spark.sql("CREATE TABLE gtask.db.src (id BIGINT)")
    spark.sql("CREATE TABLE gtask.db.dst (id BIGINT)")
    spark.sql("INSERT INTO gtask.db.src VALUES (1), (2), (3)")
    val created = spark.sql(
      """CALL gtask.system.create_task(name => 'db.mv',
        |  schedule => '30 MINUTE',
        |  body => 'BEGIN
        |    INSERT INTO gtask.db.dst SELECT * FROM gtask.db.src WHERE id <= 2;
        |    DELETE FROM gtask.db.src WHERE id <= 2;
        |  END')""".stripMargin).head
    assert(created == Row("db.mv", true), "tasks are created suspended")
    // suspended: the clock moves, nothing fires
    assert(spark.sql("CALL gtask.system.advance_tasks(by_ms => 3600000)")
      .filter("task_name = 'db.mv'").count() == 0)
    spark.sql("CALL gtask.system.alter_task(name => 'db.mv', action => 'RESUME')")
    // resumed: 2 fires in the next hour; the second is an idempotent no-op
    val fired = spark.sql("CALL gtask.system.advance_tasks(by_ms => 3600000)")
      .filter("task_name = 'db.mv'").count()
    assert(fired == 2)
    assert(spark.sql("SELECT count(*) FROM gtask.db.dst").head.getLong(0) == 2)
    assert(spark.sql("SELECT count(*) FROM gtask.db.src").head.getLong(0) == 1)
    assert(spark.sql("CALL gtask.system.task_history()")
      .filter("task_name = 'db.mv'").count() == 2)
    // manual EXECUTE ignores suspension and fires the body once more
    spark.sql("CALL gtask.system.alter_task(name => 'db.mv', action => 'SUSPEND')")
    spark.sql("CALL gtask.system.execute_task(name => 'db.mv')")
    assert(spark.sql("SELECT count(*) FROM gtask.db.dst").head.getLong(0) == 2)
    // SHOW TASKS equivalent
    assert(spark.sql("CALL gtask.system.list_tasks()").collect().toSeq ==
      Seq(Row("db.mv", "30 MINUTE", true)))
    val e = intercept[Exception](
      spark.sql("CALL gtask.system.alter_task(name => 'db.mv', action => 'NOPE')"))
    assert(e.getMessage.contains("RESUME or SUSPEND"))
  }

  test("substituted read path: native parquet scan with pushed filters, no row fallback") {
    registerCatalog("gfast")
    // PARTITIONED table: since r17 the default route is the columnar DSv2
    // runtime-filterable scan (graft-dpp) — vectorized decode under a
    // ColumnarToRow, static filters pushed, manifest pruning recorded
    spark.sql("CREATE TABLE gfast.db.p (id BIGINT, cat STRING, v DOUBLE) PARTITIONED BY (cat)")
    spark.sql("INSERT INTO gfast.db.p VALUES (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0), (4, 'c', 4.0)")

    graft.table.QueryHistory.clear()
    val df = spark.sql("SELECT id FROM gfast.db.p WHERE cat = 'a' AND v > 0.5")
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-dpp"), s"partitioned table must serve the DSv2 scan:\n$plan")
    assert(plan.contains("ColumnarToRow"), s"DSv2 scan must decode columnar:\n$plan")
    assert(!plan.contains("RowDataSourceScan"), s"read fell back to the V1 row path:\n$plan")
    assert(plan.contains("GreaterThan(v,0.5)"), s"no parquet pushdown:\n$plan")

    // the pushed predicates drove Graft's own manifest pruning too
    val m = graft.table.QueryHistory.all.filter(_.table == "db.p").last
    assert(m.filesScanned < m.filesTotal, s"no manifest pruning: ${m.filesScanned}/${m.filesTotal}")

    // BARE table (no partition spec / cluster-by / blooms): the same
    // columnar DSv2 scan, static filter pushed
    spark.sql("CREATE TABLE gfast.db.q (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gfast.db.q VALUES (1, 1.0), (2, 2.0)")
    val dfq = spark.sql("SELECT id FROM gfast.db.q WHERE v > 0.5")
    assert(dfq.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val planQ = dfq.queryExecution.executedPlan.toString
    assert(planQ.contains("graft-dpp") && planQ.contains("ColumnarToRow"),
      s"bare table must serve the columnar DSv2 scan:\n$planQ")
    assert(!planQ.contains("RowDataSourceScan"), s"read fell back to the V1 row path:\n$planQ")
    assert(planQ.contains("GreaterThan(v,0.5)"), s"no parquet pushdown:\n$planQ")
  }

  test("ALTER TABLE: add/rename/widen/drop column + properties through SQL") {
    registerCatalog("gddl")
    spark.sql("CREATE TABLE gddl.db.a (id INT, name STRING)")
    spark.sql("INSERT INTO gddl.db.a VALUES (1, 'x'), (2, 'y')")
    spark.sql("ALTER TABLE gddl.db.a ADD COLUMN note STRING")
    spark.sql("ALTER TABLE gddl.db.a RENAME COLUMN name TO label")
    spark.sql("ALTER TABLE gddl.db.a ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE gddl.db.a SET TBLPROPERTIES ('target-file-size' = '1048576')")
    spark.sql("INSERT INTO gddl.db.a VALUES (3000000000, 'z', 'new')")
    val rows = spark.sql("SELECT id, label, note FROM gddl.db.a ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3000000000L))
    assert(rows.map(_.getString(1)).toSeq == Seq("x", "y", "z"))
    assert(rows.map(r => Option(r.getString(2))).toSeq == Seq(None, None, Some("new")))

    spark.sql("ALTER TABLE gddl.db.a DROP COLUMN note")
    assert(!spark.table("gddl.db.a").columns.contains("note"))
  }

  test("TIMESTAMP AS OF resolves by commit time; DROP TABLE works") {
    registerCatalog("gtt")
    spark.sql("CREATE TABLE gtt.db.h (id BIGINT)")
    spark.sql("INSERT INTO gtt.db.h VALUES (1), (2)")
    Thread.sleep(5)
    val midMs = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("INSERT INTO gtt.db.h VALUES (3)")
    assert(spark.sql("SELECT count(*) FROM gtt.db.h").head.getLong(0) == 3)
    val mid = java.time.Instant.ofEpochMilli(midMs).toString
    assert(spark.sql(s"SELECT count(*) FROM gtt.db.h TIMESTAMP AS OF '$mid'")
      .head.getLong(0) == 2)
    assert(spark.sql("SHOW TABLES IN gtt.db").collect().map(_.getString(1)).contains("h"))
    spark.sql("DROP TABLE gtt.db.h")
    assert(spark.sql("SHOW TABLES IN gtt.db").collect().isEmpty)
  }

  test("SQL UPDATE and MERGE INTO route through native DML") {
    registerCatalog("gdml")
    spark.sql("CREATE TABLE gdml.db.m (id BIGINT, cat STRING, v DOUBLE)")
    spark.sql("INSERT INTO gdml.db.m VALUES (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0), (4, 'c', 4.0)")

    // UPDATE with an expression condition beyond the filter-translatable set
    spark.sql("UPDATE gdml.db.m SET v = v * 10 WHERE id % 2 = 0")
    assert(spark.sql("SELECT sum(v) FROM gdml.db.m").head.getDouble(0) == 1.0 + 20.0 + 3.0 + 40.0)

    // MERGE: matched update, matched delete, not-matched insert
    spark.sql("""CREATE OR REPLACE TEMP VIEW m_src AS
      SELECT * FROM VALUES (1, 'a', 100.0), (3, 'b', 0.0), (9, 'z', 9.0) AS s(id, cat, v)""")
    spark.sql("""MERGE INTO gdml.db.m t USING m_src s ON t.id = s.id
      WHEN MATCHED AND s.v = 0.0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v + t.v
      WHEN NOT MATCHED THEN INSERT (id, cat, v) VALUES (s.id, s.cat, s.v)""")
    val rows = spark.sql("SELECT id, v FROM gdml.db.m ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 101.0), (2L, 20.0), (4L, 40.0), (9L, 9.0)))

    // SQL DELETE with untranslatable condition also works via the command
    // (v+1 > 40 kills v=101.0 and v=40.0, leaving v=20.0 and v=9.0)
    spark.sql("DELETE FROM gdml.db.m WHERE v + 1 > 40")
    assert(spark.sql("SELECT count(*) FROM gdml.db.m").head.getLong(0) == 2)
  }

  test("concurrent SQL INSERTs both land through OCC retry") {
    registerCatalog("gconc")
    spark.sql("CREATE TABLE gconc.db.c (id BIGINT)")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { i =>
      new Thread(() =>
        try spark.sql(s"INSERT INTO gconc.db.c SELECT id FROM range(${i * 100}, ${i * 100 + 100})")
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent SQL inserts failed: ${Option(errs.peek()).map(_.getMessage)}")
    assert(spark.sql("SELECT count(*), count(DISTINCT id) FROM gconc.db.c").head.getLong(0) == 400)
  }

  test("self-referencing INSERT reads the pre-insert snapshot (no Halloween problem)") {
    registerCatalog("gself")
    spark.sql("CREATE TABLE gself.db.s2 (id BIGINT)")
    spark.sql("INSERT INTO gself.db.s2 VALUES (1), (2), (3)")
    spark.sql("INSERT INTO gself.db.s2 SELECT id + 10 FROM gself.db.s2")
    assert(spark.sql("SELECT count(*) FROM gself.db.s2").head.getLong(0) == 6)
    assert(spark.sql("SELECT sum(id) FROM gself.db.s2").head.getLong(0) == 6 + 36)
  }

  test("DESCRIBE shows the hidden-partitioning spec and properties") {
    registerCatalog("gdesc")
    spark.sql("""CREATE TABLE gdesc.db.d (id BIGINT, ts TIMESTAMP_NTZ, cat STRING)
      PARTITIONED BY (days(ts), bucket(4, id)) TBLPROPERTIES ('target-file-size'='1048576')""")
    val descStr = spark.sql("DESCRIBE EXTENDED gdesc.db.d").collect().mkString("\n")
    assert(descStr.contains("days(ts)"), s"day transform missing from DESCRIBE:\n$descStr")
    assert(descStr.contains("bucket(4, id)"), s"bucket transform missing:\n$descStr")
    assert(descStr.contains("target-file-size"), s"properties missing:\n$descStr")
  }

  test("MERGE: conditional NOT MATCHED INSERT and NOT MATCHED BY SOURCE actions") {
    registerCatalog("gbs")
    spark.sql("CREATE TABLE gbs.db.b (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gbs.db.b VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    spark.sql("""CREATE OR REPLACE TEMP VIEW bs_src AS
      SELECT * FROM VALUES (1, 10.0), (8, 8.0), (9, 0.5) AS s(id, v)""")
    spark.sql("""MERGE INTO gbs.db.b t USING bs_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED AND s.v > 1.0 THEN INSERT (id, v) VALUES (s.id, s.v)
      WHEN NOT MATCHED BY SOURCE AND t.id = 3 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -t.v""")
    val rows = spark.sql("SELECT id, v FROM gbs.db.b ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // 1 matched-updated; 2 untouched-by-source -> negated; 3 deleted;
    // 8 inserted (v>1); 9 NOT inserted (conditional insert filtered it)
    assert(rows == Seq((1L, 10.0), (2L, -2.0), (8L, 8.0)))
  }

  test("substitution reaches graft relations inside subqueries") {
    registerCatalog("gsub")
    spark.sql("CREATE TABLE gsub.db.s (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gsub.db.s VALUES (1, 1.0), (2, 2.0), (3, 9.0)")
    val df = spark.sql(
      "SELECT id FROM gsub.db.s WHERE v > (SELECT avg(v) FROM gsub.db.s)")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("RowDataSourceScan"), s"subquery fell back to the V1 row path:\n$plan")
  }

  test("DSv1 format(graft) reads are substituted too: codegen path, no df.rdd boundary") {
    val wh = tempWarehouse()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType)))
    val df = spark.createDataFrame(
      Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "b")).asJava, schema)
    df.write.format("graft").option("warehouse", wh).option("table", "db.v1").save()
    val back = spark.read.format("graft")
      .option("warehouse", wh).option("table", "db.v1").load()
      .filter("cat = 'b'").select("id")
    assert(back.collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("graft-dpp") && plan.contains("ColumnarToRow"),
      s"format(graft) must read through the columnar DSv2 scan:\n$plan")
    assert(!plan.contains("RowDataSourceScan"), s"still on the V1 row path:\n$plan")
    assert(plan.contains("EqualTo(cat,b)"), s"no parquet pushdown:\n$plan")
  }

  test("a fresh session installs the substitution on first use: MOR reads via catalog and format(graft)") {
    // a MOR snapshot is the one shape the DSv2 scan refuses; its fallback
    // scan cannot execute without the substitution rule, so correct rows in
    // a brand-new session show that each entry point installs the rule
    val wh = tempWarehouse()
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gnew", classOf[GraftTableCatalog].getName)
    s2.conf.set("spark.sql.catalog.gnew.warehouse", wh)
    s2.sql("CREATE TABLE gnew.db.m (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('enable-iceberg-merge-on-read'='true')")
    s2.sql("INSERT INTO gnew.db.m SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)")
    s2.sql("DELETE FROM gnew.db.m WHERE id < 10")
    assert(s2.sql("SELECT count(*) FROM gnew.db.m.files WHERE content <> 'data'")
      .head().getLong(0) > 0, "the DELETE must have written position-delete files")
    assert(s2.sql("SELECT count(*), sum(v) FROM gnew.db.m WHERE v >= 0").head() ==
      Row(90L, (10 until 100).sum.toDouble))
    val s3 = spark.newSession()
    val viaSource = s3.read.format("graft")
      .option("warehouse", wh).option("table", "db.m").load()
      .filter("v >= 0")
    assert(viaSource.collect().map(_.getLong(0)).sorted.toSeq == (10L until 100L))
  }

  test("CALL rewrite_manifests on a one-manifest table keeps its manifest and returns (1, 1)") {
    val wh = registerCatalog("grm1")
    spark.sql("CREATE TABLE grm1.db.one (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO grm1.db.one SELECT id, CAST(id AS DOUBLE) FROM range(10)")
    val t = new graft.catalog.GraftCatalog(wh).loadTable("db.one")
    def manifestPaths() = t.manifestsDF(spark).collect().map(_.getString(0)).toSeq
    val before = manifestPaths()
    val rm = spark.sql("CALL grm1.system.rewrite_manifests('db.one')").head()
    assert((rm.getInt(0), rm.getInt(1)) == ((1, 1)))
    assert(manifestPaths() == before)
    assert(spark.sql("SELECT count(*) FROM grm1.db.one").head.getLong(0) == 10)
  }

  test("CREATE OR REPLACE ... TBLPROPERTIES AS SELECT writes under the new properties") {
    val wh = registerCatalog("grepl")
    spark.sql("CREATE TABLE grepl.db.r (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO grepl.db.r SELECT id, CAST(id AS DOUBLE) FROM range(5)")
    spark.sql("""CREATE OR REPLACE TABLE grepl.db.r
      |TBLPROPERTIES ('write.bloom-columns' = 'id')
      |AS SELECT id, CAST(id AS DOUBLE) AS v FROM range(20)""".stripMargin)
    val t = new graft.catalog.GraftCatalog(wh).loadTable("db.r")
    val idField = graft.format.GraftSchema.fieldId(t.schema("id"))
    val files = t.scan().dataFiles
    assert(files.nonEmpty)
    assert(files.forall(_.stats.get(idField).exists(_.bloom.isDefined)),
      "the replacement data must carry a bloom on id")
    assert(t.properties.get("write.bloom-columns").contains("id"))
  }

  test("CALL procedures: the SQL maintenance surface (docs/03:184-206, docs/10)") {
    registerCatalog("gproc")
    spark.sql("CREATE TABLE gproc.db.m (id BIGINT, cat STRING) PARTITIONED BY (cat)")
    (1 to 4).foreach(i => spark.sql(s"INSERT INTO gproc.db.m VALUES ($i, 'c${i % 2}')"))

    val c = spark.sql(
      "CALL gproc.system.compact(table => 'db.m', target_file_size_bytes => 134217728)").head()
    assert(c.getInt(0) >= c.getInt(1), "compaction must not increase file count")
    assert(c.getBoolean(2), "no deletes should remain")

    val rm = spark.sql("CALL gproc.system.rewrite_manifests('db.m')").head()
    assert(rm.getInt(1) >= 1)

    // positional + named args, default retain_last
    val ex = spark.sql(
      s"CALL gproc.system.expire_snapshots('db.m', ${System.currentTimeMillis() + 1000})").head()
    assert(ex.getInt(0) >= 3, s"expected >=3 expired snapshots, got ${ex.getInt(0)}")

    val orph = spark.sql("CALL gproc.system.remove_orphan_files(table => 'db.m')").head()
    assert(orph.getInt(0) == 0, "fresh table must have no orphans")

    val h = spark.sql("CALL gproc.system.health('db.m')").head()
    assert(h.getLong(0) >= 1 && h.getLong(5) == 4, s"health mismatch: $h")

    assert(spark.sql("SELECT count(*) FROM gproc.db.m").head.getLong(0) == 4,
      "maintenance must not change table contents")
  }

  test("CALL rollback restores a previous snapshot by id") {
    registerCatalog("grb")
    spark.sql("CREATE TABLE grb.db.r (id BIGINT)")
    spark.sql("INSERT INTO grb.db.r VALUES (1), (2)")
    spark.sql("INSERT INTO grb.db.r VALUES (3)")
    val first = spark.sql("SELECT min(snapshot_id) FROM grb.db.r.snapshots").head.getLong(0)
    spark.sql(s"CALL grb.system.rollback('db.r', $first)")
    assert(spark.sql("SELECT count(*) FROM grb.db.r").head.getLong(0) == 2)
  }

  test("metadata tables resolve as SQL suffixes: snapshots/manifests/files") {
    registerCatalog("gmeta")
    spark.sql("CREATE TABLE gmeta.db.t2 (id BIGINT, cat STRING) PARTITIONED BY (cat)")
    spark.sql("INSERT INTO gmeta.db.t2 VALUES (1, 'a'), (2, 'b')")
    spark.sql("DELETE FROM gmeta.db.t2 WHERE cat = 'a'")

    val snaps = spark.sql(
      "SELECT operation FROM gmeta.db.t2.snapshots ORDER BY committed_at, snapshot_id")
      .collect().map(_.getString(0))
    assert(snaps.head == "append" && snaps.length >= 2, s"got ${snaps.toSeq}")

    assert(spark.sql("SELECT count(*) FROM gmeta.db.t2.manifests").head.getLong(0) >= 1)
    val files = spark.sql(
      "SELECT file_path, record_count FROM gmeta.db.t2.files WHERE content = 'data'").collect()
    assert(files.nonEmpty && files.forall(_.getLong(1) >= 1))
    // plan shape: metadata reads are local, no Spark jobs over data files
    val plan = spark.sql("SELECT * FROM gmeta.db.t2.files").queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), s"metadata table should be a LocalScan:\n$plan")

    // partitions: per-partition rollup agrees with the live data (the COW
    // delete above removed partition 'a' entirely)
    val parts = spark.sql(
      """SELECT partition['cat'], record_count, file_count
        |FROM gmeta.db.t2.partitions WHERE file_count > 0
        |ORDER BY 1""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(parts.toSeq == Seq(("b", 1L, 1)), s"got ${parts.toSeq}")
  }

  test("VERSION AS OF resolves ref NAMES: branches live-schema, tags pinned") {
    val wh = registerCatalog("gref")
    spark.sql("CREATE TABLE gref.db.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gref.db.t VALUES (1, 'a'), (2, 'b')")
    val cat = new graft.catalog.GraftCatalog(wh)
    val t = cat.loadTable("db.t")
    val snap = t.meta.currentSnapshotId.get
    t.setRef("pin", snap)
    t.setRef("dev", snap, isBranch = true)
    spark.sql("INSERT INTO gref.db.t VALUES (3, 'c')")
    assert(spark.sql("SELECT count(*) FROM gref.db.t VERSION AS OF 'pin'").head.getLong(0) == 2)
    t.addColumn("note", StringType)
    assert(spark.sql("SELECT * FROM gref.db.t VERSION AS OF 'dev'")
      .columns.contains("note"), "branch ref reads the live schema")
    assert(!spark.sql("SELECT * FROM gref.db.t VERSION AS OF 'pin'")
      .columns.contains("note"), "tag ref keeps its pinned schema")
    val e = intercept[Exception](
      spark.sql("SELECT * FROM gref.db.t VERSION AS OF 'nope'").collect())
    assert(e.getMessage.contains("neither a snapshot id"), e.getMessage)

    // the refs metadata table lists every named ref plus the implicit main
    // head; the tag stays pinned at its snapshot while main moved past it
    val refs = spark.sql("SELECT name, type, snapshot_id FROM gref.db.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.map(x => (x._1, x._2)).toSeq ==
      Seq(("dev", "branch"), ("main", "branch"), ("pin", "tag")), s"got ${refs.toSeq}")
    assert(refs.collect { case ("pin", _, id) => id }.head == snap, "tag must stay pinned")
    assert(refs.collect { case ("main", _, id) => id }.head != snap, "main moved past the pin")
  }

  test("SQL WAP: set_ref(is_branch => true) creates a publishable branch") {
    registerCatalog("gwap2")
    spark.sql("CREATE TABLE gwap2.db.t (id BIGINT)")
    spark.sql("INSERT INTO gwap2.db.t VALUES (1), (2)")
    val snap = spark.sql("SELECT snapshot_id FROM gwap2.db.t.snapshots ORDER BY committed_at DESC")
      .head.getLong(0)
    spark.sql(s"CALL gwap2.system.set_ref(table => 'db.t', ref => 'stage', " +
      s"snapshot_id => ${snap}L, is_branch => true)")
    // the branch is publishable (a tag would be refused here)
    val out = spark.sql("CALL gwap2.system.publish(table => 'db.t', branch => 'stage')")
    assert(out.columns.toSeq == Seq("current_snapshot_id"))
    // and a TAG created without the flag still refuses to publish
    spark.sql(s"CALL gwap2.system.set_ref(table => 'db.t', ref => 'pin', snapshot_id => ${snap}L)")
    val e = intercept[Exception](
      spark.sql("CALL gwap2.system.publish(table => 'db.t', branch => 'pin')").collect())
    assert(e.getMessage.contains("only branches publish"), e.getMessage)
  }

  test("DROP NAMESPACE without CASCADE refuses when a stored view remains") {
    val wh = registerCatalog("gviewns")
    spark.sql("CREATE DATABASE gviewns.vdb")
    val cat = new graft.catalog.GraftCatalog(wh)
    new graft.catalog.GraftViews(cat).createView("vdb.v1", "SELECT 1", Nil)
    val e = intercept[Exception](spark.sql("DROP DATABASE gviewns.vdb"))
    assert(e.getMessage.contains("not empty"), e.getMessage)
    spark.sql("DROP DATABASE gviewns.vdb CASCADE") // explicit cascade may destroy
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(wh, "vdb")))
  }

  test("multi-change SQL ALTER commits once; COUNT(*) DSv1 fallback projects zero columns") {
    val wh = registerCatalog("galter")
    spark.sql("CREATE TABLE galter.db.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO galter.db.t VALUES (1, 'x')")
    val cat = new graft.catalog.GraftCatalog(wh)
    val v0 = cat.currentVersion("db.t")
    spark.sql("ALTER TABLE galter.db.t ADD COLUMNS (a INT, b INT, c STRING)")
    assert(cat.currentVersion("db.t") == v0 + 1,
      "three added columns must land as ONE metadata commit")
    assert(spark.sql("SELECT * FROM galter.db.t").columns.toSeq ==
      Seq("id", "v", "a", "b", "c"))
    // AFTER placement must be honored, not silently appended at the end
    spark.sql("ALTER TABLE galter.db.t ADD COLUMN mid STRING AFTER id")
    assert(spark.sql("SELECT * FROM galter.db.t").columns.toSeq ==
      Seq("id", "mid", "v", "a", "b", "c"))
  }

  test("CTAS from a Graft table gets fresh, distinct field IDs; ADD COLUMN reads its own values") {
    val wh = registerCatalog("gctas")
    spark.sql("CREATE TABLE gctas.db.s (x BIGINT, y STRING, z BIGINT)")
    spark.sql("INSERT INTO gctas.db.s VALUES (1, 'a', 100), (2, 'b', 200)")
    // z and x arrive carrying the source's IDs 3 and 1, next to an ID-less w
    spark.sql("CREATE TABLE gctas.db.t AS SELECT z, concat('w', y) AS w, x FROM gctas.db.s")
    spark.sql("ALTER TABLE gctas.db.t ADD COLUMN n1 BIGINT")
    spark.sql("ALTER TABLE gctas.db.t ADD COLUMN n2 BIGINT")
    spark.sql("INSERT INTO gctas.db.t VALUES (300, 'wc', 3, 30, 3000)")
    val m = new graft.catalog.GraftCatalog(wh).loadTable("db.t").meta
    val ids = m.currentSchema.fields.map(graft.format.GraftSchema.fieldId).toSeq
    assert(ids.distinct.size == ids.size, s"duplicate field IDs $ids")
    assert(m.lastColumnId >= ids.max, s"last-column-id ${m.lastColumnId} below ${ids.max}")
    val rows = spark.sql("SELECT z, w, x, n1, n2 FROM gctas.db.t ORDER BY x").collect()
      .map(_.toSeq).toSeq
    assert(rows == Seq(Seq(100L, "wa", 1L, null, null), Seq(200L, "wb", 2L, null, null),
      Seq(300L, "wc", 3L, 30L, 3000L)))
  }
}
