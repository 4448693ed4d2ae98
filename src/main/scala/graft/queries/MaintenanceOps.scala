package graft.queries

import graft.format.{Predicate, Transform}
import graft.queries.TableOps.{Split, aggByType, aggByTypeSqlFrom, dsum, eventsTable, newCatalog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

/** Oracle-gated maintenance / metadata / lifecycle operators (SURVEY.md §2:
  * O2-O6, M2-M3, S10, S12, T2, D7, D9, D12, D17, refs) in the g_compact
  * style: each query builds a Graft table, runs the operator, and returns
  * final table state plus invariant flags a plain-SQL oracle reproduces —
  * so the driver's DuckDB gate, not just ScalaTest, certifies them.
  */
object MaintenanceOps {

  /** One warehouse per JVM for the 'graft_sql' catalog NAME: Spark caches
    * catalog plugins per session (initialize reads the warehouse conf
    * ONCE), so every file registering 'graft_sql' must point at THIS
    * value — a second warehouse under the same name would silently win or
    * lose depending on which query ran first. Tables get unique names per
    * invocation instead. Shared with [[GovernanceOps]].
    */
  private[queries] lazy val sqlWarehouse =
    TableOps.newPinnedTempDir("graft-sqlwh")

  /** Register the shared graft_sql DSv2 catalog on this session. ONE home
    * for the (class, warehouse) pair: the former seven copy-pasted blocks
    * already produced one real order-dependence bug when two files
    * registered the name with different warehouses.
    */
  private[queries] def registerSqlCatalog(s: SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graft_sql",
      classOf[graft.sources.GraftTableCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_sql.warehouse", sqlWarehouse)
  }

  val entries: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(

    // Missing #1 / DSv2: the reference's user surface is SQL (docs/08:83-141,
    // docs/12:94-126) — CREATE TABLE / INSERT INTO / DELETE FROM / SELECT /
    // VERSION AS OF all through spark.sql against the Graft TableCatalog.
    // The read is the DSv2 batch scan (vectorized parquet), and the
    // time-travel count proves VERSION AS OF resolves the pre-DELETE state.
    ("g_sql_dml",
      (s: SparkSession, d: String) => {
        registerSqlCatalog(s)
        val tbl = s"ev_${java.util.UUID.randomUUID().toString.take(8)}"
        FixtureClock.timed {
          Tables.events(s, d).createOrReplaceTempView("events_src")
          s.sql(s"""CREATE TABLE graft_sql.db.$tbl (
            |  event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,
            |  event_type STRING, value DOUBLE, props STRING)
            |PARTITIONED BY (days(ts))""".stripMargin)
          s.sql(s"INSERT INTO graft_sql.db.$tbl SELECT * FROM events_src")
        }
        s.sql(s"DELETE FROM graft_sql.db.$tbl WHERE event_type = 'click'")
        s.sql(s"UPDATE graft_sql.db.$tbl SET value = value * 2 WHERE event_type = 'view'")
        // MERGE: zero out purchases, insert a synthetic sentinel row
        s.sql("""SELECT CAST(event_id AS BIGINT) AS event_id, event_type
                |FROM events_src WHERE event_type = 'purchase'
                |UNION ALL SELECT CAST(-1 AS BIGINT), 'sentinel'""".stripMargin)
          .createOrReplaceTempView("merge_src")
        s.sql(
          s"""MERGE INTO graft_sql.db.$tbl t USING merge_src s ON t.event_id = s.event_id
             |WHEN MATCHED THEN UPDATE SET value = 0.0
             |WHEN NOT MATCHED THEN INSERT (event_id, ts, user_id, event_type, value, props)
             |  VALUES (s.event_id, NULL, NULL, s.event_type, 0.0, NULL)""".stripMargin)
        val pre = s.sql(s"SELECT count(*) AS c FROM graft_sql.db.$tbl VERSION AS OF 1")
          .head.getLong(0)
        s.sql(
          s"""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM graft_sql.db.$tbl GROUP BY event_type""".stripMargin)
          .withColumn("predelete_rows", lit(pre))
          .orderBy("event_type")
      },
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value * 2
        |                     WHEN event_type = 'purchase' THEN 0.0
        |                     ELSE value END AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  (SELECT count(*) FROM events) AS predelete_rows
        |FROM events WHERE event_type <> 'click'
        |GROUP BY 1
        |UNION ALL
        |SELECT 'sentinel', CAST(1 AS BIGINT), 0.0, (SELECT count(*) FROM events)
        |ORDER BY 1""".stripMargin),

    // Missing #2 (round-2 verdict): the SQL maintenance surface. The
    // reference specifies compaction / snapshot expiry / manifest rewrite /
    // orphan cleanup as SQL statements (docs/03:184-206); Spark's idiomatic
    // form is DSv2 procedures — CALL <cat>.system.<op>(...) — plus
    // INFORMATION_SCHEMA-style metadata tables as SQL name suffixes
    // (docs/03:173-180). Everything here goes through spark.sql only.
    ("g_sql_maintenance",
      (s: SparkSession, d: String) => {
        registerSqlCatalog(s)
        val tbl = s"mt_${java.util.UUID.randomUUID().toString.take(8)}"
        FixtureClock.timed {
          Tables.events(s, d).createOrReplaceTempView("events_src")
          s.sql(s"""CREATE TABLE graft_sql.db.$tbl (
            |  event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,
            |  event_type STRING, value DOUBLE, props STRING)
            |PARTITIONED BY (days(ts))
            |TBLPROPERTIES ('enable-iceberg-merge-on-read' = 'true')""".stripMargin)
          (0 until 3).foreach(i => s.sql(
            s"INSERT INTO graft_sql.db.$tbl SELECT * FROM events_src WHERE event_id % 3 = $i"))
          s.sql(s"DELETE FROM graft_sql.db.$tbl WHERE event_type = 'click'") // MOR deletes
        }
        def dataFiles(): Long = s.sql(
          s"SELECT count(*) FROM graft_sql.db.$tbl.files WHERE content = 'data'").head.getLong(0)
        val before = dataFiles()
        val c = s.sql(s"CALL graft_sql.system.compact(table => 'db.$tbl')").head()
        s.sql(s"CALL graft_sql.system.rewrite_manifests('db.$tbl')").collect()
        s.sql(s"CALL graft_sql.system.expire_snapshots('db.$tbl', " +
          s"${System.currentTimeMillis() + 100000})").collect()
        val orph = s.sql(s"CALL graft_sql.system.remove_orphan_files('db.$tbl')").head()
        val snapsLeft = s.sql(s"SELECT count(*) FROM graft_sql.db.$tbl.snapshots")
          .head.getLong(0)
        s.sql(
          s"""SELECT event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM graft_sql.db.$tbl GROUP BY event_type""".stripMargin)
          .withColumn("files_reduced", lit(dataFiles() < before))
          .withColumn("deletes_folded", lit(c.getBoolean(2)))
          .withColumn("expired_to_one", lit(snapsLeft == 1L))
          .withColumn("orphans_clean", lit(orph.getInt(0) == 0))
          .orderBy("event_type")
      },
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  true AS files_reduced, true AS deletes_folded,
        |  true AS expired_to_one, true AS orphans_clean
        |FROM events WHERE event_type <> 'click'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // D4 realized as protocol (docs/04:80-93): an ICEBERG_REST catalog
    // integration over a real HTTP loopback — oauth client-credentials,
    // namespace/table discovery, LoadTableResult with inline Iceberg v2
    // metadata — and an external-style read planned purely from the REST
    // response (Avro manifests + parquet from shared storage, position
    // deletes applied). Catalog plane is metadata-scale; data plane never
    // crosses it.
    ("g_rest_catalog",
      (s: SparkSession, d: String) => {
        val t = eventsTable(s, d, partitioned = false,
          props = Map("enable-iceberg-merge-on-read" -> "true"))
        t.delete(s, Seq(Predicate.Eq("event_type", "click"))) // MOR deletes
        val server = new graft.interop.RestCatalog.Server(
          t.catalog, s, "svc", "s3cret").start()
        try {
          val client = new graft.interop.RestCatalog.Client(server.uri, "svc", "s3cret")
          val discovered = client.tables("db")
          aggByType(client.readTable(s, "db", "events"))
            .withColumn("discovered", lit(discovered == Seq("events")))
        } finally server.stop()
      },
      aggByTypeSqlFrom.format("events")
        .replace("FROM events", ",\n  true AS discovered\nFROM events WHERE event_type <> 'click'")),

    // O3: EXPIRE SNAPSHOTS (docs/05:101-119, docs/10:53-78) — history is
    // bounded to the current snapshot, time travel to the expired snapshot
    // fails, and the files only it referenced are physically deleted.
    ("g_expire_snapshots",
      (s: SparkSession, d: String) => {
        val t = eventsTable(s, d, partitioned = false)
        val snap1 = t.meta.currentSnapshotId.get
        t.delete(s, Seq(Predicate.Eq("event_type", "click")))
        val curFiles = t.scan().dataFiles.map(_.path).toSet
        val doomed = t.atSnapshot(snap1).dataFiles.map(_.path)
          .filterNot(curFiles)
          .map(rel => Paths.get(graft.format.GraftUtil.resolve(t.location, rel)))
        t.expireSnapshots(System.currentTimeMillis() + 1000)
        val ttFails =
          try { t.atSnapshot(snap1); false } catch { case _: RuntimeException => true }
        aggByType(t.toDF(s))
          .withColumn("history_bounded", lit(t.meta.snapshots.size == 1))
          .withColumn("expired_unreachable", lit(ttFails))
          .withColumn("files_gc", lit(doomed.nonEmpty && doomed.forall(p => !Files.exists(p))))
      },
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  true AS history_bounded, true AS expired_unreachable, true AS files_gc
        |FROM events WHERE event_type <> 'click'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // T1 × O3: statementId replay SURVIVES snapshot expiry — the
    // crash-resume window of a streaming crawl (crash, downtime past the
    // data-retention horizon, maintenance expires the micro-batch's
    // snapshot, stream resumes and replays the batch). The statement log
    // is a ledger on its OWN retention horizon (statement-log.retain-last;
    // expiry used to prune it with the snapshots, making this replay a
    // silent double-ingest), so the replayed append is a table-side NO-OP:
    // no new rows, no new snapshot, the current snapshot returned as the
    // stand-in result. Data retention semantics (docs/05:88-119) are
    // untouched — only the ledger outlives the snapshot.
    ("g_replay_after_expiry",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val cat = newCatalog()
        val t = cat.createTable("db.ev_replay", df.schema)
        val early = df.filter(col("ts") < lit(Split))
        t.append(s, early, statementId = Some("crawl-batch-0"))
        t.append(s, df.filter(col("ts") >= lit(Split)),
          statementId = Some("crawl-batch-1"))
        t.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
        val entrySurvived = t.meta.statementLog.exists(_._1 == "crawl-batch-0")
        val (rowsBefore, snapsBefore) = (t.toDF(s).count(), t.meta.snapshots.size)
        val replayed = t.append(s, early, statementId = Some("crawl-batch-0"))
        val noop = t.toDF(s).count() == rowsBefore &&
          t.meta.snapshots.size == snapsBefore &&
          replayed.snapshotId == t.meta.currentSnapshotId.get
        aggByType(t.toDF(s))
          .withColumn("entry_survived", lit(entrySurvived))
          .withColumn("replay_noop", lit(noop))
      },
      aggByTypeSqlFrom.format("events").replace("AS sum_value",
        "AS sum_value,\n  true AS entry_survived, true AS replay_noop")),

    // O4: REMOVE ORPHAN FILES (docs/10:97-111) — a planted unreferenced file
    // is removed, nothing referenced is touched (contents unchanged).
    ("g_remove_orphans",
      (s: SparkSession, d: String) => {
        val t = eventsTable(s, d, partitioned = false)
        val orphan = Paths.get(t.location, "data", "orphan-plant.parquet")
        Files.write(orphan, Array[Byte](0x4f, 0x52, 0x50))
        val removed = t.removeOrphanFiles(System.currentTimeMillis() + 1000)
        aggByType(t.toDF(s))
          .withColumn("orphan_removed",
            lit(removed.exists(_.endsWith("orphan-plant.parquet")) && !Files.exists(orphan)))
          .withColumn("nothing_else_removed", lit(removed.size == 1))
      },
      aggByTypeSqlFrom.format("events").replace("AS sum_value",
        "AS sum_value,\n  true AS orphan_removed, true AS nothing_else_removed")),

    // S12: UNDROP (docs/01:80) — drop tombstones the pointer, undrop
    // restores it, contents fully intact.
    ("g_undrop",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val cat = newCatalog()
        val t = cat.createTableAs(s, "db.ev_undrop", df)
        cat.dropTable("db.ev_undrop")
        val gone = !cat.tableExists("db.ev_undrop")
        val t2 = cat.undropTable("db.ev_undrop")
        aggByType(t2.toDF(s)).withColumn("was_dropped", lit(gone))
      },
      aggByTypeSqlFrom.format("events").replace("AS sum_value",
        "AS sum_value,\n  true AS was_dropped")),

    // S11 refs: a named ref pins a snapshot (docs/05:141-171) — the branch
    // read returns the pinned state while main sees later appends.
    ("g_branch_ref",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val cat = newCatalog()
        val t = cat.createTable("db.ev_branch", df.schema)
        t.append(s, df.filter(col("ts") < lit(Split)))
        t.setRef("audit", t.meta.currentSnapshotId.get)
        t.append(s, df.filter(col("ts") >= lit(Split)))
        aggByType(t.atRef("audit").toDF(s))
          .withColumn("main_rows", lit(t.toDF(s).count()))
      },
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  (SELECT count(*) FROM events) AS main_rows
        |FROM events WHERE ts < TIMESTAMP '2024-01-15'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // D17: partition evolution (docs/07 spec evolution) — epoch 1 partitioned
    // by identity(event_type), epoch 2 by day(ts); a filter on either
    // dimension still prunes files (old epoch via partition tuples, the
    // other epoch via column stats).
    ("g_partition_evolution",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val cat = newCatalog()
        val t = cat.createTable("db.ev_pe", df.schema,
          partitionBy = Seq("event_type" -> Transform.Identity))
        t.append(s, df.filter(col("ts") < lit(Split)))
        t.evolvePartitionSpec(Seq("ts" -> Transform.Day))
        t.append(s, df.filter(col("ts") >= lit(Split)))
        val scType = t.scan(Predicate.Eq("event_type", "click"))
        scType.toDF(s).count() // plan + record metrics
        val scDay = t.scan(
          Predicate.GtEq("ts", LocalDateTime.of(2024, 1, 20, 0, 0)),
          Predicate.Lt("ts", LocalDateTime.of(2024, 1, 21, 0, 0)))
        scDay.toDF(s).count()
        aggByType(t.toDF(s))
          .withColumn("type_filter_pruned",
            lit(scType.metrics.filesScanned < scType.metrics.filesTotal))
          .withColumn("day_filter_pruned",
            lit(scDay.metrics.filesScanned < scDay.metrics.filesTotal))
      },
      aggByTypeSqlFrom.format("events").replace("AS sum_value",
        "AS sum_value,\n  true AS type_filter_pruned, true AS day_filter_pruned")),

    // O5 + O6: health metrics drive auto-maintenance (docs/10:113-139,
    // docs/01:149-168) — small files + MOR deletes flag compaction; after
    // maintain() the table is healthy and the delete files are folded.
    ("g_health_maintain",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val cat = newCatalog()
        val t = cat.createTable("db.ev_health", df.schema,
          properties = Map("enable-iceberg-merge-on-read" -> "true"))
        (0 until 3).foreach(i => t.append(s, df.filter(col("event_id") % 3 === i)))
        t.delete(s, Seq(Predicate.Eq("event_type", "error")))
        val h0 = t.health()
        t.maintain(s)
        val h1 = t.health()
        aggByType(t.toDF(s))
          .withColumn("needed_compaction", lit(h0.needsCompaction))
          .withColumn("deletes_present_before", lit(h0.deleteFileCount > 0))
          .withColumn("healthy_after", lit(h1.deleteFileCount == 0 && !h1.needsCompaction))
          .withColumn("records_tracked", lit(h1.totalRecords))
      },
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  true AS needed_compaction, true AS deletes_present_before,
        |  true AS healthy_after,
        |  (SELECT count(*) FROM events WHERE event_type <> 'error') AS records_tracked
        |FROM events WHERE event_type <> 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // T2: optimistic concurrency — two concurrent appends both land through
    // CAS + retry (docs/08:57-69); nothing is lost, exactly two commits.
    ("g_occ_concurrent",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val cat = newCatalog()
        val t = cat.createTable("db.ev_occ", df.schema)
        val halves = Seq(df.filter(col("event_id") % 2 === 0), df.filter(col("event_id") % 2 === 1))
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = halves.map(h => new Thread(() =>
          try t.append(s, h) catch { case e: Throwable => errs.add(e) }))
        threads.foreach(_.start())
        threads.foreach(_.join())
        if (!errs.isEmpty) throw errs.peek()
        aggByType(t.toDF(s)).withColumn("commits", lit(t.meta.snapshots.size.toLong))
      },
      aggByTypeSqlFrom.format("events").replace("AS sum_value",
        "AS sum_value,\n  CAST(2 AS BIGINT) AS commits")),

    // M2 + M3: manifests/files metadata tables agree with each other and
    // with the data (docs/03:176-180) after an append + COW delete.
    ("g_meta_tables",
      (s: SparkSession, d: String) => {
        val t = eventsTable(s, d)
        t.delete(s, Seq(Predicate.Eq("event_type", "click")))
        val files = t.filesDF(s).filter(col("content") === "data")
        val mans = t.manifestsDF(s).filter(col("content") === "data")
        val filesRecords = files.agg(sum("record_count")).head.getLong(0)
        val manRecords = mans.agg(sum("record_count")).head.getLong(0)
        val countsAgree = files.count() == mans.agg(sum("file_count")).head.getLong(0)
        s.range(1).select(
          lit(filesRecords).as("files_records"),
          lit(manRecords).as("manifest_records"),
          lit(countsAgree).as("counts_agree"))
      },
      """SELECT (SELECT count(*) FROM events WHERE event_type <> 'click') AS files_records,
        |  (SELECT count(*) FROM events WHERE event_type <> 'click') AS manifest_records,
        |  true AS counts_agree""".stripMargin),

    // M3b: the `partitions` summary metadata table tracks MOR burden and
    // compaction: after a MOR delete of one day's error rows, the table
    // reports a position-delete file while record_count stays PHYSICAL
    // (full); after whole-table compaction the deletes fold into the
    // rewrite (record_count drops to live rows), every partition coalesces
    // to ONE file, and no delete files remain. The deleted day is the day
    // with the MOST error rows, derived from the data on both engines
    // (ties by day), so the delete can never be empty — the gate cannot go
    // vacuous at any SF that has a single error row.
    ("g_partitions_meta",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val t = FixtureClock.timed { // build is fixture; the DML + meta
          val cat = newCatalog()     // reads below are the operator
          val tbl = cat.createTable("db.ev_pm", df.schema,
            partitionBy = Seq("ts" -> Transform.Day),
            properties = Map("enable-iceberg-merge-on-read" -> "true"))
          tbl.append(s, df)
          tbl
        }
        // one-row driver read: the day with the most error rows
        val delDay = df.filter(col("event_type") === "error")
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("day")).limit(1)
          .head.getDate(0).toLocalDate
        t.deleteWhere(s,
          to_date(col("ts")) === lit(delDay.toString) && col("event_type") === "error",
          Seq(Predicate.GtEq("ts", delDay.atStartOfDay),
            Predicate.Lt("ts", delDay.plusDays(1).atStartOfDay)))
        // position deletes are spec-less (global) files, so they surface as
        // their own empty-partition row — per-day rows keep file_count > 0
        def byDay(p: DataFrame) = p.filter(col("file_count") > 0).select(
          to_date(element_at(map_values(col("partition")), 1)).as("day"),
          col("record_count"), col("file_count"))
        def delFiles(p: DataFrame): Long =
          p.agg(sum(col("position_delete_file_count"))).head.getLong(0)
        val preDF = t.partitionsDF(s)
        val preHasDeletes = delFiles(preDF) > 0
        val pre = byDay(preDF).select(col("day"), col("record_count").as("n_pre"))
        t.compact(s)
        val postDF = t.partitionsDF(s)
        val postHasDeletes = delFiles(postDF) > 0
        val post = byDay(postDF)
          .select(col("day"), col("record_count").as("n_post"),
            col("file_count").as("post_files"))
        pre.join(post, "day")
          .withColumn("pre_has_deletes", lit(preHasDeletes))
          .withColumn("post_has_deletes", lit(postHasDeletes))
          .orderBy("day")
      },
      """WITH del_day AS (
        |  SELECT CAST(ts AS DATE) AS dday FROM events WHERE event_type = 'error'
        |  GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_pre,
        |    sum(CASE WHEN event_type = 'error'
        |             AND CAST(ts AS DATE) = (SELECT dday FROM del_day)
        |        THEN 1 ELSE 0 END) AS n_del
        |  FROM events GROUP BY 1)
        |SELECT day, n_pre,
        |  CAST(n_pre - n_del AS BIGINT) AS n_post,
        |  CAST(1 AS INTEGER) AS post_files,
        |  (SELECT sum(n_del) > 0 FROM daily) AS pre_has_deletes,
        |  false AS post_has_deletes
        |FROM daily ORDER BY day""".stripMargin),

    // O2: REWRITE MANIFESTS (docs/10:80-95) — 3 appends' manifests collapse
    // to one, metadata-only, contents unchanged.
    ("g_rewrite_manifests",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val cat = newCatalog()
        val t = cat.createTable("db.ev_rm", df.schema)
        (0 until 3).foreach(i => t.append(s, df.filter(col("event_id") % 3 === i)))
        val before = t.manifestsDF(s).count()
        t.rewriteManifests()
        val after = t.manifestsDF(s).count()
        aggByType(t.toDF(s))
          .withColumn("manifests_consolidated", lit(after < before && after == 1))
      },
      aggByTypeSqlFrom.format("events").replace("AS sum_value",
        "AS sum_value,\n  true AS manifests_consolidated")),

    // D7: DROP COLUMN retires the field ID (docs/06:53-58) — re-adding a
    // column with the same name must NOT resurrect old files' values.
    ("g_drop_column",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d).select(
          col("event_id"), col("ts"), col("event_type"), col("props"))
        val cat = newCatalog()
        val t = cat.createTable("db.ev_drop", df.schema)
        t.append(s, df.filter(col("ts") < lit(Split)))
        t.dropColumn("props")
        t.addColumn("props", StringType)
        t.append(s, df.filter(col("ts") >= lit(Split)).withColumn("props", lit("fresh")))
        t.toDF(s)
          .groupBy(coalesce(col("props"), lit("retired")).as("props_state"))
          .agg(count(lit(1)).as("n"))
          .orderBy("props_state")
      },
      """SELECT CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 'retired' ELSE 'fresh' END AS props_state,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // D9: type widening matrix (docs/06:138-151) — int->long and
    // decimal(10,2)->decimal(18,2); files written pre-widen read correctly,
    // post-widen rows exceed the old types' ranges.
    ("g_widen_matrix",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d).select(
          col("event_id"), col("ts"),
          col("user_id").cast("int").as("user_id"),
          col("value").cast("decimal(10,2)").as("value"))
        val cat = newCatalog()
        val t = cat.createTable("db.ev_widen", df.schema)
        t.append(s, df.filter(col("ts") < lit(Split)))
        t.widenColumn("user_id", LongType)
        t.widenColumn("value", DecimalType(18, 2))
        t.append(s, df.filter(col("ts") >= lit(Split))
          .withColumn("user_id", col("user_id").cast("long") + 5000000000L)
          .withColumn("value", col("value").cast("decimal(18,2)")))
        t.toDF(s).agg(
          count(lit(1)).as("n"),
          sum(col("user_id")).as("user_sum"),
          sum(col("value")).cast("double").as("value_sum"))
      },
      """SELECT count(*) AS n,
        |  CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN CAST(user_id AS BIGINT)
        |                ELSE CAST(user_id AS BIGINT) + 5000000000 END) AS BIGINT) AS user_sum,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS value_sum
        |FROM events""".stripMargin),

    // S7: result cache — the second identical aggregate is served from the
    // cached materialization (plan-equality hit), results identical; the
    // cache is cleared afterwards (no leaked persisted plans).
    ("g_result_cache",
      (s: SparkSession, d: String) => {
        val t = eventsTable(s, d, partitioned = false)
        val rc = new graft.catalog.ResultCache
        def q() = aggByType(t.toDF(s))
        val first = rc.cached(q())
        first.count() // materialize the cache entry
        val second = rc.cached(q())
        val hit = second eq first
        val out = second
          .withColumn("cache_hit", lit(hit))
          .withColumn("single_entry", lit(rc.size == 1))
        // materialize the (tiny, one row per event_type) result WHILE the
        // cache entry is live: the caller's later evaluation of a lazy plan
        // would land after clear() unpersists and silently recompute the
        // whole aggregate — the gate would then time one extra uncached run
        val rows = out.collect()
        rc.clear()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      },
      aggByTypeSqlFrom.format("events").replace("AS sum_value",
        "AS sum_value,\n  true AS cache_hit, true AS single_entry")),

    // S11+: cherry-pick (docs/05:163-171) — roll back past a good commit,
    // then replay exactly that commit's changes on the new head; final
    // contents equal the full dataset and history keeps all four commits.
    ("g_cherry_pick",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val cat = newCatalog()
        val t = cat.createTable("db.ev_cp", df.schema)
        t.append(s, df.filter(col("ts") < lit(Split)))
        val s1 = t.meta.currentSnapshotId.get
        t.append(s, df.filter(col("ts") >= lit(Split)))
        val s2 = t.meta.currentSnapshotId.get
        t.rollbackTo(s1)
        t.cherryPick(s2)
        aggByType(t.toDF(s))
          .withColumn("commit_count", lit(t.meta.snapshots.size.toLong))
      },
      aggByTypeSqlFrom.format("events").replace("AS sum_value",
        "AS sum_value,\n  CAST(4 AS BIGINT) AS commit_count")),

    // docs/11 interop: Iceberg v2 metadata export — the exported manifest
    // list + Avro manifests, re-read with a plain Avro reader, must
    // reproduce the live snapshot's file inventory (data AND deletes).
    ("g_iceberg_export",
      (s: SparkSession, d: String) => {
        val t = eventsTable(s, d, partitioned = false,
          props = Map("enable-iceberg-merge-on-read" -> "true"))
        t.delete(s, Seq(Predicate.Eq("event_type", "error"))) // MOR deletes
        val metaPath = graft.interop.IcebergExport.exportCurrent(s, t)
        val exported = graft.interop.IcebergExport.readExportedFiles(metaPath)
        val scan = t.scan()
        val live = (scan.dataFiles.map(f => (0, graft.format.GraftUtil.resolve(t.location, f.path), f.recordCount)) ++
          scan.deleteFiles.map(f => (1, graft.format.GraftUtil.resolve(t.location, f.path), f.recordCount))).toSet
        aggByType(t.toDF(s))
          .withColumn("roundtrip_matches", lit(exported.toSet == live))
          .withColumn("has_delete_manifest", lit(exported.exists(_._1 == 1)))
      },
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  true AS roundtrip_matches, true AS has_delete_manifest
        |FROM events WHERE event_type <> 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // docs/11 interop, READ side offline: a filesystem-only reader — no
    // catalog server, no Graft manifests — resolves the exported metadata
    // TREE (two version documents here) to its latest vN.metadata.json by
    // last-sequence-number and reproduces the live rows, MOR position
    // deletes applied, purely from metadata JSON + Avro manifests +
    // parquet. Closes the multi-engine loop in both directions offline:
    // export (g_iceberg_export) writes what external engines read; this
    // reads what an external writer's exported tree contains.
    ("g_iceberg_external_read",
      (s: SparkSession, d: String) => {
        val t = eventsTable(s, d, partitioned = false,
          props = Map("enable-iceberg-merge-on-read" -> "true"))
        graft.interop.IcebergExport.exportCurrent(s, t) // older version doc
        t.delete(s, Seq(Predicate.Eq("event_type", "error"))) // MOR deletes
        val latest = graft.interop.IcebergExport.exportCurrent(s, t)
        val treeDir = java.nio.file.Paths.get(latest).getParent.toString
        val viaTree = graft.interop.IcebergExport.readTree(s, treeDir)
        aggByType(viaTree)
          .withColumn("resolved_latest",
            lit(graft.interop.IcebergExport.latestMetadata(treeDir) == latest))
          .withColumn("schema_from_metadata",
            lit(viaTree.schema.fieldNames.sameElements(t.meta.currentSchema.fieldNames)))
      },
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  true AS resolved_latest, true AS schema_from_metadata
        |FROM events WHERE event_type <> 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Incremental consumption (docs/11:44-52): changesSince(snapshot) reads
    // exactly the files appended AFTER the given snapshot — the CDC-read
    // primitive for downstream silver/gold pipelines.
    ("g_incremental_read",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val cat = newCatalog()
        val t = cat.createTable("db.ev_inc", df.schema)
        t.append(s, df.filter(col("ts") < lit(Split)))
        val s1 = t.meta.currentSnapshotId.get
        t.append(s, df.filter(col("ts") >= lit(Split)))
        val changes = graft.streaming.GraftStreamSource.changesSince(s, t, Some(s1))
        aggByType(changes)
          .withColumn("full_rows", lit(t.toDF(s).count()))
      },
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  (SELECT count(*) FROM events) AS full_rows
        |FROM events WHERE ts >= TIMESTAMP '2024-01-15'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Streaming windowed aggregation with a watermark (§2.8 beyond plain
    // ingest): events stream in over multiple micro-batches; the final
    // complete-mode aggregate lands in a Graft table whose contents equal
    // the batch day-window aggregate.
    ("g_stream_window",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val stage = TableOps.newTempDir("graft-sw")
        val t = FixtureClock.timed { // staging I/O is fixture, not query
          df.repartition(4).write.mode("overwrite").parquet(stage)
          newCatalog().createTable("db.ev_win", new org.apache.spark.sql.types.StructType()
            .add("day", org.apache.spark.sql.types.DateType)
            .add("event_type", org.apache.spark.sql.types.StringType)
            .add("n", org.apache.spark.sql.types.LongType))
        }
        TableOps.withStatePartitions(s, 8) {
          val stream = s.readStream.schema(df.schema).option("maxFilesPerTrigger", 2).parquet(stage)
          val agg = stream
            // watermarks require an instant TIMESTAMP; the NTZ→LTZ cast is
            // exact under the UTC session Verify/the driver run with
            .withColumn("ts", col("ts").cast("timestamp"))
            .withWatermark("ts", "1 day")
            .groupBy(window(col("ts"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(col("window.start").cast("date").as("day"), col("event_type"), col("n"))
          val q = agg.writeStream
            .outputMode("complete")
            .foreachBatch { (batch: DataFrame, _: Long) =>
              t.overwrite(s, batch): Unit // complete mode: each batch is the full aggregate
            }
            .option("checkpointLocation", s"$stage-ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          // a timed-out await must fail LOUDLY: proceeding would read a
          // partially-updated table and surface as a baffling data mismatch
          require(q.awaitTermination(300000), "g_stream_window: stream did not finish in 300s")
        }
        t.toDF(s).orderBy("day", "event_type")
          .withColumn("multi_batch", lit(t.meta.snapshots.size > 1))
      },
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n, true AS multi_batch
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // W9b: stream-STREAM join (§2.8) — two live streams (clicks,
    // purchases) joined on key + event-time range, the last Structured
    // Streaming shape the plain-ingest/dedup/window gates don't cover.
    // Both sides carry watermarks WIDER than the fixture's event span
    // (35 days > the 30-day corpus) so no row can ever be late-dropped and
    // the stream must agree exactly with the batch inequality join; in
    // production the delay budget is the knob trading join-state size for
    // late-data tolerance — the time-range condition itself is what lets
    // the engine expire state at watermark + 1h. Matched pairs append to a
    // Graft table per micro-batch; the driver-side batch counter certifies
    // the join actually ran across micro-batches (pairs matched across
    // batch boundaries through buffered state, not within one batch).
    // Bench note: the suite's most expensive gate (~5 s at sf0.1 after
    // scoping the state-partition count below; ~10 s before) and the cost
    // is FIXED micro-batch machinery, not data: 2 AvailableNow batches ×
    // (two sources + a symmetric-hash interval join checkpointing 4 state
    // stores per partition per side) + 2 Graft commits. At 10x the data
    // the number barely moves — the state-store/commit-log overhead
    // dominates 100k rows — so it reads as framework floor, not a scaling
    // signal.
    ("g_stream_join",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val stage = graft.queries.TableOps.newTempDir("graft-sj")
        val t = FixtureClock.timed {
          df.repartition(4).write.mode("overwrite").parquet(stage)
          val cat = newCatalog()
          cat.createTable("db.ev_pairs", new StructType()
            .add("user_id", LongType).add("purchase_id", LongType)
            .add("click_id", LongType))
        }
        def src() = s.readStream.schema(df.schema)
          .option("maxFilesPerTrigger", 2).parquet(stage)
        val purchases = src().filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
            col("ts").cast("timestamp").as("p_ts"))
          .withWatermark("p_ts", "35 days")
        val clicks = src().filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ts").cast("timestamp").as("c_ts"))
          .withWatermark("c_ts", "35 days")
        val joined = clicks.join(purchases,
          expr("c_user = p_user AND c_ts >= p_ts AND c_ts < p_ts + INTERVAL 1 HOUR"))
          .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
        var batches = 0 // foreachBatch body runs on the driver
        // 8 state partitions (shared withStatePartitions discipline — a
        // stream-stream join keeps FOUR stores per partition per batch,
        // the heaviest state shape in the suite; measured ~10 -> ~5s)
        TableOps.withStatePartitions(s, 8) {
          val q = joined.writeStream
            .outputMode("append")
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batches += 1
              if (!batch.isEmpty) t.append(s, batch): Unit
            }
            .option("checkpointLocation", s"$stage-ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          require(q.awaitTermination(300000), "g_stream_join: stream did not finish in 300s")
        }
        t.toDF(s).groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"), max(col("click_id")).as("last_click"))
          .withColumn("multi_batch", lit(batches > 1))
          .orderBy("user_id")
      },
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts
        |  FROM events WHERE event_type = 'click'),
        |pairs AS (
        |  SELECT p.user_id, p.purchase_id, c.click_id
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR)
        |SELECT user_id, count(*) AS n_pairs, max(click_id) AS last_click,
        |  true AS multi_batch
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin),

    // W9c: streaming SESSIONIZATION via the native session_window
    // aggregation — the gap-merge stateful operator, the last Structured
    // Streaming aggregate shape the window/dedup/join gates don't cover.
    // Events stream in across micro-batches; sessions that SPAN a batch
    // boundary must merge through the state store (the driver-side batch
    // counter certifies multi-batch execution, so the merge path really
    // ran). The rig uses complete mode: every batch re-emits the full
    // merged session set and the final overwrite is the fixed point —
    // bit-equal to batch sessionization with NO watermark race (append
    // mode only emits sessions the watermark has passed, which on a
    // bounded replay strands the tail unless a sentinel advances it; the
    // production shape is append + withWatermark where state stays
    // horizon-bounded — ScaleSmoke contract 9's discipline — while
    // complete mode is the exact-parity test rig). Session semantics
    // pinned by StreamSessionsSpec: the merge boundary is INCLUSIVE — an
    // exactly-30-min gap still merges (windows merge when next.start <=
    // prev.end), so a new session starts iff gap > 30 min — the SAME
    // strict-> boundary as x_sessionize/sessionRollup, and the > in this
    // oracle; the spec proves it on a planted tie and then proves the
    // native aggregation reproduces sessionRollup on the (tie-free,
    // also checked) fixture. Update mode is
    // unsupported for session windows and complete requires an extra
    // grouping key (user_id) — both Spark-documented restrictions this
    // shape satisfies.
    ("g_stream_sessions",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val stage = TableOps.newTempDir("graft-ss")
        val t = FixtureClock.timed { // staging I/O is fixture, not query
          df.repartition(4).write.mode("overwrite").parquet(stage)
          val cat = newCatalog()
          cat.createTable("db.ev_sessions", new StructType()
            .add("user_id", LongType).add("evs", LongType))
        }
        var batches = 0
        TableOps.withStatePartitions(s, 8) {
          val stream = s.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 2).parquet(stage)
          val sess = stream
            .withColumn("ts", col("ts").cast("timestamp"))
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
            .agg(count(lit(1)).as("evs"))
            .select(col("user_id"), col("evs"))
          val q = sess.writeStream
            .outputMode("complete")
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batches += 1
              t.overwrite(s, batch): Unit // complete mode: full merged state
            }
            .option("checkpointLocation", s"$stage-ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          require(q.awaitTermination(300000), "g_stream_sessions: stream did not finish in 300s")
        }
        t.toDF(s).groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            max(col("evs")).as("max_session_events"),
            sum(col("evs")).as("total_events"))
          .withColumn("multi_batch", lit(batches > 1))
          .orderBy("user_id")
      },
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ms(CAST(ts AS TIMESTAMP)) - epoch_ms(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sl AS (
        |  SELECT user_id,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g),
        |sess AS (SELECT user_id, sid, count(*) AS evs FROM sl GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(max(evs) AS BIGINT) AS max_session_events,
        |  CAST(sum(evs) AS BIGINT) AS total_events,
        |  true AS multi_batch
        |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin),

    // S10: BEFORE(STATEMENT) (docs/05:69-72) reads the state just before a
    // named commit; AT(TIMESTAMP) pinned between the commits agrees.
    ("g_before_statement",
      (s: SparkSession, d: String) => {
        val t = eventsTable(s, d, partitioned = false)
        val midMs = System.currentTimeMillis()
        Thread.sleep(5)
        t.delete(s, Seq(Predicate.Eq("event_type", "view")), statementId = Some("del-view"))
        val beforeScan = t.before("del-view")
        val agrees = t.asOf(midMs).snapshot.map(_.snapshotId) ==
          beforeScan.snapshot.map(_.snapshotId)
        aggByType(beforeScan.toDF(s)).withColumn("asof_agrees", lit(agrees))
      },
      aggByTypeSqlFrom.format("events").replace("AS sum_value",
        "AS sum_value,\n  true AS asof_agrees")),

    // D12: CLUSTER BY (docs/09:156-168) — a range-clustered compaction makes
    // a key-range scan prune files that an unclustered layout could not.
    ("g_cluster_by",
      (s: SparkSession, d: String) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"))
        val t = FixtureClock.timed {
          val cat = newCatalog()
          val t = cat.createTable("db.li_cluster", li.schema)
          t.append(s, li)
          t.setProperty("cluster-by", "l_orderkey")
          t.compact(s, targetFileSizeBytes = Some(1024))
          t
        }
        val sc = t.scan(Predicate.Lt("l_orderkey", 10L))
        sc.toDF(s).count()
        sc.toDF(s)
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .withColumn("range_pruned",
            lit(sc.metrics.filesTotal > 1 && sc.metrics.filesScanned < sc.metrics.filesTotal))
      },
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  true AS range_pruned
        |FROM lineitem WHERE l_orderkey < 10""".stripMargin),

    // D12 multi-dimensional: z-order clustering. A linear sort only prunes
    // range scans on the FIRST cluster key; interleaved-bit clustering keeps
    // min/max stats tight on every dimension, so a filter on either column
    // alone skips files. Both `pruned_*` flags certify actual file skipping
    // from the scan metrics.
    ("g_zorder",
      (s: SparkSession, d: String) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        val t = FixtureClock.timed {
          val cat = newCatalog()
          val t = cat.createTable("db.li_zorder", li.schema)
          t.setProperty(graft.format.TableProperties.ClusterBy, "l_orderkey,l_partkey")
          t.setProperty(graft.format.TableProperties.ClusterStrategy, "zorder")
          // split into ~12 z-cells REGARDLESS of scale (AQE may coalesce
          // the range shuffle itself into few partitions): a fixed 2048
          // rows/file left only 3 cells at sf0.001, and 3 z-ranges bound
          // only ONE dimension's MSB — pruned_dim1 was false at tiny scale
          // (and ~300 cells at sf0.1 made the fixture needlessly slow)
          val rowsPerFile = math.max(256L, li.count() / 12)
          t.setProperty(graft.format.TableProperties.TargetFileSize,
            (rowsPerFile * 128).toString)
          t.setProperty("write.estimated-row-size-bytes", "128")
          t.append(s, li)
          t
        }
        val Array(maxOk, maxPk) =
          li.agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
            .toSeq.map(v => v.asInstanceOf[Long]).toArray
        val sc1 = t.scan(Predicate.Lt("l_orderkey", maxOk / 4))
        val sc2 = t.scan(Predicate.Lt("l_partkey", maxPk / 4))
        def pruned(sc: graft.table.GraftScan) =
          sc.metrics.filesTotal > 1 && sc.metrics.filesScanned < sc.metrics.filesTotal
        sc2.toDF(s)
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .withColumn("pruned_dim1", lit(pruned(sc1)))
          .withColumn("pruned_dim2", lit(pruned(sc2)))
      },
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  true AS pruned_dim1, true AS pruned_dim2
        |FROM lineitem WHERE l_partkey < (SELECT max(l_partkey)//4 FROM lineitem)""".stripMargin),

    // S3 extension: per-file bloom filters (write.bloom-columns) prune point
    // lookups that min/max stats cannot. The layout is deliberately hostile
    // to range stats — a hash repartition on the key scatters every file's
    // [min,max] across the whole domain — so an equality probe scans ALL
    // files on a bloom-less control table and only the containing file(s)
    // on the bloomed one. Both facts are certified from scan metrics.
    ("g_bloom_skip",
      (s: SparkSession, d: String) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"))
          .repartition(8, col("l_orderkey"))
        val (t, ctrl) = FixtureClock.timed {
          val cat = newCatalog()
          val t = cat.createTable("db.li_bloom", li.schema)
          t.setProperty(graft.format.TableProperties.BloomColumns, "l_orderkey")
          t.append(s, li)
          val ctrl = cat.createTable("db.li_nobloom", li.schema)
          ctrl.append(s, li)
          (t, ctrl)
        }
        // a mid-domain existing key: inside every file's range, so min/max
        // stats alone can never prune the probe. Probe-KEY derivation is
        // fixture staging (two extra source scans that are not the bloom
        // path), so it lives inside FixtureClock.timed — this gate's bench
        // number oscillated across rounds on byte-identical code
        // (2.41/3.73/3.91 s in r14/r15/r16) because these scans absorbed
        // whatever JIT state the early-alphabetical run slot left; timing
        // them as fixture makes the measured remainder the operator
        // (r15 ADVICE-prescribed fix).
        val probe = FixtureClock.timed {
          val r = li.agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
          val mid = (r.getLong(0) + r.getLong(1)) / 2
          li.filter(col("l_orderkey") <= mid)
            .agg(max(col("l_orderkey"))).head().getLong(0)
        }
        val scB = t.scan(Predicate.Eq("l_orderkey", probe))
        val scC = ctrl.scan(Predicate.Eq("l_orderkey", probe))
        scB.toDF(s).count(); scC.toDF(s).count()
        scB.toDF(s).filter(col("l_orderkey") === probe)
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .withColumn("bloom_pruned",
            lit(scB.metrics.filesTotal > 1 &&
              scB.metrics.filesScanned < scB.metrics.filesTotal))
          .withColumn("nobloom_full",
            lit(scC.metrics.filesScanned == scC.metrics.filesTotal))
      },
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  true AS bloom_pruned, true AS nobloom_full
        |FROM lineitem WHERE l_orderkey = (
        |  SELECT max(l_orderkey) FROM lineitem
        |  WHERE l_orderkey <= (SELECT (min(l_orderkey)+max(l_orderkey))//2 FROM lineitem))""".stripMargin),

    // Metadata-plane aggregates (docs/09's data-skipping story taken to its
    // end): COUNT(*) / MIN / MAX — including a count under an identity-
    // partition filter — answered entirely from manifest record counts and
    // file stats. The flag certifies the physical plans contain NO file
    // scan, only the collapsed one-row LocalRelation: at 100 TB this is the
    // difference between a manifest read and a full-table pass.
    ("g_metadata_agg",
      (s: SparkSession, d: String) => {
        registerSqlCatalog(s)
        val tbl = s"meta_${java.util.UUID.randomUUID().toString.take(8)}"
        FixtureClock.timed {
          Tables.events(s, d).createOrReplaceTempView("events_src_meta")
          s.sql(s"""CREATE TABLE graft_sql.db.$tbl (
            |  event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,
            |  event_type STRING, value DOUBLE, props STRING)
            |PARTITIONED BY (event_type)""".stripMargin)
          s.sql(s"INSERT INTO graft_sql.db.$tbl SELECT * FROM events_src_meta")
        }
        val q1 = s.sql(s"""SELECT count(*) AS n_total, min(user_id) AS min_user,
          |  max(user_id) AS max_user FROM graft_sql.db.$tbl""".stripMargin)
        val q2 = s.sql(
          s"SELECT count(*) AS n_click FROM graft_sql.db.$tbl WHERE event_type = 'click'")
        val metadataOnly = Seq(q1, q2).forall { q =>
          val p = q.queryExecution.executedPlan.toString
          p.contains("LocalTableScan") && !p.contains("BatchScan")
        }
        q1.crossJoin(q2).withColumn("metadata_only", lit(metadataOnly))
      },
      """SELECT count(*) AS n_total, min(user_id) AS min_user,
        |  max(user_id) AS max_user,
        |  (SELECT count(*) FROM events WHERE event_type = 'click') AS n_click,
        |  true AS metadata_only
        |FROM events""".stripMargin),

    // S15: runtime-filter join pruning — the dim side's few join keys become
    // an IN predicate on the fact scan, where the bloom plane (S13) skips
    // the files that contain none of them. The fact layout is hash-scattered
    // (min/max useless), so the certified pruning is the runtime filter
    // composing with blooms: exactly what a selective dim join needs at
    // 100 TB to avoid a full fact-table pass.
    ("g_runtime_filter",
      (s: SparkSession, d: String) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"))
          .repartition(16, col("l_orderkey"))
        val t = FixtureClock.timed {
          val cat = newCatalog()
          val t = cat.createTable("db.li_rf", li.schema)
          t.setProperty(graft.format.TableProperties.BloomColumns, "l_orderkey")
          t.append(s, li)
          t
        }
        val dim = Tables.orders(s, d).filter(col("o_orderkey") < 7)
          .select(col("o_orderkey"), col("o_orderpriority"))
        val sc = t.scanWithRuntimeFilter(dim, "o_orderkey", "l_orderkey")
        val fact = sc.toDF(s)
        fact.count()
        fact.join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"))
          .orderBy(col("o_orderpriority"))
          .withColumn("rf_pruned",
            lit(sc.metrics.filesTotal > 1 &&
              sc.metrics.filesScanned < sc.metrics.filesTotal))
      },
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |  true AS rf_pruned
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey < 7
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Write-audit-publish over branch refs (docs/05:141-171): stage an
    // append on an 'audit' branch — history advances, main does not — read
    // the branch to validate, then fast-forward publish. Flags certify the
    // isolation both ways: staged rows invisible on main pre-publish, fully
    // visible on the branch.
    ("g_wap",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val cat = newCatalog()
        val t = cat.createTable("db.ev_wap", df.schema)
        t.append(s, df.filter(col("ts") < lit(Split)))
        val mainBefore = t.toDF(s).count()
        t.appendToBranch(s, df.filter(col("ts") >= lit(Split)), "audit")
        val hidden = t.toDF(s).count() == mainBefore
        val auditTotal = t.atRef("audit").toDF(s).count()
        t.publish("audit")
        val total = t.toDF(s).count()
        aggByType(t.toDF(s))
          .withColumn("staged_hidden", lit(hidden))
          .withColumn("audit_saw_all", lit(auditTotal == total))
      },
      aggByTypeSqlFrom.format("events").replace("AS sum_value",
        "AS sum_value,\n  true AS staged_hidden, true AS audit_saw_all")),

    // S14 extended: hybrid pruning-aware COUNT — on a range-clustered
    // layout most files' stats DECIDE a range predicate for every row
    // (record count contributes with zero I/O) and only the boundary
    // file(s) straddling the cutoff are scanned. The flag certifies both
    // halves from the countRows breakdown: at 100 TB this turns a filtered
    // count into metadata work plus one file's worth of scan.
    ("g_hybrid_count",
      (s: SparkSession, d: String) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        val t = FixtureClock.timed {
          val cat = newCatalog()
          val t0 = cat.createTable("db.li_hyb", li.schema)
          t0.append(s, li)
          t0.setProperty("cluster-by", "l_orderkey")
          // target sized RELATIVE to the table (~6 post-compact files), not
          // a fixed 64 KB: at sf0.001 the whole 2-column table is under
          // 64 KB, so an absolute target compacted to ONE file and the
          // hybrid count had nothing to decide (flag false at tiny scale,
          // true elsewhere — a scale-dependent gate is a broken gate)
          val bytes = t0.scan().dataFiles.map(_.fileSizeBytes).sum
          t0.compact(s, targetFileSizeBytes = Some(math.max(4096L, bytes / 6)))
          t0
        }
        val cut = li.agg(max(col("l_orderkey"))).head().getLong(0) / 2
        val sc = t.scan(Predicate.Lt("l_orderkey", cut))
        val (n, decided, scanned) = sc.countRows(s)
        import s.implicits._
        Seq((n, decided > 0 && scanned < sc.metrics.filesTotal))
          .toDF("n", "hybrid_pruned")
      },
      """SELECT count(*) AS n, true AS hybrid_pruned
        |FROM lineitem
        |WHERE l_orderkey < (SELECT max(l_orderkey)//2 FROM lineitem)""".stripMargin),

    // Storage-partitioned (shuffle-free) join (docs/07-partitioning.md:151
    // bucket guidance + docs/09:178 join distribution): two Graft tables
    // bucketed identically on the join key report KeyGroupedPartitioning
    // from a real DSv2 batch scan, and EnsureRequirements plans the join
    // with ZERO exchanges — at 100 TB this deletes both full-table shuffles
    // from every co-bucketed join. The flag is plan-certified: the probe
    // join's executed plan must contain the graft-spj scan and no
    // ShuffleExchange anywhere.
    ("g_storage_partitioned_join",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        registerSqlCatalog(s)
        // restore in the finally (r17 verdict #2): a leaked conf would
        // re-route every later bucket-shaped table through the SPJ path
        val priorConfs = Seq(
          "spark.sql.sources.v2.bucketing.enabled",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
          .map(k => k -> s.conf.getOption(k))
        priorConfs.foreach { case (k, _) => s.conf.set(k, "true") }
        try {
        val sfx = java.util.UUID.randomUUID().toString.take(8)
        val fact = s"spjo_$sfx"; val dim = s"spjc_$sfx"
        FixtureClock.timed {
          Tables.orders(s, d).createOrReplaceTempView("orders_src")
          Tables.customer(s, d).createOrReplaceTempView("customer_src")
          s.sql(s"""CREATE TABLE graft_sql.db.$fact (
            |  o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
            |PARTITIONED BY (bucket(16, o_custkey))""".stripMargin)
          s.sql(s"""CREATE TABLE graft_sql.db.$dim (
            |  c_custkey BIGINT, c_mktsegment STRING)
            |PARTITIONED BY (bucket(16, c_custkey))""".stripMargin)
          s.sql(s"INSERT INTO graft_sql.db.$fact " +
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders_src")
          s.sql(s"INSERT INTO graft_sql.db.$dim " +
            "SELECT c_custkey, c_mktsegment FROM customer_src")
        }
        // plan probe: the bare join (hinted to sort-merge, so broadcast
        // can't mask a shuffle) must execute with zero exchanges
        val probe = s.sql(
          s"""SELECT /*+ MERGE(c) */ o.o_custkey, o.o_totalprice, c.c_mktsegment
             |FROM graft_sql.db.$fact o JOIN graft_sql.db.$dim c
             |  ON o.o_custkey = c.c_custkey""".stripMargin)
        probe.collect()
        val top = probe.queryExecution.executedPlan
        val plans = top +: top.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
        val shuffles = plans.map(_.collect { case _: ShuffleExchangeExec => 1 }.sum).sum
        val spjScan = plans.exists(_.toString.contains("graft-spj"))
        s.sql(
          s"""SELECT c.c_mktsegment, count(*) AS n_orders,
             |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM graft_sql.db.$fact o JOIN graft_sql.db.$dim c
             |  ON o.o_custkey = c.c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)
          .withColumn("shuffle_free_join", lit(shuffles == 0 && spjScan))
        } finally priorConfs.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      """SELECT c.c_mktsegment, count(*) AS n_orders,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  true AS shuffle_free_join
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // S15 at EXECUTION TIME (r14 verdict #3): DSv2 runtime filtering. The
    // eager g_runtime_filter path collects dim keys in a driver job BEFORE
    // planning the fact read; here the SAME prune happens INSIDE one
    // executing SQL plan — Spark's dynamic-pruning subquery reuses the
    // join's broadcast exchange, hands the collected o_orderkey set to the
    // key-grouped batch scan's SupportsRuntimeFiltering.filter, and the scan
    // empties every bucket those keys cannot murmur3-hash into (the write
    // path's own transform, so a pruned file provably holds no match).
    // The dim's selective filter sits on a NON-join column (o_custkey), so
    // nothing is statically inferrable onto the fact key — only the
    // runtime filter can prune, which is exactly the 100 TB scenario: a
    // selective dim join must not pay a full fact pass, and must not pay
    // an extra driver job either. Flag certifies all three facts: the
    // dynamic-pruning subquery in the EXECUTED plan, the DSv2 batch scan
    // serving the fact, and the recorded runtime prune (QUERY_HISTORY
    // `runtime-in` row with filesScanned < filesTotal).
    ("g_dpp_join",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        registerSqlCatalog(s)
        // restore in the finally (r17 verdict #2): a leaked conf would
        // re-route every later bucket-shaped table through the SPJ path
        val priorBucketing =
          s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        try {
        val sfx = java.util.UUID.randomUUID().toString.take(8)
        val fact = s"dppf_$sfx"
        FixtureClock.timed {
          Tables.lineitem(s, d).createOrReplaceTempView("lineitem_src_dpp")
          s.sql(s"""CREATE TABLE graft_sql.db.$fact (
            |  l_orderkey BIGINT, l_extendedprice DOUBLE)
            |PARTITIONED BY (bucket(16, l_orderkey))""".stripMargin)
          s.sql(s"INSERT INTO graft_sql.db.$fact " +
            "SELECT l_orderkey, l_extendedprice FROM lineitem_src_dpp")
        }
        Tables.orders(s, d).createOrReplaceTempView("orders_src_dpp")
        graft.table.QueryHistory.clear()
        val probe = s.sql(
          s"""SELECT o.o_orderpriority, count(*) AS n,
             |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
             |FROM graft_sql.db.$fact l JOIN orders_src_dpp o
             |  ON l.l_orderkey = o.o_orderkey
             |WHERE o.o_custkey = 5
             |GROUP BY 1 ORDER BY 1""".stripMargin)
        probe.collect()
        val top = probe.queryExecution.executedPlan
        val plans = top +: top.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
        val dppInPlan = plans.exists(_.toString.contains("dynamicpruning"))
        val spjScan = plans.exists(_.toString.contains("graft-spj"))
        val rf = graft.table.QueryHistory.all.filter(m =>
          m.table == s"db.$fact" && m.predicate.startsWith("runtime-in"))
        val pruned = rf.nonEmpty &&
          rf.forall(m => m.filesTotal > 1 && m.filesScanned < m.filesTotal)
        probe.withColumn("dpp_pruned", lit(dppInPlan && spjScan && pruned))
        } finally priorBucketing match {
          case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
          case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        }
      },
      """SELECT o.o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |  true AS dpp_pruned
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_custkey = 5
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // S15 GENERALIZED (r15 verdict #1): execution-time runtime filtering
    // for NON-bucket partition layouts — the reference's flagship
    // medallion shape (docs/12-lakehouse-patterns.md:107-126): a
    // month-partitioned fact joined to a selective date dim. g_dpp_join
    // covers the key-grouped (bucket) layout; here the fact is PARTITIONED BY
    // months(o_orderdate), served by GraftDppScan on the shape-routed
    // default read path, and the dim's selective filter sits on
    // d_quarter, a DERIVED non-join column Catalyst cannot statically
    // infer through — only the dynamic-pruning subquery's collected
    // d_date keys can prune, mapped through the table's MONTH transform
    // by the same phase-2 rule static predicates use (min/max + bloom
    // planes included — DppSpec pins each plane separately). Flag
    // certifies the dynamic-pruning subquery in the EXECUTED plan, the
    // graft-dpp scan serving the fact, and the recorded runtime prune
    // (~3 of ~80 month files read). At 100 TB this is THE star-join
    // economics: a selective dim join pays 3 months of fact I/O, not a
    // full-table pass, with no extra driver job.
    ("g_dpp_partition_join",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        registerSqlCatalog(s)
        val sfx = java.util.UUID.randomUUID().toString.take(8)
        val fact = s"dppm_$sfx"
        FixtureClock.timed {
          Tables.orders(s, d).createOrReplaceTempView("orders_src_dppm")
          s.sql(s"""CREATE TABLE graft_sql.db.$fact (
            |  o_orderdate DATE, o_totalprice DOUBLE)
            |PARTITIONED BY (months(o_orderdate))""".stripMargin)
          s.sql(s"INSERT INTO graft_sql.db.$fact " +
            "SELECT CAST(o_orderdate AS DATE), o_totalprice FROM orders_src_dppm")
        }
        s.sql("""SELECT DISTINCT CAST(o_orderdate AS DATE) AS d_date,
          |  concat(year(o_orderdate), 'Q', quarter(o_orderdate)) AS d_quarter
          |FROM orders_src_dppm""".stripMargin)
          .createOrReplaceTempView("dates_dim_dppm")
        graft.table.QueryHistory.clear()
        val probe = s.sql(
          s"""SELECT d.d_quarter, count(*) AS n,
             |  CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
             |FROM graft_sql.db.$fact f JOIN dates_dim_dppm d
             |  ON f.o_orderdate = d.d_date
             |WHERE d.d_quarter = '1996Q2'
             |GROUP BY 1 ORDER BY 1""".stripMargin)
        probe.collect()
        val top = probe.queryExecution.executedPlan
        val plans = top +: top.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
        val dppInPlan = plans.exists(_.toString.contains("dynamicpruning"))
        val dppScan = plans.exists(_.toString.contains("graft-dpp"))
        val rf = graft.table.QueryHistory.all.filter(m =>
          m.table == s"db.$fact" && m.predicate.startsWith("runtime-in"))
        val pruned = rf.nonEmpty &&
          rf.forall(m => m.filesTotal > 1 && m.filesScanned < m.filesTotal)

        // AS-OF leg (r17 verdict #5): the docs/05 audit-then-join pattern —
        // a star join over VERSION AS OF keeps execution-time pruning.
        // Decoy rows land AFTER the pinned snapshot, so a travel-broken
        // read (serving the head) would surface them and fail the oracle;
        // the traveled probe must still route graft-dpp, prune, and stay
        // row-identical to the native GraftTable reader (triple equality).
        val snap = s.sql(s"SELECT max(snapshot_id) FROM graft_sql.db.$fact.snapshots")
          .head().getLong(0)
        s.sql(s"INSERT INTO graft_sql.db.$fact " +
          "SELECT date_add(DATE'1990-01-01', CAST(id * 31 AS INT)), CAST(0.0 AS DOUBLE) " +
          "FROM range(0, 12)")
        graft.table.QueryHistory.clear()
        val asofSql =
          s"""SELECT d.d_quarter, count(*) AS n,
             |  CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
             |FROM graft_sql.db.$fact VERSION AS OF $snap f JOIN dates_dim_dppm d
             |  ON f.o_orderdate = d.d_date
             |WHERE d.d_quarter = '1996Q2'
             |GROUP BY 1 ORDER BY 1""".stripMargin
        val probeAsof = s.sql(asofSql)
        val asofRows = probeAsof.collect()
        val topA = probeAsof.queryExecution.executedPlan
        val plansA = topA +: topA.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
        val dppAsof = plansA.exists(_.toString.contains("dynamicpruning")) &&
          plansA.exists(_.toString.contains("graft-dpp"))
        val rfA = graft.table.QueryHistory.all.filter(m =>
          m.table == s"db.$fact" && m.predicate.startsWith("runtime-in"))
        val prunedAsof = rfA.nonEmpty &&
          rfA.forall(m => m.filesTotal > 1 && m.filesScanned < m.filesTotal)
        // reference rows: the native GraftTable reader at the same
        // snapshot — Spark's own parquet scan over the pinned file list
        new graft.catalog.GraftCatalog(sqlWarehouse).loadTable(s"db.$fact")
          .atSnapshot(snap).toDF(s)
          .createOrReplaceTempView("fact_asof_dppm")
        val nativeRows = s.sql(asofSql.replace(
          s"graft_sql.db.$fact VERSION AS OF $snap", "fact_asof_dppm")).collect()
        val tripleEqual = asofRows.toSeq == nativeRows.toSeq

        probeAsof
          .withColumn("dpp_pruned", lit(dppInPlan && dppScan && pruned))
          .withColumn("dpp_pruned_asof", lit(dppAsof && prunedAsof && tripleEqual))
      },
      """WITH dim AS (
        |  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d_date,
        |    concat(CAST(year(o_orderdate) AS VARCHAR), 'Q',
        |      CAST(quarter(o_orderdate) AS VARCHAR)) AS d_quarter
        |  FROM orders)
        |SELECT d.d_quarter, count(*) AS n,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |  true AS dpp_pruned, true AS dpp_pruned_asof
        |FROM orders o JOIN dim d ON CAST(o.o_orderdate AS DATE) = d.d_date
        |WHERE d.d_quarter = '1996Q2'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // S15 refined: the key-grouped scan's runtime filter probes the
    // bucket's files with per-key Eq predicates through the native
    // phase-2 rule, so min/max stats prune WITHIN buckets. The
    // fixture makes the refinement observable: FOUR commits with DISJOINT
    // l_orderkey quartile ranges (a bucket holds one file per commit, so
    // bucket-only keeping reads 4 files per kept bucket), then a
    // selective dim join whose collected keys each live in exactly one
    // quartile — the recorded runtime-in row must read at most one file
    // PER KEY, not four per bucket. The dim filter sits on o_custkey (a
    // non-join column), so only the runtime filter can prune. At 100 TB
    // this is the point-probe star join: the dim's keys cut the fact read
    // to the handful of (bucket, commit-range) files that can hold them.
    ("g_dpp_join_refined",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        registerSqlCatalog(s)
        // restore in the finally (r16 ADVICE): a leaked conf would re-route
        // every later bucket-shaped table in the session through the SPJ path
        val priorBucketing =
          s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        try {
        val sfx = java.util.UUID.randomUUID().toString.take(8)
        val fact = s"dppr_$sfx"
        val mx = FixtureClock.timed {
          Tables.lineitem(s, d).createOrReplaceTempView("lineitem_src_dppr")
          s.sql(s"""CREATE TABLE graft_sql.db.$fact (
            |  l_orderkey BIGINT, l_extendedprice DOUBLE)
            |PARTITIONED BY (bucket(8, l_orderkey))""".stripMargin)
          val mx = s.sql("SELECT max(l_orderkey) FROM lineitem_src_dppr")
            .head().getLong(0)
          (0 until 4).foreach { c =>
            val lo = c * (mx / 4 + 1); val hi = (c + 1) * (mx / 4 + 1)
            s.sql(s"INSERT INTO graft_sql.db.$fact " +
              "SELECT l_orderkey, l_extendedprice FROM lineitem_src_dppr " +
              s"WHERE l_orderkey >= $lo AND l_orderkey < $hi")
          }
          mx
        }
        Tables.orders(s, d).createOrReplaceTempView("orders_src_dppr")
        val keyCount = s.sql(
          "SELECT count(DISTINCT o_orderkey) FROM orders_src_dppr WHERE o_custkey = 5")
          .head().getLong(0)
        graft.table.QueryHistory.clear()
        val probe = s.sql(
          s"""SELECT o.o_orderpriority, count(*) AS n,
             |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
             |FROM graft_sql.db.$fact l JOIN orders_src_dppr o
             |  ON l.l_orderkey = o.o_orderkey
             |WHERE o.o_custkey = 5
             |GROUP BY 1 ORDER BY 1""".stripMargin)
        probe.collect()
        val top = probe.queryExecution.executedPlan
        val plans = top +: top.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
        val dppInPlan = plans.exists(_.toString.contains("dynamicpruning"))
        val spjScan = plans.exists(_.toString.contains("graft-spj"))
        val rf = graft.table.QueryHistory.all.filter(m =>
          m.table == s"db.$fact" && m.predicate.startsWith("runtime-in"))
        // the refinement claim: at most one file per key — bucket-only
        // keeping would read (commits × kept buckets) files
        val refined = rf.nonEmpty && rf.forall(m =>
          m.filesTotal > keyCount && m.filesScanned <= keyCount &&
            m.filesScanned < m.filesTotal)
        require(mx > 0, "fixture needs a non-empty lineitem")
        probe.withColumn("spj_refined", lit(dppInPlan && spjScan && refined))
        } finally priorBucketing match {
          case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
          case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        }
      },
      """SELECT o.o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |  true AS spj_refined
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_custkey = 5
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // D16 completed: task SCHEDULING semantics (docs/10:174-183 CREATE TASK
    // ... SCHEDULE='USING CRON ...' + ALTER TASK RESUME; docs/12:174-186).
    // An hourly-cron ingest task and a 30-minute interval task fire under a
    // VIRTUAL clock in strict chronological order; a never-resumed task
    // stays silent; suspending the ingest task stops its fires. The table
    // ends up with exactly the chunks the schedule fired (event_id%4 in
    // 0..2), so the oracle checks the dispatcher's fire count through data.
    ("g_task_schedule",
      (s: SparkSession, d: String) => {
        val df = Tables.events(s, d)
        val cat = newCatalog()
        val t = cat.createTable("db.ev_task", df.schema)
        val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
        val reg = new graft.catalog.TaskRegistry(t0)
        var ingestFires = 0
        reg.createTask("db.ingest", "USING CRON 0 * * * * UTC") {
          val i = ingestFires; ingestFires += 1
          t.append(s, df.filter(col("event_id") % 4 === i))
        }
        var auditFires = 0
        reg.createTask("db.audit", "15 MINUTE") { auditFires += 1 } // never resumed
        var markFires = 0
        reg.createTask("db.mark", "30 MINUTE") { markFires += 1 }
        reg.resume("db.ingest"); reg.resume("db.mark")
        reg.advanceTo(t0.plusSeconds(3 * 3600))  // ingest @01,02,03; mark x6
        reg.suspend("db.ingest")
        reg.advanceTo(t0.plusSeconds(5 * 3600))  // mark x4 more, ingest silent
        val times = reg.history.map(_._2)
        val orderOk = times == times.sorted &&
          reg.history.count(_._1 == "db.ingest") == 3
        aggByType(t.toDF(s))
          .withColumn("ingest_fires", lit(ingestFires.toLong))
          .withColumn("mark_fires", lit(markFires.toLong))
          .withColumn("suspended_silent", lit(auditFires == 0))
          .withColumn("fired_in_order", lit(orderOk))
      },
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(3 AS BIGINT) AS ingest_fires, CAST(10 AS BIGINT) AS mark_fires,
        |  true AS suspended_silent, true AS fired_in_order
        |FROM events WHERE event_id % 4 < 3
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // D16 through SQL end-to-end: docs/12:174-186's scheduled-archival
    // pattern verbatim — CREATE TASK with a multi-statement BEGIN...END
    // body (INSERT old rows into the historical table; DELETE them from
    // recent), managed entirely via CALL procedures. The task stays silent
    // while suspended, then fires twice under the virtual clock (second
    // fire is a no-op: the old rows are already moved — idempotence), and
    // the hot/cold split the oracle reproduces is the task's doing. The
    // catalog's registry and clock persist across invocations, so all
    // advancement is relative (by_ms) with hour-aligned steps.
    ("g_sql_tasks",
      (s: SparkSession, d: String) => {
        registerSqlCatalog(s)
        val sfx = java.util.UUID.randomUUID().toString.take(8)
        val recent = s"recent_$sfx"; val hist = s"hist_$sfx"
        val cols = "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING"
        FixtureClock.timed {
          Tables.events(s, d).createOrReplaceTempView("events_src")
          s.sql(s"CREATE TABLE graft_sql.db.$recent ($cols)")
          s.sql(s"CREATE TABLE graft_sql.db.$hist ($cols)")
          s.sql(s"INSERT INTO graft_sql.db.$recent SELECT * FROM events_src")
        }
        val cut = "TIMESTAMP ''2024-01-15 00:00:00''" // '' = quote inside SQL literal
        s.sql(
          s"""CALL graft_sql.system.create_task(name => 'db.archive_$sfx',
             |  schedule => 'USING CRON 0 * * * * UTC',
             |  body => 'BEGIN
             |    INSERT INTO graft_sql.db.$hist
             |      SELECT * FROM graft_sql.db.$recent WHERE ts < $cut;
             |    DELETE FROM graft_sql.db.$recent WHERE ts < $cut;
             |  END')""".stripMargin)
        // suspended tasks never fire, even as the clock moves (filtered to
        // THIS task: earlier invocations' tasks share the session registry)
        val silent = s.sql("CALL graft_sql.system.advance_tasks(by_ms => 3600000)")
          .filter(col("task_name") === s"db.archive_$sfx").count() == 0
        s.sql(s"CALL graft_sql.system.alter_task(name => 'db.archive_$sfx', action => 'RESUME')")
        val fires = s.sql("CALL graft_sql.system.advance_tasks(by_ms => 7200000)")
          .filter(col("task_name") === s"db.archive_$sfx").count()
        val inHistory = s.sql("CALL graft_sql.system.task_history()")
          .filter(col("task_name") === s"db.archive_$sfx").count()
        s.sql(s"CALL graft_sql.system.alter_task(name => 'db.archive_$sfx', action => 'SUSPEND')")
        val agg = (t: String, src: String) => s.sql(
          s"""SELECT '$src' AS src, event_type, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM graft_sql.db.$t GROUP BY 1, 2""".stripMargin)
        agg(hist, "historical").unionAll(agg(recent, "recent"))
          .withColumn("silent_while_suspended", lit(silent))
          .withColumn("task_fires", lit(fires))
          .withColumn("history_ok", lit(inHistory == fires))
          .orderBy("src", "event_type")
      },
      """SELECT 'historical' AS src, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  true AS silent_while_suspended, CAST(2 AS BIGINT) AS task_fires,
        |  true AS history_ok
        |FROM events WHERE ts < TIMESTAMP '2024-01-15'
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'recent', event_type, count(*),
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |  true, CAST(2 AS BIGINT), true
        |FROM events WHERE ts >= TIMESTAMP '2024-01-15'
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)
  )
}
