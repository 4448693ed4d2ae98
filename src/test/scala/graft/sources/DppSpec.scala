package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** DSv2 runtime filtering: a broadcast join's dim keys prune a Graft fact
  * scan AT EXECUTION TIME inside one plan — Spark's dynamic-pruning
  * subquery calls GraftDppScan's SupportsRuntimeFiltering.filter with the
  * collected build-side keys, in both its key-grouped (bucket) and packed
  * layouts. No extra driver job, no eager collect (the
  * scanWithRuntimeFilter API twin does that); observability lands in
  * QUERY_HISTORY as a `runtime-in` row.
  */
class DppSpec extends SparkSpec {

  private def allPlans(plan: SparkPlan): Seq[SparkPlan] =
    plan +: plan.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
      .flatMap(p => p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan })

  // shared by both tests and evaluated on first use, so either test runs
  // standalone (r15 self-review: the second test must not depend on the
  // first's side effects)
  private lazy val fixtureReady: Unit = {
    spark.conf.set("spark.sql.catalog.dpp", classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.dpp.warehouse", tempWarehouse())
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(
      "CREATE TABLE dpp.db.fact (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(16, k))")
    spark.sql(
      "INSERT INTO dpp.db.fact SELECT id % 400 AS k, CAST(id AS DOUBLE) AS v " +
        "FROM range(0, 20000)")
    spark.range(0, 400).selectExpr("id AS k", "concat('d', id) AS name")
      .createOrReplaceTempView("dpp_dim")
  }

  test("broadcast-join dim keys prune the fact scan at execution time") {
    fixtureReady
    graft.table.QueryHistory.clear()
    // the selective filter sits on a NON-join dim column: nothing is
    // statically inferrable onto the fact key, so only the runtime filter
    // can prune the fact read — the exact scenario DPP exists for
    val q = spark.sql(
      """SELECT f.k, count(*) AS n, sum(f.v) AS sv
        |FROM dpp.db.fact f JOIN dpp_dim d ON f.k = d.k
        |WHERE d.name IN ('d3', 'd7', 'd11')
        |GROUP BY f.k ORDER BY f.k""".stripMargin)
    val rows = q.collect()
    // correctness: identical to the unfiltered-scan answer
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L, 7L, 11L))
    assert(rows.map(_.getLong(1)).forall(_ == 50L),
      s"each key appears 20000/400 = 50 times: ${rows.mkString(",")}")
    // the runtime-filter subquery must sit in the EXECUTED DSv2 plan
    val plans = allPlans(q.queryExecution.executedPlan)
    assert(plans.exists(_.toString.contains("dynamicpruning")),
      s"no dynamic-pruning runtime filter in:\n${q.queryExecution.executedPlan}")
    assert(plans.exists(_.toString.contains("graft-spj")),
      s"fact scan must be the DSv2 batch scan:\n${q.queryExecution.executedPlan}")
    // and the scan must have recorded an execution-time prune: 3 keys hash
    // into <= 3 of 16 buckets
    val rf = graft.table.QueryHistory.all
      .filter(m => m.table == "db.fact" && m.predicate.startsWith("runtime-in"))
    assert(rf.nonEmpty, "the scan must record its runtime-filter prune")
    val m = rf.last
    assert(m.filesTotal > 1 && m.filesScanned < m.filesTotal,
      s"runtime filter must prune files: ${m.filesScanned}/${m.filesTotal}")
    assert(m.partitionsScanned <= 3,
      s"3 keys hash into <= 3 buckets: ${m.partitionsScanned}/${m.partitionsTotal}")
  }

  // ------------------------------------------------------------------
  // Generalized runtime filtering (r15 verdict #1): GraftDppScan serves
  // ANY partition layout — transforms, min/max stats and blooms all
  // participate in the execution-time prune, not just bucket hashing.
  // ------------------------------------------------------------------

  private lazy val dppGeneralReady: Unit = {
    spark.conf.set("spark.sql.catalog.dppg", classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.dppg.warehouse", tempWarehouse())
    // month-partitioned fact (the docs/12 medallion shape): 24 months
    spark.sql(
      "CREATE TABLE dppg.db.factm (d DATE, v DOUBLE) PARTITIONED BY (months(d))")
    spark.sql(
      """INSERT INTO dppg.db.factm
        |SELECT date_add(DATE'2023-01-01', CAST(id % 720 AS INT)) AS d,
        |  CAST(id AS DOUBLE) AS v
        |FROM range(0, 14400)""".stripMargin)
    spark.range(0, 720)
      .selectExpr("date_add(DATE'2023-01-01', CAST(id AS INT)) AS d_date",
        "concat(year(date_add(DATE'2023-01-01', CAST(id AS INT))), 'Q', " +
          "quarter(date_add(DATE'2023-01-01', CAST(id AS INT)))) AS d_quarter")
      .createOrReplaceTempView("dppg_dates")
    // unpartitioned fact whose files carry DISJOINT key ranges (one commit
    // per range), so only the min/max stats plane can prune it
    spark.sql("CREATE TABLE dppg.db.facts (k BIGINT, v DOUBLE)")
    // the same ranges under a cluster-by declaration, which routes the
    // table to the DSv2 scan by its metadata
    spark.sql("CREATE TABLE dppg.db.factc (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('cluster-by'='k')")
    (0 until 4).foreach { c =>
      Seq("facts", "factc").foreach { t =>
        spark.sql(s"INSERT INTO dppg.db.$t SELECT id AS k, CAST(id AS DOUBLE) AS v " +
          s"FROM range(${c * 1000}, ${c * 1000 + 1000})")
      }
    }
    // unpartitioned bloom-indexed fact with INTERLEAVED keys (every file
    // spans the full min/max range), so only the bloom plane can prune it
    spark.sql("CREATE TABLE dppg.db.factb (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('write.bloom-columns'='k')")
    (0 until 4).foreach { c =>
      spark.sql("INSERT INTO dppg.db.factb " +
        s"SELECT id * 4 + $c AS k, CAST(id AS DOUBLE) AS v FROM range(0, 1000)")
    }
    spark.range(0, 4000).selectExpr("id AS k", "concat('n', id) AS name")
      .createOrReplaceTempView("dppg_dim")
  }

  /** The native-path control leg: runs `sqlText` with `table` (as written
    * in the SQL, `<catalog>.db.<name>`) read through the native
    * `GraftTable.scan` / `atSnapshot` API in a temp view — Spark's own
    * parquet scan over the pruned file list, never the DSv2 scan.
    */
  private def nativeRows(sqlText: String, table: String,
                         snapshot: Option[Long] = None): Seq[org.apache.spark.sql.Row] = {
    val Array(catalog, db, name) = table.split('.')
    val t = new graft.catalog.GraftCatalog(
      spark.conf.get(s"spark.sql.catalog.$catalog.warehouse")).loadTable(s"$db.$name")
    snapshot.fold(t.scan())(id => t.atSnapshot(id)).toDF(spark)
      .createOrReplaceTempView(s"native_$name")
    val inSql = snapshot.fold(table)(id => s"$table VERSION AS OF $id")
    spark.sql(sqlText.replace(inSql, s"native_$name")).collect().toSeq
  }

  private def lastRuntimeIn(table: String): graft.table.ScanMetrics = {
    val rf = graft.table.QueryHistory.all
      .filter(m => m.table == table && m.predicate.startsWith("runtime-in"))
    assert(rf.nonEmpty, s"no runtime-in row recorded for $table")
    rf.last
  }

  test("month transform: dim keys prune a date-partitioned fact at execution time") {
    dppGeneralReady
    // NO conf set (r16 verdict #1): a partitioned table shape-routes to the
    // generalized scan by DEFAULT — this leg certifies the out-of-the-box path
    locally {
      graft.table.QueryHistory.clear()
      // selective filter on a NON-join dim column (quarter), so nothing is
      // statically inferrable onto the fact's date — only DPP can prune
      val q = spark.sql(
        """SELECT count(*) AS n, sum(f.v) AS sv
          |FROM dppg.db.factm f JOIN dppg_dates d ON f.d = d.d_date
          |WHERE d.d_quarter = '2023Q2'""".stripMargin)
      val row = q.collect().head
      assert(row.getLong(0) == 1820L, s"20 rows x 91 days: $row") // 91 days in Q2
      val plans = allPlans(q.queryExecution.executedPlan)
      assert(plans.exists(_.toString.contains("dynamicpruning")),
        s"no dynamic-pruning subquery in:\n${q.queryExecution.executedPlan}")
      assert(plans.exists(_.toString.contains("graft-dpp")),
        s"fact scan must be the generalized DSv2 batch scan:\n${q.queryExecution.executedPlan}")
      val m = lastRuntimeIn("db.factm")
      assert(m.filesTotal > 1 && m.filesScanned < m.filesTotal,
        s"month transform must prune files: ${m.filesScanned}/${m.filesTotal}")
      assert(m.partitionsScanned <= 3,
        s"Q2 dates land in 3 months: ${m.partitionsScanned}/${m.partitionsTotal}")
    }
  }

  test("min/max stats plane: dim keys prune an unpartitioned fact's files") {
    dppGeneralReady
    // unpartitioned, no blooms: the cluster-by declaration routes the
    // table, and only the per-commit disjoint key ranges can prune it
    locally {
      graft.table.QueryHistory.clear()
      val q = spark.sql(
        """SELECT count(*) AS n
          |FROM dppg.db.factc f JOIN dppg_dim d ON f.k = d.k
          |WHERE d.name IN ('n42', 'n57', 'n2042')""".stripMargin)
      assert(q.collect().head.getLong(0) == 3L)
      val m = lastRuntimeIn("db.factc")
      // keys 42/57/2042 live in the [0,1000) and [2000,3000) range files
      assert(m.filesTotal >= 4 && m.filesScanned < m.filesTotal,
        s"stats plane must prune disjoint-range files: ${m.filesScanned}/${m.filesTotal}")
    }
  }

  test("bloom plane: dim keys prune files whose min/max ranges all overlap") {
    dppGeneralReady
    // bloom-columns is a table property: the DEFAULT route serves this
    // table with no conf set
    locally {
      graft.table.QueryHistory.clear()
      // key 402 = 4*100 + 2 lives only in the residue-2 file; every file
      // spans [residue, ~4000), so min/max admits all four — only the
      // bloom can rule the other three out
      val q = spark.sql(
        """SELECT count(*) AS n
          |FROM dppg.db.factb f JOIN dppg_dim d ON f.k = d.k
          |WHERE d.name = 'n402'""".stripMargin)
      assert(q.collect().head.getLong(0) == 1L)
      val m = lastRuntimeIn("db.factb")
      assert(m.filesTotal >= 4 && m.filesScanned < m.filesTotal,
        s"bloom plane must prune overlapping-range files: ${m.filesScanned}/${m.filesTotal}")
    }
  }

  test("SPJ runtime filter refines WITHIN kept buckets through the stats plane") {
    // r16 (closing the r15 verdict's "bucket membership only" edge): a
    // bucket holds one file per commit; with disjoint per-commit key
    // ranges, the In keys' min/max refinement keeps ~one file per kept
    // bucket where bucket membership alone would read all four
    spark.conf.set("spark.sql.catalog.dppr", classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.dppr.warehouse", tempWarehouse())
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(
      "CREATE TABLE dppr.db.fact (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(8, k))")
    (0 until 4).foreach { c =>
      spark.sql("INSERT INTO dppr.db.fact SELECT id AS k, CAST(id AS DOUBLE) AS v " +
        s"FROM range(${c * 1000}, ${c * 1000 + 1000})")
    }
    spark.range(0, 4000).selectExpr("id AS k", "concat('n', id) AS name")
      .createOrReplaceTempView("dppr_dim")
    graft.table.QueryHistory.clear()
    val q = spark.sql(
      """SELECT count(*) AS n, sum(f.v) AS sv
        |FROM dppr.db.fact f JOIN dppr_dim d ON f.k = d.k
        |WHERE d.name IN ('n42', 'n2042')""".stripMargin)
    val row = q.collect().head
    assert(row.getLong(0) == 2L && row.getDouble(1) == 42.0 + 2042.0)
    val m = lastRuntimeIn("db.fact")
    assert(m.filesTotal == 32, s"4 commits x 8 buckets: ${m.filesTotal}")
    assert(m.partitionsScanned <= 2,
      s"2 keys hash into <= 2 buckets: ${m.partitionsScanned}")
    // the refinement claim: bucket-only keeping would read 4 files per
    // kept bucket; the stats plane cuts each kept bucket to the one
    // commit whose range holds the key
    assert(m.filesScanned <= m.partitionsScanned,
      s"stats refinement must keep ~1 file per kept bucket: " +
        s"${m.filesScanned} files for ${m.partitionsScanned} buckets")
  }

  test("generalized runtime filter never over-prunes: DPP on == DPP off") {
    dppGeneralReady
    val q =
      """SELECT f.d, count(*) AS n, sum(f.v) AS sv
        |FROM dppg.db.factm f JOIN dppg_dates d ON f.d = d.d_date
        |WHERE d.d_quarter IN ('2023Q4', '2024Q1')
        |GROUP BY f.d ORDER BY f.d""".stripMargin
    val withDpp = spark.sql(q).collect() // default route: the DPP scan
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    val without =
      try spark.sql(q).collect()
      finally spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    val native = nativeRows(q, "dppg.db.factm") // substituted path, no DPP scan at all
    assert(withDpp.toSeq == without.toSeq)
    assert(withDpp.toSeq == native)
  }

  test("route choice per shape: partitioned serves dpp, bare stays native, bucket keeps spj") {
    // the DSv2 scan is the read path for every shape; where a runtime
    // filter could prune is a metadata-shape rule with no routing conf
    dppGeneralReady
    fixtureReady
    def executed(sqlText: String): String = {
      val q = spark.sql(sqlText)
      q.collect()
      allPlans(q.queryExecution.executedPlan).map(_.toString).mkString("\n")
    }
    // partitioned table: shape-routes to the DSv2 scan
    val part = executed(
      "SELECT sum(v) AS s FROM dppg.db.factm WHERE d >= DATE'2023-02-03'")
    assert(part.contains("graft-dpp"), s"partitioned table must serve graft-dpp:\n$part")
    // bloom-declared table: the property alone shape-routes it
    val bloomed = executed("SELECT sum(v) AS s FROM dppg.db.factb WHERE k = 402")
    assert(bloomed.contains("graft-dpp"), s"bloom'd table must serve graft-dpp:\n$bloomed")
    // bare unpartitioned/unclustered/bloomless: the same columnar DSv2
    // scan with the static filter pushed, but nothing a runtime key set
    // could prune — a star join over it plans no dynamic-pruning subquery
    val bare = executed("SELECT sum(v) AS s FROM dppg.db.facts WHERE k >= 17")
    assert(bare.contains("graft-dpp") && bare.contains("ColumnarToRow") &&
      bare.contains("GreaterThanOrEqual(k,17)"),
      s"bare table must serve the columnar DSv2 scan with its filter pushed:\n$bare")
    val bareJoin = executed(
      """SELECT count(*) AS n
        |FROM dppg.db.facts f JOIN dppg_dim d ON f.k = d.k
        |WHERE d.name IN ('n42', 'n57', 'n2042')""".stripMargin)
    assert(bareJoin.contains("graft-dpp") && !bareJoin.contains("dynamicpruning"),
      s"a bare table must not invite a dynamic-pruning subquery:\n$bareJoin")
    // bucket shape under Spark's v2 bucketing: the key-grouped layout
    // (KeyGroupedPartitioning must survive for exchange-free co-bucketed joins)
    val bucketed = executed("SELECT sum(v) AS s FROM dpp.db.fact WHERE k >= 17")
    assert(bucketed.contains("graft-spj"),
      s"bucket table under the bucketing conf must keep graft-spj:\n$bucketed")

    // the same bucket table with v2 bucketing UNSET: the packed layout
    val bucketingKey = "spark.sql.sources.v2.bucketing.enabled"
    val prior = spark.conf.getOption(bucketingKey)
    spark.conf.unset(bucketingKey)
    try {
      val q = spark.sql("SELECT sum(v) AS s FROM dpp.db.fact WHERE k >= 17")
      q.collect()
      val plans = allPlans(q.queryExecution.executedPlan)
      assert(plans.exists(_.toString.contains("graft-dpp")) &&
        !plans.exists(_.toString.contains("graft-spj")),
        s"bucket table without v2 bucketing must serve graft-dpp:\n${plans.head}")
      val parts = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.collect { case g: GraftDppScan => g.planInputPartitions().toSeq }.flatten
      assert(parts.nonEmpty && parts.forall(_.isInstanceOf[GraftDppPartition]),
        s"packed layout must plan packed partitions: ${parts.map(_.getClass.getSimpleName)}")
    } finally prior.foreach(spark.conf.set(bucketingKey, _))

    // key-grouped runtime filter with MORE than 1024 collected keys: every
    // bucket holds a key, so only the per-file stats plane can prune — the
    // keep rule must not cap large key sets to bucket membership. Four
    // commits of disjoint key ranges; the 1500 g0 keys live in two of them.
    spark.sql(
      "CREATE TABLE dpp.db.factk (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(8, k))")
    (0 until 4).foreach { c =>
      spark.sql("INSERT INTO dpp.db.factk SELECT id AS k, CAST(id AS DOUBLE) AS v " +
        s"FROM range(${c * 1000}, ${c * 1000 + 1000})")
    }
    // the group label hides the key range from Catalyst, so nothing is
    // statically inferrable onto the fact key
    spark.range(0, 4000).selectExpr("id AS k", "concat('g', CAST(id DIV 1500 AS STRING)) AS grp")
      .createOrReplaceTempView("dppk_dim")
    val manyKeys =
      """SELECT count(*) AS n, sum(f.v) AS sv
        |FROM dpp.db.factk f JOIN dppk_dim d ON f.k = d.k
        |WHERE d.grp = 'g0'""".stripMargin
    graft.table.QueryHistory.clear()
    val q = spark.sql(manyKeys)
    val rows = q.collect().toSeq
    assert(allPlans(q.queryExecution.executedPlan).exists(_.toString.contains("graft-spj")),
      s"bucket table must serve the key-grouped layout:\n${q.queryExecution.executedPlan}")
    assert(rows == nativeRows(manyKeys, "dpp.db.factk"),
      s"many-key runtime filter diverged from the native path: $rows")
    assert(rows.head.getLong(0) == 1500L)
    val m = lastRuntimeIn("db.factk")
    assert(m.predicate.contains("1500 keys"), m.predicate)
    assert(m.filesScanned < m.filesTotal,
      s"stats plane must prune under > 1024 keys: ${m.filesScanned}/${m.filesTotal}")
  }

  test("time travel: VERSION AS OF keeps execution-time pruning under the snapshot's schema") {
    // r17 verdict #5: the docs/05 audit-then-join pattern — a star join
    // over VERSION AS OF must not silently lose DPP. Decoy rows (and a
    // schema evolution) land AFTER the pinned snapshot: a travel-broken
    // read would surface the decoys or the evolved column.
    dppGeneralReady
    spark.conf.set("spark.sql.catalog.dppt", classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.dppt.warehouse", tempWarehouse())
    spark.sql(
      "CREATE TABLE dppt.db.factt (d DATE, v DOUBLE) PARTITIONED BY (months(d))")
    spark.sql(
      """INSERT INTO dppt.db.factt
        |SELECT date_add(DATE'2023-01-01', CAST(id % 720 AS INT)) AS d,
        |  CAST(id AS DOUBLE) AS v
        |FROM range(0, 14400)""".stripMargin)
    val snap = spark.sql("SELECT max(snapshot_id) FROM dppt.db.factt.snapshots")
      .head().getLong(0)
    spark.sql("ALTER TABLE dppt.db.factt ADD COLUMN note STRING")
    spark.sql("INSERT INTO dppt.db.factt " +
      "SELECT date_add(DATE'2023-04-15', 0), CAST(-1.0 AS DOUBLE), 'decoy'")
    val sql =
      s"""SELECT count(*) AS n, sum(f.v) AS sv
         |FROM dppt.db.factt VERSION AS OF $snap f JOIN dppg_dates d
         |  ON f.d = d.d_date
         |WHERE d.d_quarter = '2023Q2'""".stripMargin
    graft.table.QueryHistory.clear()
    val q = spark.sql(sql)
    val row = q.collect().head
    assert(row.getLong(0) == 1820L, s"AS-OF read must exclude the decoy: $row")
    val plans = allPlans(q.queryExecution.executedPlan)
    assert(plans.exists(_.toString.contains("dynamicpruning")),
      s"no dynamic-pruning subquery under AS OF:\n${q.queryExecution.executedPlan}")
    assert(plans.exists(_.toString.contains("graft-dpp")),
      s"traveled fact scan must serve graft-dpp:\n${q.queryExecution.executedPlan}")
    val m = lastRuntimeIn("db.factt")
    assert(m.filesTotal > 1 && m.filesScanned < m.filesTotal,
      s"AS-OF runtime filter must prune files: ${m.filesScanned}/${m.filesTotal}")
    assert(m.partitionsScanned <= 3,
      s"Q2 dates land in 3 months: ${m.partitionsScanned}/${m.partitionsTotal}")
    // triple equality: DPP route == DPP-subquery off == native substitution
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    val noSubquery =
      try spark.sql(sql).collect()
      finally spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    val native = nativeRows(sql, "dppt.db.factt", Some(snap))
    assert(Seq(row) == noSubquery.toSeq && Seq(row) == native)
    // and the head read still sees the decoy (travel is a pin, not a mask)
    assert(spark.sql("SELECT count(*) FROM dppt.db.factt WHERE v < 0").head().getLong(0) == 1L)
  }

  test("MOR position deletes route the substitution path (the documented DPP fallback)") {
    // The one structural fallback left on the default DSv2 route (r18):
    // planEligible refuses scans with position deletes because the DPP
    // reader decodes files verbatim — applying deletes belongs to the
    // substitution path's merge-read anti-join. This leg makes the
    // fallback DELIBERATE: a MOR star join must (a) not serve graft-dpp,
    // (b) return delete-correct rows.
    dppGeneralReady
    spark.sql(
      "CREATE TABLE dppg.db.factmor (d DATE, v DOUBLE) PARTITIONED BY (months(d)) " +
        "TBLPROPERTIES ('enable-iceberg-merge-on-read'='true')")
    spark.sql(
      """INSERT INTO dppg.db.factmor
        |SELECT date_add(DATE'2023-01-01', CAST(id % 720 AS INT)) AS d,
        |  CAST(id AS DOUBLE) AS v
        |FROM range(0, 14400)""".stripMargin)
    spark.sql("DELETE FROM dppg.db.factmor WHERE v < 100")
    val deleteFiles = spark.sql(
      "SELECT count(*) FROM dppg.db.factmor.files WHERE content <> 'data'")
      .head().getLong(0)
    assert(deleteFiles > 0, "the DELETE must have written position-delete files")
    val sql =
      """SELECT count(*) AS n
        |FROM dppg.db.factmor f JOIN dppg_dates d ON f.d = d.d_date
        |WHERE d.d_quarter = '2023Q2'""".stripMargin
    // ids 0..99 delete one copy of each of the first 100 dates; Q2 loses
    // Apr 1-10 once each: 1820 - 10
    val q = spark.sql(sql)
    assert(q.collect().head.getLong(0) == 1810L,
      "the MOR read must apply position deletes")
    assert(!allPlans(q.queryExecution.executedPlan)
        .exists(_.toString.contains("graft-dpp")),
      s"MOR scans must fall back to substitution:\n${q.queryExecution.executedPlan}")
  }

  test("partition evolution: mixed-spec files keep execution-time pruning on the default route") {
    // r18: a long-lived table that moved from months() to days() used to
    // fall back to the substitution path (planEligible required ONE spec)
    // and silently lose DPP. Specs are metadata-plane only — data files
    // carry all columns and keepForKeys prunes each file under the spec it
    // was written with — so the DPP route now serves both epochs: the 2023
    // epoch's files prune through the months() plane, the 2024 epoch's
    // through days(), in one star join.
    dppGeneralReady
    spark.conf.set("spark.sql.catalog.dppe", classOf[GraftTableCatalog].getName)
    val wh = tempWarehouse()
    spark.conf.set("spark.sql.catalog.dppe.warehouse", wh)
    spark.sql(
      "CREATE TABLE dppe.db.factpe (d DATE, v DOUBLE) PARTITIONED BY (months(d))")
    spark.sql(
      """INSERT INTO dppe.db.factpe
        |SELECT date_add(DATE'2023-01-01', CAST(id % 360 AS INT)) AS d,
        |  CAST(id AS DOUBLE) AS v
        |FROM range(0, 7200)""".stripMargin)
    new graft.catalog.GraftCatalog(wh).loadTable("db.factpe")
      .evolvePartitionSpec(Seq("d" -> graft.format.Transform.Day))
    spark.sql(
      """INSERT INTO dppe.db.factpe
        |SELECT date_add(DATE'2024-01-01', CAST(id % 360 AS INT)) AS d,
        |  CAST(id AS DOUBLE) AS v
        |FROM range(0, 7200)""".stripMargin)
    val sql =
      """SELECT count(*) AS n, sum(f.v) AS sv
        |FROM dppe.db.factpe f JOIN dppg_dates d ON f.d = d.d_date
        |WHERE d.d_quarter IN ('2023Q2', '2024Q2')""".stripMargin
    graft.table.QueryHistory.clear()
    val q = spark.sql(sql)
    val row = q.collect().head
    // 20 copies of each of the 91 Q2 dates per epoch
    assert(row.getLong(0) == 3640L, s"both epochs must contribute: $row")
    val plans = allPlans(q.queryExecution.executedPlan)
    assert(plans.exists(_.toString.contains("dynamicpruning")),
      s"no dynamic-pruning subquery over the evolved table:\n${q.queryExecution.executedPlan}")
    assert(plans.exists(_.toString.contains("graft-dpp")),
      s"the evolved fact scan must serve graft-dpp:\n${q.queryExecution.executedPlan}")
    val m = lastRuntimeIn("db.factpe")
    assert(m.filesTotal > 1 && m.filesScanned < m.filesTotal,
      s"mixed-spec runtime filter must prune files: ${m.filesScanned}/${m.filesTotal}")
    // no over-pruning: row-identical to the substitution path
    val native = nativeRows(sql, "dppe.db.factpe")
    assert(Seq(row) == native,
      s"mixed-spec DPP route diverged from the native path: $row vs $native")
  }

  test("small files bin-pack into shared input partitions (native split rule)") {
    // r17 ADVICE (medium): the DPP scan is the DEFAULT read path for every
    // partitioned table, so one-task-per-file would regress a small-file
    // table (500k files -> 500k tasks) vs the substituted native scan's
    // FilePartition packing. factm holds 24 tiny month files; under
    // minPartitionNum=2 the split rule yields maxSplit ~ totalBytes/2, so
    // the 24 slices (openCost-charged) must pack into FAR fewer partitions.
    dppGeneralReady
    val prior = spark.conf.getOption("spark.sql.files.minPartitionNum")
    spark.conf.set("spark.sql.files.minPartitionNum", "2")
    try {
      val df = spark.sql("SELECT * FROM dppg.db.factm")
      val parts = df.rdd.getNumPartitions
      val fileCount = spark.sql(
        "SELECT count(*) FROM dppg.db.factm.files").head().getLong(0)
      assert(fileCount >= 24, s"fixture must hold many small files: $fileCount")
      assert(parts < fileCount / 2,
        s"small files must bin-pack: $parts partitions for $fileCount files")
      // packing must neither drop nor duplicate a slice
      assert(df.count() == 14400L)
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.files.minPartitionNum", v)
      case None => spark.conf.unset("spark.sql.files.minPartitionNum")
    }
    // and a file LARGER than maxSplitBytes still range-splits: shrink the
    // split ceiling so each month file spans several slices
    val priors = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val df = spark.sql("SELECT * FROM dppg.db.factm")
      assert(df.rdd.getNumPartitions > 24,
        s"files larger than maxSplitBytes must range-split: ${df.rdd.getNumPartitions}")
      assert(df.count() == 14400L, "range splits must neither drop nor duplicate rows")
    } finally priors.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime-filtered result matches the unfiltered plan row for row") {
    fixtureReady
    // guard against over-pruning: disable DPP, re-run, compare — the
    // conf restore sits in a finally so a failure cannot leak a
    // DPP-disabled session into later suites
    val q =
      """SELECT f.k, count(*) AS n, sum(f.v) AS sv
        |FROM dpp.db.fact f JOIN dpp_dim d ON f.k = d.k
        |WHERE d.k % 97 = 5
        |GROUP BY f.k ORDER BY f.k""".stripMargin
    val withDpp = spark.sql(q).collect()
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    val without =
      try spark.sql(q).collect()
      finally spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    assert(withDpp.toSeq == without.toSeq)
  }
}
