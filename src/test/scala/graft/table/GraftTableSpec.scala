package graft.table

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.format.{Predicate, Transform}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/** End-to-end table-format behavior against the reference's worked examples:
  * snapshot lineage (docs/05:8-15), isolation (docs/05:126-135, docs/08:35-45),
  * DML semantics (docs/08), COW ≡ MOR (docs/08:104-116), expiration
  * invariants (docs/05:115-119), concurrent commits (docs/08:57-69).
  */
class GraftTableSpec extends SparkSpec {

  private def mkDf(rows: Seq[(Long, String, Double)]): DataFrame =
    spark.createDataFrame(
      rows.map { case (a, b, c) => Row(a, b, c) }.asJava,
      StructType(Seq(
        StructField("id", LongType), StructField("cat", StringType),
        StructField("v", DoubleType))))

  private val base = Seq(
    (1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "b", 4.0), (5L, "c", 5.0))

  private def newTable(name: String, partitioned: Boolean = false,
                       props: Map[String, String] = Map.empty): GraftTable = {
    val cat = new GraftCatalog(tempWarehouse())
    cat.createTable(s"db.$name", mkDf(Nil).schema,
      partitionBy = if (partitioned) Seq("cat" -> Transform.Identity) else Nil,
      properties = props)
  }

  private def contents(t: GraftTable): Set[(Long, String, Double)] =
    t.toDF(spark).collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("append then scan returns exactly the appended rows") {
    val t = newTable("t_append")
    t.append(spark, mkDf(base))
    assert(contents(t) == base.toSet)
  }

  test("snapshot isolation: an open scan is unaffected by later commits (docs/08:30-49)") {
    val t = newTable("t_iso")
    t.append(spark, mkDf(base))
    val scanBefore = t.scan() // binds to snapshot 1
    t.delete(spark, Seq(Predicate.Eq("cat", "a")))
    assert(scanBefore.toDF(spark).count() == 5) // still sees pre-delete state
    assert(t.toDF(spark).count() == 3)
  }

  test("COW delete rewrites only candidate files (docs/08:99-110)") {
    val t = newTable("t_cow", partitioned = true)
    t.append(spark, mkDf(base))
    val filesBefore = t.scan().dataFiles.map(_.path).toSet
    t.delete(spark, Seq(Predicate.Eq("cat", "a")))
    val filesAfter = t.scan().dataFiles.map(_.path).toSet
    // files for cat=b and cat=c must be carried forward untouched
    val untouched = filesBefore.filter(p => p.contains("cat=b") || p.contains("cat=c"))
    assert(untouched.subsetOf(filesAfter))
    assert(contents(t) == base.filterNot(_._2 == "a").toSet)
  }

  test("UPDATE applies expressions to matching rows only (docs/08:119-130)") {
    val t = newTable("t_upd")
    t.append(spark, mkDf(base))
    t.update(spark, Map("v" -> (col("v") * 10)), Seq(Predicate.Eq("cat", "b")))
    assert(contents(t) == Set(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 30.0), (4L, "b", 40.0), (5L, "c", 5.0)))
  }

  test("MERGE routes matched-update / matched-delete / not-matched-insert (docs/08:132-141)") {
    val t = newTable("t_merge")
    t.append(spark, mkDf(base))
    val source = mkDf(Seq((2L, "a", 200.0), (5L, "c", 500.0), (9L, "z", 9.0)))
    t.merge(spark, source, Seq("id" -> "id"),
      whenMatchedUpdate = Map("v" -> col("s.v")),
      whenMatchedDelete = Some(col("s.cat") === "c"))
    assert(contents(t) == Set(
      (1L, "a", 1.0), (2L, "a", 200.0), (3L, "b", 3.0), (4L, "b", 4.0), (9L, "z", 9.0)))
  }

  test("COW and MOR deletes yield identical table contents (docs/08:104-116)") {
    val cow = newTable("t_cmp_cow")
    val mor = newTable("t_cmp_mor", props = Map("enable-iceberg-merge-on-read" -> "true"))
    for (t <- Seq(cow, mor)) {
      t.append(spark, mkDf(base))
      t.delete(spark, Seq(Predicate.Gt("v", 2.5), Predicate.Lt("v", 4.5)))
    }
    assert(contents(cow) == contents(mor))
    assert(mor.scan().deleteFiles.nonEmpty)  // MOR really wrote delete files
    assert(cow.scan().deleteFiles.isEmpty)   // COW really rewrote
  }

  test("MOR delete then compact folds deletes and preserves contents (docs/01:107)") {
    val t = newTable("t_mor_c", props = Map("enable-iceberg-merge-on-read" -> "true"))
    t.append(spark, mkDf(base))
    t.delete(spark, Seq(Predicate.Eq("cat", "a")))
    val before = contents(t)
    t.compact(spark)
    assert(contents(t) == before)
    assert(t.scan().deleteFiles.isEmpty)
  }

  test("time travel: every snapshot re-reads its exact historical state (docs/05:60-80)") {
    val t = newTable("t_tt")
    t.append(spark, mkDf(base.take(2)))
    val s1 = t.meta.currentSnapshotId.get
    t.append(spark, mkDf(base.drop(2)))
    val s2 = t.meta.currentSnapshotId.get
    t.delete(spark, Seq(Predicate.Eq("id", 1L)))
    assert(t.atSnapshot(s1).toDF(spark).count() == 2)
    assert(t.atSnapshot(s2).toDF(spark).count() == 5)
    assert(t.toDF(spark).count() == 4)
  }

  test("rollback restores old content as a NEW commit; history preserved (docs/05:151-160)") {
    val t = newTable("t_rb")
    t.append(spark, mkDf(base))
    val s1 = t.meta.currentSnapshotId.get
    t.delete(spark, Seq(Predicate.Eq("cat", "a")))
    t.rollbackTo(s1)
    assert(contents(t) == base.toSet)
    assert(t.meta.snapshots.size == 3)
  }

  test("BEFORE(STATEMENT) reads the state prior to a given commit (docs/05:69-72)") {
    val t = newTable("t_stmt")
    t.append(spark, mkDf(base), statementId = Some("stmt-1"))
    t.delete(spark, Seq(Predicate.Eq("cat", "a")), statementId = Some("stmt-2"))
    assert(t.before("stmt-2").toDF(spark).count() == 5)
  }

  test("replayed statement IDs are idempotent (streaming micro-batch retry safety)") {
    val t = newTable("t_idem")
    val s1 = t.append(spark, mkDf(base), statementId = Some("batch-7"))
    val s2 = t.append(spark, mkDf(base), statementId = Some("batch-7")) // replay
    assert(s1.snapshotId == s2.snapshotId)
    assert(t.toDF(spark).count() == 5, "replayed batch must not double-append")
    assert(t.meta.snapshots.size == 1)
    // a different statement still commits
    t.append(spark, mkDf(base), statementId = Some("batch-8"))
    assert(t.toDF(spark).count() == 10)
  }

  test("concurrent DISJOINT deletes both succeed via retry revalidation (docs/08:71-78)") {
    val t = newTable("t_disj", partitioned = true)
    t.append(spark, mkDf(base))
    val threads = Seq("a", "b").map { g =>
      new Thread(() => t.delete(spark, Seq(Predicate.Eq("cat", g))))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // both deletes applied: only cat=c remains; one of the two must have
    // gone through the CAS-retry + revalidation path
    assert(contents(t) == base.filter(_._2 == "c").toSet)
    assert(t.meta.snapshots.size == 3)
  }

  test("concurrent appends all succeed via OCC retry (docs/08:57-69)") {
    val t = newTable("t_conc")
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        t.append(spark, mkDf(Seq((i.toLong, s"t$i", i.toDouble))))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(t.toDF(spark).count() == 4)
    assert(t.meta.snapshots.size == 4)
  }

  test("conflict guard: concurrent position-deletes abort a folding rewrite (docs/08:71-78)") {
    val t = newTable("t_conf_del", props = Map("enable-iceberg-merge-on-read" -> "true"))
    t.append(spark, mkDf(base))
    val (_, m0) = t.load()
    val seenDeletes = t.scan().deleteFiles.map(_.path).toSet // empty at scan time
    t.delete(spark, Seq(Predicate.Eq("cat", "a"))) // concurrent MOR delete lands
    val (_, m1) = t.load()
    intercept[graft.catalog.CommitConflictException] {
      t.replaceFiles(m1, t.scan().dataFiles.map(_.path).toSet, Nil,
        requireAllLive = true, expectedDeletePaths = Some(seenDeletes))
    }
  }

  test("conflict guard: a rewrite whose candidate files vanished must abort, not resurrect rows (docs/08:71-78)") {
    val t = newTable("t_conf")
    t.append(spark, mkDf(base))
    val (_, m0) = t.load()
    val live = t.scan().dataFiles.map(_.path).toSet
    // all candidates still live -> guard passes
    t.replaceFiles(m0, live.take(1), Nil, requireAllLive = true)
    // a concurrent overwrite replaces every file; the stale rewrite must abort
    t.overwrite(spark, mkDf(base))
    val (_, m1) = t.load()
    intercept[graft.catalog.CommitConflictException] {
      t.replaceFiles(m1, live.take(1), Nil, requireAllLive = true)
    }
  }

  test("AT(OFFSET) resolves a relative-time snapshot (docs/05:65-67)") {
    val t = newTable("t_off")
    t.append(spark, mkDf(base.take(2)))
    t.append(spark, mkDf(base.drop(2)))
    assert(t.atOffset(0).toDF(spark).count() == 5)   // "now" = current snapshot
    val firstTs = t.meta.snapshots.head.timestampMs
    val secondTs = t.meta.snapshots.last.timestampMs
    if (secondTs > firstTs) { // only deterministic when the commits got distinct timestamps
      val offsetSec = -((System.currentTimeMillis() - firstTs) / 1000 + 1).max(1L)
      assert(t.atOffset(offsetSec).toDF(spark).count() <= 2)
    }
  }

  test("spark.sql over registered Graft tables (SQL surface)") {
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("sqlns.facts", mkDf(Nil).schema)
    t.append(spark, mkDf(base))
    cat.registerAll(spark, "sqlns")
    val out = spark.sql("SELECT cat, count(*) AS n FROM facts GROUP BY cat ORDER BY cat").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 2L), ("b", 2L), ("c", 1L)))
  }

  test("expire snapshots: expired history unreachable, current preserved, files GC'd (docs/05:101-119)") {
    val t = newTable("t_exp")
    t.append(spark, mkDf(base.take(2)))
    val s1 = t.meta.currentSnapshotId.get
    t.overwrite(spark, mkDf(base.drop(2))) // orphan the first files logically
    val (removedSnaps, removedFiles) = t.expireSnapshots(System.currentTimeMillis() + 1000)
    assert(removedSnaps == 1)
    assert(removedFiles > 0)
    assert(t.toDF(spark).count() == 3)               // current intact
    intercept[RuntimeException](t.atSnapshot(s1))    // time travel now fails
  }

  test("remove orphan files deletes only unreferenced files (docs/10:97-111)") {
    val t = newTable("t_orph")
    t.append(spark, mkDf(base))
    // plant an orphan in the data dir
    val orphan = java.nio.file.Paths.get(t.location, "data", "orphan.parquet")
    java.nio.file.Files.createDirectories(orphan.getParent)
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    val removed = t.removeOrphanFiles(System.currentTimeMillis() + 1000)
    assert(removed.exists(_.endsWith("orphan.parquet")))
    assert(t.toDF(spark).count() == 5) // table intact
  }

  test("UNDROP recovers a dropped table (docs/01:80)") {
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.t_drop", mkDf(Nil).schema)
    t.append(spark, mkDf(base))
    cat.dropTable("db.t_drop")
    assert(!cat.tableExists("db.t_drop"))
    val recovered = cat.undropTable("db.t_drop")
    assert(recovered.toDF(spark).count() == 5)
  }

  test("health metrics + rewriteManifests consolidate planning metadata (docs/10)") {
    val t = newTable("t_health")
    (1 to 4).foreach(_ => t.append(spark, mkDf(base)))
    val h1 = t.health()
    assert(h1.dataFileCount >= 4 && h1.snapshotCount == 4)
    val mfsBefore = t.manifestsDF(spark).count()
    t.rewriteManifests()
    assert(t.manifestsDF(spark).count() <= mfsBefore)
    assert(t.toDF(spark).count() == 20)
  }

  test("hidden partition pruning scans only the matching partition's files (docs/07:132-144)") {
    val t = newTable("t_prune", partitioned = true)
    t.append(spark, mkDf(base))
    val sc = t.scan(Predicate.Eq("cat", "a"))
    val m = sc.metrics
    assert(m.filesScanned < m.filesTotal)
    assert(sc.toDF(spark).count() == 2)
  }

  test("identity partitioning on a timestamp column: filtered scans work and prune") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampNTZType)))
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.id_ts", schema,
      partitionBy = Seq("ts" -> Transform.Identity))
    val mkT = (rows: Seq[(Long, String)]) => spark.createDataFrame(
      rows.map { case (i, s) => Row(i, java.time.LocalDateTime.parse(s)) }.asJava, schema)
    t.append(spark, mkT(Seq(
      (1L, "2024-01-01T10:00:00"), (2L, "2024-06-15T12:30:00"))))
    // was: "incomparable canonical values" crash (String bounds vs Long literal)
    val sc = t.scan(Predicate.Eq("ts", java.time.LocalDateTime.parse("2024-06-15T12:30:00")))
    assert(sc.toDF(spark).collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(sc.metrics.filesScanned < sc.metrics.filesTotal)
    val range = t.scan(Predicate.Lt("ts", java.time.LocalDateTime.parse("2024-02-01T00:00:00")))
    assert(range.toDF(spark).count() == 1)
  }

  test("bucket partitioning sends NULL keys to the null partition; IS NULL scans find them") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("k", StringType)))
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.bnull", schema,
      partitionBy = Seq("k" -> Transform.Bucket(4)))
    t.append(spark, spark.createDataFrame(Seq(
      Row(1L, "x"), Row(2L, null), Row(3L, "y"), Row(4L, null)).asJava, schema))
    // was: NULLs hashed to bucket 42%n and IS NULL pruned them away
    assert(t.toDF(spark, Predicate.IsNull("k")).collect().map(_.getLong(0)).toSet == Set(2L, 4L))
    assert(t.toDF(spark, Predicate.NotNull("k")).count() == 2)
    assert(t.toDF(spark, Predicate.Eq("k", "x")).count() == 1)
  }

  test("identity partition values with path-hostile characters round-trip") {
    val t = newTable("t_esc", partitioned = true)
    val hostile = Seq(
      (1L, "a/b", 1.0), (2L, "c d", 2.0), (3L, "x=y", 3.0), (4L, "100%", 4.0))
    t.append(spark, mkDf(hostile))
    assert(contents(t) == hostile.toSet)
    // pruning still works on the escaped values
    for ((_, cat, _) <- hostile) {
      val sc = t.scan(Predicate.Eq("cat", cat))
      assert(sc.toDF(spark).collect().map(_.getString(1)).toSeq == Seq(cat))
      assert(sc.metrics.filesScanned < sc.metrics.filesTotal, s"no pruning for '$cat'")
    }
  }

  test("partitioned writes honor bucket + truncate transforms end-to-end") {
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.t_bucket", mkDf(Nil).schema,
      partitionBy = Seq("id" -> Transform.Bucket(4), "cat" -> Transform.Truncate(1)))
    t.append(spark, mkDf(base))
    assert(contents(t) == base.toSet)
    val sc = t.scan(Predicate.Eq("id", 3L))
    assert(sc.metrics.filesScanned < sc.metrics.filesTotal) // bucket equality pruned
    assert(sc.toDF(spark).collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("MERGE rejects a source with duplicate ON keys matching a target row (ANSI nondeterminism)") {
    val t = newTable("t_merge_dup")
    t.append(spark, mkDf(base))
    val dupMatched = mkDf(Seq((2L, "a", 200.0), (2L, "a", 201.0), (9L, "z", 9.0)))
    val ex = intercept[IllegalArgumentException] {
      t.merge(spark, dupMatched, Seq("id" -> "id"),
        whenMatchedUpdate = Map("v" -> col("s.v")))
    }
    assert(ex.getMessage.contains("duplicate ON-key"))
    assert(contents(t) == base.toSet) // nothing committed

    // duplicates that match NO target row are legal: each inserts
    val dupUnmatched = mkDf(Seq((9L, "z", 9.0), (9L, "z", 9.5)))
    t.merge(spark, dupUnmatched, Seq("id" -> "id"),
      whenMatchedUpdate = Map("v" -> col("s.v")))
    assert(t.toDF(spark).filter(col("id") === 9L).count() == 2)
  }

  test("MERGE by-source actions reach target files outside the source key bounds") {
    val t = newTable("t_merge_bs", partitioned = true)
    t.append(spark, mkDf(base)) // three files: cat=a (ids 1,2), cat=b (3,4), cat=c (5)
    // source keys {1} — cat=b and cat=c files lie entirely outside [1,1];
    // by-source DELETE must still rewrite them (they are exactly the rows
    // 'not matched by source')
    val source = mkDf(Seq((1L, "a", 100.0)))
    t.merge(spark, source, Seq("id" -> "id"),
      whenMatchedUpdate = Map("v" -> col("s.v")),
      insertWhenNotMatched = false,
      whenNotMatchedBySourceDelete = Some(lit(true)))
    assert(contents(t) == Set((1L, "a", 100.0)))
  }

  test("MERGE with a sparse key set rewrites only the matching partitions' files") {
    val t = newTable("t_merge_sparse", partitioned = true)
    t.append(spark, mkDf(base))
    val bFilesBefore = t.scan().dataFiles.map(_.path).filter(_.contains("cat=b")).toSet
    assert(bFilesBefore.nonEmpty)
    // keys at opposite ends of the id domain: a global [1,5] interval would
    // make the cat=b file (ids 3..4) a candidate; the key-set prune must not
    val source = mkDf(Seq((1L, "a", 100.0), (5L, "c", 500.0)))
    t.merge(spark, source, Seq("id" -> "id"),
      whenMatchedUpdate = Map("v" -> col("s.v")))
    val bFilesAfter = t.scan().dataFiles.map(_.path).filter(_.contains("cat=b")).toSet
    assert(bFilesAfter == bFilesBefore, "cat=b file should be carried forward untouched")
    assert(contents(t) == Set(
      (1L, "a", 100.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "b", 4.0), (5L, "c", 500.0)))
  }

  test("rewritten manifests are partition-clustered chunks that phase-1 pruning can skip") {
    val t = newTable("t_mfchunk", partitioned = true)
    // interleaved appends: each manifest spans several partition values
    (0 until 3).foreach { i =>
      t.append(spark, mkDf(Seq((i * 10L, "a", 1.0), (i * 10L + 1, "b", 2.0),
        (i * 10L + 2, "c", 3.0), (i * 10L + 3, "d", 4.0))))
    }
    t.rewriteManifests(maxEntriesPerManifest = 3)
    val sc = t.scan(Predicate.Eq("cat", "a"))
    assert(sc.metrics.manifestsTotal > 1, "chunking must produce several manifests")
    assert(sc.metrics.manifestsScanned < sc.metrics.manifestsTotal,
      s"partition-clustered chunks must prune: ${sc.metrics.manifestsScanned}/${sc.metrics.manifestsTotal}")
    assert(contents(t).size == 12)
  }

  test("compaction binpacks: right-sized files are carried forward untouched") {
    val t = newTable("t_binpack")
    t.append(spark, mkDf((1L to 2000L).map(i => (i, "x", i.toDouble)))) // the "big" file
    val bigFiles = t.scan().dataFiles.map(_.path).toSet
    val target = t.scan().dataFiles.map(_.fileSizeBytes).max // big file ≈ target
    (0 until 3).foreach(i => t.append(spark, mkDf(Seq((10000L + i, "y", 1.0))))) // small files
    t.compact(spark, targetFileSizeBytes = Some(target))
    val after = t.scan().dataFiles.map(_.path).toSet
    assert(bigFiles.subsetOf(after), "right-sized file must be reused, not rewritten")
    assert(after.size < bigFiles.size + 3, "small files must consolidate")
    assert(t.toDF(spark).count() == 2003)

    // an already-compacted partitioned table: every small file is alone in
    // its partition, so a second compaction has nothing to merge
    val p = newTable("t_binpack_part", partitioned = true)
    (0 until 2).foreach(_ => p.append(spark, mkDf(base)))
    val first = p.compact(spark)
    assert(first.summary("compacted-data-files").toInt > 0)
    val compacted = p.scan().dataFiles.map(_.path).toSet
    assert(compacted.size == 3, s"one file per partition: $compacted")
    val second = p.compact(spark)
    assert(second.summary("compacted-data-files") == "0")
    assert(p.scan().dataFiles.map(_.path).toSet == compacted,
      "a file alone in its partition must not be rewritten")
    assert(contents(p) == base.toSet)
  }

  test("query history is bounded: the oldest entries drop first") {
    val cap = QueryHistory.Capacity
    val stamp = (i: Int) => ScanMetrics("db.hist", -1L, s"p$i", 0, 0, 0L, 0L, 0L, 0L,
      0L, 0L, 0L, i.toLong)
    QueryHistory.clear()
    try {
      (0 until cap + 100).foreach(i => QueryHistory.record(stamp(i)))
      val all = QueryHistory.all
      assert(all.size == cap)
      assert(all.head.predicate == "p100" && all.last.predicate == s"p${cap + 99}")
    } finally QueryHistory.clear()
  }

  test("cherry-pick replays an append after rollback; refuses rewrites and double-apply") {
    val t = newTable("t_cp")
    t.append(spark, mkDf(base.take(2)))
    val s1 = t.meta.currentSnapshotId.get
    t.append(spark, mkDf(base.drop(2)))
    val s2 = t.meta.currentSnapshotId.get
    t.rollbackTo(s1)
    assert(contents(t) == base.take(2).toSet)
    t.cherryPick(s2) // replay the good commit on the rolled-back head
    assert(contents(t) == base.toSet)
    // double-apply guard: the files are live again
    val ex = intercept[Exception](t.cherryPick(s2))
    assert(ex.getMessage.contains("double-apply"))
    // rewriting snapshots are refused
    t.delete(spark, Seq(Predicate.Eq("cat", "a")))
    val del = t.meta.currentSnapshotId.get
    val ex2 = intercept[IllegalArgumentException](t.cherryPick(del))
    assert(ex2.getMessage.contains("append snapshots"))
  }

  test("skewed partitioned write: a hot partition value fans out to multiple files") {
    val t = newTable("t_skew", partitioned = true)
    // one dominant partition value; a per-value hash shuffle would push all
    // of it through a single task -> a single file
    val hot = (1 to 50000).map(i => (i.toLong, "hot", i.toDouble)) ++
      Seq((100001L, "cold", 1.0))
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try t.append(spark, mkDf(hot))
    finally spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val hotFiles = t.scan().dataFiles.filter(_.path.contains("cat=hot"))
    assert(hotFiles.size > 1, s"hot partition wrote ${hotFiles.size} file(s); skew not split")
    assert(contents(t) == hot.toSet)
  }

  test("commit self-heals an orphan vN+1 left by a crash before the hint advance") {
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.t_wedge", mkDf(Nil).schema)
    t.append(spark, mkDf(base.take(2)))
    // simulate a committer that wrote vN+1.metadata.json and died: copy the
    // current metadata forward without touching version-hint.text
    val root = cat.resolveRoot("db.t_wedge")
    val v = cat.currentVersion("db.t_wedge")
    val cur = java.nio.file.Paths.get(root, "metadata", s"v$v.metadata.json")
    val orphan = java.nio.file.Paths.get(root, "metadata", s"v${v + 1}.metadata.json")
    java.nio.file.Files.copy(cur, orphan)
    // a later writer must not wedge: the orphan is adopted and the write lands
    t.append(spark, mkDf(base.drop(2)))
    assert(contents(t) == base.toSet)
    assert(cat.currentVersion("db.t_wedge") > v + 1)
  }

  test("CREATE after DROP starts a fresh generation (no leftover-metadata wedge)") {
    val cat = new GraftCatalog(tempWarehouse())
    val t0 = cat.createTable("db.regen", mkDf(base).schema)
    t0.append(spark, mkDf(base))
    cat.dropTable("db.regen")
    // the recreate must neither fail on the old generation's v1 file nor
    // see its data; UNDROP of the old generation is forfeited (Snowflake
    // refuses UNDROP over an active name the same way)
    val t1 = cat.createTable("db.regen",
      StructType(Seq(StructField("k", LongType))))
    assert(t1.toDF(spark).count() == 0 && t1.schema.fieldNames.toSeq == Seq("k"))
    intercept[IllegalArgumentException](cat.undropTable("db.regen"))
    t1.append(spark, spark.range(3).toDF("k"))
    assert(t1.toDF(spark).count() == 3)
  }

  test("recreate of a volume-backed name lands at the default root, not the old volume") {
    val cat = new GraftCatalog(tempWarehouse())
    val vol = java.nio.file.Files.createTempDirectory("graft-vol").toString
    cat.createExternalVolume("vol1", vol)
    val t0 = cat.createTable("db.voltab", mkDf(base).schema, externalVolume = Some("vol1"))
    t0.append(spark, mkDf(base))
    cat.dropTable("db.voltab")
    // a stale location.text would silently resurrect the dropped volume
    // table: the recreated table must be the NEW empty one
    val t1 = cat.createTable("db.voltab", StructType(Seq(StructField("k", LongType))))
    assert(cat.resolveRoot("db.voltab") == cat.tableDir("db.voltab"),
      "recreate must not inherit the dropped generation's volume pointer")
    assert(t1.toDF(spark).count() == 0 && t1.schema.fieldNames.toSeq == Seq("k"))
  }

  test("a stale version hint cannot regress readers: currentVersion probes forward") {
    val cat = new GraftCatalog(tempWarehouse())
    val t = newTableIn(cat, "db.hinted")
    t.append(spark, mkDf(base))
    t.append(spark, mkDf(base.take(1)))
    val v = cat.currentVersion("db.hinted")
    // simulate a crashed/raced hint writer leaving the CACHE one behind
    graft.format.GraftUtil.writeStringAtomic(
      java.nio.file.Paths.get(cat.tableDir("db.hinted"), "metadata", "version-hint.text"),
      (v - 1).toString)
    assert(cat.currentVersion("db.hinted") == v,
      "the exclusively-created version file is the truth, the hint is a cache")
    assert(t.toDF(spark).count() == base.size + 1)
  }

  test("alterAtomically: a failing change applies NOTHING; success is one commit") {
    val cat = new GraftCatalog(tempWarehouse())
    val t = newTableIn(cat, "db.atomic_alter")
    t.append(spark, mkDf(base))
    val v0 = cat.currentVersion("db.atomic_alter")
    intercept[IllegalArgumentException](t.alterAtomically(Seq(
      t.addColumnChange("a", IntegerType),
      t.addColumnChange("a", IntegerType)))) // duplicate -> whole ALTER fails
    assert(cat.currentVersion("db.atomic_alter") == v0, "failed ALTER commits nothing")
    assert(!t.schema.fieldNames.contains("a"), "no partially-applied column")
    val schemasBefore = t.meta.schemas.size
    t.alterAtomically(Seq(
      t.addColumnChange("a", IntegerType),
      t.renameColumnChange("v", "w"),
      (m: graft.format.TableMetadata) => m.copy(properties = m.properties + ("k" -> "1"))))
    assert(cat.currentVersion("db.atomic_alter") == v0 + 1, "multi-change ALTER = ONE commit")
    assert(t.schema.fieldNames.contains("a") && t.schema.fieldNames.contains("w"))
    assert(t.properties("k") == "1")
    assert(t.meta.schemas.size == schemasBefore + 1,
      "intermediate fold schemas are dropped — one new version per ALTER, not per change")
  }

  private def newTableIn(cat: GraftCatalog, name: String): GraftTable =
    cat.createTable(name, mkDf(base).schema)
}
