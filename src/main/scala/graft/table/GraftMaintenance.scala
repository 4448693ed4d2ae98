package graft.table

import graft.format._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Table-health snapshot driving "when to maintain" decisions
  * (reference docs/10-maintenance-operations.md:113-139).
  */
case class TableHealth(
    dataFileCount: Long,
    avgFileSizeBytes: Long,
    snapshotCount: Int,
    manifestCount: Int,
    deleteFileCount: Long,
    deleteRatio: Double,
    totalRecords: Long,
    totalBytes: Long) {
  /** The reference's thresholds (docs/10:119-123). */
  def needsCompaction: Boolean = (avgFileSizeBytes < 100L * 1024 * 1024 && dataFileCount > 1) ||
    deleteRatio > 0.10
  def needsSnapshotExpiry: Boolean = snapshotCount > 100
  def needsManifestRewrite: Boolean = manifestCount > 100
}

/** Maintenance operators (reference docs/10): compaction, manifest rewrite,
  * snapshot expiry, orphan removal — each is itself a snapshot-producing (or
  * metadata-only) commit, so maintenance is transactional like any DML.
  */
trait GraftMaintenance { self: GraftTable =>

  /** ALTER TABLE ... COMPACT (docs/10:20-49, docs/09:129-154): merge small
    * files into ~target-size files; applies outstanding position deletes
    * (docs/01:107 "compaction restores read performance" for MOR); optional
    * `where` restricts to matching partitions/files. If CLUSTER BY is set the
    * rewrite is range-partitioned + sorted to tighten min/max bounds (D12,
    * docs/09:156-168).
    */
  def compact(spark: SparkSession, targetFileSizeBytes: Option[Long] = None,
              where: Seq[Predicate] = Nil, statementId: Option[String] = None): Snapshot =
    commitChange(statementId) { m0 =>
      val scan0 = new GraftScan(this, m0, m0.currentSnapshot, where)
      val target = targetFileSizeBytes
        .orElse(m0.properties.get(TableProperties.TargetFileSize).map(_.toLong))
        .getOrElse(128L * 1024 * 1024) // docs/10:40-41 example target
      // Binpack: only undersized files that share their partition with
      // another undersized file are rewritten — a compact of a huge,
      // mostly-healthy table must be O(small files), not O(table), and a
      // file alone in its partition has nothing to merge with. Exceptions
      // that force a full rewrite of the scan's files: outstanding position
      // deletes (folding them rewrites their targets) and CLUSTER BY (the
      // point is re-sorting everything).
      val clustered = m0.property(TableProperties.ClusterBy, "").trim.nonEmpty
      val rewriteAll = clustered || scan0.deleteFiles.nonEmpty
      val candidates =
        if (rewriteAll) scan0.dataFiles
        else {
          val small = scan0.dataFiles.filter(_.fileSizeBytes < (target * 3) / 4)
          val shared = small.groupBy(f => (f.specId, f.partition))
            .filter(_._2.size > 1).keySet
          small.filter(f => shared((f.specId, f.partition)))
        }
      if (candidates.isEmpty) DataChange("replace", summary = Map("compacted-data-files" -> "0"))
      else {
        val totalBytes = candidates.map(_.fileSizeBytes).sum
        val totalRows = candidates.map(_.recordCount).sum.max(1L)
        val rowBytes = (totalBytes / totalRows).max(1L)

        val rows = scan0.materialize(spark, candidates, scan0.deleteFiles, withFileMeta = false)
        // observed row width feeds future writes' maxRecordsPerFile estimate
        val rowSize = "write.estimated-row-size-bytes" -> rowBytes.toString
        val m1 = m0.copy(properties = m0.properties + rowSize +
          (TableProperties.TargetFileSize -> target.toString))
        val numFiles = math.max(1L, totalBytes / target).toInt
        val arranged = if (m0.defaultSpec.isPartitioned) rows else rows.repartition(numFiles)
        val newFiles = GraftWriter.write(spark, arranged, m1, m0.currentSchemaId, m0.defaultSpecId)
        val seenDeletes = scan0.deleteFiles.map(_.path).toSet
        DataChange("replace", addedData = newFiles,
          // a whole-table compaction folded every delete into the rewrite,
          // so it removes the delete files too (their rows now reference
          // only dead paths)
          removed = candidates.map(_.path).toSet ++ (if (where.isEmpty) seenDeletes else Nil),
          seenDeletes = Some(seenDeletes),
          summary = Map(
            "compacted-data-files" -> candidates.size.toString,
            "added-data-files" -> newFiles.size.toString),
          // persist the observed row width so future writes size files
          // correctly, in the same commit
          metadata = m => m.copy(properties = m.properties + rowSize))
      }
    }

  /** ALTER TABLE ... REWRITE MANIFESTS (docs/10:80-95): consolidate many
    * small manifests — metadata-only, no data IO. Entries are sorted by
    * partition tuple and chunked (default 5000 files per manifest): one
    * giant manifest would make every scan read the whole file inventory,
    * while partition-clustered chunks give each manifest a tight partition
    * summary, so phase-1 pruning skips whole manifests for selective scans.
    * A lone data manifest that already fits one chunk is kept as it is:
    * a copy would hold the same entries and the same summary, and the
    * previous snapshot would keep the original alive beside it.
    */
  def rewriteManifests(statementId: Option[String] = None,
                       maxEntriesPerManifest: Int = 5000): Snapshot =
    commitChange(statementId)(_ => DataChange("replace",
      summary = Map("manifests-rewritten" -> "true"),
      manifests = Some { m =>
        val (dataMfs, delMfs) = currentManifests(m).partition(_.content == "data")
        val chunks = dataMfs.flatMap(readManifest(m, _))
          .groupBy(_.specId).toSeq.sortBy(_._1)
          .flatMap { case (_, files) =>
            val clustered = files.sortBy(f =>
              f.partition.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.getOrElse("\u0000")}" }
                .mkString("|"))
            clustered.grouped(maxEntriesPerManifest).toSeq
          }
        val regrouped =
          if (dataMfs.size == 1 && chunks.size == 1) dataMfs else chunks.map(writeManifest(m, _))
        regrouped ++ delMfs
      }))

  /** EXPIRE SNAPSHOTS (docs/05-snapshots-time-travel.md:101-119, docs/10:53-78):
    * drop snapshots older than `olderThanMs` (always retaining the current one,
    * ref targets, and the newest `retainLast`), then physically delete
    * manifest lists / manifests / data files no longer reachable from any
    * retained snapshot. Irreversible; bounds time travel (docs/10:76).
    */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1): (Int, Int) = {
    // Physical deletion happens ONLY after the metadata commit lands: the
    // commit closure can rerun on CAS retry (and a concurrent rollback could
    // resurrect a snapshot we were about to expire), so deleting inside it
    // could leave committed metadata pointing at deleted files.
    var removedSnaps = 0
    var doomed = Set.empty[String]
    var location = ""
    commitMetadata() { m =>
      removedSnaps = 0; doomed = Set.empty; location = m.location // reset per attempt
      val byAge = m.snapshots.sortBy(_.sequenceNumber)
      val baseKeep = (byAge.filter(_.timestampMs > olderThanMs).map(_.snapshotId) ++
        byAge.takeRight(math.max(1, retainLast)).map(_.snapshotId) ++
        m.currentSnapshotId.toSeq ++ m.refs.values.map(_.snapshotId)).toSet
      // A staged branch's INTERMEDIATE commits must survive too: publish
      // walks the parent chain from the branch head, and an expired link
      // would make legitimately-staged work unpublishable. Branch commits
      // carry a "branch" summary marker; the walk stops at main history
      // (normal retention governs that side).
      val keepIds = baseKeep ++ m.refs.values.flatMap { head =>
        val acc = scala.collection.mutable.Buffer.empty[Long]
        var cur = m.snapshot(head.snapshotId)
        while (cur.exists(_.summary.contains("branch"))) {
          acc += cur.get.snapshotId
          cur = cur.get.parentId.flatMap(m.snapshot)
        }
        acc
      }
      val (kept, expired) = m.snapshots.partition(s => keepIds.contains(s.snapshotId))
      removedSnaps = expired.size
      if (expired.isEmpty) m
      else {
        // reachability: every metadata/data path referenced by kept snapshots
        def reach(ss: Seq[Snapshot]): (Set[String], Set[String]) = {
          val mls = ss.map(_.manifestListPath).toSet
          val mfs = ss.flatMap(s => readManifestList(m, s))
          (mls ++ mfs.map(_.path).toSet,
            mfs.flatMap(readManifest(m, _)).map(_.path).toSet)
        }
        val (keptMeta, keptData) = reach(kept)
        val (expMeta, expData) = reach(expired)
        doomed = (expMeta -- keptMeta) ++ (expData -- keptData)
        // The statement log lives on its OWN retention horizon, decoupled
        // from snapshot retention: it is the replay-idempotency ledger for
        // statementId-keyed commits, and pruning an entry just because its
        // snapshot expired would let a stream that resumes after the data
        // window re-apply an already-committed micro-batch — a silent
        // double-ingest (the snapshot producer replays such entries as no-ops).
        // Entries for retained snapshots always survive; expired-snapshot
        // entries survive within the newest `statement-log.retain-last`
        // tail of the EXPIRED entries only (append order), so the ledger
        // stays bounded. The tail must be computed over expired entries,
        // not the whole log: on a table with more than retain-last
        // statement commits inside the snapshot-retention window, a
        // whole-log tail would be crowded out by retained-snapshot
        // entries and every expired entry would be pruned immediately —
        // silently reopening the replay double-ingest window this knob
        // exists to close.
        val stmtRetain = m.property(TableProperties.StatementLogRetainLast,
          "10000").toInt
        val stmtKeep = m.statementLog
          .filterNot(e => keepIds.contains(e._2)).takeRight(stmtRetain).toSet
        m.copy(snapshots = kept,
          statementLog = m.statementLog.filter { e =>
            keepIds.contains(e._2) || stmtKeep.contains(e) })
      }
    }
    var removedFiles = 0
    doomed.foreach { rel =>
      if (Files.deleteIfExists(Paths.get(GraftUtil.resolve(location, rel)))) removedFiles += 1
    }
    (removedSnaps, removedFiles)
  }

  /** Expire per the DATA_RETENTION_TIME_IN_DAYS property (docs/05:88-95;
    * default 1 day, docs/01:155).
    */
  def expirePerRetention(): (Int, Int) = {
    val days = meta.property(TableProperties.RetentionDays, "1").toDouble
    expireSnapshots(System.currentTimeMillis() - (days * 86400000L).toLong)
  }

  /** REMOVE ORPHAN FILES (docs/10:97-111): files under the table location
    * referenced by NO snapshot — leftovers of failed/aborted writes. Only
    * files older than `olderThanMs` are removed; the default cutoff is
    * now minus 24h (docs/10:107's safety window) because an in-flight
    * write's data files exist on disk BEFORE its commit references them —
    * a cutoff of "now" would delete them and let the commit land pointing
    * at nothing.
    */
  def removeOrphanFiles(
      olderThanMs: Long = System.currentTimeMillis() - 24L * 3600_000L): Seq[String] = {
    val (_, m) = load()
    val referenced: Set[String] =
      m.snapshots.flatMap { s =>
        val mfs = readManifestList(m, s)
        s.manifestListPath +: (mfs.map(_.path) ++ mfs.flatMap(readManifest(m, _)).map(_.path))
      }.toSet ++ Set("metadata/version-hint.text")
    val root = Paths.get(m.location)
    val all = GraftUtil.listFilesRecursively(root.resolve("data"), "") ++
      GraftUtil.listFilesRecursively(root.resolve("deletes"), "") ++
      GraftUtil.listFilesRecursively(root.resolve("metadata"), "")
        .filterNot(_.getFileName.toString.matches("v\\d+\\.metadata\\.json|version-hint.*"))
    val orphans = all.filter { p =>
      val rel = GraftUtil.relativize(m.location, p.toString)
      !referenced.contains(rel) && Files.getLastModifiedTime(p).toMillis < olderThanMs
    }
    orphans.foreach(Files.deleteIfExists(_))
    orphans.map(p => GraftUtil.relativize(m.location, p.toString))
  }

  /** O6: current health vs the reference's thresholds (docs/10:113-139). */
  def health(): TableHealth = {
    val m = meta
    val mfs = currentManifests(m)
    val (dataMfs, delMfs) = mfs.partition(_.content == "data")
    val dataFiles = dataMfs.map(_.fileCount.toLong).sum
    val delFiles = delMfs.map(_.fileCount.toLong).sum
    val bytes = dataMfs.flatMap(readManifest(m, _)).map(_.fileSizeBytes).sum
    TableHealth(
      dataFileCount = dataFiles,
      avgFileSizeBytes = if (dataFiles == 0) 0 else bytes / dataFiles,
      snapshotCount = m.snapshots.size,
      manifestCount = mfs.size,
      deleteFileCount = delFiles,
      deleteRatio = if (dataFiles == 0) 0.0 else delFiles.toDouble / dataFiles,
      totalRecords = dataMfs.map(_.recordCount).sum,
      totalBytes = bytes)
  }

  /** O5 auto-maintenance: run what health says is needed (docs/01:149-168). */
  def maintain(spark: SparkSession): TableHealth = {
    val h = health()
    if (h.needsCompaction) compact(spark)
    if (h.needsManifestRewrite) rewriteManifests()
    if (h.needsSnapshotExpiry) expirePerRetention()
    removeOrphanFiles(System.currentTimeMillis() - 3600_000L)
    health()
  }
}
