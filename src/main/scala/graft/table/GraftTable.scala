package graft.table

import graft.catalog.{CommitConflictException, GraftCatalog}
import graft.format._
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.Paths

/** One data commit's change, stated as a value for
  * [[GraftTable.commitChange]]: what it adds and removes, what it read
  * that must still hold when it commits (docs/08:71-78), and its summary.
  *
  * @param addedData    data files written for this commit (one new manifest)
  * @param addedDeletes position-delete files written for it (one new manifest)
  * @param removed      paths it removes; each must still be live
  * @param live         further paths that must still be live
  * @param absent       paths that must not be live
  * @param seenDeletes  the delete files its scan saw; no other may have appeared
  * @param summary      operation-specific snapshot summary entries
  * @param metadata     a metadata change committed with the snapshot
  * @param manifests    the base manifest list, when it is not the head's
  * @param branch       advance this branch instead of main
  */
private[table] case class DataChange(
    operation: String,
    addedData: Seq[DataFile] = Nil,
    addedDeletes: Seq[DataFile] = Nil,
    removed: Set[String] = Set.empty,
    live: Set[String] = Set.empty,
    absent: Set[String] = Set.empty,
    seenDeletes: Option[Set[String]] = None,
    summary: Map[String, String] = Map.empty,
    metadata: TableMetadata => TableMetadata = identity,
    manifests: Option[TableMetadata => Seq[ManifestMeta]] = None,
    branch: Option[String] = None)

/** A Graft table: the user-facing handle over the metadata tree.
  *
  * Handles are stateless — every operation loads the current metadata
  * pointer, giving each query snapshot isolation for free (reference
  * docs/08-acid-transactions.md:30-49: a query binds to one snapshot at
  * start; immutable files do the rest) and making handles safe to share.
  */
class GraftTable(val catalog: GraftCatalog, val name: String)
    extends GraftDml with GraftMaintenance with GraftEvolution with GraftMetaTables {

  def load(): (Int, TableMetadata) = catalog.loadMetadata(name)
  def meta: TableMetadata = load()._2
  def schema: org.apache.spark.sql.types.StructType = meta.currentSchema
  def location: String = meta.location
  def properties: Map[String, String] = meta.properties

  // -------------------------------------------------------------------
  // Scans + time travel (docs/05-snapshots-time-travel.md:60-80)
  // -------------------------------------------------------------------

  def scan(predicates: Predicate*): GraftScan = {
    val m = meta
    new GraftScan(this, m, m.currentSnapshot, predicates)
  }

  def toDF(spark: SparkSession, predicates: Predicate*): DataFrame =
    scan(predicates: _*).toDF(spark)

  /** Runtime-filter scan for a selective equi-join (the metadata-plane twin
    * of Spark's row-level runtime filters / DPP): collect the dim side's
    * distinct join keys — bounded by `maxKeys`, the same cost class as a
    * broadcast — and push them as an `IN` predicate into THIS table's scan,
    * where the partition, min/max and bloom planes all get to skip files
    * before any fact bytes are read. Sound for inner/semi joins on
    * `factCol = dimCol` (rows with keys outside the dim set cannot survive
    * the join); when the dim side exceeds `maxKeys` the filter is skipped
    * and the scan degrades to `scan(preds)` — never wrong, just unpruned.
    */
  def scanWithRuntimeFilter(dim: DataFrame, dimCol: String, factCol: String,
                            maxKeys: Int = 100000, preds: Seq[Predicate] = Nil): GraftScan = {
    // Driver-local dims (the pinned batch plane) read their keys WITHOUT a
    // Spark job: the LocalRelation's rows are walked on the driver and the
    // distinct/cap applied here — the per-micro-batch state probe
    // previously paid one distinct+limit job per read. Distributed dims
    // (and local dims of non-extractable shape/type) keep the bounded
    // distinct+limit job. The key SET is identical either way.
    val keys0: Seq[Any] = localKeysOf(dim, dimCol, maxKeys).getOrElse {
      dim.select(Cols.q(dimCol)).distinct().limit(maxKeys + 1)
        .collect().iterator.map(_.get(0)).toSeq
    }
    if (keys0.length > maxKeys) scan(preds: _*)
    else {
      val keys = keys0.filter(_ != null)
      scan((preds :+ Predicate.In(factCol, keys)): _*)
    }
  }

  /** Distinct `dimCol` values straight off a driver-local dim's plan
    * (LocalRelation, possibly under the pin's coalesce(1) — matched as
    * Repartition), converted to the same external types the collect path
    * yields. None when the plan is distributed, the column is computed
    * rather than stored, or the type is outside the simple set.
    */
  private def localKeysOf(dim: DataFrame, dimCol: String,
                          maxKeys: Int): Option[Seq[Any]] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
    import org.apache.spark.sql.types._
    val lr = dim.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l)
      case r: Repartition => r.child match {
        case l: LocalRelation => Some(l)
        case _ => None
      }
      case _ => None
    }
    lr.flatMap { l =>
      val idx = l.output.indexWhere(_.name == dimCol)
      if (idx < 0) None
      else {
        val dt = l.output(idx).dataType
        val conv: Any => Any = dt match {
          case LongType | IntegerType | ShortType | ByteType |
               DoubleType | FloatType | BooleanType => identity
          case StringType => v => v.toString // UTF8String -> String
          case _ => return None
        }
        Some(l.data.iterator
          .map(r => if (r.isNullAt(idx)) null else conv(r.get(idx, dt)))
          .toSeq.distinct.take(maxKeys + 1))
      }
    }
  }

  private def resolveSnapshot(m: TableMetadata, id: Long): Snapshot =
    m.snapshot(id).getOrElse(sys.error(s"snapshot $id not found (expired?)"))

  /** AT(SNAPSHOT_ID => id) (docs/05:141-171). */
  def atSnapshot(id: Long, predicates: Predicate*): GraftScan = {
    val m = meta
    new GraftScan(this, m, Some(resolveSnapshot(m, id)), predicates)
  }

  /** Read a named ref. A BRANCH head reads with the table's CURRENT schema
    * (Iceberg's branch rule — branch commits never advance
    * currentSnapshotId, so without this a metadata-only evolution after
    * the branch commit would be invisible to branch readers); a TAG keeps
    * the pinned snapshot's schema. The distinction lives on the ref
    * ([[graft.format.Ref]]), never inferred from the snapshot: a tag
    * pointing at a branch-staged snapshot is still a pin.
    */
  def atRef(ref: String, predicates: Predicate*): GraftScan = {
    val m = meta
    val r = m.refs.getOrElse(ref, sys.error(s"unknown ref $ref"))
    new GraftScan(this, m, Some(resolveSnapshot(m, r.snapshotId)), predicates,
      branchHead = r.isBranch, tagPin = !r.isBranch)
  }

  /** AT(TIMESTAMP => ts): latest snapshot with timestamp <= ts (docs/05:60-64). */
  def asOf(timestampMs: Long, predicates: Predicate*): GraftScan = {
    val m = meta
    // Unpublished branch commits live in m.snapshots (they must survive GC
    // and publish) but are NOT main history: timestamp travel over them
    // would leak staged rows to main readers. A branch commit is eligible
    // only once it is an ancestor of main's head (i.e. post-publish).
    lazy val mainAncestors: Set[Long] = {
      val acc = scala.collection.mutable.Set.empty[Long]
      var cur = m.currentSnapshotId.flatMap(m.snapshot)
      while (cur.isDefined) { acc += cur.get.snapshotId; cur = cur.get.parentId.flatMap(m.snapshot) }
      acc.toSet
    }
    val snap = m.snapshots.filter(s => s.timestampMs <= timestampMs &&
        (!s.summary.contains("branch") || mainAncestors(s.snapshotId)))
      .sortBy(s => (s.timestampMs, s.sequenceNumber)).lastOption
    new GraftScan(this, m, snap, predicates)
  }

  /** AT(OFFSET => -seconds) (docs/05:65-67). */
  def atOffset(offsetSeconds: Long, predicates: Predicate*): GraftScan =
    asOf(System.currentTimeMillis() + offsetSeconds * 1000L, predicates: _*)

  /** BEFORE(STATEMENT => id): state just before the statement's commit
    * (docs/05:69-72).
    */
  def before(statementId: String, predicates: Predicate*): GraftScan = {
    val m = meta
    val snapId = m.statementLog.find(_._1 == statementId)
      .getOrElse(sys.error(s"unknown statement $statementId"))._2
    val snap = m.snapshot(snapId).getOrElse(sys.error(s"snapshot $snapId expired"))
    new GraftScan(this, m, snap.parentId.flatMap(m.snapshot), predicates)
  }

  // -------------------------------------------------------------------
  // Commit machinery (docs/08:16-28 atomic commit; 53-78 OCC retry)
  // -------------------------------------------------------------------

  private[table] def metadataDir: String = Paths.get(location, "metadata").toString

  private[table] def readManifestList(m: TableMetadata, s: Snapshot): Seq[ManifestMeta] = {
    val p = GraftUtil.resolve(m.location, s.manifestListPath)
    ManifestCache.get(p)(MetaJson.manifestListFromJson(GraftUtil.readString(Paths.get(p))))
  }

  private[table] def readManifest(m: TableMetadata, mf: ManifestMeta): Seq[DataFile] = {
    val p = GraftUtil.resolve(m.location, mf.path)
    ManifestCache.get(p)(MetaJson.manifestFromJson(GraftUtil.readString(Paths.get(p))))
  }

  /** Write one manifest file + compute its partition summaries (docs/03:77-109). */
  private[table] def writeManifest(m: TableMetadata, files: Seq[DataFile],
                                   content: String = "data"): ManifestMeta = {
    require(files.nonEmpty, "manifest must not be empty")
    val relPath = s"metadata/manifest-${java.util.UUID.randomUUID()}.json"
    GraftUtil.writeStringAtomic(
      Paths.get(GraftUtil.resolve(m.location, relPath)), MetaJson.manifestToJson(files))
    val specId = files.head.specId
    val spec = m.specs.getOrElse(specId, PartitionSpec.unpartitioned)
    val summaries = spec.fields.map { pf =>
      val srcDt = m.schemas.values.flatMap(_.fields)
        .find(f => GraftSchema.fieldId(f) == pf.sourceId).map(_.dataType)
      val outDt = srcDt.map(pf.transform.resultType)
      val vals = files.flatMap(_.partition.get(pf.name))
      val nonNull = vals.flatten
      val canon = outDt.map(dt => nonNull.map(Canonical.fromJsonString(dt, _))).getOrElse(Nil)
      val lower = canon.reduceOption((a, b) => if (Canonical.compare(a, b) <= 0) a else b)
      val upper = canon.reduceOption((a, b) => if (Canonical.compare(a, b) >= 0) a else b)
      pf.name -> FieldSummary(
        lower.zip(outDt).map { case (v, dt) => Canonical.toJsonString(dt, v) }.headOption,
        upper.zip(outDt).map { case (v, dt) => Canonical.toJsonString(dt, v) }.headOption,
        containsNull = vals.exists(_.isEmpty))
    }.toMap
    ManifestMeta(relPath, content, files.size, files.map(_.recordCount).sum, specId, summaries)
  }

  private[table] def writeManifestList(m: TableMetadata, snapshotId: Long,
                                       manifests: Seq[ManifestMeta]): String = {
    val relPath = s"metadata/snap-$snapshotId-${java.util.UUID.randomUUID()}.manifest-list.json"
    GraftUtil.writeStringAtomic(
      Paths.get(GraftUtil.resolve(m.location, relPath)), MetaJson.manifestListToJson(manifests))
    relPath
  }

  /** The statement-log replay resolution: Some(snapshot to stand in for
    * the already-committed statement), None if the statement is new. If
    * the statement's snapshot has since been EXPIRED, its effect is still
    * folded into current table state (expiry never unapplies commits — it
    * only bounds time travel), so the replay resolves to the CURRENT
    * snapshot as a no-op: re-applying would double-ingest, and erroring
    * would wedge a stream that merely resumed after the data-retention
    * window (the log entry outlives its snapshot for exactly this case —
    * see TableProperties.StatementLogRetainLast).
    */
  private def replayedSnapshot(m: TableMetadata,
      statementId: Option[String]): Option[Snapshot] =
    statementId.flatMap(stmt => m.statementLog.find(_._1 == stmt).map {
      case (_, sid) =>
        m.snapshot(sid).orElse(m.currentSnapshot).getOrElse(
          sys.error(s"statement $stmt: snapshot $sid expired and the " +
            "table has no current snapshot to stand in as the no-op result"))
    })

  /** The manifest list of the current snapshot (empty before the first commit). */
  private[table] def currentManifests(m: TableMetadata): Seq[ManifestMeta] =
    m.currentSnapshot.map(readManifestList(m, _)).getOrElse(Nil)

  /** The one snapshot producer (docs/08:16-78): every data commit goes
    * through here. It loads the base and answers a replayed `statementId`
    * before any data work. `stage` then does the operation's data work
    * against that base and states its [[DataChange]]. The change's new
    * files get one manifest per content, written once. Each CAS attempt
    * re-derives the manifest set from a fresh base through the delta rule
    * ([[deltaManifests]], which also checks the change's conflicts and
    * throws CommitConflictException to abort), writes the snapshot and
    * swaps the pointer; a lost race retries (docs/08:55-69).
    */
  private[table] def commitChange(statementId: Option[String], maxAttempts: Int = 5)(
      stage: TableMetadata => DataChange): Snapshot = {
    val (_, m0) = load()
    // Idempotent replay: a statement that already committed (a streaming
    // micro-batch retried by the checkpoint machinery, docs/08:154 "each
    // DML = one commit") returns its snapshot instead of re-writing its
    // files only to orphan them. Each attempt re-checks against its fresh
    // base, which catches the same statement committed concurrently.
    replayedSnapshot(m0, statementId).foreach(snap => return snap)
    val c = stage(m0)
    val fresh = Seq(c.addedData -> "data", c.addedDeletes -> "position-deletes").collect {
      case (files, content) if files.nonEmpty => writeManifest(m0, files, content)
    }
    var attempt = 0
    while (true) {
      attempt += 1
      val (v, m) = load()
      replayedSnapshot(m, statementId).foreach(snap => return snap)
      val (next, snap) = withSnapshot(c.metadata(m), c.operation, statementId, c.summary,
        deltaManifests(m, c, fresh), c.branch)
      try {
        catalog.commit(name, v, next)
        return snap
      } catch {
        case e: CommitConflictException if attempt < maxAttempts => // retry from new base
        case e: CommitConflictException =>
          throw new CommitConflictException(s"$name: giving up after $attempt attempts: ${e.getMessage}")
      }
    }
    sys.error("unreachable")
  }

  /** The delta rule: the base manifest list (the head's, or the one the
    * change states) minus the change's removed paths, plus its new
    * manifests. Untouched manifests are kept by path (no IO); a manifest
    * that loses files is rewritten without them, or dropped when it loses
    * them all. Position-delete manifests follow the same rule, so a data
    * rewrite carries them forward: delete rows keyed by (file_path, pos)
    * can only match files that still exist (compaction garbage-collects
    * them, docs/10:30-36). The base's files are read only when the change
    * removes files or has conflicts to check (docs/08:71-78):
    *   - a removed or `live` path that is gone means a concurrent commit
    *     rewrote what this change read;
    *   - an `absent` path that is live means the change is already applied;
    *   - a delete file beyond `seenDeletes` would be silently undone by a
    *     rewrite that folded the deletes it saw.
    */
  private[table] def deltaManifests(m: TableMetadata, c: DataChange,
                                    fresh: Seq[ManifestMeta]): Seq[ManifestMeta] = {
    val base = c.manifests.fold {
      c.branch.flatMap(m.refs.get).flatMap(r => m.snapshot(r.snapshotId)).orElse(m.currentSnapshot)
        .map(readManifestList(m, _)).getOrElse(Nil)
    }(_(m))
    if (c.removed.isEmpty && c.live.isEmpty && c.absent.isEmpty && c.seenDeletes.isEmpty)
      return base ++ fresh
    // read each manifest exactly once per attempt
    val contents = base.map(mf => mf -> readManifest(m, mf))
    val livePaths = contents.flatMap(_._2.map(_.path)).toSet
    def conflict(msg: String) = throw new CommitConflictException(s"$name: $msg")
    val gone = (c.removed ++ c.live).diff(livePaths)
    if (gone.nonEmpty)
      conflict(s"${gone.size} file(s) this ${c.operation} read were concurrently rewritten " +
        s"(e.g. ${gone.head})")
    val dup = c.absent.intersect(livePaths)
    if (dup.nonEmpty)
      conflict(s"${c.operation} would double-apply ${dup.size} file(s) already live (e.g. ${dup.head})")
    c.seenDeletes.foreach { seen =>
      val added = contents.filter(_._1.content == "position-deletes")
        .flatMap(_._2.map(_.path)).filterNot(seen)
      if (added.nonEmpty)
        conflict(s"${added.size} position-delete file(s) committed concurrently with this " +
          s"${c.operation} (e.g. ${added.head}); retrying would lose those deletes")
    }
    contents.flatMap { case (mf, files) =>
      val remaining = files.filterNot(f => c.removed(f.path))
      if (remaining.size == files.size) Some(mf) // reuse as-is
      else if (remaining.isEmpty) None
      else Some(writeManifest(m, remaining, mf.content))
    } ++ fresh
  }

  /** Append one snapshot over `manifests` to `m`: write its manifest
    * list, record the totals its manifests hold, and advance main — or
    * only `branch`, whose head is the parent (main's head when this very
    * commit creates the branch). The one place a [[Snapshot]] is built.
    */
  private def withSnapshot(m: TableMetadata, operation: String, statementId: Option[String],
                           extraSummary: Map[String, String], manifests: Seq[ManifestMeta],
                           branch: Option[String]): (TableMetadata, Snapshot) = {
    val snapId = m.lastSequenceNumber + 1
    val dataMfs = manifests.filter(_.content == "data")
    val mlPath = writeManifestList(m, snapId, manifests)
    val stmt = statementId.getOrElse(java.util.UUID.randomUUID().toString)
    val snap = Snapshot(
      snapshotId = snapId,
      parentId = branch.flatMap(m.refs.get).map(_.snapshotId).orElse(m.currentSnapshotId),
      sequenceNumber = snapId,
      timestampMs = System.currentTimeMillis(),
      operation = operation,
      summary = extraSummary ++ branch.map("branch" -> _) ++ Map(
        "statement-id" -> stmt,
        "total-data-files" -> dataMfs.map(_.fileCount.toLong).sum.toString,
        "total-records" -> dataMfs.map(_.recordCount).sum.toString,
        "total-delete-files" ->
          manifests.filter(_.content == "position-deletes").map(_.fileCount.toLong).sum.toString),
      manifestListPath = mlPath,
      schemaId = m.currentSchemaId,
      specId = m.defaultSpecId)
    val logged = m.copy(lastSequenceNumber = snapId, snapshots = m.snapshots :+ snap,
      statementLog = m.statementLog :+ (stmt -> snapId))
    (branch match {
      // a branch commit lands in history and advances ONLY the ref — main
      // (current-snapshot-id) does not see it until publish
      case Some(b) => logged.copy(refs = m.refs + (b -> graft.format.Ref(snapId, isBranch = true)))
      case None => logged.copy(currentSnapshotId = Some(snapId))
    }, snap)
  }

  /** Commit a metadata-only change (schema evolution, properties, refs). */
  private[table] def commitMetadata(maxAttempts: Int = 5)(
      f: TableMetadata => TableMetadata): TableMetadata = {
    var attempt = 0
    while (true) {
      attempt += 1
      val (v, m) = load()
      val next = f(m)
      try { catalog.commit(name, v, next); return next }
      catch { case e: CommitConflictException if attempt < maxAttempts => }
    }
    sys.error("unreachable")
  }

  // -------------------------------------------------------------------
  // Writes
  // -------------------------------------------------------------------

  /** INSERT INTO ... (append): write files once, commit with retry — disjoint
    * appends always succeed (docs/08:83-96). Empty input still commits a
    * (no-op) snapshot, so the statement is recorded.
    */
  def append(spark: SparkSession, df: DataFrame, statementId: Option[String] = None): Snapshot =
    commitChange(statementId)(m0 => appended(spark, df, m0))

  /** The change of an append of `df` onto `m0`. */
  private def appended(spark: SparkSession, df: DataFrame, m0: TableMetadata): DataChange = {
    val newFiles = GraftWriter.write(spark, df, m0, m0.currentSchemaId, m0.defaultSpecId)
    DataChange("append", addedData = newFiles, summary = Map(
      "added-data-files" -> newFiles.size.toString,
      "added-records" -> newFiles.map(_.recordCount).sum.toString))
  }

  /** INSERT OVERWRITE semantics: replace the whole table content. */
  def overwrite(spark: SparkSession, df: DataFrame, statementId: Option[String] = None): Snapshot =
    commitChange(statementId)(m0 =>
      appended(spark, df, m0).copy(operation = "overwrite", manifests = Some(_ => Nil)))

  /** CREATE OR REPLACE body (docs/01:182) for an EXISTING table: one CAS
    * commit that installs a freshly-id'd schema (ids continue from
    * lastColumnId — never reused, same discipline as DROP COLUMN), a new
    * default partition spec, and a "replace" snapshot holding `data` (or
    * nothing). Table identity and history are untouched: pre-replace
    * snapshots remain time-travelable until retention expires them.
    * Everything — id assignment, optional data write, snapshot — happens
    * inside the commit closure, so a CAS retry rebuilds against the fresh
    * base instead of committing stale ids.
    */
  def replaceWith(
      schema: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[(String, Transform)] = Nil,
      properties: Map[String, String] = Map.empty,
      spark: Option[SparkSession] = None,
      data: Option[DataFrame] = None): TableMetadata =
    commitMetadata() { m =>
      val (schemaWithIds, lastCol) = GraftSchema.assignIds(
        GraftSchema.deepNullable(schema).asInstanceOf[org.apache.spark.sql.types.StructType],
        m.lastColumnId)
      val newSchemaId = m.schemas.keys.max + 1
      val newSpecId = m.specs.keys.max + 1
      val spec = PartitionSpec(newSpecId, PartitionSpec.fieldsFor(schemaWithIds, partitionBy))
      // the replacement data is written under the NEW properties (its
      // bloom columns, cluster-by, target file size), not the replaced ones
      val mNew = m.copy(
        schemas = m.schemas + (newSchemaId -> schemaWithIds),
        currentSchemaId = newSchemaId,
        lastColumnId = lastCol,
        specs = m.specs + (newSpecId -> spec),
        defaultSpecId = newSpecId,
        properties = properties)
      val files = data.toSeq.flatMap(df =>
        GraftWriter.write(spark.getOrElse(df.sparkSession), df, mNew, newSchemaId, newSpecId))
      // "table-replaced" distinguishes TABLE replacement (fresh field-id
      // space) from compaction's file-level "replace" operation —
      // changelog's cross-replace guard keys on it
      withSnapshot(mNew, "replace", None, Map("table-replaced" -> "true"),
        if (files.isEmpty) Nil else Seq(writeManifest(mNew, files)), None)._1.copy(
        // surviving BRANCH refs demote to TAGS: the replace mints a fresh
        // field-id space, so a branch that kept following the live schema
        // would resolve every pre-replace file to NULLs (silent data loss
        // in an audit read). As tags they stay readable under their own
        // pinned schema; appends/publish through them are refused — stage
        // new work on a fresh branch of the replaced table.
        refs = m.refs.map { case (n, r) => n -> r.copy(isBranch = false) })
    }

  /** Live data files of the current (or given) snapshot. */
  def liveFiles(m: TableMetadata, s: Option[Snapshot]): Seq[DataFile] =
    s.map(sn => readManifestList(m, sn).filter(_.content == "data").flatMap(readManifest(m, _)))
      .getOrElse(Nil)

  /** ROLLBACK: new snapshot whose content is an old snapshot's manifest list
    * (docs/05:151-160) — history is preserved, the rollback is itself a commit.
    */
  def rollbackTo(snapshotId: Long, statementId: Option[String] = None): Snapshot =
    commitChange(statementId) { m0 =>
      val target = m0.snapshot(snapshotId).getOrElse(sys.error(s"snapshot $snapshotId not found"))
      DataChange("rollback", summary = Map("rolled-back-to" -> snapshotId.toString),
        manifests = Some(readManifestList(_, target)))
    }

  /** CHERRY-PICK (docs/05:163-171, v2 branching): re-apply ONE snapshot's
    * changes on top of the current head — the classic "rolled back past a
    * good commit, replay it" move. Supported for additive snapshots
    * (append / stream ingest): the files of the manifests the snapshot
    * added relative to its parent are added again. Snapshots that removed
    * or rewrote files (delete/update/merge/replace) are refused — replaying
    * a rewrite against a diverged base silently resurrects or drops rows,
    * so those need a fresh DML statement instead.
    *
    * A snapshot already applied to the head is refused, as Iceberg does,
    * by lineage ([[appliedToHead]]): a compaction may have moved its rows
    * into new files, so its own paths no longer show it. Its files must
    * also not be live (the commit-time `absent` check).
    */
  def cherryPick(snapshotId: Long, statementId: Option[String] = None): Snapshot =
    commitChange(statementId) { m0 =>
      val target = m0.snapshot(snapshotId).getOrElse(sys.error(s"snapshot $snapshotId not found"))
      require(target.operation == "append",
        s"cherry-pick supports append snapshots; snapshot $snapshotId is '${target.operation}'")
      require(!appliedToHead(m0, snapshotId),
        s"snapshot $snapshotId is already applied to the current head; " +
          "cherry-picking it would double-apply its rows")
      val parentMfs = target.parentId.flatMap(m0.snapshot)
        .map(p => readManifestList(m0, p).map(_.path).toSet).getOrElse(Set.empty)
      val added = readManifestList(m0, target).filterNot(mf => parentMfs.contains(mf.path))
      require(added.nonEmpty, s"snapshot $snapshotId added no manifests; nothing to cherry-pick")
      val files = added.flatMap(readManifest(m0, _))
      DataChange("append", addedData = files, absent = files.map(_.path).toSet,
        summary = Map(
          "cherry-picked-from" -> snapshotId.toString,
          "added-data-files" -> files.size.toString))
    }

  /** Is `snapshotId`'s change part of the head's content? The walk goes
    * from the current snapshot through parents, jumping from a rollback to
    * the snapshot it restored (whose content it took), and answers yes when
    * it reaches `snapshotId` or a cherry-pick of it. Snapshot ids only grow,
    * so the walk ends; an expired snapshot ends it early.
    */
  private def appliedToHead(m: TableMetadata, snapshotId: Long): Boolean =
    Iterator.iterate(m.currentSnapshot)(_.flatMap { s =>
      (if (s.operation == "rollback") s.summary.get("rolled-back-to").map(_.toLong)
       else s.parentId).flatMap(m.snapshot)
    }).takeWhile(_.isDefined).flatten.exists(s =>
      s.snapshotId == snapshotId || s.summary.get("cherry-picked-from").contains(snapshotId.toString))

  /** Write-audit-publish staging (docs/05:141-171's branching taken to its
    * standard lakehouse use): append on a branch — the snapshot enters
    * history and advances only the ref, so readers of the table see nothing
    * — audit via `atRef(branch)`, then [[publish]] fast-forwards main.
    */
  def appendToBranch(spark: SparkSession, df: DataFrame, branch: String,
                     statementId: Option[String] = None): Snapshot =
    commitChange(statementId) { m0 =>
      // a TAG is immutable by definition — appending through one would turn
      // a pin into a movable head (Iceberg refuses this the same way)
      m0.refs.get(branch).foreach(r =>
        require(r.isBranch, s"$name: ref '$branch' is a tag — cannot append to a tag"))
      appended(spark, df, m0).copy(branch = Some(branch))
    }

  /** Publish a staged branch: fast-forward main to the branch head and DROP
    * the branch ref — its commits are main history now, so keeping the ref
    * would (a) pin the published chain from retention forever (refs are GC
    * roots) and (b) make a later `appendToBranch` of the same name fork
    * from the stale published head once main advances, guaranteeing the
    * next publish is refused. Refuses when main has advanced past the
    * branch's fork point (a fast-forward would silently drop those commits
    * — re-stage on a fresh branch instead).
    */
  def publish(branch: String): TableMetadata = commitMetadata() { m =>
    val r = m.refs.getOrElse(branch, sys.error(s"unknown branch '$branch'"))
    require(r.isBranch, s"$name: ref '$branch' is a tag — only branches publish")
    val head = r.snapshotId
    def ancestors(id: Long): Set[Long] = {
      val s = m.snapshot(id)
      Set(id) ++ s.flatMap(_.parentId).map(ancestors).getOrElse(Set.empty)
    }
    val chain = ancestors(head)
    require(m.currentSnapshotId.forall(chain.contains),
      s"$name: branch '$branch' does not descend from main's head " +
        s"(${m.currentSnapshotId.getOrElse(-1L)}); fast-forward publish refused")
    m.copy(currentSnapshotId = Some(head), refs = m.refs - branch)
  }

  /** Branch/tag refs (docs/05:141-149). Default is a TAG (immutable pin,
    * snapshot-schema reads); `isBranch = true` creates a movable branch
    * head that tracks the table's live schema — see [[atRef]].
    */
  def setRef(refName: String, snapshotId: Long, isBranch: Boolean = false): TableMetadata =
    commitMetadata() { m =>
      require(m.snapshot(snapshotId).isDefined, s"snapshot $snapshotId not found")
      m.copy(refs = m.refs + (refName -> graft.format.Ref(snapshotId, isBranch)))
    }

  /** DROP a branch/tag ref. Abandons un-published staged work: the chain
    * stops being a GC root, so the next snapshot expiry reclaims it.
    */
  def dropRef(refName: String): TableMetadata = commitMetadata() { m =>
    require(m.refs.contains(refName), s"unknown ref '$refName'")
    m.copy(refs = m.refs - refName)
  }

  def setProperty(key: String, value: String): TableMetadata =
    commitMetadata()(m => m.copy(properties = m.properties + (key -> value)))

  def removeProperty(key: String): TableMetadata =
    commitMetadata()(m => m.copy(properties = m.properties - key))

  /** Apply several metadata transforms (schema changes, property edits) as
    * ONE CAS commit — the atomicity unit of a multi-change ALTER TABLE.
    * Per-change commits would let a failing later change leave the earlier
    * ones durably applied (retrying the statement then double-applies
    * them); folding inside one commitMetadata makes the whole statement
    * succeed or leave the table untouched.
    */
  def alterAtomically(ops: Seq[TableMetadata => TableMetadata]): TableMetadata =
    commitMetadata() { m =>
      val folded = ops.foldLeft(m)((acc, op) => op(acc))
      // each schema-evolution op minted its own schema version during the
      // fold; only the LAST is observable after this single commit, so
      // drop the intermediates (new in this fold, not current, referenced
      // by no snapshot) — an N-change ALTER must not append N full schema
      // copies to the metadata every load() parses
      val referenced = folded.snapshots.map(_.schemaId).toSet + folded.currentSchemaId
      folded.copy(schemas = folded.schemas.filter { case (id, _) =>
        m.schemas.contains(id) || referenced.contains(id) })
    }
}
