package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources.{EqualTo, Filter, In => SourceIn}
import org.apache.spark.sql.types.{ArrayType, LongType, MapType, StructType}
import java.util.OptionalLong

import graft.format.{Canonical, DataFile, GraftSchema, GraftUtil, TableMetadata, TableProperties}
import graft.table.GraftScan

/** The one DSv2 batch read of a Graft snapshot, for every table shape and
  * every caller: catalog SQL, time travel and `format("graft")` reads
  * through [[GraftSparkTable]], and `GraftTable.toDF`, DML candidate
  * reads, compaction and the change feed through [[GraftFilesTable]].
  * Plan-time manifest/file pruning, execution-time runtime filtering for
  * any partition layout, and storage-partitioned joins for bucketed
  * tables. The reference's medallion pattern — a date- or
  * identity-partitioned fact joined to a selective dim
  * (docs/12-lakehouse-patterns.md:107-126) — needs the dim's join keys to
  * prune the fact read INSIDE the executing plan, which only a scan that
  * stays in the plan can receive.
  *
  * The reader ([[GraftSpj.readerFactory]]) resolves each file's columns by
  * field ID under its own write schema and applies merge-on-read position
  * deletes per task, so no snapshot needs another plan. Which columns take
  * runtime filters is a metadata-shape rule with no knob
  * ([[runtimePrunable]]): a bare table offers none, so its plans never
  * carry a dynamic-pruning subquery that could not drop a file.
  *
  * The scan has two layouts. A key-grouped snapshot ([[GraftSpj.shapeOf]])
  * reports `KeyGroupedPartitioning(bucket(n, col))` with one input
  * partition per bucket value, so co-bucketed joins plan without
  * exchanges; every other snapshot range-splits and bin-packs its files
  * like Spark's file scan. Both layouts share one runtime keep rule, one
  * metrics record and one reader factory.
  */
object GraftDpp {
  /** Does the table carry a plane a runtime key set could prune on — a
    * partition spec, clustering (range-disjoint stats) or bloom columns?
    */
  def runtimePrunable(meta: TableMetadata): Boolean =
    meta.defaultSpec.isPartitioned ||
      meta.properties.get(TableProperties.ClusterBy).exists(_.nonEmpty) ||
      meta.properties.get(TableProperties.BloomColumns).exists(_.nonEmpty)
}

/** DSv2 Batch scan over `files` of one pinned Graft snapshot, with
  * `deletes` applied as it reads. Key-grouped snapshots (`bucketing`) plan
  * one [[GraftBucketPartition]] per bucket value (whole files: a bucket
  * group must stay one partition); otherwise surviving files are
  * range-split by `spark.sql.files.maxPartitionBytes` into packed
  * [[GraftDppPartition]]s. Runtime filters are offered only when
  * `runtimeFiltering`.
  */
class GraftDppScan(
    val native: GraftScan,
    val files: Seq[DataFile],
    val deletes: Seq[DataFile],
    val pushed: Array[Filter],
    val required: StructType,
    bucketing: Option[GraftSpj.SpjInfo],
    runtimeFiltering: Boolean) extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics
    with SupportsReportPartitioning {

  private def name: String = native.table.name


  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = (bucketing match {
    case Some(b) => s"graft-spj $name bucket(${b.numBuckets}, ${b.colName})"
    case None => s"graft-dpp $name [${pushed.mkString(", ")}]"
  }) + s" ReadSchema: ${required.catalogString}"

  /** Files surviving the runtime filter; None until [[filter]] runs. */
  @volatile private var allowed: Option[Seq[DataFile]] = None

  /** Metrics staged by [[filter]], recorded by the first
    * [[planInputPartitions]] that follows: the ledger reflects reads that
    * were actually planned, not filters AQE then discarded.
    */
  private val pendingMetrics =
    new java.util.concurrent.atomic.AtomicReference[graft.table.ScanMetrics](null)

  /** Read-schema columns that actually carry a prunable plane in the pinned
    * snapshot: partition-spec source columns plus columns with min/max
    * stats or a bloom in SOME file. Reporting a plane-less column would
    * make Spark plan a dynamic-pruning subquery (re-executing the build
    * side when exchange reuse doesn't apply) whose filter() then keeps
    * every file — pure overhead. One pass over the planned file list,
    * computed only if Spark asks. Resolution uses the SCAN's own schema and
    * the planned files' specs, not the table head's — a time-traveled scan
    * prunes under the snapshot's schema/spec.
    */
  private lazy val prunableCols: Set[String] = {
    val meta = native.meta
    val byId = native.scanSchema.fields
      .map(f => GraftSchema.fieldId(f) -> f.name).toMap
    // the UNION over the planned files' specs (partition-evolved tables
    // serve mixed spec IDs — a column carrying a transform plane in ANY
    // epoch's files is worth a runtime filter there; files under a spec
    // without it simply keep, the conservative default of keepForKeys'
    // per-file-spec rule). A source column of NO planned spec stays
    // unreported — it would invite a no-op pruning subquery.
    val partCols = files.iterator.map(_.specId).toSet
      .flatMap((sid: Int) => meta.specs.getOrElse(sid,
        graft.format.PartitionSpec.unpartitioned).fields)
      .flatMap(pf => byId.get(pf.sourceId))
    val statIds = files.iterator.flatMap(_.stats.iterator.collect {
      case (id, st) if st.min.isDefined || st.max.isDefined || st.bloom.isDefined => id
    }).toSet
    partCols ++ statIds.flatMap(byId.get)
  }

  /** Prunable-plane columns of the PRUNED read schema (Spark resolves these
    * against the scan relation's output, so a projected-away column would
    * fail analysis). A join key is always in the read schema, so the
    * medallion fact-dim shapes are always served. None for a bare table
    * ([[GraftDpp.runtimePrunable]]) or a pinned file list.
    */
  override def filterAttributes(): Array[NamedReference] =
    if (!runtimeFiltering) Array.empty
    else required.fields.collect {
      case f if !f.dataType.isInstanceOf[StructType] &&
        !f.dataType.isInstanceOf[ArrayType] &&
        !f.dataType.isInstanceOf[MapType] &&
        prunableCols(f.name) => Expressions.column(f.name)
    }

  /** Spark's dynamic-pruning subquery collects the build side's join keys
    * and calls this before input partitions are planned. Soundness never
    * depends on the prune: Spark re-applies the join, and the keep rule is
    * the sound may-contain test the seeded property spec pins.
    */
  override def filter(filters: Array[Filter]): Unit = {
    var kept = files
    var applied = false
    filters.foreach {
      // equality-shaped runtime filters (the dynamic-pruning subquery's
      // shape) go through the indexed per-key rule: partition-value hash
      // lookups (bucket values included) + per-candidate stats/bloom
      // probes, O(files + keys + candidates) driver time
      case SourceIn(c, vs) =>
        kept = native.keepForKeys(kept, c, vs.toSeq); applied = true
      case EqualTo(c, v) if v != null =>
        kept = native.keepForKeys(kept, c, Seq(v)); applied = true
      case other => CatalystPredicates.toPredicate(other).foreach { p =>
        kept = kept.filter(f => native.fileMayMatch(f, p)); applied = true
      }
    }
    if (applied) {
      // ONE keep rule: the planned partitions, the recorded metrics and the
      // reported statistics all derive from this list
      allowed = Some(kept)
      val keyCount = filters.collect {
        case SourceIn(_, vs) => vs.length
        case _: EqualTo => 1
      }.sum
      val cols = filters.collect {
        case SourceIn(c, _) => c
        case EqualTo(c, _) => c
      }.distinct.mkString(",")
      val partsOf = (fs: Seq[DataFile]) => fs.map(_.partition).distinct.size.toLong
      pendingMetrics.set(graft.table.ScanMetrics(
        name,
        // the scan's PINNED snapshot: a traveled read attributes the prune
        // to the snapshot actually read
        native.snapshot.map(_.snapshotId).getOrElse(-1L),
        s"runtime-in($cols, $keyCount keys)",
        manifestsTotal = 0, manifestsScanned = 0,
        filesTotal = files.size.toLong, filesScanned = kept.size.toLong,
        partitionsTotal = partsOf(files),
        partitionsScanned = partsOf(kept),
        bytesTotal = files.map(_.fileSizeBytes).sum,
        bytesScanned = kept.map(_.fileSizeBytes).sum,
        rowsInScannedFiles = kept.map(_.recordCount).sum,
        timestampMs = System.currentTimeMillis()))
    }
  }

  /** Files grouped by stored bucket value (null partition last, for a stable
    * display order; Spark re-groups by key itself). Empty unless key-grouped.
    */
  private lazy val groups: Seq[(Any, Seq[DataFile])] = bucketing.toSeq.flatMap { b =>
    files.groupBy(_.partition.get(b.partFieldName).flatten
        .map(s => Canonical.fromJsonString(LongType, s)))
      .toSeq
      .sortBy { case (k, _) => k.map(_.asInstanceOf[Long]).getOrElse(Long.MaxValue) }
      .map { case (k, fs) => (k.orNull, fs) }
  }

  override def outputPartitioning(): Partitioning = bucketing match {
    case Some(b) => new KeyGroupedPartitioning(
      Array(Expressions.bucket(b.numBuckets, b.colName)), groups.size)
    case None => new UnknownPartitioning(0)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    Option(pendingMetrics.getAndSet(null)).foreach(graft.table.QueryHistory.record)
    if (bucketing.isDefined) bucketPartitions() else packedPartitions()
  }

  /** One partition per bucket value. A runtime-filtered scan must not
    * change the reported partition VALUES, so pruned buckets keep their
    * group key and drop to zero files instead of disappearing.
    */
  private def bucketPartitions(): Array[InputPartition] = {
    val keep = allowed.map(_.iterator.map(_.path).toSet)
    groups.map { case (key, fs) =>
      GraftBucketPartition(
        new GenericInternalRow(Array[Any](key)),
        fs.filter(f => keep.forall(_(f.path))).map(f =>
          GraftSlice(location(f), 0L, f.fileSizeBytes, f.fileSizeBytes, f.schemaId)))
    }.toArray
  }

  private def location(f: DataFile): String = GraftUtil.resolve(native.meta.location, f.path)

  /** Spark's file-scan split-and-pack rule (FileSourceScanExec /
    * FilePartition semantics), re-derived for this scan's slice shape:
    * maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    * totalBytes/defaultParallelism)), big files range-split at it, then
    * slices BIN-PACKED (largest-first, openCost charged per slice) into
    * shared partitions. Without the packing this default read path would
    * hand Spark one task per file — a table of 500k small files becomes
    * 500k tasks of scheduling overhead.
    */
  private def packedPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sessionState.conf
    val maxBytes = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val read = allowed.getOrElse(files)
    val minPartitionNum = conf.filesMinPartitionNum.map(_.toLong)
      .getOrElse(spark.sparkContext.defaultParallelism.toLong)
      .max(1L)
    val totalBytes = read.map(_.fileSizeBytes + openCost).sum
    val maxSplit = math.min(maxBytes,
      math.max(openCost, totalBytes / minPartitionNum)).max(1L)
    val slices = read.flatMap { f =>
      val path = location(f)
      val n = math.max(1L, (f.fileSizeBytes + maxSplit - 1) / maxSplit)
      (0L until n).map { i =>
        val start = i * maxSplit
        GraftSlice(path, start, math.min(maxSplit, f.fileSizeBytes - start), f.fileSizeBytes,
          f.schemaId)
      }
    }.sortBy(-_.len)
    val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    val cur = scala.collection.mutable.ArrayBuffer.empty[GraftSlice]
    var curSize = 0L
    def close(): Unit = if (cur.nonEmpty) {
      out += GraftDppPartition(cur.toSeq); cur.clear(); curSize = 0L
    }
    slices.foreach { s =>
      if (curSize + s.len > maxSplit) close()
      cur += s; curSize += s.len + openCost
    }
    close()
    out.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftSpj.readerFactory(native, files, deletes, pushed, required)

  /** Post-filter size/rows from the manifests' own accounting — after a
    * runtime prune AQE sees the PRUNED size, so a fact cut to broadcast
    * scale can re-plan its next join as a broadcast. A bare table is sized
    * by its pruned read schema like Spark's own `FileScan`, so a narrow read
    * of a wide dimension keeps its broadcast; a runtime-prunable table
    * reports whole files, so the dimension feeding its runtime filter stays
    * the broadcast side.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val fs = allowed.getOrElse(files)
    private val bytes = fs.map(_.fileSizeBytes).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(
      if (runtimeFiltering) bytes
      else (SparkSession.active.sessionState.conf.fileCompressionFactor * bytes /
        native.scanSchema.defaultSize * required.defaultSize).toLong)
    override def numRows(): OptionalLong =
      OptionalLong.of(fs.map(_.recordCount).sum)
  }
}

/** Packed range slices of the scan's files. */
case class GraftDppPartition(files: Seq[GraftSlice])
    extends GraftFilesPartition
