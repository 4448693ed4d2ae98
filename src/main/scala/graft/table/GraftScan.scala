package graft.table

import graft.format._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Paths
import scala.jdk.CollectionConverters._

/** Name-safe column references: schema field names are LITERAL (a name may
  * contain a dot — legal in Spark schemas), so every by-name reference must
  * be backtick-quoted or `col("a.b")` would parse as nested navigation.
  */
private[graft] object Cols {
  def q(name: String): Column = col("`" + name.replace("`", "``") + "`")
}

/** Per-scan planning metrics — the engine-side source for QUERY_HISTORY-style
  * pruning observability (reference docs/09-query-performance.md:90-99,
  * 180-194: partitions_scanned vs partitions_total, bytes_scanned).
  */
case class ScanMetrics(
    table: String,
    snapshotId: Long,
    predicate: String,
    manifestsTotal: Int,
    manifestsScanned: Int,
    filesTotal: Long,
    filesScanned: Long,
    partitionsTotal: Long,
    partitionsScanned: Long,
    bytesTotal: Long,
    bytesScanned: Long,
    rowsInScannedFiles: Long,
    timestampMs: Long)

/** In-process QUERY_HISTORY (docs/09:180-194): the newest [[Capacity]]
  * scans, oldest dropped first, so a long-lived session holds a bounded
  * ledger.
  */
object QueryHistory {
  val Capacity = 10000
  private val entries = new java.util.ArrayDeque[ScanMetrics]()
  def record(m: ScanMetrics): Unit = entries.synchronized {
    if (entries.size >= Capacity) entries.pollFirst()
    entries.addLast(m)
  }
  def clear(): Unit = entries.synchronized(entries.clear())
  def all: Seq[ScanMetrics] = entries.synchronized(entries.asScala.toVector)
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    all.toDF()
  }
}

/** A snapshot-pinned scan: two-phase driver-side pruning (manifest partition
  * summaries, then per-file partition tuples + column min/max stats) followed
  * by a parquet DataFrame over exactly the surviving files (reference
  * docs/09:17-44 phases 1-2; phase 3 row-group pruning is delegated to
  * Spark's parquet reader via pushed filters, docs/09:46-55).
  *
  * Snapshot isolation is structural: the scan holds one immutable snapshot,
  * so concurrent commits cannot affect it (docs/08:30-49).
  */
class GraftScan(
    val table: GraftTable,
    val meta: TableMetadata,
    val snapshot: Option[Snapshot],
    val predicates: Seq[Predicate],
    val branchHead: Boolean = false,
    val tagPin: Boolean = false,
    /** Resolve rows to THIS schema id instead of the snapshot/current rule —
      * changelog diffs two snapshots under ONE schema (the to-side's), so
      * both sides must project identically even across evolution.
      */
    val schemaOverrideId: Option[Int] = None) {

  def withFilter(more: Predicate*): GraftScan =
    new GraftScan(table, meta, snapshot, predicates ++ more, branchHead, tagPin,
      schemaOverrideId)

  private def readManifestList(s: Snapshot): Seq[ManifestMeta] = {
    val p = GraftUtil.resolve(meta.location, s.manifestListPath)
    ManifestCache.get(p)(MetaJson.manifestListFromJson(GraftUtil.readString(Paths.get(p))))
  }

  private def readManifest(m: ManifestMeta): Seq[DataFile] = {
    val p = GraftUtil.resolve(meta.location, m.path)
    ManifestCache.get(p)(MetaJson.manifestFromJson(GraftUtil.readString(Paths.get(p))))
  }

  /** Look up the source field for a partition field, preferring `schemaId`. */
  private def sourceField(sourceId: Int, schemaId: Int): Option[StructField] =
    meta.schemas.get(schemaId).flatMap(s => s.fields.find(f => GraftSchema.fieldId(f) == sourceId))
      .orElse(meta.schemas.values.flatMap(_.fields).find(f => GraftSchema.fieldId(f) == sourceId))

  /** The schema rows resolve to. A TIME-TRAVELED scan (pinned to a snapshot
    * other than the current one) reads "the table as of then" with that
    * snapshot's schema — essential across CREATE OR REPLACE (docs/01:182),
    * whose fresh field ids share nothing with older snapshots. A
    * current-snapshot scan always uses the CURRENT schema: schema evolution
    * is metadata-only (no new snapshot), so the head snapshot's recorded
    * schemaId legitimately lags the live schema. A BRANCH-HEAD scan
    * (`branchHead`) gets the same exemption: branch commits advance only
    * their ref, never currentSnapshotId, so a live branch would otherwise
    * be misread as time travel and miss metadata-only evolution applied
    * after the branch commit (Iceberg rule: branch reads use the table's
    * current schema; tag/snapshot pins use the snapshot's schema). A TAG
    * scan (`tagPin`) pins the snapshot schema even when the tag happens to
    * sit at the live head — a tag is an immutable pin, so a metadata-only
    * evolution after tagging must stay invisible through the tag.
    */
  private def timeTraveled: Boolean =
    tagPin || (!branchHead &&
      snapshot.exists(s => !meta.currentSnapshotId.contains(s.snapshotId)))
  val scanSchema: StructType =
    schemaOverrideId.map(id => meta.schemas.getOrElse(id, meta.currentSchema)) getOrElse {
    if (timeTraveled) meta.schemas.getOrElse(snapshot.get.schemaId, meta.currentSchema)
    else meta.currentSchema
  }
  private[graft] def scanSchemaId: Int = schemaOverrideId getOrElse {
    if (timeTraveled) snapshot.get.schemaId else meta.currentSchemaId
  }

  private val pred = Predicate.all(predicates)

  /** Phase-1 context from a manifest's partition summaries. */
  private def manifestCtx(mf: ManifestMeta): Predicate.PruneContext = {
    val spec = meta.specs.getOrElse(mf.specId, PartitionSpec.unpartitioned)
    val schema = scanSchema
    Predicate.PruneContext(
      schema,
      _ => None,
      colName => spec.fields.flatMap { pf =>
        for {
          src <- sourceField(pf.sourceId, scanSchemaId) if src.name == colName
          summary <- mf.partitionSummaries.get(pf.name)
        } yield {
          val outDt = pf.transform.resultType(src.dataType)
          val lo = summary.lower.map(Canonical.fromJsonString(outDt, _))
          val hi = summary.upper.map(Canonical.fromJsonString(outDt, _))
          val nulls: Option[Long] = if (summary.containsNull) None else Some(0L)
          (pf.transform, Predicate.Bounds(lo, hi, nulls, None))
        }
      })
  }

  /** The probe hash pair is file-independent: memoize it per scan so an IN
    * with k keys over n files costs O(k) Catalyst evaluations, not O(n·k)
    * (runtime-filter scans push up to maxKeys values through here).
    */
  private val hashPairCache =
    scala.collection.concurrent.TrieMap.empty[(DataType, Any), Option[(Long, Long)]]
  private def cachedHashPair(dt: DataType, value: Any): Option[(Long, Long)] =
    hashPairCache.getOrElseUpdate((dt, value), graft.io.Bloom.hashPair(dt, value))

  /** Per-(file, column) decoded bloom bitmaps: a k-key runtime filter probes
    * the same file's bitmap k times — base64-decoding per probe would be the
    * dominant planning cost at contract-19 scale. None = unusable ("maybe").
    */
  private val bloomBitsCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Option[Array[Byte]]]
  private def cachedBloomBits(path: String, fieldId: Int,
                              enc: String): Option[Array[Byte]] =
    bloomBitsCache.getOrElseUpdate((path, fieldId), graft.io.Bloom.decode(enc))

  /** Phase-2 context from one file's partition tuple + column stats. */
  private def fileCtx(f: DataFile): Predicate.PruneContext = {
    val spec = meta.specs.getOrElse(f.specId, PartitionSpec.unpartitioned)
    val schema = scanSchema
    val writeSchema = meta.schemas.getOrElse(f.schemaId, schema)
    Predicate.PruneContext(
      schema,
      colName => schema.fields.find(_.name == colName).flatMap { cur =>
        val id = GraftSchema.fieldId(cur)
        f.stats.get(id).map { st =>
          Predicate.Bounds(
            st.min.map(Canonical.fromJsonString(cur.dataType, _)),
            st.max.map(Canonical.fromJsonString(cur.dataType, _)),
            st.nullCount,
            Some(f.recordCount))
        }
      },
      colName => spec.fields.flatMap { pf =>
        for {
          src <- sourceField(pf.sourceId, f.schemaId) if src.name == colName
          stored <- f.partition.get(pf.name)
        } yield {
          val outDt = pf.transform.resultType(src.dataType)
          stored match {
            case Some(s) =>
              val v = Canonical.fromJsonString(outDt, s)
              (pf.transform, Predicate.Bounds(Some(v), Some(v), Some(0L), Some(f.recordCount)))
            case None => // null partition value
              (pf.transform,
                Predicate.Bounds(None, None, Some(f.recordCount.max(1L)), Some(f.recordCount.max(1L))))
          }
        }
      },
      // Equality-probe bloom (see [[graft.io.Bloom]]). Sound only when the
      // probe hashes exactly as the written values did, so skip (return
      // "maybe") whenever the file's write-time type differs from the read
      // type: a widened column (float→double) re-renders the same logical
      // value as a different canonical string.
      bloomMayContain = (colName, dt, value) =>
        schema.fields.find(_.name == colName).forall { cur =>
          val id = GraftSchema.fieldId(cur)
          val sameType = writeSchema.fields
            .find(wf => GraftSchema.fieldId(wf) == id).forall(_.dataType == cur.dataType)
          !sameType || (f.stats.get(id).flatMap(_.bloom) match {
            case Some(enc) =>
              cachedHashPair(dt, value).forall(hp =>
                cachedBloomBits(f.path, id, enc)
                  .forall(graft.io.Bloom.mayContainBits(_, hp)))
            case None => true
          })
        })
  }

  /** Sound per-file "may contain matching rows" test against this scan's
    * FULL phase-2 context — partition transforms, column min/max/null
    * stats AND the equality-probe blooms all participate (the same rule
    * [[plan]] prunes with). The DSv2 runtime-filter scan
    * ([[graft.sources.GraftDppScan]]) re-prunes its planned file list
    * through this when a join's build-side keys arrive at execution time.
    */
  private[graft] def fileMayMatch(f: DataFile, p: Predicate): Boolean =
    Predicate.mayMatch(p, fileCtx(f))

  /** Positions 0..n-1 sorted ascending by `key(_)` — bottom-up mergesort on
    * a primitive key array (guaranteed O(n log n), no comparator boxing):
    * the ranged stats index sorts up to the whole planned file list on the
    * driver, where a boxed comparator sort measured ~2 s at 500k files.
    */
  private def sortedIndicesByLongKey(n: Int, key: Array[Long]): Array[Int] = {
    var src = Array.range(0, n)
    var dst = new Array[Int](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var i = lo; var j = mid; var k = lo
        while (i < mid && j < hi) {
          if (key(src(i)) <= key(src(j))) { dst(k) = src(i); i += 1 }
          else { dst(k) = src(j); j += 1 }
          k += 1
        }
        while (i < mid) { dst(k) = src(i); i += 1; k += 1 }
        while (j < hi) { dst(k) = src(j); j += 1; k += 1 }
        lo = hi
      }
      val t = src; src = dst; dst = t
      width *= 2
    }
    src
  }

  /** Indexed per-key equality keep rule (r16 verdict #2): the files that may
    * contain ANY of `rawKeys` in `colName` — set-equal to the brute rule
    *
    *   files.filter(f => keys.exists(k => fileMayMatch(f, Predicate.Eq(colName, k))))
    *
    * (KeepForKeysSpec pins the equivalence property-style) but built so
    * runtime-filter planning cost is O(files + keys + candidates) when the
    * column carries a partition transform, instead of the O(files × keys)
    * sweep a per-file runtime `filter` would do — at contract-19 scale
    * (500k files × 1024 collected join keys) the sweep is ~5·10⁸ driver-side
    * leaf evaluations. Files are hashed ONCE by their stored partition value
    * for the first partition field sourced from the column; each key derives
    * through the transform ONCE (the per-(transform, key) memoization the
    * r16 ADVICE prescribes — not per (file, key)) and looks up its candidate
    * files O(1); only candidates pay the full phase-2 plane check (which
    * re-ties stats + bloom + any further partition fields to the SAME key).
    * Derived probe values round-trip through the manifest JSON codec so the
    * hash key lives in exactly the representation the stored values parse
    * to. Columns with no partition plane (stats/bloom only) keep a key-major
    * sweep — the range-shaped planes are inherently linear — with the bloom
    * hash pair still memoized scan-wide. Null keys are dropped: an
    * equality/join probe matches no null (the null bucket keeps no file).
    */
  private[graft] def keepForKeys(files: Seq[DataFile], colName: String,
                                 rawKeys: Seq[Any]): Seq[DataFile] = {
    val keys = rawKeys.filter(_ != null).distinct
    if (keys.isEmpty) return Nil
    val field = scanSchema.fields.find(_.name == colName).getOrElse(return files)
    val dt = field.dataType
    val preds = keys.map(k => Predicate.Eq(colName, k))
    val keep = new scala.collection.mutable.BitSet(files.size)

    // (specId, schemaId) fixes the indexable partition field and its value
    // space; partition-evolved tables probe one group per epoch (r18:
    // the DPP route serves mixed spec IDs, so this per-spec grouping IS
    // the rule that prunes each epoch under its own transform)
    files.indices.groupBy(i => (files(i).specId, files(i).schemaId)).foreach {
      case ((specId, schemaId), idxs) =>
        val spec = meta.specs.getOrElse(specId, PartitionSpec.unpartitioned)
        // mirror fileCtx's plane rule: the write-schema source must carry the
        // scanned NAME; same TYPE additionally guards the index's value space
        // (a widened column re-renders values — those groups stay linear)
        val pfOpt = spec.fields.find(pf => sourceField(pf.sourceId, schemaId)
          .exists(src => src.name == colName && src.dataType == dt))
        pfOpt match {
          case Some(pf) =>
            val outDt = pf.transform.resultType(dt)
            val index = scala.collection.mutable.HashMap
              .empty[Any, scala.collection.mutable.ArrayBuffer[Int]]
            // no partition entry recorded -> no plane -> every key's candidate
            val unindexed = scala.collection.mutable.ArrayBuffer.empty[Int]
            idxs.foreach { i =>
              files(i).partition.get(pf.name) match {
                case Some(Some(s)) =>
                  index.getOrElseUpdate(Canonical.fromJsonString(outDt, s),
                    scala.collection.mutable.ArrayBuffer.empty[Int]) += i
                // null partition value: every row null -> Eq never matches
                case Some(None) => ()
                case None => unindexed += i
              }
            }
            keys.zip(preds).foreach { case (k, p) =>
              val derived: Option[Any] = (pf.transform match {
                case Transform.Identity => Canonical.of(dt, k)
                case tr => Canonical.of(dt, k).flatMap(c => tr(dt, c))
              }).map(d => // normalize into the stored values' parse space
                Canonical.fromJsonString(outDt, Canonical.toJsonString(outDt, d)))
              val cands = derived match {
                case Some(d) => index.getOrElse(d, Nil)
                // underivable key cannot prune on this plane: check them all
                case None => idxs
              }
              (cands.iterator ++ unindexed.iterator).foreach { i =>
                if (!keep(i) && fileMayMatch(files(i), p)) keep += i
              }
            }
          case None =>
            // stats/bloom-only column, INDEXED (r17 verdict #2 — the last
            // linear plane): one bounds parse per file classifies it into
            //   point    — lower == upper, hash-indexed by the value (the
            //              dominant unique-key / commit-sorted shape);
            //   ranged   — lower < upper, sorted by lower with a prefix-max
            //              of uppers, so a key's stabbing set enumerates by
            //              binary search + a backward walk that stops the
            //              moment no earlier interval can still reach the
            //              key (O(log files + candidates) for disjoint or
            //              mildly overlapping commit ranges; degenerates
            //              only when nearly every file genuinely contains
            //              the key — i.e. when the answer itself is large);
            //   partial  — exactly one bound present: the old hoisted
            //              per-key rule (rare — Graft writes both or
            //              neither), kept linear to preserve exact
            //              semantics on the present bound;
            //   unbounded— no stats: statsOk for every key, bloom decides;
            //   exact    — a write-type-drifted partition plane still
            //              references the column: per-key fileMayMatch.
            // Candidates pay the memoized bloom probe only; KeepForKeysSpec
            // pins set-equivalence to the brute per-key rule across all
            // five classes. Probe values normalize through the manifest
            // JSON codec so hash equality lives in the parsed bounds'
            // representation (the partition-plane index's rule).
            val canonKeys = keys.zip(preds).map { case (k, p) =>
              val ck = Canonical.of(dt, k).map(c =>
                Canonical.fromJsonString(dt, Canonical.toJsonString(dt, c)))
              (k, p, ck)
            }
            val ctxs = scala.collection.mutable.HashMap.empty[Int, Predicate.PruneContext]
            val pointIdx = scala.collection.mutable.HashMap
              .empty[Any, scala.collection.mutable.ArrayBuffer[Int]]
            val ranged = scala.collection.mutable.ArrayBuffer.empty[(Any, Any, Int)]
            val partial = scala.collection.mutable.ArrayBuffer
              .empty[(Predicate.Bounds, Int)]
            val unbounded = scala.collection.mutable.ArrayBuffer.empty[Int]
            val exact = scala.collection.mutable.ArrayBuffer.empty[Int]
            idxs.foreach { i =>
              val ctx = fileCtx(files(i))
              ctxs(i) = ctx
              if (ctx.transformedBounds(colName).nonEmpty) exact += i
              else ctx.statBounds(colName) match {
                case None => unbounded += i
                case Some(b) if b.allNull => () // Eq never matches an all-null file
                case Some(b) => (b.lower, b.upper) match {
                  case (Some(lo), Some(hi)) =>
                    if (Canonical.compare(lo, hi) == 0)
                      pointIdx.getOrElseUpdate(lo,
                        scala.collection.mutable.ArrayBuffer.empty[Int]) += i
                    else ranged += ((lo, hi, i))
                  case (None, None) => unbounded += i
                  case _ => partial += ((b, i))
                }
              }
            }
            // Ranged-files stabbing index: lower-sorted with a prefix-max
            // of uppers, so a key's candidates enumerate by binary search
            // + a backward walk that stops the moment no earlier interval
            // can still reach the key. PRIMITIVE fast path when the
            // canonical space embeds order-isomorphically in Long
            // (integral/date/timestamp directly; float/double via IEEE
            // sortable bits in the SIGNED-comparable form `b ^ ((b >> 63)
            // & Long.MaxValue)` — positives stay positive and increasing,
            // negatives flip all bits but the sign so they stay below,
            // -0.0 → -1 < +0.0 → 0, canonical NaN maps greatest: the exact
            // order java.lang.Double.compare uses, so parity with
            // Canonical.compare holds. The unsigned-comparable variant
            // `(b >> 63) | Long.MinValue` would invert the sign halves
            // under the signed compares below and DROP ranged files whose
            // bounds straddle zero): a 500k-file
            // boxed comparator sort alone costs ~2 s of driver planning,
            // the primitive index sort ~100 ms. Strings/decimals keep the
            // generic comparator path.
            val asLong: Option[Any => Long] = dt match {
              case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
                   _: TimestampType | _: TimestampNTZType =>
                Some(v => v.asInstanceOf[Long])
              case _: DateType => Some(v => v.asInstanceOf[Int].toLong)
              case _: FloatType | _: DoubleType => Some { v =>
                val b = java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
                b ^ ((b >> 63) & Long.MaxValue)
              }
              case _ => None
            }
            val rn = ranged.length
            // (candidate enumerator for one derivable key, all-files visitor)
            val (visitCandidates, visitAllRanged): (Any => (Int => Unit) => Unit,
                (Int => Unit) => Unit) =
              asLong match {
                case Some(f) if rn > 0 =>
                  val rawLos = new Array[Long](rn)
                  val his = new Array[Long](rn)
                  val ids = new Array[Int](rn)
                  var i = 0
                  while (i < rn) {
                    rawLos(i) = f(ranged(i)._1); his(i) = f(ranged(i)._2)
                    i += 1
                  }
                  val order = sortedIndicesByLongKey(rn, rawLos)
                  val los = new Array[Long](rn)
                  val prefMax = new Array[Long](rn)
                  var run = Long.MinValue
                  i = 0
                  while (i < rn) {
                    val o = order(i)
                    los(i) = rawLos(o); ids(i) = ranged(o)._3
                    val up = his(o)
                    if (up > run) run = up
                    prefMax(i) = run
                    i += 1
                  }
                  (v => visit => {
                    val vl = f(v)
                    var lo = 0; var hi = rn
                    while (lo < hi) {
                      val mid = (lo + hi) >>> 1
                      if (los(mid) <= vl) lo = mid + 1 else hi = mid
                    }
                    var p = lo - 1
                    var more = p >= 0
                    while (more) {
                      if (prefMax(p) < vl) more = false
                      else {
                        if (his(order(p)) >= vl) visit(ids(p))
                        p -= 1
                        more = p >= 0
                      }
                    }
                  }, visit => ids.foreach(visit))
                case _ =>
                  val sortedRanges =
                    ranged.sortWith((a, b) => Canonical.compare(a._1, b._1) < 0)
                  val prefixMaxUpper = new Array[Any](rn)
                  var runMax: Any = null
                  var j = 0
                  while (j < rn) {
                    val up = sortedRanges(j)._2
                    if (runMax == null || Canonical.compare(up, runMax) > 0) runMax = up
                    prefixMaxUpper(j) = runMax
                    j += 1
                  }
                  (v => visit => {
                    var lo = 0; var hi = rn
                    while (lo < hi) {
                      val mid = (lo + hi) >>> 1
                      if (Canonical.compare(sortedRanges(mid)._1, v) <= 0) lo = mid + 1
                      else hi = mid
                    }
                    var p = lo - 1
                    var more = p >= 0
                    while (more) {
                      if (Canonical.compare(prefixMaxUpper(p), v) < 0) more = false
                      else {
                        if (Canonical.compare(sortedRanges(p)._2, v) >= 0)
                          visit(sortedRanges(p)._3)
                        p -= 1
                        more = p >= 0
                      }
                    }
                  }, visit => sortedRanges.foreach(t => visit(t._3)))
              }
            def bloomKeep(i: Int, k: Any): Unit =
              if (!keep(i) && ctxs(i).bloomMayContain(colName, dt, k)) keep += i
            canonKeys.foreach { case (k, _, ck) =>
              ck match {
                case Some(v) =>
                  pointIdx.get(v).foreach(_.foreach(bloomKeep(_, k)))
                  visitCandidates(v)(bloomKeep(_, k))
                  partial.foreach { case (b, i) =>
                    val ok = b.lower.forall(l => Canonical.compare(l, v) <= 0) &&
                      b.upper.forall(h => Canonical.compare(h, v) >= 0)
                    if (ok) bloomKeep(i, k)
                  }
                case None =>
                  // underivable key cannot prune on the stats plane: every
                  // non-all-null file is a candidate (the old rule), bloom
                  // still gets its say
                  pointIdx.valuesIterator.foreach(_.foreach(bloomKeep(_, k)))
                  visitAllRanged(bloomKeep(_, k))
                  partial.foreach { case (_, i) => bloomKeep(i, k) }
              }
              unbounded.foreach(bloomKeep(_, k))
            }
            exact.foreach { i =>
              if (!keep(i) &&
                canonKeys.exists { case (_, p, _) => fileMayMatch(files(i), p) })
                keep += i
            }
        }
    }
    files.indices.collect { case i if keep(i) => files(i) }
  }

  /** @return (surviving data files, all position-delete files, metrics) */
  lazy val plan: (Seq[DataFile], Seq[DataFile], ScanMetrics) = {
    snapshot match {
      case None =>
        val m = ScanMetrics(table.name, -1L, pred.toString, 0, 0, 0, 0, 0, 0, 0, 0, 0,
          System.currentTimeMillis())
        (Nil, Nil, m)
      case Some(s) =>
        val manifests = readManifestList(s)
        val (dataMfs, delMfs) = manifests.partition(_.content == "data")
        // phase 1: manifest pruning via partition summaries
        val survivingMfs = dataMfs.filter(mf => Predicate.mayMatch(pred, manifestCtx(mf)))
        // phase 2: file pruning via partition tuples + column stats.
        // Manifests are independent KB-sized JSON files: read them in
        // parallel (a large table has many; serial reads would make driver
        // planning latency O(manifests)).
        val candidates = {
          import scala.collection.parallel.CollectionConverters._
          survivingMfs.par.flatMap(readManifest).seq
        }
        val files = candidates.filter(f => Predicate.mayMatch(pred, fileCtx(f)))
        val deletes = delMfs.flatMap(readManifest)

        val allFilesCount = dataMfs.map(_.fileCount.toLong).sum
        val prunedMfFiles = allFilesCount - candidates.size
        val partitionsOf = (fs: Seq[DataFile]) => fs.map(_.partition).distinct.size.toLong
        val m = ScanMetrics(
          table.name, s.snapshotId, pred.toString,
          manifestsTotal = dataMfs.size,
          manifestsScanned = survivingMfs.size,
          filesTotal = allFilesCount,
          filesScanned = files.size.toLong,
          partitionsTotal = partitionsOf(candidates), // best effort: within surviving manifests
          partitionsScanned = partitionsOf(files),
          bytesTotal = candidates.map(_.fileSizeBytes).sum,
          bytesScanned = files.map(_.fileSizeBytes).sum,
          rowsInScannedFiles = files.map(_.recordCount).sum,
          timestampMs = System.currentTimeMillis())
        QueryHistory.record(m)
        (files, deletes, m)
    }
  }

  def dataFiles: Seq[DataFile] = plan._1
  def deleteFiles: Seq[DataFile] = plan._2
  def metrics: ScanMetrics = plan._3

  // ---------------------------------------------------------------------
  // Metadata-only aggregates (reference docs/09-query-performance.md's
  // metadata-plane answers): COUNT(*) / MIN / MAX served purely from
  // manifest record counts and file stats — zero data-file I/O, O(metadata)
  // driver work. At 100 TB this turns a full-table count into a manifest
  // read. Every method returns None unless the answer is provably exact.
  // ---------------------------------------------------------------------

  /** Data files of this snapshot with an exact per-file verdict on the scan
    * predicate: Some((files, verdicts)) only when the snapshot carries no
    * delete files (position deletes make record counts overcount) and every
    * predicate column is an identity-partition column of every file's spec
    * — a file's identity partition value IS the value of every row in it,
    * so the predicate evaluates to one constant per file.
    */
  private lazy val exactFileMatches: Option[Seq[(DataFile, Boolean)]] = snapshot match {
    case None => Some(Nil)
    case Some(s) =>
      val manifests = readManifestList(s)
      if (manifests.exists(_.content != "data")) None
      else {
        import scala.collection.parallel.CollectionConverters._
        val files = manifests.par.flatMap(readManifest).seq
        val verdicts = files.map(f => exactEval(pred, f))
        if (verdicts.exists(_.isEmpty)) None
        else Some(files.zip(verdicts.flatten))
      }
  }

  /** The per-file constant of `colName` when it is an identity partition
    * column under the file's spec: None = not constant; Some(None) = all
    * rows null; Some(Some(canonical)) = all rows equal that value.
    */
  private def fileConstant(f: DataFile, colName: String): Option[Option[Any]] = {
    val spec = meta.specs.getOrElse(f.specId, PartitionSpec.unpartitioned)
    spec.fields.collectFirst {
      case pf if pf.transform == Transform.Identity &&
          sourceField(pf.sourceId, f.schemaId).exists(_.name == colName) =>
        val dt = sourceField(pf.sourceId, f.schemaId).get.dataType
        f.partition.get(pf.name).map(_.map(s => Canonical.fromJsonString(dt, s)))
    }.flatten
  }

  /** Exact three-valued evaluation of `p` against file `f`'s per-file
    * constants; None = not exactly decidable for this file.
    */
  private def exactEval(p: Predicate, f: DataFile): Option[Boolean] = {
    import Predicate._
    p match {
      case True => Some(true)
      case And(l, r) => (exactEval(l, f), exactEval(r, f)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case Or(l, r) => (exactEval(l, f), exactEval(r, f)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case leaf: Leaf =>
        val dt = scanSchema.fields.find(_.name == leaf.col).map(_.dataType)
        dt.flatMap { t =>
          // identity-partition constant decides exactly both ways; else the
          // file's stats may still decide: the sound pruner proves FALSE
          // ("no row can match"), the bounds can prove TRUE ("every row
          // matches" — bound directions make this sound even for truncated
          // string bounds: stored lo <= actual min, stored hi >= actual max)
          fileConstant(f, leaf.col).flatMap(c => evalLeafOnConstant(leaf, t, c))
            .orElse {
              if (!Predicate.mayMatch(leaf, fileCtx(f))) Some(false)
              else if (allRowsMatch(leaf, t, f)) Some(true)
              else None
            }
        }
    }
  }

  /** Can the file's stats prove EVERY row matches `leaf`? Conservative:
    * false means "cannot prove", not "some row fails". Null rows never
    * match a value comparison, so all value cases require nullCount == 0.
    */
  private def allRowsMatch(leaf: Predicate.Leaf, dt: DataType, f: DataFile): Boolean = {
    import Predicate._
    val field = scanSchema.fields.find(_.name == leaf.col).getOrElse(return false)
    val st = f.stats.get(GraftSchema.fieldId(field)).getOrElse(return false)
    if (f.recordCount == 0L) return true
    lazy val lo = st.min.map(Canonical.fromJsonString(dt, _))
    lazy val hi = st.max.map(Canonical.fromJsonString(dt, _))
    val noNulls = st.nullCount.contains(0L)
    def c(raw: Any): Option[Any] = Canonical.of(dt, raw)
    leaf match {
      case IsNull(_) => st.nullCount.contains(f.recordCount)
      case NotNull(_) => noNulls
      case Eq(_, raw) => noNulls && (for (v <- c(raw); l <- lo; h <- hi)
        yield Canonical.compare(l, v) == 0 && Canonical.compare(h, v) == 0).getOrElse(false)
      case NotEq(_, raw) => noNulls && (for (v <- c(raw); l <- lo; h <- hi)
        yield Canonical.compare(v, l) < 0 || Canonical.compare(v, h) > 0).getOrElse(false)
      case Lt(_, raw) => noNulls && (for (v <- c(raw); h <- hi)
        yield Canonical.compare(h, v) < 0).getOrElse(false)
      case LtEq(_, raw) => noNulls && (for (v <- c(raw); h <- hi)
        yield Canonical.compare(h, v) <= 0).getOrElse(false)
      case Gt(_, raw) => noNulls && (for (v <- c(raw); l <- lo)
        yield Canonical.compare(l, v) > 0).getOrElse(false)
      case GtEq(_, raw) => noNulls && (for (v <- c(raw); l <- lo)
        yield Canonical.compare(l, v) >= 0).getOrElse(false)
      case In(_, raws) => noNulls && (for (l <- lo; h <- hi) yield
        Canonical.compare(l, h) == 0 &&
          raws.filter(_ != null).flatMap(c).exists(v => Canonical.compare(l, v) == 0))
        .getOrElse(false)
      // a truncated (rounded-up) upper bound proves nothing about prefixes
      case StartsWith(_, _) => false
    }
  }

  /** COUNT(*) with the predicate decided at the metadata plane wherever
    * provable: files whose identity-partition constant or stats decide the
    * predicate for all rows contribute their record counts with zero I/O;
    * only the undecidable boundary files are scanned (with the row filter
    * applied). Falls back to a full filtered count when the snapshot has
    * delete files. @return (count, decidedFiles, scannedFiles)
    */
  def countRows(spark: SparkSession): (Long, Long, Long) = {
    val (files, deletes, _) = plan
    if (deletes.nonEmpty)
      return (toDF(spark).count(), 0L, files.size.toLong)
    val verdicts = files.map(f => f -> exactEval(pred, f))
    val decided = verdicts.collect { case (f, Some(true)) => f.recordCount }.sum
    val boundary = verdicts.collect { case (f, None) => f }
    val scanned =
      if (boundary.isEmpty) 0L
      else predicates.foldLeft(materialize(spark, boundary, Nil, withFileMeta = false))(
        (d, p) => d.filter(p.toColumn)).count()
    (decided + scanned, verdicts.count(_._2.contains(true)).toLong, boundary.size.toLong)
  }

  /** SQL filter semantics of one leaf against a constant row value (None =
    * the whole file is null in that column): NULL comparisons never pass.
    */
  private def evalLeafOnConstant(leaf: Predicate.Leaf, dt: DataType,
                                 const: Option[Any]): Option[Boolean] = {
    import Predicate._
    def cmp(raw: Any)(ok: Int => Boolean): Option[Boolean] = const match {
      case None => Some(false)
      case Some(v) => Canonical.of(dt, raw).map(p => ok(Canonical.compare(v, p)))
    }
    leaf match {
      case IsNull(_) => Some(const.isEmpty)
      case NotNull(_) => Some(const.isDefined)
      case Eq(_, raw) => if (raw == null) Some(false) else cmp(raw)(_ == 0)
      case NotEq(_, raw) => if (raw == null) Some(false) else cmp(raw)(_ != 0)
      case Lt(_, raw) => if (raw == null) Some(false) else cmp(raw)(_ < 0)
      case LtEq(_, raw) => if (raw == null) Some(false) else cmp(raw)(_ <= 0)
      case Gt(_, raw) => if (raw == null) Some(false) else cmp(raw)(_ > 0)
      case GtEq(_, raw) => if (raw == null) Some(false) else cmp(raw)(_ >= 0)
      case In(_, raws) =>
        if (const.isEmpty) Some(false)
        else {
          val hits = raws.filter(_ != null).map(r => cmp(r)(_ == 0))
          if (hits.exists(_.contains(true))) Some(true)
          else if (hits.forall(_.contains(false))) Some(false)
          else None
        }
      case StartsWith(_, p) => const match {
        case None => Some(false)
        case Some(v: String) => Some(v.startsWith(p))
        case Some(_) => None
      }
    }
  }

  /** COUNT(*) from metadata alone, or None when not provably exact. */
  def metadataCount: Option[Long] =
    exactFileMatches.map(_.collect { case (f, true) => f.recordCount }.sum)

  /** MIN or MAX of `colName` from file stats alone: Some(Some(canonical)),
    * Some(None) for the empty/all-null result, None when not provably exact
    * (deletes present, a matching file lacks stats, or a string bound long
    * enough to have been truncated).
    */
  def metadataMinMax(colName: String, isMin: Boolean): Option[Option[Any]] = {
    val field = scanSchema.fields.find(_.name == colName).getOrElse(return None)
    if (!Canonical.supports(field.dataType)) return None
    val id = GraftSchema.fieldId(field)
    val matching = exactFileMatches.getOrElse(return None).collect { case (f, true) => f }
    val perFile: Seq[Option[Option[Any]]] = matching.map { f =>
      if (f.recordCount == 0L) Some(None)
      else f.stats.get(id) match {
        case None => None // no stats for a matching file: cannot answer
        case Some(st) =>
          if (st.nullCount.contains(f.recordCount)) Some(None) // all null
          else {
            val bound = if (isMin) st.min else st.max
            bound match {
              // String bounds may be truncated (ParquetStats.truncateBounds).
              // A truncated LOWER bound is always exactly MaxStringBound
              // chars, so shorter lower bounds are provably exact; a
              // truncated UPPER bound is rounded up and can come out at ANY
              // length, indistinguishable from a real value — so string MAX
              // is never answerable from metadata.
              case Some(_) if field.dataType == StringType && !isMin => None
              case Some(s) if field.dataType == StringType &&
                s.length >= graft.io.ParquetStats.MaxStringBound => None
              case Some(s) => Some(Some(Canonical.fromJsonString(field.dataType, s)))
              case None => None // rows present but bound missing: cannot answer
            }
          }
      }
    }
    if (perFile.exists(_.isEmpty)) return None
    val values = perFile.flatten.flatten
    if (values.isEmpty) Some(None)
    else Some(Some(values.reduce((a, b) =>
      if (Canonical.compare(a, b) <= 0 == isMin) a else b)))
  }

  /** Build the DataFrame. `withFileMeta=true` adds `_gf_file`/`_gf_pos`
    * columns (used internally by COW/MOR rewrites).
    */
  def toDF(spark: SparkSession, withFileMeta: Boolean = false): DataFrame = {
    val (files, deletes, _) = plan
    val df = materialize(spark, files, deletes, withFileMeta)
    predicates.foldLeft(df)((d, p) => d.filter(p.toColumn))
  }

  /** Read an explicit file set of this snapshot — resolved by field ID to
    * this scan's schema, position deletes applied — through the one DSv2
    * scan ([[graft.sources.GraftFilesTable]]). The entry point of DML
    * candidate reads, compaction and the change feed.
    */
  private[graft] def materialize(spark: SparkSession, files: Seq[DataFile],
                                 deletes: Seq[DataFile], withFileMeta: Boolean): DataFrame =
    org.apache.spark.sql.GraftSqlShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new graft.sources.GraftFilesTable(this, files, deletes, withFileMeta), None, None))
}
