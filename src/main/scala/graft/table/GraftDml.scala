package graft.table

import graft.format._
import graft.io.ParquetStats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import java.nio.file.Paths

/** Row-level DML over immutable files: DELETE / UPDATE / MERGE as
  * copy-on-write file rewrites (reference docs/08-acid-transactions.md:99-141)
  * or, for DELETE, merge-on-read position-delete files (docs/08:104-116,
  * 171-177) when `enable-iceberg-merge-on-read` is set (docs/08:112-116).
  *
  * Scale design: the unit of rewrite is the *candidate file*, found by
  * driver-side stats pruning — a DELETE touching one partition rewrites that
  * partition's files only, never the table (docs/08:101-103 "identifies which
  * data files contain affected rows"). The rewrite itself is one distributed
  * Spark job over exactly the candidate files.
  */
trait GraftDml { self: GraftTable =>

  /** DELETE FROM ... WHERE: COW (default) or MOR per table property. */
  def delete(spark: SparkSession, predicates: Seq[Predicate],
             statementId: Option[String] = None): Snapshot =
    deleteWhere(spark, Predicate.all(predicates).toColumn, predicates, statementId)

  /** DELETE with an arbitrary row condition (the SQL path): `cond` decides
    * which rows die; `prunePreds` is any translatable subset used only for
    * candidate-file pruning (sound to under-approximate — non-candidate
    * files simply get rewritten/delete-scanned unnecessarily, never
    * skipped incorrectly, because candidates are a superset of matches).
    */
  def deleteWhere(spark: SparkSession, cond: Column, prunePreds: Seq[Predicate],
                  statementId: Option[String] = None): Snapshot = {
    val mor = meta.property(TableProperties.MergeOnRead, "false").toBoolean
    if (mor) deleteMor(spark, cond, prunePreds, statementId)
    else deleteCow(spark, cond, prunePreds, statementId)
  }

  /** UPDATE ... SET ... WHERE: rewrite candidate files applying `set` to the
    * matching rows (docs/08:119-130 — "delete + insert in one transaction";
    * with COW both halves collapse into one rewrite).
    * `set` maps column name -> expression over the current row's columns.
    */
  def update(spark: SparkSession, set: Map[String, Column], predicates: Seq[Predicate],
             statementId: Option[String] = None): Snapshot =
    updateWhere(spark, set, Predicate.all(predicates).toColumn, predicates, statementId)

  /** UPDATE with an arbitrary row condition (see [[deleteWhere]] for the
    * cond/prunePreds contract).
    */
  def updateWhere(spark: SparkSession, set: Map[String, Column], cond: Column,
                  prunePreds: Seq[Predicate], statementId: Option[String] = None): Snapshot = {
    rewriteCandidates(spark, prunePreds, "update", statementId) { rows =>
      val fields = meta.currentSchema.fields
      rows.select(fields.map { f =>
        set.get(f.name) match {
          case Some(expr) => when(coalesce(cond, lit(false)), expr.cast(f.dataType))
            .otherwise(Cols.q(f.name)).as(f.name)
          case None => Cols.q(f.name)
        }
      }: _*)
    }
  }

  private def deleteCow(spark: SparkSession, cond: Column, prunePreds: Seq[Predicate],
                        statementId: Option[String]): Snapshot = {
    rewriteCandidates(spark, prunePreds, "delete", statementId) { rows =>
      rows.filter(!coalesce(cond, lit(false)))
    }
  }

  /** Shared COW core: find candidate files by stats pruning, transform their
    * (delete-merged, schema-resolved) rows, write replacements, and state
    * the swap of candidates for the rewrite output. Non-candidate
    * manifests are carried forward untouched — metadata-only reuse. The
    * commit aborts if a concurrent commit removed a candidate (the base
    * is stale) or added position deletes, which this rewrite would
    * silently undo (docs/08:71-78).
    */
  private def rewriteCandidates(
      spark: SparkSession, predicates: Seq[Predicate], operation: String,
      statementId: Option[String])(transform: DataFrame => DataFrame): Snapshot =
    commitChange(statementId) { m0 =>
      val scan0 = new GraftScan(this, m0, m0.currentSnapshot, predicates)
      val candidates = scan0.dataFiles
      if (candidates.isEmpty) DataChange(operation, summary = Map("rewritten-data-files" -> "0"))
      else {
        val rows = scan0.materialize(spark, candidates, scan0.deleteFiles, withFileMeta = false)
        val newFiles = GraftWriter.write(spark, transform(rows), m0, m0.currentSchemaId,
          m0.defaultSpecId)
        DataChange(operation, addedData = newFiles, removed = candidates.map(_.path).toSet,
          seenDeletes = Some(scan0.deleteFiles.map(_.path).toSet),
          summary = Map(
            "rewritten-data-files" -> candidates.size.toString,
            "added-data-files" -> newFiles.size.toString))
      }
    }

  // -------------------------------------------------------------------
  // Merge-on-read DELETE (docs/08:104-116): write position-delete files
  // instead of rewriting data; each scan task skips the deleted positions.
  // -------------------------------------------------------------------

  /** Position-delete file schema (docs/08:171-177). Fields carry reserved
    * column IDs (outside any user schema's range) so footer-stats collection
    * treats them like any other tracked column.
    */
  private[table] val DeleteFileSchema = StructType(Seq(
    GraftSchema.withId(StructField("file_path", StringType, nullable = false), 2000000001),
    GraftSchema.withId(StructField("pos", LongType, nullable = false), 2000000002)))

  private def deleteMor(spark: SparkSession, cond: Column, prunePreds: Seq[Predicate],
                        statementId: Option[String]): Snapshot =
    commitChange(statementId) { m0 =>
      val scan0 = new GraftScan(this, m0, m0.currentSnapshot, prunePreds)
      val candidates = scan0.dataFiles
      if (candidates.isEmpty) DataChange("delete", summary = Map("added-delete-files" -> "0"))
      else {
        // Iceberg's reserved position-delete column IDs go into the parquet
        // footers (Spark writes `parquet.field.id` metadata as field ids): an
        // external Iceberg engine reading an exported MOR snapshot resolves
        // delete columns BY ID (2147483546 = file_path, 2147483545 = pos), so
        // without them the deletes are unreadable outside Graft (docs/11:53-87).
        val pathMeta = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", 2147483546L).build()
        val posMeta = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", 2147483545L).build()
        val matches = scan0.materialize(spark, candidates, scan0.deleteFiles, withFileMeta = true)
          .filter(cond)
          .select(col("_gf_file").as("file_path", pathMeta),
            col("_gf_pos").as("pos", posMeta))
        // sort by (file, pos) so a reader could range-skip; small files are fine —
        // the <10% delete-ratio health bound (docs/10:123) keeps this side tiny.
        // Delete files live OUTSIDE data/ so directory-watching readers
        // (GraftStreamSource.appendsStream) never ingest them as data rows.
        val writeDir = Paths.get(m0.location, "deletes", java.util.UUID.randomUUID().toString).toString
        matches.sortWithinPartitions("file_path", "pos").write.parquet(writeDir)
        val conf = spark.sparkContext.hadoopConfiguration
        val delFiles = GraftUtil.listFilesRecursively(Paths.get(writeDir), ".parquet").map { p =>
          val (rows, size, _) = ParquetStats.read(p.toString, DeleteFileSchema, conf)
          DataFile(GraftUtil.relativize(m0.location, p.toString), "position-deletes",
            Map.empty, rows, size, m0.currentSchemaId, m0.defaultSpecId, Map.empty)
        }.filter(_.recordCount > 0)
        // the deletes reference candidate files by path: if a concurrent
        // rewrite replaced any of them, they would be inert and the DELETE
        // would silently vanish — the candidates must still be live
        DataChange("delete", addedDeletes = delFiles, live = candidates.map(_.path).toSet,
          summary = Map(
            "added-delete-files" -> delFiles.size.toString,
            "deleted-records" -> delFiles.map(_.recordCount).sum.toString))
      }
    }

  // -------------------------------------------------------------------
  // MERGE INTO (docs/08:132-141, docs/12:107-126)
  // -------------------------------------------------------------------

  /** Distinct source key tuples above which candidate pruning falls back to
    * one global [min,max] interval per key column. Below it the exact key
    * *set* prunes: an `In` leaf keeps a file only when some source key lies
    * inside that file's own [min,max] — and, derived through the partition
    * spec's transforms, only when some key lands in the file's partition
    * tuple. A sparse CDC batch with two keys at opposite ends of the domain
    * therefore rewrites the two matching partitions' files, not the table
    * (a global interval would make every file a candidate).
    */
  private val MergeKeySetLimit = 1000

  /** Sound candidate-file predicates for a MERGE source: exact key set when
    * small, per-column global bounds otherwise, nothing for key types the
    * canonical stats space can't order.
    */
  private def mergeCandidatePreds(src: DataFrame, onKeys: Seq[(String, String)],
                                  schema: StructType): Seq[Predicate] = {
    val prunable = onKeys.filter { case (t, _) =>
      schema.fields.find(_.name == t).map(_.dataType).exists(Canonical.supports)
    }
    if (prunable.isEmpty) return Nil
    val distinctKeys = src
      .select(prunable.map { case (_, s) => col(s) }: _*).na.drop("any")
      .distinct().limit(MergeKeySetLimit + 1).collect()
    if (distinctKeys.length <= MergeKeySetLimit) {
      // null keys never equality-match a target row, so dropping them above
      // is sound; an empty set prunes every file (inserts need no candidates)
      prunable.zipWithIndex.map { case ((t, _), i) =>
        Predicate.In(t, distinctKeys.map(_.get(i)).distinct.toSeq)
      }
    } else {
      val boundsRow = src.agg(
        prunable.flatMap { case (_, s) => Seq(min(col(s)), max(col(s))) }.head,
        prunable.flatMap { case (_, s) => Seq(min(col(s)), max(col(s))) }.tail: _*).head()
      prunable.zipWithIndex.flatMap { case ((t, _), i) =>
        val lo = boundsRow.get(2 * i); val hi = boundsRow.get(2 * i + 1)
        if (lo == null || hi == null) Nil
        else Seq(Predicate.GtEq(t, lo), Predicate.LtEq(t, hi))
      }
    }
  }

  /** MERGE INTO this USING source ON (target.k = source.k ...)
    *   WHEN MATCHED [AND cond] THEN UPDATE SET ...
    *   WHEN MATCHED AND cond THEN DELETE
    *   WHEN NOT MATCHED THEN INSERT ...
    *
    * `onKeys` are (targetColumn, sourceColumn) equality pairs. Expressions in
    * conditions/assignments reference the target row as `t.<col>` and the
    * source row as `s.<col>`.
    *
    * Plan (single transaction, docs/08:139-141): candidate files are found by
    * pushing the *source key bounds* through stats pruning, so a MERGE whose
    * source touches one day rewrites one day. Candidate rows full-outer-join
    * the source on the keys; each joined row routes to exactly one branch;
    * survivors + inserts are rewritten, candidates replaced, in one commit.
    */
  def merge(
      spark: SparkSession,
      source: DataFrame,
      onKeys: Seq[(String, String)],
      whenMatchedUpdate: Map[String, Column] = Map.empty,
      whenMatchedUpdateCond: Option[Column] = None,
      whenMatchedDelete: Option[Column] = None,
      whenNotMatchedInsert: Option[Map[String, Column]] = None,
      insertWhenNotMatched: Boolean = true,
      whenNotMatchedInsertCond: Option[Column] = None,
      whenNotMatchedBySourceUpdate: Map[String, Column] = Map.empty,
      whenNotMatchedBySourceUpdateCond: Option[Column] = None,
      whenNotMatchedBySourceDelete: Option[Column] = None,
      statementId: Option[String] = None): Snapshot = {
    require(onKeys.nonEmpty, "MERGE requires at least one ON key")
    commitChange(statementId) { m0 =>
      val schema = m0.currentSchema

      // Candidate detection. WHEN NOT MATCHED BY SOURCE actions touch target
      // rows *outside* the source keys, so any key-based pruning would silently
      // skip exactly the files those actions must rewrite — disable it.
      val hasBySource = whenNotMatchedBySourceUpdate.nonEmpty ||
        whenNotMatchedBySourceDelete.isDefined
      // a driver-local source (the streaming LM loop's pinned deltas) is
      // already materialized — caching it would only add an InMemoryRelation
      // materialize job to the per-batch hot path
      val srcIsLocal = source.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      val srcCached = if (srcIsLocal) source else source.cache()
      val keyPreds: Seq[Predicate] =
        if (hasBySource) Nil else mergeCandidatePreds(srcCached, onKeys, schema)

      val scan0 = new GraftScan(this, m0, m0.currentSnapshot, keyPreds)
      val candidates = scan0.dataFiles
      val candidatePaths = candidates.map(_.path).toSet
      val tRowsBase = scan0.materialize(spark, candidates, scan0.deleteFiles, withFileMeta = false)

      // ANSI MERGE nondeterminism guard (docs/12:107-126): a target row matched
      // by more than one source row must raise, not silently duplicate via the
      // join. Cheap two-step: duplicate ON-key tuples in the source (map-side
      // combined agg, usually empty) and only then a semi-join against the
      // bounds-pruned candidates to see whether any duplicate actually matches.
      val dupKeys = srcCached.groupBy(onKeys.map { case (_, s) => col(s) }: _*)
        .agg(count(lit(1)).as("_cnt")).filter(col("_cnt") > 1).drop("_cnt")
      if (dupKeys.take(1).nonEmpty) {
        val dk = dupKeys.alias("dk")
        val clashCond = onKeys.map { case (t, s) => col(s"ck.$t") === col(s"dk.$s") }.reduce(_ && _)
        val clash = tRowsBase.alias("ck").join(broadcast(dk), clashCond, "left_semi")
        if (clash.take(1).nonEmpty) {
          srcCached.unpersist()
          throw new IllegalArgumentException(
            s"$name: MERGE source has duplicate ON-key rows matching a target row; " +
              "result would be nondeterministic — dedupe the source on the ON keys")
        }
      }

      val tRows = tRowsBase.withColumn("_t_present", lit(true)).alias("t")
      val sRows = srcCached.withColumn("_s_present", lit(true)).alias("s")
      val joinCond = onKeys.map { case (t, s) => col(s"t.$t") === col(s"s.$s") }.reduce(_ && _)
      val joined = tRows.join(sRows, joinCond, "full_outer")

      val matched = col("_t_present").isNotNull && col("_s_present").isNotNull
      val tOnly = col("_t_present").isNotNull && col("_s_present").isNull
      val sOnly = col("_t_present").isNull && col("_s_present").isNotNull
      val delCond = whenMatchedDelete.getOrElse(lit(false))
      val updCond =
        if (whenMatchedUpdate.isEmpty) lit(false) else whenMatchedUpdateCond.getOrElse(lit(true))
      // WHEN NOT MATCHED BY SOURCE (target rows with no source match): a
      // delete condition and/or an update branch over the tOnly rows
      val bsDelCond = whenNotMatchedBySourceDelete.getOrElse(lit(false))
      val bsUpdCond =
        if (whenNotMatchedBySourceUpdate.isEmpty) lit(false)
        else whenNotMatchedBySourceUpdateCond.getOrElse(lit(true))

      val outFields = schema.fields
      val keptOrUpdated = outFields.map { f =>
        val target = col(s"t.${f.name}")
        val updated = whenMatchedUpdate.get(f.name).map(_.cast(f.dataType)).getOrElse(target)
        val bsUpdated = whenNotMatchedBySourceUpdate.get(f.name).map(_.cast(f.dataType)).getOrElse(target)
        when(matched && updCond, updated)
          .when(tOnly && bsUpdCond, bsUpdated)
          .otherwise(target).as(f.name)
      }
      val insertExprs = outFields.map { f =>
        whenNotMatchedInsert match {
          case Some(m) => m.get(f.name).map(_.cast(f.dataType)).getOrElse(lit(null).cast(f.dataType)).as(f.name)
          case None => // default: insert source columns matching target names
            (if (srcCached.columns.contains(f.name)) col(s"s.${f.name}").cast(f.dataType)
             else lit(null).cast(f.dataType)).as(f.name)
        }
      }

      val survivors = joined
        .filter((tOnly && !coalesce(bsDelCond, lit(false))) ||
          (matched && !coalesce(delCond, lit(false))))
        .select(keptOrUpdated: _*)
      val insertCond = whenNotMatchedInsertCond.getOrElse(lit(true))
      val inserts =
        if (insertWhenNotMatched)
          joined.filter(sOnly && coalesce(insertCond, lit(false))).select(insertExprs: _*)
        else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(outFields))
      val result = survivors.unionByName(inserts)

      val newFiles = try GraftWriter.write(spark, result, m0, m0.currentSchemaId, m0.defaultSpecId)
        finally srcCached.unpersist()
      DataChange("merge", addedData = newFiles, removed = candidatePaths,
        seenDeletes = Some(scan0.deleteFiles.map(_.path).toSet),
        summary = Map(
          "rewritten-data-files" -> candidates.size.toString,
          "added-data-files" -> newFiles.size.toString))
    }
  }
}
