package graft.streaming

import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental consumption FROM Graft tables (SURVEY §2.8: "incremental
  * transform ... or readStream over the table").
  *
  * Both APIs assume an append-only producer (the reference's streaming
  * model, docs/11:44-52): COW rewrites re-deliver rewritten rows because
  * immutable files are the unit of change. For tables that also run DML,
  * consume via [[GraftSink.incrementalNewRows]] (watermark semantics)
  * instead.
  */
object GraftStreamSource {

  /** Structured-Streaming source over a table's data directory: each new
    * data file becomes streamable input (file-source semantics, exactly-once
    * per checkpoint).
    *
    * LIMITS of directory watching (use [[changesSince]] when they matter):
    * files are observed at WRITE time, before the commit — rows from a
    * write whose commit ultimately fails CAS retry are still delivered; and
    * files are read under the CURRENT schema by name, so the stream must not
    * span schema evolution (no ID-based resolution on this path). MOR
    * position-delete files live outside data/ and are never picked up.
    */
  def appendsStream(spark: SparkSession, table: GraftTable): DataFrame =
    spark.readStream
      .schema(table.schema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(java.nio.file.Paths.get(table.location, "data").toString)

  /** Snapshot-diff changelog (batch): the rows of data files ADDED between
    * `fromSnapshotId` (exclusive; None = table creation) and `toSnapshotId`
    * (inclusive; None = current). The consumer-side watermark is a snapshot
    * ID — monotone, exact, and free, unlike timestamp watermarks.
    */
  def changesSince(spark: SparkSession, table: GraftTable,
                   fromSnapshotId: Option[Long],
                   toSnapshotId: Option[Long] = None): DataFrame = {
    val m = table.meta
    def filesAt(sid: Option[Long]): Seq[graft.format.DataFile] = sid match {
      case None => Nil
      case Some(id) =>
        val snap = m.snapshot(id).getOrElse(sys.error(s"snapshot $id not found (expired?)"))
        table.liveFiles(m, Some(snap))
    }
    val toSid = toSnapshotId.orElse(m.currentSnapshotId)
    val before = filesAt(fromSnapshotId).map(_.path).toSet
    val added = filesAt(toSid).filterNot(f => before.contains(f.path))
    val sc = new graft.table.GraftScan(table, m, toSid.flatMap(m.snapshot), Nil)
    sc.materialize(spark, added, Nil, withFileMeta = false)
  }

  /** Full change-data-feed between two snapshots: every row the transition
    * inserted (`_change_type = 'insert'`) or deleted (`'delete'`); an UPDATE
    * appears as its delete+insert pair. Unlike [[changesSince]] (append-only
    * consumers), this is exact under ANY operation mix — COW rewrites,
    * MOR delete files, compaction (pure rewrites cancel and emit nothing).
    *
    * Scale shape: data files present in both snapshots under an unchanged
    * delete-file set are skipped ENTIRELY (the common case: incremental
    * consumers polling an append-mostly table diff only the new files);
    * only the differing files' rows enter the exceptAll diff, which
    * shuffles once on all columns. 100 TB behavior is therefore
    * O(changed data), not O(table).
    */
  def changelog(spark: SparkSession, table: GraftTable,
                fromSnapshotId: Option[Long],
                toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val m = table.meta
    // BOTH sides resolve to the TO side's schema: with per-side schema
    // resolution an evolution between the snapshots would give the two
    // scans different column counts and exceptAll would refuse. ID-based
    // per-file resolution (GraftSpj.layoutOf) makes this exact across
    // add/drop/rename — old files project missing columns as NULL.
    val toSid = toSnapshotId.orElse(m.currentSnapshotId)
    val toSchemaId =
      if (toSid == m.currentSnapshotId) m.currentSchemaId
      else toSid.flatMap(m.snapshot).map(_.schemaId).getOrElse(m.currentSchemaId)
    // A CREATE OR REPLACE between the snapshots mints a fresh field-id
    // space: the from-side files resolve NOTHING under the to-schema and
    // the diff would silently emit all-NULL "delete" rows. Refuse loudly —
    // a replace is a full rewrite; consumers resync from scratch.
    fromSnapshotId.foreach { fid =>
      val fromSeq = m.snapshot(fid).map(_.sequenceNumber).getOrElse(0L)
      val toSeq = toSid.flatMap(m.snapshot).map(_.sequenceNumber).getOrElse(Long.MaxValue)
      val crossed = m.snapshots.exists(s =>
        s.summary.contains("table-replaced") &&
          s.sequenceNumber > fromSeq && s.sequenceNumber <= toSeq)
      require(!crossed,
        s"changelog($fid..${toSid.getOrElse(-1L)}) crosses a CREATE OR REPLACE — " +
          "the change feed is not defined across a full rewrite; resync the consumer " +
          "from the replacement snapshot instead")
    }
    def scanAt(sid: Option[Long]): graft.table.GraftScan =
      new graft.table.GraftScan(table, m,
        sid.map(id => m.snapshot(id).getOrElse(sys.error(s"snapshot $id not found (expired?)"))),
        Nil, schemaOverrideId = Some(toSchemaId))
    val from = scanAt(fromSnapshotId)
    val to = scanAt(toSid)
    val (dataFrom, delFrom) = (from.dataFiles, from.deleteFiles)
    val (dataTo, delTo) = (to.dataFiles, to.deleteFiles)
    // a common data file's rows are bit-identical on both sides when the
    // applicable delete-file set did not change -> exclude from the diff
    val sameDeletes = delFrom.map(_.path).toSet == delTo.map(_.path).toSet
    val fromPaths = dataFrom.map(_.path).toSet
    val toPaths = dataTo.map(_.path).toSet
    val (lhsFiles, rhsFiles) =
      if (sameDeletes)
        (dataFrom.filterNot(f => toPaths.contains(f.path)),
          dataTo.filterNot(f => fromPaths.contains(f.path)))
      else (dataFrom, dataTo)
    val lhs = from.materialize(spark, lhsFiles, delFrom, withFileMeta = false)
    val rhs = to.materialize(spark, rhsFiles, delTo, withFileMeta = false)
    // exceptAll rejects map-typed columns AT ANY NESTING: canonicalize
    // every map — top-level or inside structs/arrays — to a sorted entry
    // array for the diff, decode back after (order-insensitive map
    // equality, duplicate keys impossible in stored data). NULL structs
    // are preserved as typed nulls so null != struct-of-nulls in the diff.
    import org.apache.spark.sql.functions.{array_sort, map_entries, map_from_entries,
      transform => atransform, struct, when, lit => flit, col}
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    def encodedType(dt: DataType): DataType = dt match {
      case mt: MapType => ArrayType(StructType(Seq(
        StructField("key", encodedType(mt.keyType), nullable = false),
        StructField("value", encodedType(mt.valueType), mt.valueContainsNull))))
      case st: StructType =>
        StructType(st.fields.map(f => f.copy(dataType = encodedType(f.dataType))))
      case at: ArrayType => at.copy(elementType = encodedType(at.elementType))
      case other => other
    }
    def enc(c: org.apache.spark.sql.Column, dt: DataType): org.apache.spark.sql.Column = dt match {
      case _ if !hasMap(dt) => c
      case mt: MapType =>
        array_sort(atransform(map_entries(c), e => struct(
          enc(e.getField("key"), mt.keyType).as("key"),
          enc(e.getField("value"), mt.valueType).as("value"))))
      case st: StructType =>
        when(c.isNull, flit(null).cast(encodedType(st))).otherwise(struct(
          st.fields.map(f => enc(c.getField(f.name), f.dataType).as(f.name)): _*))
      case at: ArrayType => atransform(c, x => enc(x, at.elementType))
      case _ => c
    }
    def dec(c: org.apache.spark.sql.Column, dt: DataType): org.apache.spark.sql.Column = dt match {
      case _ if !hasMap(dt) => c
      case mt: MapType =>
        map_from_entries(atransform(c, e => struct(
          dec(e.getField("key"), mt.keyType).as("key"),
          dec(e.getField("value"), mt.valueType).as("value"))))
      case st: StructType =>
        when(c.isNull, flit(null).cast(dt)).otherwise(struct(
          st.fields.map(f => dec(c.getField(f.name), f.dataType).as(f.name)): _*))
      case at: ArrayType => atransform(c, x => dec(x, at.elementType))
      case _ => c
    }
    val mapped = lhs.schema.fields.filter(f => hasMap(f.dataType))
    def encode(df: DataFrame): DataFrame =
      mapped.foldLeft(df)((d, f) => d.withColumn(f.name, enc(col(f.name), f.dataType)))
    def decode(df: DataFrame): DataFrame =
      mapped.foldLeft(df)((d, f) => d.withColumn(f.name, dec(col(f.name), f.dataType)))
    val (el, er) = (encode(lhs), encode(rhs))
    decode(er.exceptAll(el)).withColumn("_change_type", lit("insert"))
      .unionByName(decode(el.exceptAll(er)).withColumn("_change_type", lit("delete")))
  }
}
