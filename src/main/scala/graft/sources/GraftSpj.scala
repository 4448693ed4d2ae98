package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, BoundReference, Cast, CreateNamedStruct, Expression, GenericInternalRow, GetStructField, If, IsNull, LambdaFunction, Literal, Murmur3Hash, NamedLambdaVariable, TransformValues, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.read.{HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType, Metadata, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.format.{DataFile, GraftSchema, GraftUtil, PartitionField, Transform}
import graft.table.GraftScan

/** Storage-partitioned (shuffle-free) join support (reference
  * docs/07-partitioning.md:151 bucket guidance + docs/09-query-performance
  * .md:178 join distribution) for the one DSv2 batch scan, [[GraftDppScan]]:
  * a Graft table bucket-partitioned on its join key reports
  * `KeyGroupedPartitioning(bucket(n, col))`, one `InputPartition` per
  * bucket value. Two tables bucketed identically then join with ZERO
  * exchanges — at 100 TB this removes both full-table shuffles from every
  * co-bucketed fact-fact join.
  *
  * A snapshot is key-grouped when the read is not time-traveled, the
  * default spec is a single `bucket` field, every planned file is under
  * that spec, and `spark.sql.sources.v2.bucketing.enabled` is `true`.
  * Otherwise the same scan packs its files like Spark's file scan.
  */
object GraftSpj {

  /** The table's single bucket partition field, when shaped for SPJ. */
  final case class SpjInfo(colName: String, numBuckets: Int, partFieldName: String)

  def shapeOf(spark: SparkSession, tbl: GraftSparkTable,
              files: Seq[DataFile]): Option[SpjInfo] = {
    if (tbl.travel != TimeTravel.None ||
        !spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean)
      return None
    val meta = tbl.graftTable.meta
    meta.defaultSpec.fields match {
      case Seq(PartitionField(srcId, pname, Transform.Bucket(n)))
          if files.forall(_.specId == meta.defaultSpecId) =>
        meta.currentSchema.fields
          .find(f => GraftSchema.fieldId(f) == srcId)
          .map(src => SpjInfo(src.name, n, pname))
      case _ => None
    }
  }

  /** The file-metadata columns a [[GraftFilesTable]] read may expose: the
    * data file's URI (as Spark's `_metadata.file_path` gives it) and the
    * row's position in that file.
    */
  val FileCol = "_gf_file"
  val PosCol = "_gf_pos"

  private val DeleteSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** The reader factory of one scan over `files` of `native`'s snapshot:
    * one Spark parquet read function per write schema ([[layoutOf]]), and
    * `deletes` applied per task. With no deletes and no nested rebuild it
    * reads COLUMNAR (`ParquetFileFormat.supportBatch`'s own rule), so the
    * scan decodes vectorized under whole-stage codegen; Spark forbids
    * mixing columnar and row partitions in one scan, so a snapshot with
    * deletes reads through the row surface.
    */
  def readerFactory(native: GraftScan, files: Seq[DataFile], deletes: Seq[DataFile],
                    pushed: Array[Filter], required: StructType): PartitionReaderFactory = {
    val spark = SparkSession.active
    val current = native.scanSchema
    val writes = files.iterator.map(_.schemaId).toSet.iterator
      .map((sid: Int) => sid -> native.meta.schemas.getOrElse(sid, current)).toMap
    val rowIndex = deletes.nonEmpty || isMeta(current, required, PosCol)
    val layouts = writes.map { case (sid, w) => sid -> layoutOf(w, current, required, rowIndex) }
    val columnar = deletes.isEmpty && layouts.values.forall(_.ordinals.isDefined) &&
      new ParquetFileFormat().supportBatch(spark, strip(required))
    val reads = layouts.map { case (sid, l) =>
      sid -> readFunc(spark, StructType(l.request.take(l.dataWidth)), l.request,
        pushable(writes(sid), current, pushed), columnar, l.partition)
    }
    GraftSpjReaderFactory(layouts, reads,
      deletes.map(d => (GraftUtil.resolve(native.meta.location, d.path), d.fileSizeBytes)),
      if (deletes.isEmpty) None
      else Some(readFunc(spark, DeleteSchema, DeleteSchema, Nil, columnar = false)),
      columnar)
  }

  /** Is `name` a file-metadata column (not a table column of that name)? */
  private def isMeta(current: StructType, required: StructType, name: String): Boolean =
    required.fieldNames.contains(name) && !current.fieldNames.contains(name)

  /** How files written under `write` become rows of `required` (columns of
    * `current`, the scan's resolved schema, plus file-metadata columns),
    * docs/06:75-90. Each field ID is requested under its WRITE-TIME name; a
    * widened atomic column at its current type, which Spark's vectorized
    * updaters decode (int→bigint, float→double, decimal precision). A
    * column added after the file was written is never looked up by name —
    * a dropped column may have left that name in the file — but comes out
    * of the reader's constant columns as null, like a partition value. Only
    * a nested column whose shape changed is read at its write type and
    * rebuilt by ID in a row projection.
    */
  private[sources] def layoutOf(write: StructType, current: StructType, required: StructType,
                                rowIndex: Boolean): ReadLayout = {
    val byId = GraftSchema.idToField(write)
    val curByName = current.fields.map(f => f.name -> f).toMap
    val request = ArrayBuffer.empty[StructField]
    val partition = ArrayBuffer.empty[StructField]
    // per output column: its raw ordinal, as an offset into the file
    // columns (Right) or the constant columns (Left), and the rebuild
    val src = required.fields.map { r =>
      curByName.get(r.name).flatMap(c => byId.get(GraftSchema.fieldId(c))) match {
        case Some(w) =>
          val same = w.dataType == curByName(r.name).dataType ||
            !(nested(w.dataType) || nested(r.dataType))
          val asked = if (same) r.dataType else pruneWrite(w.dataType, r.dataType)
          request += StructField(w.name, asked)
          (Right(request.size - 1), (e: Expression) => resolveValue(e, asked, r.dataType), asked)
        case None if r.name == PosCol && isMeta(current, required, PosCol) =>
          (Right(-1), identity[Expression] _, LongType)
        case None => // added after this file, or the file URI
          partition += StructField(r.name, r.dataType)
          (Left(partition.size - 1), identity[Expression] _, r.dataType)
      }
    }
    val dataWidth = request.size
    // nullable: the reader finds no such column in the file and fills it
    // from its row-index generator instead of refusing the read
    if (rowIndex) request += StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)
    val exprs = src.toSeq.map { case (at, build, dt) =>
      val o = at.fold(request.size + _, i => if (i < 0) dataWidth else i)
      build(BoundReference(o, dt, nullable = true))
    }
    ReadLayout(StructType(request.toSeq), dataWidth, StructType(partition.toSeq), exprs,
      if (rowIndex) dataWidth else -1, partition.indexWhere(_.name == FileCol))
  }

  /** The pushed filters a write schema's files can take verbatim: every
    * referenced column has the same name and type there. A filter on a
    * renamed column would prune row groups by the wrong (or a dropped)
    * column, so it stays above the scan only.
    */
  private def pushable(write: StructType, current: StructType,
                       pushed: Array[Filter]): Seq[Filter] = {
    val byId = GraftSchema.idToField(write)
    val same = current.fields.filter(c =>
      byId.get(GraftSchema.fieldId(c)).exists(w => w.name == c.name && w.dataType == c.dataType))
    pushed.toSeq.filter(_.references.forall(ref =>
      same.exists(c => ref == c.name || ref.startsWith(c.name + "."))))
  }

  private def nested(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType => true
    case _ => false
  }

  /** Column-ID resolution inside nested types (docs/06:114-118), as a
    * Catalyst expression over the value read at the write type: a struct
    * subfield renamed, dropped, widened or added since the file was written
    * is re-projected by ID, recursing through array elements and map
    * values. Fields without IDs (pre-nested-ID metadata) fall back to a
    * positional cast.
    */
  private def resolveValue(src: Expression, write: DataType, cur: DataType): Expression =
    (write, cur) match {
      case _ if write == cur => src
      case (w: StructType, c: StructType) if hasIds(w) && hasIds(c) =>
        val byId = GraftSchema.idToField(w)
        val children = c.fields.toSeq.flatMap { cf =>
          val v = byId.get(GraftSchema.fieldId(cf)).fold[Expression](Literal(null, cf.dataType)) {
            wf => resolveValue(GetStructField(src, w.fieldIndex(wf.name), Some(wf.name)),
              wf.dataType, cf.dataType)
          }
          Seq(Literal(cf.name), v)
        }
        // a null parent struct stays null through resolution
        If(IsNull(src), Literal(null, c), CreateNamedStruct(children))
      case (w: ArrayType, c: ArrayType) =>
        val x = NamedLambdaVariable("x", w.elementType, w.containsNull)
        ArrayTransform(src, LambdaFunction(resolveValue(x, w.elementType, c.elementType), Seq(x)))
      case (w: MapType, c: MapType) =>
        val k = NamedLambdaVariable("k", c.keyType, nullable = false)
        val v = NamedLambdaVariable("v", w.valueType, w.valueContainsNull)
        TransformValues(cast(src, MapType(c.keyType, w.valueType, w.valueContainsNull)),
          LambdaFunction(resolveValue(v, w.valueType, c.valueType), Seq(k, v)))
      case _ => cast(src, cur)
    }

  /** `write` cut to the subfield IDs `cur` still has, so a dropped subfield
    * is never read from the file.
    */
  private def pruneWrite(write: DataType, cur: DataType): DataType = (write, cur) match {
    case (w: StructType, c: StructType) if hasIds(w) && hasIds(c) =>
      val byId = GraftSchema.idToField(c)
      val kept = w.fields.flatMap(wf => byId.get(GraftSchema.fieldId(wf))
        .map(cf => wf.copy(dataType = pruneWrite(wf.dataType, cf.dataType))))
      if (kept.isEmpty) w else StructType(kept)
    case (w: ArrayType, c: ArrayType) =>
      w.copy(elementType = pruneWrite(w.elementType, c.elementType))
    case (w: MapType, c: MapType) => w.copy(valueType = pruneWrite(w.valueType, c.valueType))
    case _ => write
  }

  private def hasIds(s: StructType): Boolean = s.fields.forall(_.metadata.contains(GraftSchema.IdKey))

  private def cast(e: Expression, to: DataType): Expression =
    Cast(e, to, Option(SQLConf.get.sessionLocalTimeZone))

  /** Spark's parquet read function: `required`'s columns of files written
    * with `dataSchema`, followed by `partition`'s constant columns, as whole
    * `ColumnarBatch`es behind the row type when `columnar`, else as rows.
    * Shared by the DSv2 reader factory and the driver-side bloom build.
    */
  def readFunc(spark: SparkSession, dataSchema: StructType, required: StructType,
               pushed: Seq[Filter], columnar: Boolean,
               partition: StructType = new StructType()): PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = strip(dataSchema),
      partitionSchema = partition,
      requiredSchema = strip(required),
      filters = pushed,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> columnar.toString),
      hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty))

  /** A `[start, start + len)` slice of a `total`-byte parquet file. */
  def slice(path: String, start: Long, len: Long, total: Long,
            partitionValues: InternalRow = InternalRow.empty): PartitionedFile =
    PartitionedFile(partitionValues, SparkPath.fromPathString(path),
      start, len, Array.empty, 0L, total, Map.empty)

  private def strip(s: StructType): StructType =
    StructType(s.fields.map(_.copy(metadata = Metadata.empty)))
}

/** One write schema's read plan: `request` is what the parquet read asks of
  * each file (write-time names, then the row index at `rowIndex` when
  * `>= 0`), `partition` the constant columns after it (columns added
  * since, and the file URI at `fileOrdinal`), `exprs` the output columns
  * over that raw row.
  */
case class ReadLayout(request: StructType, dataWidth: Int, partition: StructType,
                      exprs: Seq[Expression], rowIndex: Int, fileOrdinal: Int) {
  /** Raw ordinals of the output columns, when none needs a rebuild. */
  val ordinals: Option[Array[Int]] =
    if (exprs.forall(_.isInstanceOf[BoundReference]))
      Some(exprs.map(_.asInstanceOf[BoundReference].ordinal).toArray)
    else None
  /** The raw row already is the output row. */
  val verbatim: Boolean = ordinals.exists(_.sameElements(exprs.indices)) &&
    request.size + partition.size == exprs.size
}

/** One `[start, start + len)` slice of a `total`-byte data file written
  * under schema `schemaId`.
  */
case class GraftSlice(path: String, start: Long, len: Long, total: Long, schemaId: Int)

/** An input partition that is a plain list of parquet slices — the shape
  * [[GraftSpjReaderFactory]] reads; implemented by the bucket partitions
  * (whole files: a bucket group must stay one partition) and the packed
  * range-split partitions.
  */
trait GraftFilesPartition extends InputPartition {
  def files: Seq[GraftSlice]
}

/** One bucket's files; `partitionKey` is the stored bucket value (nullable —
  * rows with a null bucket column land in the null partition).
  */
case class GraftBucketPartition(key: GenericInternalRow, files: Seq[GraftSlice])
    extends GraftFilesPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Reads a partition's slices, each through its write schema's read
  * function. Position deletes are applied per task, after Iceberg's
  * `DeleteFilter`/`PositionDeleteIndex`: the task reads the delete files
  * once, keeps its own data files' positions (paths matched through
  * [[GraftUtil.normFileLoc]]) as one sorted `long[]` per file, and drops
  * every row whose parquet row index is in its file's array.
  */
case class GraftSpjReaderFactory(layouts: Map[Int, ReadLayout],
                                 reads: Map[Int, PartitionedFile => Iterator[InternalRow]],
                                 deleteFiles: Seq[(String, Long)],
                                 deleteRead: Option[PartitionedFile => Iterator[InternalRow]],
                                 columnar: Boolean)
    extends PartitionReaderFactory {

  private def raw(s: GraftSlice): Iterator[InternalRow] = {
    val l = layouts(s.schemaId)
    val pv = new GenericInternalRow(l.partition.size)
    // the URI Spark's file index gives: the local filesystem's qualified path
    if (l.fileOrdinal >= 0) pv.update(l.fileOrdinal, UTF8String.fromString(SparkPath.fromPath(
      new Path("file", null, new java.io.File(s.path).getAbsolutePath)).urlEncoded))
    reads(s.schemaId)(GraftSpj.slice(s.path, s.start, s.len, s.total, pv))
  }

  /** This task's deleted positions, by normalized data-file path. */
  private def deletedIn(slices: Seq[GraftSlice]): Map[String, Array[Long]] =
    deleteRead.fold(Map.empty[String, Array[Long]]) { read =>
      val want = slices.iterator.map(s => GraftUtil.normFileLoc(s.path)).toSet
      val acc = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
      deleteFiles.foreach { case (path, size) =>
        read(GraftSpj.slice(path, 0L, size, size)).foreach { r =>
          val k = GraftUtil.normFileLoc(r.getUTF8String(0).toString)
          if (want(k)) acc.getOrElseUpdate(k, new scala.collection.mutable.ArrayBuilder.ofLong) += r.getLong(1)
        }
      }
      acc.iterator.map { case (k, b) => val a = b.result(); java.util.Arrays.sort(a); k -> a }.toMap
    }

  // a batch-decoding read function hands out ColumnarBatches behind the
  // row type; whole-iterator cast, not a per-element lambda — a typed
  // lambda param would make scalac cast each ColumnarBatch to InternalRow
  private def batches(partition: InputPartition): Iterator[ColumnarBatch] =
    partition.asInstanceOf[GraftFilesPartition].files.iterator.flatMap { s =>
      val l = layouts(s.schemaId)
      val it = raw(s).asInstanceOf[Iterator[ColumnarBatch]]
      if (l.verbatim) it else it.map(b => new ColumnarBatch(l.ordinals.get.map(b.column), b.numRows()))
    }

  private def rows(partition: InputPartition): Iterator[InternalRow] = {
    val slices = partition.asInstanceOf[GraftFilesPartition].files
    lazy val deleted = deletedIn(slices)
    val projections = scala.collection.mutable.HashMap.empty[Int, UnsafeProjection]
    slices.iterator.flatMap { s =>
      val l = layouts(s.schemaId)
      val all = raw(s)
      val kept =
        if (deleteRead.isEmpty) all
        else deleted.get(GraftUtil.normFileLoc(s.path)).fold(all)(pos =>
          all.filter(r => java.util.Arrays.binarySearch(pos, r.getLong(l.rowIndex)) < 0))
      if (l.verbatim) kept
      else kept.map(projections.getOrElseUpdate(s.schemaId, UnsafeProjection.create(l.exprs)))
    }
  }

  private def readerOf[T](it: Iterator[T]): PartitionReader[T] = new PartitionReader[T] {
    private var cur: T = _
    override def next(): Boolean = if (it.hasNext) { cur = it.next(); true } else false
    override def get(): T = cur
    override def close(): Unit = ()
  }

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  // row surface even under a batch-decoding read (Spark won't call this
  // when supportColumnarReads, but stay total): flatten the batches
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    readerOf(
      if (columnar) batches(partition).flatMap(_.rowIterator().asScala)
      else rows(partition))

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    require(columnar, "columnar reads not supported for this schema")
    readerOf(batches(partition))
  }
}

/** The catalog-level `bucket` function (FunctionCatalog surface): Spark
  * resolves the reported `bucket(n, col)` transform against this to build
  * the catalyst `TransformExpression` it compares across join sides. The
  * bound implementation reproduces the write path exactly —
  * `pmod(murmur3(col, seed=42), n)` ([[graft.format.Transforms]]) — so a
  * runtime re-shuffle by this function (v2 bucketing shuffle) lands rows in
  * the same buckets the writer did.
  */
object GraftBucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, col): Graft write-path bucket id (murmur3 seed 42, pmod)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets INT, col), got ${inputType.catalogString}")
    GraftBucketFunction(inputType.fields(1).dataType)
  }
}

case class GraftBucketFunction(srcType: DataType) extends ScalarFunction[java.lang.Long] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, srcType)
  override def resultType(): DataType = LongType
  override def name(): String = "bucket"
  override def canonicalName(): String = s"graft.bucket(${srcType.catalogString})"
  override def isResultNullable: Boolean = true

  @transient private lazy val hashExpr =
    Murmur3Hash(Seq(BoundReference(1, srcType, nullable = true)), 42)

  override def produceResult(input: InternalRow): java.lang.Long =
    if (input.isNullAt(1)) null
    else {
      val n = input.getInt(0)
      val h = hashExpr.eval(input).asInstanceOf[Int]
      val m = h % n
      (if (m < 0) m + n else m).toLong
    }
}
