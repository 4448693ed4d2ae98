package graft.sources

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Murmur3Hash}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.read.{HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, Metadata, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import scala.jdk.CollectionConverters._

import graft.format.{DataFile, GraftSchema, PartitionField, Transform}

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
  * Otherwise the same scan packs its files like the native plan.
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

  /** Spark's own vectorized parquet reader behind the DSv2 reader
    * contract. When the required schema supports batch decode (all-atomic
    * columns, vectorized reader on — `ParquetFileFormat.supportBatch`'s own
    * rule), the factory reports COLUMNAR reads and hands Spark whole
    * `ColumnarBatch`es, so the DSv2 scan decodes exactly like the
    * substituted native plan (vectorized + whole-stage codegen above a
    * ColumnarToRow). Nested schemas keep the row surface (vectorized
    * decode inside, row-at-a-time outside).
    */
  def readerFactory(dataSchema: StructType, pushed: Array[Filter],
                    required: StructType): PartitionReaderFactory = {
    val spark = SparkSession.active
    val strip = (s: StructType) =>
      StructType(s.fields.map(_.copy(metadata = Metadata.empty)))
    val fmt = new ParquetFileFormat()
    val columnar = fmt.supportBatch(spark, strip(required))
    val readFunc = fmt.buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = strip(dataSchema),
      partitionSchema = new StructType(),
      requiredSchema = strip(required),
      filters = pushed.toSeq,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> columnar.toString),
      hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty))
    GraftSpjReaderFactory(readFunc, columnar)
  }
}

/** An input partition that is a plain list of parquet slices
  * (path, start, length, fileSize) — the shape [[GraftSpjReaderFactory]]
  * reads; implemented by the bucket partitions (whole files: a bucket
  * group must stay one partition) and the packed range-split partitions.
  */
trait GraftFilesPartition extends InputPartition {
  def files: Seq[(String, Long, Long, Long)]
}

/** One bucket's files; `partitionKey` is the stored bucket value (nullable —
  * rows with a null bucket column land in the null partition).
  */
case class GraftBucketPartition(key: GenericInternalRow,
                                files: Seq[(String, Long, Long, Long)])
    extends GraftFilesPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

case class GraftSpjReaderFactory(read: PartitionedFile => Iterator[InternalRow],
                                 columnar: Boolean)
    extends PartitionReaderFactory {

  private def raw(partition: InputPartition): Iterator[InternalRow] =
    partition.asInstanceOf[GraftFilesPartition].files.iterator.flatMap {
      case (path, start, len, total) =>
        read(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
          start, len, Array.empty, 0L, total, Map.empty))
    }

  // a batch-decoding readFunc hands out ColumnarBatches behind the row type;
  // whole-iterator cast, not a per-element lambda — a typed lambda param
  // would make scalac cast each ColumnarBatch to InternalRow first
  private def batches(partition: InputPartition): Iterator[ColumnarBatch] =
    raw(partition).asInstanceOf[Iterator[ColumnarBatch]]

  private def readerOf[T](it: Iterator[T]): PartitionReader[T] = new PartitionReader[T] {
    private var cur: T = _
    override def next(): Boolean = if (it.hasNext) { cur = it.next(); true } else false
    override def get(): T = cur
    override def close(): Unit = ()
  }

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  // row surface even under a batch-decoding readFunc (Spark won't call
  // this when supportColumnarReads, but stay total): flatten the batches
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    readerOf(
      if (columnar) batches(partition).flatMap(_.rowIterator().asScala)
      else raw(partition))

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
