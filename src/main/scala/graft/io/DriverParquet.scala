package graft.io

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Driver-side parquet write for SMALL, DRIVER-LOCAL appends (opt guide
  * §1.2 / §5). Why it exists: the Spark write of a pinned micro-batch frame
  * is a whole job — source task, exchange for partitioned tables, parquet
  * task init, commit-protocol renames — whose fixed cost dwarfs the KBs it
  * writes, and the crawl loops pay it several times PER micro-batch.
  *
  * What selects it: the append's plan is provably driver-resident (every
  * leaf a LocalRelation) and a bounded probe finds at most [[MaxRows]] rows
  * of at most [[MaxBytes]] in total. Both cutovers are data sizes, never
  * core counts; anything larger keeps the distributed write.
  *
  * How it writes: through Spark's own parquet encoder — the
  * `OutputWriterFactory` that `ParquetFileFormat.prepareWrite` hands the job
  * path, fed the same `InternalRow`s on the driver — into Spark's
  * dynamic-partition directory layout. Types, encodings, footer statistics
  * and the compression codec (`spark.sql.parquet.compression.codec`) are
  * therefore the job path's by construction; DriverWriteParitySpec compares
  * the two callers file by file.
  */
object DriverParquet {

  /** Total bytes (UnsafeRow sizes of the data columns) an append may carry
    * and still be written on the driver.
    */
  private val MaxBytes: Long = 8L * 1024 * 1024

  /** Rows an append may carry and still be written on the driver. */
  private val MaxRows: Int = 100000

  /** Is every leaf of this plan a LocalRelation (the pinned batch plane),
    * reached only through driver-safe operators? Such a plan's collect is
    * a small single-task job at most — the cost class the append already
    * pays for its source — so hoisting it to the driver is sound.
    */
  private def isLocalPlan(p: LogicalPlan): Boolean = p match {
    case _: LocalRelation => true
    case _: Project | _: Filter | _: Repartition | _: SubqueryAlias |
         _: Join | _: Aggregate | _: Union | _: GlobalLimit | _: LocalLimit |
         _: Sort | _: Distinct | _: Generate | _: Window | _: Deduplicate =>
      p.children.forall(isLocalPlan)
    case _ => false
  }

  /** Write `df` — its first `nData` columns are the data, the rest are the
    * partition columns, named as their directories — under `writeDir` when
    * it is driver-local and within the caps. File sizing honors BOTH
    * `maxRecordsPerFile` (the TARGET_FILE_SIZE contract) and
    * `advisoryBytes` (the AQE rebalance contract the distributed path
    * keeps: a hot partition value fans out across files instead of
    * concentrating in one — GraftTableSpec pins it). Returns false — having
    * written NOTHING — when the plan is not local or the probe exceeds a
    * cap, so the caller falls back to the Spark write.
    */
  def tryWrite(spark: SparkSession, df: DataFrame, nData: Int, writeDir: String,
               maxRecordsPerFile: Option[Long], advisoryBytes: Long): Boolean = {
    if (!isLocalPlan(df.queryExecution.optimizedPlan)) return false
    // a bounded probe, never a full collect: a local plan may still expand
    // (a join or generator over local leaves) far past the caps, and one
    // row over the row cap already means the job path. Repartitions cannot
    // change the row multiset, but a coalesce(n) over local leaves still
    // plans as a Spark job, so the probe reads the plan without them
    val unpartitioned = df.queryExecution.analyzed.transformUp { case r: Repartition => r.child }
    val probe = GraftSqlShim.ofRows(spark, unpartitioned).limit(MaxRows + 1).queryExecution
    val rows = SQLExecution.withNewExecutionId(probe, Some("collect"))(
      probe.executedPlan.executeCollect())
    if (rows.length > MaxRows) return false
    val fields = df.schema.fields
    val dataSchema = StructType(fields.take(nData))
    val toData = UnsafeProjection.create(dataSchema)
    val data: Array[UnsafeRow] = rows.map(r => toData(r).copy())
    if (data.iterator.map(_.getSizeInBytes.toLong).sum > MaxBytes) return false

    // Spark's dynamic-partition directory rule (FileFormatDataWriter): each
    // value cast to a string in the session zone, then Hive-escaped, with
    // null and "" both in the default partition
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val partValues = (nData until fields.length).map { i =>
      fields(i).name -> Cast(BoundReference(i, fields(i).dataType, nullable = true), StringType, tz)
    }
    val byDir = rows.indices.groupBy { j =>
      partValues.map { case (name, v) =>
        ExternalCatalogUtils.getPartitionPathString(name, Option(v.eval(rows(j))).map(_.toString).orNull)
      }.mkString("/")
    }

    // The writer's filesystem is the raw local one: Hadoop's checksum layer
    // costs ~10x per small file (measured 10.7 vs 1.0 ms/file) writing .crc
    // sidecars every reader and listing filter ignores (dot-prefixed).
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val job = Job.getInstance(conf)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val maxRecs = maxRecordsPerFile.filter(_ > 0).getOrElse(Long.MaxValue)
    byDir.foreach { case (rel, js) =>
      val dir = if (rel.isEmpty) writeDir else s"$writeDir/$rel"
      // greedy size-bounded chunks: ≥1 row each, cut at either contract
      val chunks = ArrayBuffer(ArrayBuffer[UnsafeRow]())
      var chunkBytes = 0L
      js.foreach { j =>
        val r = data(j)
        if (chunks.last.nonEmpty &&
            (chunkBytes + r.getSizeInBytes > advisoryBytes || chunks.last.length >= maxRecs)) {
          chunks += ArrayBuffer[UnsafeRow](); chunkBytes = 0L
        }
        chunks.last += r; chunkBytes += r.getSizeInBytes
      }
      chunks.zipWithIndex.foreach { case (chunk, ci) =>
        val path = s"$dir/part-${"%05d".format(ci)}-${java.util.UUID.randomUUID()}" +
          factory.getFileExtension(ctx)
        val writer = factory.newInstance(path, dataSchema, ctx)
        try chunk.foreach(writer.write) finally writer.close()
      }
    }
    true
  }
}
