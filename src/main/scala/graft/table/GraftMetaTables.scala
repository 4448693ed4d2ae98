package graft.table

import graft.format._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Metadata-inspection table functions (reference
  * docs/03-metadata-management.md:163-180, docs/05-snapshots-time-travel.md:75-80):
  * the INFORMATION_SCHEMA.ICEBERG_TABLE_* family rendered as DataFrames.
  * All are driver-side metadata reads (KBs) wrapped in createDataFrame —
  * no data-plane IO.
  */
trait GraftMetaTables { self: GraftTable =>

  private def df(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** M1: ICEBERG_TABLE_SNAPSHOTS (docs/05:75-80). */
  def snapshotsDF(spark: SparkSession): DataFrame = {
    val m = meta
    val schema = StructType(Seq(
      StructField("committed_at", TimestampType),
      StructField("snapshot_id", LongType),
      StructField("parent_id", LongType),
      StructField("operation", StringType),
      StructField("manifest_list", StringType),
      StructField("summary", MapType(StringType, StringType)),
      StructField("schema_id", IntegerType)))
    df(spark, schema, m.snapshots.map(s => Row(
      new java.sql.Timestamp(s.timestampMs), s.snapshotId,
      s.parentId.map(Long.box).orNull, s.operation, s.manifestListPath,
      s.summary, s.schemaId)))
  }

  /** M2: ICEBERG_TABLE_MANIFESTS (docs/03:176-177, fields docs/03:79-92). */
  def manifestsDF(spark: SparkSession): DataFrame = {
    val m = meta
    val schema = StructType(Seq(
      StructField("path", StringType),
      StructField("content", StringType),
      StructField("file_count", IntegerType),
      StructField("record_count", LongType),
      StructField("spec_id", IntegerType),
      StructField("partition_summaries", MapType(StringType, StringType))))
    val rows = currentManifests(m).map { mf =>
      Row(mf.path, mf.content, mf.fileCount, mf.recordCount, mf.specId,
        mf.partitionSummaries.map { case (k, v) =>
          k -> s"[${v.lower.getOrElse("")}..${v.upper.getOrElse("")}]${if (v.containsNull) "+null" else ""}"
        })
    }
    df(spark, schema, rows)
  }

  /** M3: ICEBERG_TABLE_FILES / t$FILES (docs/03:179-180, fields docs/03:96-109).
    * Also the input to health metrics (docs/10:115-139).
    */
  def filesDF(spark: SparkSession): DataFrame = {
    val m = meta
    val idToName = m.currentSchema.fields.map(f => GraftSchema.fieldId(f) -> f.name).toMap
    val schema = StructType(Seq(
      StructField("file_path", StringType),
      StructField("content", StringType),
      StructField("partition", MapType(StringType, StringType)),
      StructField("record_count", LongType),
      StructField("file_size_in_bytes", LongType),
      StructField("schema_id", IntegerType),
      StructField("spec_id", IntegerType),
      StructField("lower_bounds", MapType(StringType, StringType)),
      StructField("upper_bounds", MapType(StringType, StringType)),
      StructField("null_value_counts", MapType(StringType, LongType))))
    val rows = currentManifests(m)
      .flatMap(readManifest(m, _)).map { f =>
        def statMap[T](g: ColStats => Option[T]): Map[String, T] =
          f.stats.flatMap { case (id, st) => idToName.get(id).flatMap(n => g(st).map(n -> _)) }
        Row(f.path, f.content, f.partition.map { case (k, v) => k -> v.orNull },
          f.recordCount, f.fileSizeBytes, f.schemaId, f.specId,
          statMap(_.min), statMap(_.max), statMap(_.nullCount))
      }
    df(spark, schema, rows)
  }

  /** M3b: the `partitions` summary table (the Iceberg-standard rollup of
    * [[filesDF]]): per-(partition, spec) record/file/byte totals for live
    * DATA files with position-delete files counted alongside — the table a
    * planner or operator reads to spot skewed, fragmented, or
    * delete-burdened partitions WITHOUT listing every file. Like the rest
    * of the family this is a driver-side manifest read (KBs) — at 100 TB
    * the partition count, not the file count, bounds the result.
    */
  def partitionsDF(spark: SparkSession): DataFrame = {
    val m = meta
    val schema = StructType(Seq(
      StructField("partition", MapType(StringType, StringType)),
      StructField("spec_id", IntegerType),
      StructField("record_count", LongType),
      StructField("file_count", IntegerType),
      StructField("total_size_in_bytes", LongType),
      StructField("position_delete_file_count", IntegerType)))
    val files = currentManifests(m)
      .flatMap(readManifest(m, _))
    val rows = files
      .groupBy(f => (f.partition.map { case (k, v) => k -> v.orNull }, f.specId))
      .toSeq
      .map { case ((part, spec), fs) =>
        val (data, dels) = fs.partition(_.content == "data")
        Row(part, spec, data.map(_.recordCount).sum, data.size,
          data.map(_.fileSizeBytes).sum, dels.size)
      }
    df(spark, schema, rows)
  }

  /** M3c: the `refs` table (Iceberg-standard): every named branch/tag with
    * the snapshot it points at — plus the implicit `main` branch at the
    * current snapshot, so the table is never empty on a written table and
    * a reader can resolve any `VERSION AS OF <name>` target from one scan.
    */
  def refsDF(spark: SparkSession): DataFrame = {
    val m = meta
    val schema = StructType(Seq(
      StructField("name", StringType),
      StructField("type", StringType),
      StructField("snapshot_id", LongType)))
    val main = m.currentSnapshotId.map(id => Row("main", "branch", id)).toSeq
    // a stored ref literally named "main" would shadow the implicit head
    // row; the implicit row (the table's real current state) wins
    val named = m.refs.toSeq.filter(_._1 != "main").sortBy(_._1).map { case (n, r) =>
      Row(n, if (r.isBranch) "branch" else "tag", r.snapshotId)
    }
    df(spark, schema, main ++ named)
  }

  /** M4: SYSTEM$GET_ICEBERG_TABLE_INFORMATION (docs/03:170-171). */
  def tableInformation: Map[String, String] = {
    val (v, m) = load()
    Map(
      "metadataLocation" -> s"${m.location}/metadata/v$v.metadata.json",
      "status" -> "success",
      "snapshotId" -> m.currentSnapshotId.map(_.toString).getOrElse(""),
      "schemaId" -> m.currentSchemaId.toString,
      "tableUuid" -> m.tableUuid)
  }

  /** M5: SYSTEM$CLUSTERING_INFORMATION (docs/07-partitioning.md:164-172):
    * per-partition file counts plus a bound-overlap quality metric — the
    * fraction of file pairs within a partition whose min/max ranges on the
    * given column overlap (0 = perfectly clustered, 1 = fully interleaved).
    */
  def clusteringInformation(spark: SparkSession, column: String): DataFrame = {
    val m = meta
    val fieldId = m.currentSchema.fields.find(_.name == column)
      .map(GraftSchema.fieldId).getOrElse(sys.error(s"unknown column $column"))
    val dt = m.currentSchema(column).dataType
    val files = currentManifests(m)
      .filter(_.content == "data").flatMap(readManifest(m, _))
    val byPart = files.groupBy(_.partition)
    val schema = StructType(Seq(
      StructField("partition", MapType(StringType, StringType)),
      StructField("file_count", IntegerType),
      StructField("total_records", LongType),
      StructField("avg_file_size_bytes", LongType),
      StructField("overlap_ratio", DoubleType)))
    val rows = byPart.toSeq.map { case (part, fs) =>
      val ranges = fs.flatMap(f => f.stats.get(fieldId).flatMap(st =>
        for (lo <- st.min; hi <- st.max)
          yield (Canonical.fromJsonString(dt, lo), Canonical.fromJsonString(dt, hi))))
      val pairs = for {
        i <- ranges.indices; j <- (i + 1) until ranges.size
      } yield {
        val (l1, h1) = ranges(i); val (l2, h2) = ranges(j)
        if (Canonical.compare(l1, h2) <= 0 && Canonical.compare(l2, h1) <= 0) 1 else 0
      }
      val overlap = if (pairs.isEmpty) 0.0 else pairs.sum.toDouble / pairs.size
      Row(part.map { case (k, v) => k -> v.orNull }, fs.size,
        fs.map(_.recordCount).sum, fs.map(_.fileSizeBytes).sum / math.max(1, fs.size), overlap)
    }
    df(spark, schema, rows)
  }

  /** M6 companion: the scan-metrics history as a DataFrame lives in
    * [[QueryHistory.toDF]]; this is the per-table filter.
    */
  def queryHistoryDF(spark: SparkSession): DataFrame =
    QueryHistory.toDF(spark).filter(org.apache.spark.sql.functions.col("table") === name)
}
