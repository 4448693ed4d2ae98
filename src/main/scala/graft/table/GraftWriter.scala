package graft.table

import graft.format._
import graft.io.ParquetStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Paths
import scala.util.chaining._

/** Data-plane writer: turns a DataFrame into immutable parquet data files +
  * their manifest entries (reference: docs/08-acid-transactions.md:25 step 1).
  *
  * Scale design:
  *   - data files are written by executors via the normal parquet sink
  *     (whole-stage codegen, vectorized writers) — except small
  *     driver-local appends, which the same parquet encoder writes on the
  *     driver ([[graft.io.DriverParquet]]);
  *   - rows are clustered to their partition with ONE hash shuffle on the
  *     derived partition columns, so each partition value is produced by a
  *     single task -> no small-file explosion (docs/09:129-137). With AQE on,
  *     skewed partitions are split at runtime;
  *   - optional range-clustering (ALTER ... CLUSTER BY, docs/09:156-168)
  *     replaces the hash shuffle with repartitionByRange + sortWithinPartitions
  *     to tighten min/max bounds for data skipping;
  *   - file sizes are bounded with maxRecordsPerFile derived from the
  *     table's TARGET_FILE_SIZE property (docs/02:90-95) and an estimated
  *     row width;
  *   - per-file stats come from parquet footers (driver, KB-sized reads) —
  *     never from re-scanning the written data.
  */
object GraftWriter {

  private val PartPrefix = "_gp_"

  /** Write `df` under `<root>/data/<uuid>/` partitioned per `spec`; returns
    * manifest entries for the new files. A driver-resident `df` within
    * [[graft.io.DriverParquet]]'s caps is written on the driver, skipping
    * the per-append Spark job; anything else, and every clustered write,
    * runs the Spark write job. Both call Spark's parquet writer.
    */
  def write(
      spark: SparkSession,
      df: DataFrame,
      meta: TableMetadata,
      schemaId: Int,
      specId: Int,
      cluster: Boolean = true): Seq[DataFile] = {
    val schema = meta.schemas(schemaId)
    val spec = meta.specs(specId)
    val idToField = GraftSchema.idToField(schema)
    val root = meta.location
    val writeDir = Paths.get(root, "data", java.util.UUID.randomUUID().toString).toString

    // Session-timezone guard: every formatting transform on a TimestampType
    // (instant) column — Year/Month/Day/Hour AND Identity, whose directory
    // name is date_format'd — derives the partition value through the
    // session zone, while plan-time pruning derives it in UTC; a non-UTC
    // session would silently mis-prune. TimestampNTZ sources are zone-free
    // and exempt; Bucket hashes raw micros (zone-free).
    val hasLtzTimeTransform = spec.fields.exists { pf =>
      val zoneSensitive = pf.transform match {
        case _: Transform.Bucket => false
        case _ => true
      }
      zoneSensitive && idToField(pf.sourceId).dataType.isInstanceOf[TimestampType]
    }
    if (hasLtzTimeTransform) {
      val tz = spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
      val zeroOffset = try {
        val rules = java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).getRules
        rules.isFixedOffset && rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
      } catch { case _: Exception => false }
      require(zeroOffset,
        s"time/identity-transform partitioning on a TIMESTAMP (instant) column requires " +
          s"a UTC session (spark.sql.session.timeZone=$tz); use TIMESTAMP_NTZ or set UTC")
    }

    // align to the table schema (order + types); timestamps written as micros
    // so footer stats decode deterministically (restore the session value after)
    val prevOutputTs = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val aligned = df.select(schema.fields.map(f => Cols.q(f.name).cast(f.dataType).as(f.name)): _*)

    val partCols = spec.fields.map { pf =>
      val src = idToField(pf.sourceId)
      pf.transform.toColumn(col(src.name), src.dataType).as(PartPrefix + pf.name)
    }
    val partNames = spec.fields.map(pf => PartPrefix + pf.name)

    val clusterBy = meta.property(TableProperties.ClusterBy, "").split(',')
      .map(_.trim).filter(_.nonEmpty).toSeq
    val strategy = meta.property(TableProperties.ClusterStrategy, "linear")

    val withParts = aligned.select(col("*") +: partCols: _*)
    val arranged =
      if (clusterBy.nonEmpty && strategy == "zorder") {
        // Multi-dimensional clustering: files cover compact z-curve cells, so
        // min/max stats are tight on EVERY cluster dimension — a linear sort
        // only prunes prefixes of the sort key (docs/09:156-168 generalized).
        val z = zOrderColumn(aligned, schema, clusterBy)
        withParts.withColumn(ZCol, z)
          .repartitionByRange((partNames :+ ZCol).map(col): _*)
          .sortWithinPartitions((partNames :+ ZCol).map(col): _*)
          .drop(ZCol)
      }
      else if (clusterBy.nonEmpty)
        withParts.repartitionByRange((partNames.map(col) ++ clusterBy.map(col)): _*)
          .sortWithinPartitions((partNames ++ clusterBy).map(col): _*)
      else if (spec.isPartitioned && cluster)
        // REBALANCE, not repartition: a hard hash shuffle pins each partition
        // value to ONE reducer, so a hot partition (one day of a large
        // stream) serializes through a single task. AQE's rebalance both
        // splits reducer partitions above the advisory size (several tasks
        // may write the same hot partition value) and coalesces small ones
        // (no small-file explosion for cold values).
        withParts.hint("rebalance", partNames.map(col): _*)
      else withParts

    try {
      // everything downstream of either write (collectDataFiles, stats,
      // blooms) is the common path
      val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
      val driverWritten = clusterBy.isEmpty && graft.io.DriverParquet.tryWrite(
        spark, withParts, schema.fields.length, writeDir, maxRecordsPerFile(meta), advisory)
      if (!driverWritten) {
        var writer = arranged.write.mode("append")
        maxRecordsPerFile(meta).foreach(n => writer = writer.option("maxRecordsPerFile", n))
        if (spec.isPartitioned) writer = writer.partitionBy(partNames: _*)
        writer.parquet(writeDir)
      }
    } finally {
      // don't leak the writer's timestamp encoding into the caller's session
      prevOutputTs match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
    }

    collectDataFiles(spark, writeDir, meta, schemaId, specId)
  }

  private val ZCol = "_gz_zvalue"

  /** The z-order (Morton) value of the cluster columns: each key is
    * normalized to a 16-bit bucket by min/max (one column-pruned pass over
    * the batch for the bounds — negligible next to the write itself), and
    * the buckets' bits are interleaved. Everything is codegen'd built-ins
    * (floor / shift / bitwise), so the sort key costs a few dozen integer
    * ops per row. Strings take their first two UTF-8 bytes as the code
    * (prefix order = lexicographic locality); NULLs land in bucket 0.
    */
  private[table] def zOrderColumn(df: DataFrame, schema: StructType,
                                  clusterBy: Seq[String]): org.apache.spark.sql.Column = {
    require(clusterBy.size >= 2 && clusterBy.size <= 4,
      s"zorder clustering takes 2-4 columns, got ${clusterBy.size} (use linear for 1)")
    val fields = clusterBy.map(c => schema.fields.find(_.name == c)
      .getOrElse(sys.error(s"zorder cluster column $c not in table schema")))
    def codeOf(f: StructField): org.apache.spark.sql.Column = f.dataType match {
      case StringType =>
        conv(substring(concat(hex(encode(Cols.q(f.name), "UTF-8")), lit("0000")), 1, 4), 16, 10)
          .cast("double")
      case DateType => unix_date(Cols.q(f.name)).cast("double")
      case _: NumericType | _: TimestampType | _: TimestampNTZType =>
        Cols.q(f.name).cast("double")
      case other => sys.error(s"zorder does not support ${f.name}: $other")
    }
    val codes = fields.map(codeOf)
    val aggs = codes.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(c).as(s"lo$i"), max(c).as(s"hi$i")) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val buckets = codes.zipWithIndex.map { case (c, i) =>
      (Option(row.get(2 * i)), Option(row.get(2 * i + 1))) match {
        case (Some(l: Double), Some(h: Double)) if h > l =>
          val scale = 65535.0 / (h - l)
          least(lit(65535L), greatest(lit(0L),
            floor((coalesce(c, lit(l)) - lit(l)) * lit(scale)).cast("long")))
        case _ => lit(0L) // constant, all-null, or empty batch: one bucket
      }
    }
    val k = buckets.size
    val terms = for {
      (b, j) <- buckets.zipWithIndex
      i <- 0 until 16
    } yield shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** TARGET_FILE_SIZE -> maxRecordsPerFile using an estimated row width.
    * The estimate is a table property (set by compaction after observing real
    * files) falling back to a conservative 256 B/row.
    */
  private def maxRecordsPerFile(meta: TableMetadata): Option[Long] = {
    meta.properties.get(TableProperties.TargetFileSize).map { s =>
      val target = s.toLong
      val rowBytes = meta.property("write.estimated-row-size-bytes", "256").toLong
      math.max(1000L, target / math.max(1L, rowBytes))
    }
  }

  /** Enumerate freshly written files, parse their partition tuples from the
    * directory layout, and read footer stats.
    */
  def collectDataFiles(
      spark: SparkSession,
      writeDir: String,
      meta: TableMetadata,
      schemaId: Int,
      specId: Int): Seq[DataFile] = {
    val schema = meta.schemas(schemaId)
    val spec = meta.specs(specId)
    val idToField = GraftSchema.idToField(schema)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = GraftUtil.listFilesRecursively(Paths.get(writeDir), ".parquet")

    // Footer stats are KB-sized reads but latency-bound: collect them in
    // parallel on the driver (a partitioned append can produce hundreds of
    // files; serial reads would serialize the commit path).
    import scala.collection.parallel.CollectionConverters._
    files.par.map { p =>
      val rel = GraftUtil.relativize(meta.location, p.toString)
      // partition tuple from dir segments "_gp_<name>=<value>"
      val segs = Paths.get(writeDir).relativize(p).iterator()
      val kvs = scala.collection.mutable.Map[String, String]()
      segs.forEachRemaining { seg =>
        val s = seg.toString
        val i = s.indexOf('=')
        // unescape the KEY too: Spark Hive-escapes both sides of k=v, so a
        // partition column named "a b" appears as _gp_a%20b=... in the path
        if (i > 0 && s.startsWith(PartPrefix))
          kvs(GraftUtil.unescapePathName(s.substring(PartPrefix.length, i))) = s.substring(i + 1)
      }
      val partition: Map[String, Option[String]] = spec.fields.map { pf =>
        val raw = kvs.get(pf.name)
        val v: Option[String] = raw match {
          case None => None
          case Some("__HIVE_DEFAULT_PARTITION__") => None
          case Some(enc) =>
            val srcDt = idToField(pf.sourceId).dataType
            val parsed = pf.transform.parse(srcDt, GraftUtil.unescapePathName(enc))
            Some(Canonical.toJsonString(pf.transform.resultType(srcDt), parsed))
        }
        pf.name -> v
      }.toMap
      val (rows, size, stats) = ParquetStats.read(p.toString, schema, conf)
      DataFile(rel, "data", partition, rows, size, schemaId, specId, stats)
    }.seq.pipe(fs => attachBlooms(spark, fs, meta, schema))
  }

  /** Bytes written up to which an append's blooms are built on the driver. */
  private val BloomDriverMaxBytes = 64L * 1024 * 1024

  /** Equality-skipping bloom filters for the columns in `write.bloom-columns`
    * (see [[graft.io.Bloom]]). Small writes — at most `driverMaxBytes` of
    * files — build them on the driver ([[driverBlooms]]): the per-append
    * bloom pass was a whole extra Spark job whose fixed cost dwarfs the KBs
    * it reads on a micro-batch append (opt guide §1.2), and a streaming
    * state commit paid it per batch. Larger writes run ONE Spark job over
    * the just-written files, reading ONLY the bloom columns (column-pruned
    * scan) and reducing to per-file distinct bit positions — a
    * map-side-combined set bounded by [[graft.io.Bloom.MaxBits]], never the
    * values themselves. Both sides hash through the same catalyst
    * expressions and size through the same [[graft.io.Bloom.Bitmap]], so
    * their bitmaps are bit-identical (BloomDriverParitySpec pins it per type
    * and per size). Opt-in by property, so tables that don't point-look-up
    * pay nothing.
    */
  private[table] def attachBlooms(spark: SparkSession, files: Seq[DataFile],
                                  meta: TableMetadata, schema: StructType,
                                  driverMaxBytes: Long = BloomDriverMaxBytes): Seq[DataFile] = {
    // Instant timestamps hash through the SESSION zone on executors but UTC
    // on the driver probe side (Bloom.hashPair), so blooming them in a
    // non-UTC session would prune unsoundly — fall back to stats-only there.
    val sessionUtc = spark.conf.get("spark.sql.session.timeZone", "") == "UTC"
    val cols = meta.property(TableProperties.BloomColumns, "").split(',')
      .map(_.trim).filter(_.nonEmpty).toSeq
      .flatMap(n => schema.fields.find(_.name == n))
      .filter(_.dataType match {
        case _: StructType | _: ArrayType | _: MapType => false
        case TimestampType => sessionUtc
        case _ => true
      })
    if (cols.isEmpty || files.isEmpty) return files

    if (files.map(_.fileSizeBytes).sum <= driverMaxBytes) {
      val read = graft.sources.GraftSpj.readFunc(spark, schema, StructType(cols),
        Nil, columnar = false)
      import scala.collection.parallel.CollectionConverters._
      return files.par.map { df =>
        val blooms = driverBlooms(read, GraftUtil.resolve(meta.location, df.path),
          df.fileSizeBytes, cols)
        val merged = blooms.foldLeft(df.stats) { case (st, (id, b)) =>
          st.updated(id, st.getOrElse(id, ColStats(None, None, None)).copy(bloom = Some(b)))
        }
        df.copy(stats = merged)
      }.seq
    }

    val paths = files.map(f => GraftUtil.resolve(meta.location, f.path))
    val aggs = cols.flatMap { f =>
      val (p1, p2) = graft.io.Bloom.positionColumns(Cols.q(f.name))
      Seq(collect_set(p1).as(s"_b1_${f.name}"), collect_set(p2).as(s"_b2_${f.name}"))
    }
    val rows = spark.read.schema(schema).parquet(paths: _*)
      .groupBy(col("_metadata.file_path").as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()

    val byPath: Map[String, Map[Int, String]] = rows.map { r =>
      val blooms = cols.zipWithIndex.map { case (f, i) =>
        val ps = r.getSeq[Int](1 + 2 * i) ++ r.getSeq[Int](2 + 2 * i)
        GraftSchema.fieldId(f) -> graft.io.Bloom.encode(ps)
      }.toMap
      GraftUtil.normFileLoc(r.getString(0)) -> blooms
    }.toMap

    files.map { df =>
      byPath.get(GraftUtil.normFileLoc(GraftUtil.resolve(meta.location, df.path))) match {
        case None => df
        case Some(blooms) =>
          val merged = blooms.foldLeft(df.stats) { case (st, (id, b)) =>
            st.updated(id, st.getOrElse(id, ColStats(None, None, None)).copy(bloom = Some(b)))
          }
          df.copy(stats = merged)
      }
    }
  }

  /** One file's bloom bitmaps, built on the driver: `read` yields the
    * bloom columns of each row (Spark's parquet read function, column-pruned),
    * and each non-null value is hashed by [[graft.io.Bloom.hashOf]] bound to
    * its ordinal — the Cast+XxHash64 evaluation shared with the executor
    * pass and the probe side, so driver- and job-built bitmaps cannot
    * diverge.
    */
  private def driverBlooms(read: PartitionedFile => Iterator[InternalRow], path: String,
                           size: Long, cols: Seq[StructField]): Map[Int, String] = {
    val hashes = cols.zipWithIndex.map { case (f, i) =>
      graft.io.Bloom.hashOf(BoundReference(i, f.dataType, nullable = true))
    }
    val blooms = cols.map(_ => new graft.io.Bloom.Bitmap)
    read(graft.sources.GraftSpj.slice(path, 0L, size, size)).foreach { row =>
      var i = 0
      while (i < cols.length) {
        if (!row.isNullAt(i)) {
          val (p1, p2) = graft.io.Bloom.positions(
            graft.io.Bloom.pairOf(hashes(i).eval(row).asInstanceOf[Long]))
          blooms(i).add(p1)
          blooms(i).add(p2)
        }
        i += 1
      }
    }
    cols.zip(blooms).map { case (f, b) => GraftSchema.fieldId(f) -> b.result() }.toMap
  }
}
