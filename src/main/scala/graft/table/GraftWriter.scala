package graft.table

import graft.format._
import graft.io.ParquetStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Paths
import scala.util.chaining._

/** Data-plane writer: turns a DataFrame into immutable parquet data files +
  * their manifest entries (reference: docs/08-acid-transactions.md:25 step 1).
  *
  * Scale design:
  *   - data files are written by executors via the normal parquet sink
  *     (whole-stage codegen, vectorized writers);
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
    * manifest entries for the new files.
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
      // Driver-side write for SMALL DRIVER-LOCAL appends (opt guide
      // §1.2/§5, the driver-bloom fold's twin): a per-micro-batch append
      // of a pinned batch frame pays a whole Spark write job — source
      // task, exchange, parquet task init, commit-protocol renames — for
      // KBs of data, several times per batch across the crawl loops. When
      // the plan is provably driver-resident (all leaves LocalRelation)
      // and types/partition values are in [[graft.io.DriverParquet]]'s
      // exactly-mirrorable set, the rows are written to parquet on the
      // driver through the same parquet-mr machinery the executor path
      // uses (same physical/logical types, layout and footer stats —
      // DriverWriteParitySpec pins it); everything downstream
      // (collectDataFiles, stats, blooms) is the unchanged common path.
      // Bytes/rows cutovers are data-derived confs; production appends
      // keep the distributed write.
      val driverMaxBytes = spark.conf
        .getOption("graft.write.driver-max-bytes").map(_.toLong)
        .getOrElse(8L * 1024 * 1024)
      val driverMaxRows = spark.conf.getOption("graft.write.driver-max-rows")
        .map(_.toLong).getOrElse(100000L)
      val driverWritten =
        driverMaxBytes > 0 && clusterBy.isEmpty &&
        graft.io.DriverParquet.eligibleTypes(schema) &&
        spec.fields.forall(pf => graft.io.DriverParquet.safeName(pf.name)) &&
        graft.io.DriverParquet.isLocalPlan(withParts.queryExecution.optimizedPlan) && {
          // a bounded probe, never a full collect: a local plan may still
          // expand (a join or generator over local leaves) far past the
          // caps, and one row over the row cap already means the job path
          val rows = withParts.limit((driverMaxRows + 1).min(Int.MaxValue).toInt).collect()
          val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
          graft.io.DriverParquet.tryWrite(rows, schema, partNames, writeDir,
            maxRecordsPerFile(meta), advisory, driverMaxBytes, driverMaxRows,
            spark.sparkContext.hadoopConfiguration)
        }
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

  /** Equality-skipping bloom filters for the columns in `write.bloom-columns`
    * (see [[graft.io.Bloom]]): ONE extra Spark job over the just-written
    * files, reading ONLY the bloom columns (column-pruned scan) and reducing
    * to per-file distinct bit positions — a map-side-combined set bounded by
    * the bitmap size, never the values themselves. Opt-in by property, so
    * tables that don't point-look-up pay nothing.
    */
  private def attachBlooms(spark: SparkSession, files: Seq[DataFile],
                           meta: TableMetadata, schema: StructType): Seq[DataFile] = {
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
    val bits = meta.property(TableProperties.BloomBits, graft.io.Bloom.DefaultBits.toString).toInt
    require(bits >= 64 && bits % 8 == 0, s"${TableProperties.BloomBits}=$bits (need >=64, /8)")

    // Small writes build their blooms ON THE DRIVER (opt guide §1.2: the
    // per-append bloom pass was a whole extra Spark job whose fixed cost —
    // plan + schedule + stage — dwarfs the KBs it reads on a micro-batch
    // append; a streaming state commit paid it per batch). The driver path
    // reads back just the bloom columns via parquet-hadoop and hashes each
    // value through [[graft.io.Bloom.hashPair]] — the SAME Cast+XxHash64
    // catalyst evaluation [[graft.io.Bloom.positionColumns]] codegens on
    // executors, so the bitmaps are bit-identical by construction
    // (BloomDriverParitySpec pins it per type). Scale-adaptive, not
    // core-count-tuned: the cutover is on BYTES WRITTEN (default 64 MB,
    // `graft.write.bloom-driver-max-bytes`), so production-sized appends
    // keep the distributed column-pruned pass. Types outside the exact
    // driver read set (timestamps, decimals, booleans) also fall back.
    val driverMaxBytes = spark.conf
      .getOption("graft.write.bloom-driver-max-bytes").map(_.toLong)
      .getOrElse(64L * 1024 * 1024)
    val driverReadable = cols.forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType => true
      case _ => false
    })
    if (driverReadable && files.map(_.fileSizeBytes).sum <= driverMaxBytes) {
      val conf = spark.sparkContext.hadoopConfiguration
      import scala.collection.parallel.CollectionConverters._
      return files.par.map { df =>
        val p = GraftUtil.resolve(meta.location, df.path)
        val blooms = driverBlooms(p, cols, bits, conf)
        val merged = blooms.foldLeft(df.stats) { case (st, (id, b)) =>
          st.updated(id, st.getOrElse(id, ColStats(None, None, None)).copy(bloom = Some(b)))
        }
        df.copy(stats = merged)
      }.seq
    }

    val paths = files.map(f => GraftUtil.resolve(meta.location, f.path))
    val aggs = cols.flatMap { f =>
      val (p1, p2) = graft.io.Bloom.positionColumns(Cols.q(f.name), bits)
      Seq(collect_set(p1).as(s"_b1_${f.name}"), collect_set(p2).as(s"_b2_${f.name}"))
    }
    val rows = spark.read.schema(schema).parquet(paths: _*)
      .groupBy(col("_metadata.file_path").as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()

    val byPath: Map[String, Map[Int, String]] = rows.map { r =>
      val blooms = cols.zipWithIndex.map { case (f, i) =>
        val ps = r.getSeq[Int](1 + 2 * i) ++ r.getSeq[Int](2 + 2 * i)
        GraftSchema.fieldId(f) -> graft.io.Bloom.encode(ps, bits)
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

  /** One file's bloom bitmaps, built on the driver: a column-pruned
    * parquet-hadoop read of exactly the bloom columns, each non-null
    * value hashed through [[graft.io.Bloom.hashPair]] — the catalyst
    * Cast+XxHash64 evaluation shared with the executor write path and
    * the probe side, so driver- and job-built bitmaps cannot diverge.
    * Callers restrict to the exactly-representable driver read set
    * (integrals, float/double, string).
    */
  private def driverBlooms(path: String, cols: Seq[StructField], bits: Int,
      conf: org.apache.hadoop.conf.Configuration): Map[Int, String] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.hadoop.api.ReadSupport
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.hadoop.fs.{Path => HPath}
    val hp = new HPath(path)
    // projection: just the bloom columns, from the file's own schema
    val footerReader = ParquetFileReader.open(HadoopInputFile.fromPath(hp, conf))
    val fileSchema = try footerReader.getFooter.getFileMetaData.getSchema
      finally footerReader.close()
    val wanted = cols.map(_.name).filter(fileSchema.containsField)
    val projection = new org.apache.parquet.schema.MessageType("graft_bloom",
      wanted.map(n => fileSchema.getType(Seq(n): _*)): _*)
    val readConf = new org.apache.hadoop.conf.Configuration(conf)
    readConf.set(ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
    val positions: Map[String, scala.collection.mutable.BitSet] =
      wanted.map(_ -> scala.collection.mutable.BitSet.empty).toMap
    val byName = cols.map(f => f.name -> f).toMap
    // ONE Cast→XxHash64 evaluator per column for the whole file (r18
    // ADVICE): hashPair rebuilt the expression tree per VALUE, which
    // dominates near the bytes cutover; parity with the executor path is
    // pinned by BloomDriverParitySpec
    val evaluator: Map[String, Any => Option[(Long, Long)]] =
      wanted.map(n => n -> graft.io.Bloom.hashPairEvaluator(byName(n).dataType)).toMap
    val reader = ParquetReader
      .builder(new GroupReadSupport(), hp).withConf(readConf).build()
    try {
      var g = reader.read()
      while (g != null) {
        wanted.foreach { n =>
          if (g.getFieldRepetitionCount(n) > 0) {
            val raw: Any = byName(n).dataType match {
              case LongType => g.getLong(n, 0)
              case IntegerType => g.getInteger(n, 0)
              case ShortType => g.getInteger(n, 0)
              case ByteType => g.getInteger(n, 0)
              case FloatType => g.getFloat(n, 0)
              case DoubleType => g.getDouble(n, 0)
              case _ => g.getString(n, 0)
            }
            evaluator(n)(raw).foreach {
              case (h1, h2) =>
                positions(n) += (h1 % bits).toInt
                positions(n) += ((h1 + h2) % bits).toInt
            }
          }
        }
        g = reader.read()
      }
    } finally reader.close()
    wanted.map { n =>
      GraftSchema.fieldId(byName(n)) -> graft.io.Bloom.encode(positions(n), bits)
    }.toMap
  }
}
