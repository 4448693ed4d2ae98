package tablebench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.catalog.GraftCatalog
import graft.format.{GraftUtil, Predicate}
import graft.table.QueryHistory
import org.apache.spark.BenchBus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One closed-loop client: executes the plan `run.py` generated, one SQL
  * statement after another through the Graft catalog, and writes what each
  * statement took and returned to `result.json` in the work directory.
  *
  * Usage: Main --work DIR --seconds S --trace 0|1 --cpus N
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = opt("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("tablebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.catalog.g", "graft.sources.GraftTableCatalog")
      .config("spark.sql.catalog.g.warehouse", work.resolve("wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    try {
      val plan = awaitPlan(work.resolve("plan.json"))
      val result = new Runner(spark, plan, work, opt("seconds").toDouble, opt("trace") == "1").run() ++
        Map("jvm_start_ms" -> jvmStart, "session_ms" -> sessionMs)
      val tmp = work.resolve("result.json.tmp")
      Files.write(tmp, Json.write(result).getBytes("UTF-8"))
      Files.move(tmp, work.resolve("result.json"))
    } finally spark.stop()
  }

  /** The plan is written while the session starts; run.py renames it into
    * place when it is complete.
    */
  private def awaitPlan(p: Path): JsonNode = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(p)) {
      require(System.nanoTime() < deadline, s"no plan at $p")
      Thread.sleep(10)
    }
    new ObjectMapper().readTree(p.toFile)
  }
}

final class Runner(spark: SparkSession, plan: JsonNode, work: Path, seconds: Double, trace: Boolean) {
  private val TraceRounds = 3
  private val readKinds = Set("fresh", "rollup", "point", "range", "full", "travel")
  private val dmlKinds = Set("insert", "merge", "delete")
  private val maintainKinds = Set("compact", "expire", "rewrite_manifests")

  private val table = plan.get("table").asText
  private val catalog = new GraftCatalog(work.resolve("wh").toString)
  private val tracer = new Tracer(trace)
  private val counters = if (trace) {
    val c = new Counters; spark.sparkContext.addSparkListener(c); Some(c)
  } else None
  /** snapshot id after the k-th DML statement of the loop; -1 = after the load */
  private val snapAfter = mutable.Map.empty[Int, Long]
  private var dmlCount = 0
  private var nextOp = 0

  /** Placeholders for what only the run knows: the time, and the snapshot
    * after the k-th DML statement.
    */
  private def substitute(sql: String): String =
    raw"\{snap:(-?\d+)\}".r.replaceAllIn(
      sql.replace("{now_ms}", (System.currentTimeMillis() + 1).toString),
      m => snapAfter(m.group(1).toInt).toString)

  private def castedView(parquet: String, cols: String) = {
    val schema = StructType.fromDDL(cols)
    spark.read.parquet(work.resolve(parquet).toString)
      .selectExpr(schema.fields.map(f => s"CAST(`${f.name}` AS ${f.dataType.sql}) AS `${f.name}`").toSeq: _*)
  }

  /** Batch rows, collected once; each batch becomes a driver-local relation
    * (as a client's in-memory rows would be) just before the statement that
    * uses it, outside the statement's time.
    */
  private lazy val batchRows: Map[Long, Seq[Row]] = {
    val spec = plan.get("batches")
    val cols = spec.get("cols").asText
    castedView(spec.get("parquet").asText, "batch BIGINT, " + cols).collect().toSeq
      .groupBy(_.getLong(0)).map { case (b, rows) => b -> rows.map(r => Row.fromSeq(r.toSeq.tail)) }
  }

  private def registerBatch(st: JsonNode): Unit = if (st.has("batch")) {
    val b = st.get("batch").asLong
    spark.createDataFrame(batchRows(b).asJava, StructType.fromDDL(plan.get("batches").get("cols").asText))
      .createOrReplaceTempView(s"batch_$b")
  }

  /** Answers as JSON values; dates as ISO strings, as DuckDB's compare. */
  private def rowsOf(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: java.sql.Date => d.toLocalDate.toString
    case other => other
  })

  private def predicate(p: JsonNode): Predicate = {
    val col = p.get(1).asText
    val v: Any = if (p.get(2).isNumber) p.get(2).asLong else p.get(2).asText
    p.get(0).asText match {
      case "eq" => Predicate.Eq(col, v)
      case "lt" => Predicate.Lt(col, v)
      case "lte" => Predicate.LtEq(col, v)
      case "gte" => Predicate.GtEq(col, v)
    }
  }

  private def scanRoutes(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => scanRoutes(a.executedPlan)
    case q: QueryStageExec => scanRoutes(q.plan)
    case _: FileSourceScanExec => Seq("native")
    case b: BatchScanExec =>
      val n = b.scan.getClass.getSimpleName.toLowerCase
      Seq(if (n.contains("dpp")) "dpp" else if (n.contains("spj")) "spj" else "v2")
    case _: RowDataSourceScanExec => Seq("v1")
    case _: LocalTableScanExec => Seq("local")
    case leaf if leaf.children.isEmpty => Seq("other")
    case other => other.children.flatMap(scanRoutes)
  }

  private def location: Path = Paths.get(catalog.loadMetadata(table)._2.location)

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  private def liveFiles(): Seq[(String, Long)] = {
    val (_, m) = catalog.loadMetadata(table)
    catalog.loadTable(table).liveFiles(m, m.currentSnapshot)
      .map(f => GraftUtil.resolve(m.location, f.path) -> f.fileSizeBytes)
  }

  private def totalRecords(): Long =
    catalog.loadMetadata(table)._2.currentSnapshot.map(_.summary("total-records").toLong).getOrElse(0L)

  /** Run one timed statement and return its record. */
  private def exec(st: JsonNode, round: Int): Map[String, Any] = {
    registerBatch(st)
    val kind = st.get("kind").asText
    val id = nextOp; nextOp += 1
    val sql = substitute(st.get("sql").asText)
    val isRead = readKinds(kind)
    val isDml = dmlKinds(kind)
    val vBefore = if (isDml) catalog.currentVersion(table) else -1
    val rewrites = isDml || maintainKinds(kind)
    val filesBefore = if (trace && rewrites) liveFiles() else Nil
    val recordsBefore = if (isDml) totalRecords() else 0L
    counters.foreach(_ => BenchBus.drain(spark.sparkContext))
    val c0 = counters.map(_.read)
    val qh0 = if (trace) QueryHistory.all.size else 0
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> id, "round" -> round, "kind" -> kind, "slot" -> st.get("slot").asText(null))
    var rows: Array[Row] = Array.empty
    var executed: Option[SparkPlan] = None
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = 0L
    tracer.span(s"op.$kind", -1, id) { opSpan =>
      try {
        if (isRead) {
          val df = tracer.span("sources.plan", opSpan, id) { _ =>
            val d = spark.sql(sql); d.queryExecution.executedPlan; d
          }
          rows = tracer.span("sources.exec", opSpan, id)(_ => df.collect())
          executed = Some(df.queryExecution.executedPlan)
        } else rows = tracer.span("sources.exec", opSpan, id)(_ => spark.sql(sql).collect())
        t1 = System.nanoTime()
        rec("ok") = true
      } catch {
        case e: Exception =>
          t1 = System.nanoTime()
          rec("ok") = false
          rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
      }
      if (trace) {
        // the statement's own scans, before the twins below add theirs
        val scans = QueryHistory.all.drop(qh0)
        rec("scan") = Map(
          "scans" -> scans.size,
          "files_scanned" -> scans.map(_.filesScanned).sum,
          "files_total" -> scans.map(_.filesTotal).sum,
          "bytes_scanned" -> scans.map(_.bytesScanned).sum,
          "manifests_scanned" -> scans.map(_.manifestsScanned).sum)
        // public-API twins of what the statement did inside the engine
        tracer.span("catalog.load", opSpan, id)(_ => catalog.loadMetadata(table))
        if (isRead) {
          val preds = Option(st.get("preds")).map(_.elements().asScala.map(predicate).toSeq).getOrElse(Nil)
          val snap = raw"VERSION AS OF (\d+)".r.findFirstMatchIn(sql).map(_.group(1).toLong)
          val t = catalog.loadTable(table)
          val kept = tracer.span("scan.plan", opSpan, id) { _ =>
            snap.map(s => t.atSnapshot(s, preds: _*)).getOrElse(t.scan(preds: _*)).dataFiles.size
          }
          rec("twin_files_kept") = kept
        }
      }
    }
    rec("start_ms") = startMs
    rec("dur_s") = (t1 - t0) / 1e9
    if (isRead || maintainKinds(kind)) rec("rows") = rowsOf(rows)
    if (isDml) {
      val (v, m) = catalog.loadMetadata(table)
      rec("version_before") = vBefore
      rec("version_after") = v
      rec("records_before") = recordsBefore
      rec("records_after") = totalRecords()
      m.currentSnapshotId.foreach(snapAfter(dmlCount) = _)
      dmlCount += 1
    }
    if (kind == "load")
      catalog.loadMetadata(table)._2.currentSnapshotId.foreach(snapAfter(-1) = _)
    if (trace) {
      BenchBus.drain(spark.sparkContext)
      val c1 = counters.get.read
      rec("spark") = c1.map { case (k, v) => k -> (v - c0.get(k)) }
      rec("routes") = executed.map(scanRoutes).getOrElse(Nil)
      if (rewrites) {
        val after = liveFiles()
        val (b, a) = (filesBefore.toMap, after.toMap)
        val added = a.keySet -- b.keySet
        val removed = b.keySet -- a.keySet
        rec("files") = Map(
          "added" -> added.size, "bytes_added" -> added.toSeq.map(a).sum,
          "removed" -> removed.size, "bytes_removed" -> removed.toSeq.map(b).sum)
        val (v, m) = catalog.loadMetadata(table)
        rec("metadata_json_bytes") =
          Files.size(Paths.get(m.location, "metadata", s"v$v.metadata.json"))
      }
    }
    rec.toMap
  }

  /** Untimed answers the oracle checks: final contents, live files, counts. */
  private def state(tag: String): Map[String, Any] = {
    val fin = plan.get("final")
    val out = mutable.LinkedHashMap[String, Any]()
    if (fin.has("dump")) {
      val dir = work.resolve(s"final_$tag")
      spark.sql(fin.get("sql").asText).write.parquet(dir.toString)
      out("dump") = dir.toString
    } else out("rows") = rowsOf(spark.sql(fin.get("sql").asText).collect())
    val (v, m) = catalog.loadMetadata(table)
    out("version") = v
    out("total_records") = m.currentSnapshot.map(_.summary("total-records").toLong).orNull
    val files = spark.sql(s"SELECT file_path FROM g.$table.files WHERE content = 'data'")
      .collect().map(r => GraftUtil.resolve(m.location, r.getString(0))).toSeq
    // maintenance deletes the files it replaces; hard links keep their bytes
    // readable for the oracle after the run
    val keep = Files.createDirectories(work.resolve(s"files_$tag"))
    out("files") = files
    out("links") = files.zipWithIndex.map { case (f, i) =>
      Files.createLink(keep.resolve(s"$i.parquet"), Paths.get(f)).toString
    }
    out.toMap
  }

  def run(): Map[String, Any] = {
    val inputsMs = System.currentTimeMillis()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    plan.get("views").elements().asScala.foreach { v =>
      castedView(v.get("parquet").asText, v.get("cols").asText).createOrReplaceTempView(v.get("name").asText)
    }
    if (!plan.get("batches").isNull) batchRows
    plan.get("ddl").elements().asScala.foreach(d => spark.sql(d.asText))

    val loadMs = System.currentTimeMillis()
    val records = mutable.ArrayBuffer(exec(plan.get("load"), -1))
    // warm rounds run on the real table and are checked, but not measured
    val warm = plan.get("warm_rounds").asInt
    val rounds = plan.get("rounds")
    val warmStartMs = System.currentTimeMillis()
    var r = 0
    while (r < warm) { rounds.get(r).elements().asScala.foreach(st => records += exec(st, r)); r += 1 }
    QueryHistory.clear()
    val measureMs = System.currentTimeMillis()
    val loopStart = System.nanoTime()
    val minRounds = warm + (if (trace) TraceRounds else 1)
    var layerState: Map[String, Any] = Map.empty
    // a round starts only if, at the last round's pace, it ends within the time
    var lastRound = 0.0
    def fits = (System.nanoTime() - loopStart) / 1e9 + lastRound <= seconds
    while (r < rounds.size && (r < minRounds || fits)) {
      val t0 = System.nanoTime()
      rounds.get(r).elements().asScala.foreach(st => records += exec(st, r))
      lastRound = (System.nanoTime() - t0) / 1e9
      r += 1
      if (trace && r == warm + TraceRounds) {
        val (v, m) = catalog.loadMetadata(table)
        layerState = Map(
          "metadata_json_bytes" -> Files.size(Paths.get(m.location, "metadata", s"v$v.metadata.json")),
          "metadata_bytes" -> bytesUnder(Paths.get(m.location, "metadata")),
          "manifests_live" -> spark.sql(s"SELECT count(*) FROM g.$table.manifests").head().getLong(0))
      }
    }
    val loopSeconds = (System.nanoTime() - loopStart) / 1e9

    val pre = state("pre")
    val pruning = rounds.elements().asScala.take(r).flatMap(_.elements().asScala)
      .filter(_.get("kind").asText == "point").map(_.get("key").asLong).toSeq.distinct.map { k =>
        val t = catalog.loadTable(table)
        val m = t.meta
        k.toString -> t.scan(Predicate.Eq("l_orderkey", k)).dataFiles.map(f => GraftUtil.resolve(m.location, f.path))
      }.toMap
    plan.get("maintain").elements().asScala.foreach(st => records += exec(st, -2))
    val post = state("post")
    val endMs = System.currentTimeMillis()

    Map(
      "inputs_ms" -> inputsMs,
      "load_ms" -> loadMs,
      "warm_start_ms" -> warmStartMs,
      "measure_ms" -> measureMs,
      "end_ms" -> endMs,
      "rounds" -> r,
      "loop_s" -> loopSeconds,
      "statements" -> records,
      "pre" -> pre,
      "post" -> post,
      "pruning" -> pruning,
      "table_bytes" -> bytesUnder(location),
      "layer_state" -> layerState,
      "spans" -> tracer.spans.map(s => Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs)),
      "spark_version" -> spark.version,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory)
  }
}
