package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC") // match the Verify session
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first measured query doesn't absorb
    // session+classloading cost (ordering of the map is arbitrary). The
    // variant kernel is included: its first evaluation JIT-compiles a large
    // codepath (measured ~1s of one-time cost landing on whichever variant
    // query runs first).
    spark.range(0, 1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Variant kernel: first evaluation JIT-compiles ~3s of one-time codepath
    // (measured via tools.VariantProbe: cold 2.96s vs warm 0.36s at sf0.1) —
    // large enough sample that C2, not just C1, compiles the hot loop.
    spark.range(0, 200000)
      .selectExpr("variant_get(parse_json('{\"k\":' || id || '}'), '$.k', 'int') AS k")
      .selectExpr("sum(k % 10)").collect()
    // Interpreted-HOF/md5 kernels (minhash/simhash/winnowing family).
    spark.range(0, 20000)
      .selectExpr("transform(split('a b c d e f g h', ' '), t -> md5(concat(t, id))) AS h")
      .selectExpr("min(array_min(transform(h, x -> substring(x, 1, 8)))) AS m",
        "min(aggregate(h, 'g', (a, x) -> least(a, x))) AS f")
      .collect()
    // Graft write-path warmup: the first query to BUILD a table fixture used
    // to absorb the engine's one-time JIT/classloading (round-5's phantom
    // g_partition_pruned_scan "regression" was exactly this, landing on
    // whichever query ran first). One tiny end-to-end table takes it out of
    // every measured number.
    locally {
      val wh = graft.queries.TableOps.newTempDir("graft-bench-warm")
      val cat = new graft.catalog.GraftCatalog(wh)
      import org.apache.spark.sql.functions.{col, expr}
      val df = spark.range(0, 2000)
        .select(col("id"), expr("date_add(date'2024-01-01', cast(id % 7 as int))").as("d"))
      val t = cat.createTable("db.warm", df.schema,
        partitionBy = Seq("d" -> graft.format.Transform.Identity),
        properties = Map(graft.format.TableProperties.BloomColumns -> "id"))
      val s1 = t.append(spark, df, statementId = Some("warm-1"))
      t.delete(spark, Seq(graft.format.Predicate.Eq("id", 7L)))
      t.compact(spark)
      t.toDF(spark).count()
      // r14 (r13 verdict #5): the attempts:1-vs-attempts:2 incomparability
      // concentrated on the alphabetically-FIRST gates' cold paths — r13's
      // regression tail was exactly g_before_statement / g_bloom_skip /
      // g_changelog / g_drop_column, each paying its family's one-time
      // JIT on a first-pass capture that a retry pass measures warm. Warm
      // each path once on the toy table so first-pass and retry-pass
      // captures read the early gates comparably.
      t.scan(graft.format.Predicate.Eq("id", 42L)).toDF(spark).count() // bloom probe
      t.before("warm-1").toDF(spark).count() // statement-log + time travel
      graft.streaming.GraftStreamSource.changelog(spark, t, Some(s1.snapshotId)).count()
      t.addColumn("warm_extra", org.apache.spark.sql.types.LongType)
      t.dropColumn("warm_extra")
      t.toDF(spark).count() // evolved read resolution
      // MERGE path: g_incremental_mv is the alphabetically-first
      // MERGE-consuming gate and absorbed the whole path's one-time JIT on
      // attempts:1 captures (3.9s cold vs 3.0s on a warm retry pass, with
      // zero code change since the gate landed) — one toy merge takes the
      // full-outer-join/branch-routing machinery out of its number
      t.merge(spark,
        spark.range(0, 50).select(col("id"),
          expr("date_add(date'2024-01-01', cast(id % 7 as int))").as("d")),
        Seq("id" -> "id"),
        whenMatchedUpdate = Map("d" -> col("s.d")),
        whenNotMatchedInsert = Some(Map("id" -> col("s.id"), "d" -> col("s.d")))): Unit
    }
    // Real-fixture warmup: the 2000-row toy table above warms the engine's
    // code paths but not the EVENTS fixture the alphabetically-first g_*
    // gates build — parquet nanos-reader codegen for the real schema, the
    // events.parquet page cache, and the write path at real row counts.
    // Measured (r12): attempts:1 captures recorded the first ~12 sorted
    // gates 1.5-2.2x above an attempts:2 capture (whose measured pass runs
    // in the fully-warm JVM) with ZERO code change — and r10/r11 baselines
    // were attempts:2 captures, so first-pass rounds compared against them
    // read as phantom regressions. One untimed real-fixture build + scan
    // makes first-pass and retry-pass captures comparable.
    locally {
      val df = graft.queries.Tables.events(spark, sfDir)
      val cat = new graft.catalog.GraftCatalog(
        graft.queries.TableOps.newTempDir("graft-bench-warm-ev"))
      val t = cat.createTable("db.warmev", df.schema)
      t.append(spark, df)
      t.toDF(spark).count(): Unit
    }
    // Structured Streaming warmup: the first streaming gate used to absorb
    // the micro-batch subsystem's one-time cost (state-store provider,
    // streaming codegen, progress machinery — measured ~7s extra on
    // whichever of g_stream_* iterates first vs ~7s alone; per-batch
    // breakdown in tools.StreamProbe). One tiny
    // file-source stream through a watermarked stateful op takes it out.
    locally {
      import org.apache.spark.sql.functions.{col, expr}
      val dir = graft.queries.TableOps.newTempDir("graft-bench-swarm")
      spark.range(0, 100)
        .select(col("id"), expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)").as("ts"))
        .write.mode("overwrite").parquet(dir)
      val q = spark.readStream
        .schema("id BIGINT, ts TIMESTAMP").parquet(dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("id")
        .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => b.count(); () }
        .option("checkpointLocation", s"$dir-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // Host-factor control probe (round-6 verdict, Next-round #4): a fixed
    // q1-shaped scan+agg timed at run start and end. The driver's round-6
    // bench recorded 2.6-42x inflation from host stall windows that only an
    // idle rerun exposed; with the probe the run is self-diagnosing — a
    // host_factor well above ~1 means the host degraded DURING the run, and
    // per-query comparisons across rounds should normalize by the control.
    // A CPU-bound codegen kernel: JIT-saturates within a few runs (a
    // parquet-scan probe kept improving across the whole bench, biasing the
    // ratio), yet the round-6 stall windows inflated exactly this kind of
    // work ~2.6x across the board, so it is a faithful stall detector.
    def controlRun(): Double = {
      val t0 = System.nanoTime()
      // 200M rows (~0.3s idle at 32 threads): big enough that scheduler
      // jitter is a few % of the probe, so an absolute-delta stall floor is
      // meaningful — at 50M (~0.07s) the ±40ms OS noise was >1.5x the
      // median and a CLEAN run flagged most segments as stall suspects
      spark.range(0, 200_000_000L)
        .selectExpr("sum(id % 7) AS s", "count(if(id % 11 = 0, 1, null)) AS c")
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    // prime twice (codegen + C2 must not land in the baseline probe — the
    // end probe runs in a fully-warm JVM, so an under-warmed start probe
    // would bias host_factor below 1), then take the best of three
    def controlProbe(): Double =
      { controlRun(); controlRun(); Seq(controlRun(), controlRun(), controlRun()).min }
    // optional comma-separated subset for local iteration, e.g.
    // SPARK_GRAFT_QUERIES=x_dedup_minhash,q14_variant_type
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    // Fixed warmup pass (r17 verdict #8): run the first 12 sorted gates
    // once, untimed, before the measured loop. The rotating sub-second
    // flags across same-code captures (x_sim_quantized 0.28→1.00→0.26 on
    // byte-identical trees) are run-order JIT noise the targeted warmups
    // above don't fully absorb — the opening gates still JIT the shared
    // gate-harness paths (oracle fixture builders, catalog registration,
    // metric plumbing) on the clock. Full runs only: a SPARK_GRAFT_QUERIES
    // iteration must stay fast, and its numbers are never a baseline.
    if (only.isEmpty) {
      SparkEntry.queries.toSeq.sortBy(_._1).take(12).foreach { case (_, fn) =>
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        graft.queries.TableOps.reclaimTempDirs()
        graft.queries.FixtureClock.reset()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      }
      graft.queries.TableOps.reclaimTempDirs()
    }
    // One full measurement pass: times every query with the mid-run control
    // series interleaved. A pass is self-contained (its own start/mid/end
    // probes) so a retry's artifact has one coherent measurement context.
    def measurePass(): (Seq[(String, Double, Double, Option[String])], Vector[Double]) = {
      val controlStart = controlProbe()
      // Mid-run control series: start/end probes alone miss the host's
      // INTERMITTENT stall windows (round-6's driver run had 2.6-42x
      // per-query inflation that only an idle rerun exposed; a window can
      // open and close entirely between the two probes). One cheap best-of-2
      // probe every 12 queries (~0.1s each, warm JVM — no re-priming) makes
      // the JSON self-diagnosing per-SEGMENT: queries are emitted in run
      // order, so a spike in controls[k] localizes a stall to queries
      // 12k..12k+11 and those numbers can be discounted without a rerun.
      val controls = scala.collection.mutable.ArrayBuffer(controlStart)
      def midProbe(): Double = Seq(controlRun(), controlRun()).min
      val results = SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) }
        // SORTED run order, not map order: HashMap iteration reshuffles
        // whenever the gate count changes, which re-distributes shared
        // one-time costs (catalog init, SQL-path codegen, loopback
        // servers) onto DIFFERENT queries each round — r10's cross-round
        // compare flagged 6x phantom "regressions" on g_sql_* that were
        // pure order artifacts (g_sql_dml cold costs ~5.7s on BOTH the r9
        // and r10 trees; its recorded number swung 0.66 -> 3.80 purely by
        // position). Alphabetical order pins amortization to each
        // family's first gate, stable across rounds.
        .toSeq.sortBy(_._1)
        .zipWithIndex
        .map { case ((name, fn), i) =>
          if (i > 0 && i % 12 == 0) controls += midProbe()
          // drop the PREVIOUS query's leaked blocks before timing this one:
          // every localCheckpoint/persist pins storage until the driver GCs
          // its RDD reference, so 80+ queries in one JVM otherwise squeeze
          // the unified pool and late queries degrade 3-4x (eviction churn +
          // shuffle spills) — measured on the round-6 full run at -Xmx8g.
          spark.sharedState.cacheManager.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          // reclaim the PREVIOUS query's temp warehouses before timing this
          // one: a retry pass re-builds every fixture, and without the
          // reclaim the run leaked one warehouse per table-building query
          // per pass — doubling disk on exactly the stressed hosts that
          // trigger retries (ADVICE r9)
          graft.queries.TableOps.reclaimTempDirs()
          graft.queries.FixtureClock.reset()
          val t0 = System.nanoTime()
          // a gate that throws is a failure, never a (fast) time: its
          // exception class is reported and it stays out of the totals
          val error =
            try { fn(spark, sfDir).count(); None }
            catch { case e: Throwable => Some(e.getClass.getName) }
          (name, (System.nanoTime() - t0) / 1e9, graft.queries.FixtureClock.sec, error)
        }
      controls += controlProbe()
      (results, controls.toVector)
    }
    def hostFactorOf(controls: Vector[Double]): (Double, Double) = {
      val sorted = controls.sorted
      val median = sorted(sorted.size / 2)
      // a small SPARK_GRAFT_QUERIES subset sees only 2-3 probes, where
      // median(2)==max and host_factor would read 1.0 even if one probe
      // stalled badly — base the ratio on the FASTEST probe there so the
      // pollution gate still fires on filtered runs (ADVICE r9)
      val base = if (controls.size < 4) sorted.head else median
      (if (base > 0) controls.max / base else 1.0, base)
    }
    def spikedSegments(controls: Vector[Double], median: Double): Set[Int] =
      controls.zipWithIndex.collect {
        case (c, j) if median > 0 && c > 1.8 * median && c - median > 0.15 => j
      }.toSet
    def suspectsOf(results: Seq[(String, Double, Double, Option[String])],
        spiked: Set[Int]): Seq[String] =
      results.zipWithIndex.collect {
        case ((name, _, _, _), i) if spiked.contains(i / 12) || spiked.contains(i / 12 + 1) => name
      }
    // Self-policing (round-8 verdict #1): two consecutive rounds the
    // RECORDED driver bench was a stalled-host capture (r7 hf 4.54, r8 hf
    // 3.81) while every idle rerun was clean — the "rerun until clean"
    // discipline must live in the binary, not in process. A polluted pass
    // (host_factor > 1.8 or any stall suspect) is retried once in the
    // already-warm JVM; if the retry is ALSO polluted the run prints its
    // numbers but exits nonzero with an explicit verdict so the driver
    // artifact can never silently record a stalled capture as clean.
    val maxAttempts = 2
    var attempt = 1
    var (results, controls) = measurePass()
    var (hostFactor, median) = hostFactorOf(controls)
    var suspects = suspectsOf(results, spikedSegments(controls, median))
    while ((hostFactor > 1.8 || suspects.nonEmpty) && attempt < maxAttempts) {
      System.err.println(
        s"bench attempt $attempt polluted (host_factor=$hostFactor, " +
          s"${suspects.size} stall suspects) — retrying on warm JVM")
      attempt += 1
      val (r2, c2) = measurePass()
      results = r2; controls = c2
      val (h2, m2) = hostFactorOf(controls)
      hostFactor = h2; median = m2
      suspects = suspectsOf(results, spikedSegments(controls, median))
    }
    val polluted = hostFactor > 1.8 || suspects.nonEmpty
    // Values are rounded to 3 decimals to keep the one-line JSON short: the
    // round-3 driver captured only the tail of the output and a ~2.9 kB line
    // got truncated mid-JSON (BENCH_r03.json parsed:null). 66 queries at 3dp
    // is ~1.8 kB. The subset filter (if any) is recorded so a partial local
    // run is distinguishable from a full gate run.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val timed = results.collect { case (k, v, f, None) => (k, v, f) }
    val failed = results.collect { case (k, _, _, Some(err)) =>
      s"""{"name":"$k","error":"$err"}""" }.mkString("[", ",", "]")
    val qs = timed.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // fixture-build seconds INCLUDED in each query's number above, reported
    // for the instrumented builders (only entries >= 0.1s, 2dp, to keep the
    // one-line JSON under the driver's log-tail budget): query-time deltas
    // across rounds should be read net of this column.
    def fmt2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val fx = timed.collect { case (k, _, f) if f >= 0.1 => "\"" + k + "\":" + fmt2(f) }
      .mkString("{", ",", "}")
    val total = if (timed.nonEmpty) timed.map(_._2).sum else 0.0
    val nFailed = results.size - timed.size
    val filter = only.map(s => s""","filter":"${s.toSeq.sorted.mkString(",")}"""").getOrElse("")
    // host_factor spans the whole series: max/median flags a stall ANYWHERE
    // in the run (end/start alone reads 1.0 when a mid-run window has closed
    // again by the final probe; median — not min — as the floor, so one
    // lucky-fast probe doesn't inflate the flag).
    // Stall localization: probe j bounds the segment of (up to) 12 queries
    // run just before it, so a spiked probe (1.8x ratio AND 0.15s absolute
    // excess — a real stall inflates the probe 2.6-42x while OS jitter on
    // the ~0.3s kernel is a few % with occasional ~1.5x blips; the 50M-row
    // kernel + ratio-only rule marked 70 of 113 queries suspect on the
    // FASTEST run ever recorded) marks every query in its adjacent
    // segments as measured-under-stall.
    val ctl = controls.map(fmt).mkString("[", ",", "]")
    // cap the list to protect the one-line-JSON tail budget, but never
    // silently: a "+N_more" marker tells readers (and bench_compare.py)
    // the suspect set is incomplete and unlisted flags may be noise too
    val capped =
      if (suspects.size <= 60) suspects
      else suspects.take(60) :+ s"+${suspects.size - 60}_more"
    val sus = capped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val verdict =
      if (polluted) s""","verdict":"polluted — rerun","attempts":$attempt"""
      else s""","verdict":"clean","attempts":$attempt"""
    // captured_at + git_head stamp (ADVICE r12): the round-stamped archive
    // below infers its round from directory state, which can mispair a
    // late re-run with the wrong round; these two fields make every
    // capture independently auditable (which commit, when) so a comparer
    // can cross-check a suspect pairing instead of trusting the filename.
    val capturedAt = java.time.Instant.now().toString
    val gitHead = try {
      val headRef = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(".git/HEAD")), "UTF-8").trim
      if (headRef.startsWith("ref: ")) {
        val ref = headRef.stripPrefix("ref: ")
        val loose = java.nio.file.Paths.get(".git", ref)
        if (java.nio.file.Files.exists(loose))
          new String(java.nio.file.Files.readAllBytes(loose), "UTF-8").trim.take(12)
        else {
          // after git pack-refs the loose file is gone; the ref lives in
          // .git/packed-refs ("<sha> <refname>" lines)
          val packed = java.nio.file.Paths.get(".git/packed-refs")
          if (java.nio.file.Files.exists(packed)) {
            // readAllLines (not Source.fromFile) — no handle left open in a
            // long-lived driver, and the whole stamp is best-effort: ANY
            // failure here must not abort an otherwise-clean ~4-min run
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.readAllLines(packed).asScala
              .find(l => !l.startsWith("#") && l.endsWith(" " + ref))
              .map(_.split(" ").head.take(12)).getOrElse("unknown")
          } else "unknown"
        }
      } else headRef.take(12)
    } catch { case scala.util.control.NonFatal(_) => "unknown" }
    val fullJson = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${timed.size},"queries":$qs,"failed":$failed,"fixture_sec":$fx,"control_start_sec":${fmt(controls.head)},"control_end_sec":${fmt(controls.last)},"controls":$ctl,"host_factor":${fmt(hostFactor)},"stall_suspects":$sus,"captured_at":"$capturedAt","git_head":"$gitHead","sf":"$sfDir"$filter$verdict}"""
    println(fullJson)
    // Persist the full line to a FILE as well (round-9 verdict #6): the
    // driver's log-tail capture truncates the ~165-query map (BENCH_r09
    // parsed:null kept only ~60 per-query times), so cross-round per-query
    // regression checks were lossy. The file is authoritative; the stdout
    // lines remain for the driver's artifact. Subset runs (SPARK_GRAFT_
    // QUERIES) do NOT write it — a 2-query local iteration must never
    // clobber the last full run's per-query baseline. A polluted final
    // attempt removes the file instead: bench_compare.py consumes it
    // without re-checking the verdict, so a contended run must neither
    // become the baseline nor leave a stale clean-looking one behind (the
    // numbers still print to stdout, and the process exits 2).
    if (only.isEmpty) {
      // polluted final attempt: DELETE the latest-clean pointer rather than
      // skip the write — a stale previous-run file still says verdict
      // "clean", so a caller who misses the exit code would diff round N
      // against round N's own data and read every ratio as ~1.0x (a silent
      // false "no regression"). The polluted line itself is preserved under
      // a name no comparer treats as a baseline (ADVICE r11), and deleting
      // the pointer no longer erases history: every clean full run is ALSO
      // archived round-stamped below, so a post-pollution compare still has
      // file-based baselines — BENCH_full_r{N}.json, not just stdout.
      try {
        val p = java.nio.file.Paths.get("BENCH.full.json")
        if (polluted) {
          java.nio.file.Files.write(
            java.nio.file.Paths.get("BENCH.full.polluted.json"),
            (fullJson + "\n").getBytes("UTF-8"))
          java.nio.file.Files.deleteIfExists(p): Unit
        } else {
          java.nio.file.Files.write(p, (fullJson + "\n").getBytes("UTF-8"))
          // Round-stamped archive (r11 verdict #3): the driver's
          // BENCH_r{N}.json keeps only a log TAIL (36-42 query times were
          // truncated away in r11) and BENCH.full.json is overwritten every
          // round, so cross-round compares could adjudicate only a dozen of
          // ~170 common queries. The archive pins the FULL per-query map
          // per round; bench_compare.py prefers it over the driver tail.
          // Round: SPARK_GRAFT_ROUND wins when set (ADVICE r12 — the
          // max+1 inference below is only correct when Bench runs
          // strictly BEFORE the driver writes BENCH_r{N}.json; a clean
          // re-run after that write would otherwise archive under N+1
          // and silently mispair next round's compare). Without the
          // override, infer max existing BENCH_r{NN}.json + 1.
          val prior = Option(new java.io.File(".").list()).getOrElse(Array.empty[String])
            .flatMap(n => "^BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(n)
              .map(_.group(1).toInt))
          val round = sys.env.get("SPARK_GRAFT_ROUND")
            .flatMap(v => scala.util.Try(v.trim.toInt).toOption.orElse {
              // a malformed override must not crash an otherwise-clean
              // run after ~4 min of measurement — fall back to inference
              System.err.println(s"[bench] ignoring malformed SPARK_GRAFT_ROUND='$v'")
              None
            })
            .getOrElse((if (prior.isEmpty) 0 else prior.max) + 1)
          // Keep-quietest guard: the archive exists to give cross-round
          // per-query compares the lowest noise floor available, so a
          // noisier capture of the same round never clobbers a quieter
          // one already archived (r12 verdict #6 — that round's baseline
          // was captured at host_factor 1.562 and degraded every r13
          // ratio). A quieter or first capture always writes.
          // Captures at DIFFERENT scale factors are incomparable, so the
          // guard only arbitrates same-sf pairs; across sf the driver
          // scale (sf0.1) wins — a stray sf0.001 full run must neither
          // become nor block the round's baseline.
          val target = java.nio.file.Paths.get(f"BENCH_full_r$round%02d.json")
          val existing = if (java.nio.file.Files.exists(target))
            Some(new String(java.nio.file.Files.readAllBytes(target), "UTF-8"))
          else None
          if (shouldArchive(existing, sfDir, hostFactor, gitHead))
            java.nio.file.Files.write(target, (fullJson + "\n").getBytes("UTF-8"))
          else
            System.err.println(s"[bench] NOT overwriting $target: existing " +
              s"capture is quieter or at driver scale (this run: sf=$sfDir, " +
              s"host_factor=${fmt(hostFactor)})")
        }
      } catch { case _: java.io.IOException => () } // read-only cwd: stdout still has it
    }
    // A second, SHORT trailing line with only the headline numbers: the
    // round-3 and round-7 driver artifacts kept only the log TAIL, and the
    // full line above — which leads with the totals — got truncated
    // mid-"queries" to parsed:null. Whatever tail window survives now always
    // contains a complete parseable summary (total / n / host_factor /
    // suspect count / verdict), so a round gate is never blind on the
    // headline even when the per-query map is lost.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${timed.size},"n_failed":$nFailed,"host_factor":${fmt(hostFactor)},"n_stall_suspects":${suspects.size},"summary_of":"full JSON on previous line","sf":"$sfDir"$filter$verdict}""")
    spark.stop()
    // Exit nonzero AFTER printing (round-8 verdict #1): the driver still
    // records the numbers, but a stalled capture can never again be
    // mistaken for a clean artifact.
    if (polluted) sys.exit(2)
  }

  /** Whether a fresh clean capture should (over)write the round's
    * BENCH_full_r{NN}.json archive, given the existing archive's raw JSON
    * (None = no archive yet). Rules, most specific first: captures at
    * DIFFERENT scale factors are incomparable, so across sf the driver
    * scale (sf0.1) wins — a stray sf0.001 full run must neither become
    * nor block the round's baseline. Captures of DIFFERENT code (git_head
    * mismatch) are not re-measurements of each other, so the newer
    * capture wins — an archive must reflect the code the round ships,
    * never a quiet-but-stale mid-round snapshot. Only between same-sf
    * same-code captures does the QUIETER one (lower host_factor) win, so
    * a noisy re-run never clobbers the clean baseline it exists to
    * provide (r12 verdict #6: a host_factor-1.562 capture as the round
    * baseline degrades every next-round ratio).
    */
  /** The path's LAST sf segment (sf0.1 from /root/testdata/sf0.1[/]) — the
    * canonical scale identity of a capture. Matched exactly, never by
    * substring (sf0.15/sf0.100 dirs must not alias sf0.1).
    */
  private[graft] def sfSegment(sfDir: String): Option[String] =
    """sf[0-9.]+""".r.findAllIn(sfDir).toSeq.lastOption

  /** The driver's benchmark scale. */
  private[graft] def isDriverScale(sfDir: String): Boolean =
    sfSegment(sfDir).contains("sf0.1")

  private[graft] def shouldArchive(existing: Option[String], sfDir: String,
                                   hostFactor: Double,
                                   gitHead: String = "unknown"): Boolean = existing match {
    case None => true
    case Some(t) =>
      val priorHf = """"host_factor":([0-9.]+)""".r.findFirstMatchIn(t)
        .map(_.group(1).toDouble)
      val priorSf = """"sf":"([^"]+)"""".r.findFirstMatchIn(t).map(_.group(1))
      val priorHead = """"git_head":"([^"]+)"""".r.findFirstMatchIn(t).map(_.group(1))
      // "unknown" means the head could not be resolved (packed refs from
      // a context the reader misses, non-repo cwd) — it must never count
      // as a DIFFERENT head, or any noisy re-run would clobber the quiet
      // baseline through the different-code branch
      val headsDiffer = priorHead.exists(h =>
        h != gitHead && h != "unknown" && gitHead != "unknown")
      // Same-scale is decided on the extracted sf SEGMENT, not the raw path
      // string (ADVICE r13): /root/testdata/sf0.1 vs sf0.1/ vs a relative
      // spelling are the SAME dataset, and routing them through the
      // cross-sf branch would let a noisier same-code re-run bypass the
      // keep-quietest guard. Segmentless paths fall back to raw equality.
      val sfDiffers = priorSf.exists { p =>
        (sfSegment(p), sfSegment(sfDir)) match {
          case (Some(a), Some(b)) => a != b
          case _                  => p != sfDir
        }
      }
      if (sfDiffers) isDriverScale(sfDir)
      else if (headsDiffer) true
      else priorHf.forall(_ >= hostFactor)
  }
}
