package graft.queries

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data-pipeline operators (SURVEY.md §2.9; BASELINE.json north
  * star): deduplication (exact / bag-of-words / MinHash / SimHash),
  * similarity search (brute-force + LSH-bucketed ANN), text analysis
  * (language ID, quality scoring, token counting, fingerprinting) and a
  * multimodal binary-column pipeline — all over `documents` / `embeddings`.
  *
  * Cross-engine determinism: every hash is md5 (identical in Spark and
  * DuckDB); float work is either exact (sign tests, integer-ish sums) or
  * surfaced only through rankings with large gaps. Everything is a pure
  * DataFrame pipeline — no UDFs, no collect — so each op scales by
  * partitioning alone (the 100 TB path is the same plan over more tasks).
  */
object Extensions
    extends ExtensionsDedupGates
    with ExtensionsAnnGates
    with ExtensionsTextGates
    with ExtensionsMultimodalGates
    with ExtensionsAnalyticsGates
    with ExtensionsRetrievalGates
    with ExtensionsCrawlGates
    with ExtensionsRetractionGates {

  /** DuckDB-side whitespace tokens with empties dropped (mirrors
    * [[graft.functions.TextFunctions.tokens]]).
    */
  // the DuckDB twin of TextFunctions.tokens: ALL-whitespace split
  private[queries] val toksSql = """list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"""

  /** Above this many candidate pairs, the pair-verification joins fall
    * back from forced broadcasts to plain (stats-planned, usually shuffled)
    * joins: a forced broadcast must be bounded by size, never assumed
    * small. Candidate counts grow ~linearly with corpus size (df/bucket caps
    * bound the per-gram fanout, but the number of grams scales), so at some
    * corpus size a forced broadcast stops fitting the driver/executor
    * budget — and a query that DIES there is worse than one that shuffles.
    * 1M pairs ≈ tens of MB broadcast. Override with
    * `graft.pairs.broadcast-max-rows`.
    */
  val PairBroadcastMaxRows: Long = 1000000L

  /** Key cap for the crawl loops' per-batch STATE probes (fp / chunk-hash
    * / gram / sig / model-head runtime filters) — a COST-EFFECTIVENESS
    * bound, deliberately far below [[graft.table.GraftTable
    * .scanWithRuntimeFilter]]'s driver-safety default: a bloom plane's
    * file-skip probability is ~(1-fpr)^k ≈ e^(-k·fpr), already ~0 at
    * k=1000 keys with fpr=1%, and a ≤128-way bucket plane saturates even
    * sooner — so probing with a mega-batch's 50k+ keys reads every file
    * anyway and pays a per-batch distinct+collect plus a 50k-literal
    * predicate for nothing (measured: +2x on the novelty gate's
    * corpus-half batches). Below the cap the probe is the production
    * small-batch win the specs measure; above it the loop reads the full
    * state directly — the same answer, minus the pointless collect. The
    * fuzzy loop's candidate-TEXT fetch keeps the wide default instead:
    * its key set is candidate-sized by construction, and an In cut there
    * bounds bytes read even when file skipping saturates.
    */
  val CrawlProbeMaxKeys: Int = 1024

  /** Row cap for DRIVER-LOCAL pins ([[pinMeasured]]'s fast path) —
    * deliberately far below [[PairBroadcastMaxRows]]: past ~10k rows a
    * LocalRelation's per-execution driver copies, per-task parallelize
    * slices and GC pressure cost more than the jobs it saves (measured:
    * x_triangles' 303k-row pinned frame ran 3× the executor time of the
    * checkpointed shape). Conf `graft.pins.driver-max-rows`.
    */
  val DriverPinMaxRows: Long = 8192L

  private def broadcastCap(s: SparkSession): Long =
    s.conf.getOption("graft.pairs.broadcast-max-rows")
      .map(_.toLong).getOrElse(PairBroadcastMaxRows)

  /** Is this frame already pinned as a driver-local relation (a
    * [[pinMeasured]] fast-path result, possibly under folded
    * projections/filters)? Local frames carry EXACT size statistics and
    * are by construction within the broadcast budget.
    */
  private[graft] def isDriverLocal(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => true
      // the pinMeasured fast path: coalesce(1) over the local rows
      case r: Repartition => r.child.isInstanceOf[LocalRelation]
      case _ => false
    }
  }

  /** Pin a batch-bounded frame and measure it against the broadcast budget
    * in ONE bounded probe (`limit(cap+1)` + collect). Within the budget the
    * pin is a DRIVER-LOCAL relation (LocalRelation): exact size statistics
    * at plan time, so joins against it broadcast without AQE shuffle
    * round-trips; In-probe collects and emptiness checks fold to driver
    * array walks (zero Spark jobs); and the driver-memory exposure is the
    * SAME class the budget already allows — a broadcast of the frame
    * collects those rows to the driver anyway (opt guide §3.1, §5). Past
    * the budget the frame pins DISTRIBUTED (localCheckpoint — the pre-r19
    * shape, shuffled joins kept) and the probe's partial rows are
    * discarded; over-budget frames are the corpus-sized reprobes, where
    * the bounded probe's cost is a partition-limited take, not a full
    * second pass.
    * @return (pinned frame, fits-the-broadcast-budget)
    */
  private[graft] def pinMeasured(df: DataFrame): (DataFrame, Boolean) = {
    val s = df.sparkSession
    val cap = broadcastCap(s)
    // The driver-pin cap is MUCH smaller than the broadcast budget:
    // LocalRelation costs scale with ROW COUNT per downstream execution
    // (a driver-side external→unsafe copy per plan, a parallelize slice
    // shipped per task, GC on the held objects) — measured on
    // x_triangles, pinning the 303k-row oriented-edge frame tripled the
    // gate's executor run time and GC versus localCheckpoint, while
    // sub-10k batch frames cut the per-batch execution count ~25 %.
    // Frames between the two caps keep the distributed pin + one count,
    // exactly the r18 shape.
    val pinCap = math.min(
      s.conf.getOption("graft.pins.driver-max-rows").map(_.toLong)
        .getOrElse(DriverPinMaxRows),
      math.min(cap, Int.MaxValue - 2L))
    val probe = df.limit(pinCap.toInt + 1).collect()
    if (probe.length <= pinCap)
      // coalesce(1): a bare LocalRelation parallelizes into
      // defaultParallelism slices, so every downstream aggregate/write map
      // stage pays per-task shuffle-writer setup ×32 (measured ~100-200 ms
      // PER TASK on 8 KB of shuffle bytes) and an unpartitioned append
      // writes one file per slice; one narrow-dependency partition keeps
      // the exact plan-time statistics and restores the pre-pin task and
      // file counts
      (s.createDataFrame(java.util.Arrays.asList(probe: _*), df.schema)
        .coalesce(1), true)
    else {
      val pinned = df.localCheckpoint()
      (pinned, pinned.count() <= cap)
    }
  }


  /** Exact row count of a driver-local pin, read off its plan (zero jobs);
    * None for distributed frames.
    */
  private[queries] def localRowCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
    df.queryExecution.optimizedPlan match {
      case lr: LocalRelation => Some(lr.data.length.toLong)
      case r: Repartition => r.child match {
        case lr: LocalRelation => Some(lr.data.length.toLong)
        case _ => None
      }
      case _ => None
    }
  }

  /** Measure a candidate-pair set against the broadcast budget, pinning it
    * first ([[pinMeasured]]). Callers that pinned `pairs` themselves pass
    * alreadyPinned — a driver-local pin answers from its exact plan-time
    * statistics (zero jobs); a distributed pin pays one count on its
    * materialized blocks.
    * @return the pinned pair frame and whether it fits the budget
    */
  private[graft] def measuredPairs(pairs: DataFrame,
      alreadyPinned: Boolean = false): (DataFrame, Boolean) = {
    if (!alreadyPinned) pinMeasured(pairs)
    else if (isDriverLocal(pairs)) (pairs, true)
    else (pairs, pairs.count() <= broadcastCap(pairs.sparkSession))
  }

  private[queries] def maybeBroadcast(df: DataFrame, fits: Boolean): DataFrame =
    if (fits) broadcast(df) else df

  /** Multiset equality of two same-schema frames in ONE action: signed
    * union + one grouped sum, zero rows ⇔ equal. The gates' repaired ≡
    * from-scratch REQUIREs previously ran `a.except(b).isEmpty &&
    * b.except(a).isEmpty` — two full actions of two-sided
    * distinct+anti-join exchanges each, on corpus-scale frames (opt guide
    * §2.4: don't shuffle the same data twice for one answer). On the
    * unique-keyed states these gates compare, multiset equality is
    * exactly set equality — and on a frame with duplicate rows it is
    * STRICTER, never weaker, so a passing gate proves no less than
    * before. NULL group keys compare equal in GROUP BY, matching
    * except()'s null-safe semantics.
    */
  private[queries] def setEqual(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.map(col).toSeq
    a.withColumn("_graft_side", lit(1L))
      .unionByName(b.withColumn("_graft_side", lit(-1L)))
      .groupBy(cols: _*).agg(sum(col("_graft_side")).as("_graft_d"))
      .filter(col("_graft_d") =!= 0L)
      .isEmpty
  }

  /** The keyword-search inverted index: postings (token, doc_id, tf) in a
    * Graft table identity-partitioned on a 16-way md5 bucket of the token.
    * One pass over text + one (token, doc) hash aggregate — shared by the
    * x_keyword_search gate and the ScaleSmoke contract run so the smoke
    * exercises exactly the code the gate ships.
    */
  /** One batch of postings (token, doc_id, tf, bucket) — the unit both the
    * initial index build and an incremental refresh append.
    */
  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("bucket",
        pmod(graft.functions.SketchFunctions.hash60(col("token")), lit(16L)))

  private[graft] def buildInvertedIndex(s: SparkSession, docs: DataFrame,
      cat: graft.catalog.GraftCatalog): graft.table.GraftTable = {
    import graft.format.Transform
    val postings = postingsOf(docs)
    val t = cat.createTable("db.inverted", postings.schema,
      partitionBy = Seq("bucket" -> Transform.Identity))
    t.append(s, postings)
    t
  }

  /** Probe one term's posting list: the scan prunes to the term's bucket
    * partition at PLAN time (pruning metrics come from driver-side file
    * selection — no action needed to populate them), routed by the
    * driver-side twin of the writer's bucketing.
    */
  private[graft] def probeTerm(s: SparkSession, t: graft.table.GraftTable,
      term: String): (graft.table.GraftScan, DataFrame) = {
    import graft.format.Predicate
    val sc = t.scan(Predicate.Eq("bucket",
      graft.functions.SketchFunctions.hash60Local(term) % 16))
    (sc, sc.toDF(s).filter(col("token") === term).select(col("doc_id"), col("tf")))
  }

  /** POSITIONAL postings (token, doc_id, pos) — the phrase-query index
    * shape: one row per token OCCURRENCE (vs [[postingsOf]]'s one per
    * (token, doc)), same 16-way md5 token bucketing so term probes prune
    * identically. The ~tokens-sized row count is the standard positional-
    * index storage cost; it buys adjacency queries that never touch text.
    * pos is 0-based (only ever used through relative offsets, so the
    * oracle's 1-based subscripts join with the same `+ 1`).
    */
  private[graft] def positionalPostingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("pos", "token")))
      .select(col("token"), col("doc_id"), col("pos").cast("long").as("pos"))
      .withColumn("bucket",
        pmod(graft.functions.SketchFunctions.hash60(col("token")), lit(16L)))

  private[graft] def buildPositionalIndex(s: SparkSession, docs: DataFrame,
      cat: graft.catalog.GraftCatalog): graft.table.GraftTable = {
    import graft.format.Transform
    val postings = positionalPostingsOf(docs)
    val t = cat.createTable("db.pos_inverted", postings.schema,
      partitionBy = Seq("bucket" -> Transform.Identity))
    t.append(s, postings)
    t
  }

  /** BM25 scoring of a two-term OR query against a persisted inverted
    * index — shared by x_bm25 and the RRF fusion gate. Probes prune to
    * the terms' buckets; doc lengths and corpus stats derive from one
    * narrow index aggregate (text never re-read); idf is the raw-ratio
    * Robertson form with dyadic k1 = 1.25 / b = 0.75 (see the x_bm25
    * gate comment for the cross-engine determinism argument).
    * @return (scanA, scanB, (doc_id, score, n_terms))
    */
  private[graft] def bm25Scored(s: SparkSession, t: graft.table.GraftTable,
      termA: String, termB: String)
      : (graft.table.GraftScan, graft.table.GraftScan, DataFrame) = {
    val idx = t.toDF(s)
    // doclen is referenced twice (the corpus-stats aggregate AND the join
    // onto candidates); pin it once so the whole-index scan+aggregate runs
    // a single time per query — the same pinning discipline as
    // containmentNomination / triangleStats / pairJaccard.
    val doclen = idx.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      .localCheckpoint()
    val stats = doclen.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
    val (scA, a) = probeTerm(s, t, termA)
    val (scB, b) = probeTerm(s, t, termB)
    val cand = a.withColumn("term", lit(termA))
      .unionByName(b.withColumn("term", lit(termB)))
    val dfs = cand.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
    val idf = (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfn = (col("tf").cast("double") * lit(2.25)) /
      (col("tf").cast("double") +
        lit(1.25) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    val scored = cand
      .join(broadcast(dfs), "term")
      .join(doclen, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", idf * tfn)
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_terms"))
    (scA, scB, scored)
  }

  /** Rare-5-shingle containment nomination — the x_containment candidate
    * generator, shared with ScaleSmoke contract 3 so the smoke certifies
    * shipped code. The exploded 5-gram stream is PINNED once
    * (localCheckpoint): without it the md5-heavy shingle expression
    * evaluates three times — the df aggregate plus BOTH sides of the
    * rare-gram self-join — which profiled as the dominant cost of the
    * gate. The pinned inverted index (grams with df ∈ [2, 8]) bounds the
    * self-join fanout at Σ df² ≤ 8·Σ df.
    * @return (rare grams, nominated candidate pairs)
    */
  private[graft] def containmentNomination(docs: DataFrame): (DataFrame, DataFrame) = {
    val nom = docs.select(col("doc_id"),
      explode(array_distinct(TF.shingles(col("text"), 5))).as("g"))
      .localCheckpoint()
    val rare = nom.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 8)).select("g")
    val inv = nom.join(rare, "g").localCheckpoint()
    val cand = inv.select(col("g"), col("doc_id").as("doc_a"))
      .join(inv.select(col("g"), col("doc_id").as("doc_b")), "g")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    (rare, cand)
  }

  /** Degree-oriented triangle statistics over the basket graph of
    * `items` (l_orderkey, l_partkey) pairs — the x_triangles pipeline,
    * shared with the ScaleSmoke graph contract so the smoke certifies
    * shipped code. Every undirected co-purchase edge points from its
    * lower-(degree, id) endpoint to the higher, bounding total wedge
    * fanout at Σ C(outdeg, 2) ≲ O(m^1.5) regardless of degree skew; the
    * closing probe is a hash join on the oriented edge set. Returns ONE
    * row: (n_edges, n_wedges, n_paths2, n_triangles, transitivity).
    */
  /** Undirected co-purchase edges (u < v, distinct) over (l_orderkey,
    * l_partkey) items, under the same basket-size cap as x_copurchase
    * (one window count on the orderkey partitioning the self-join reuses:
    * a degenerate mega-basket contributes C(64, 2) edges, never
    * C(huge, 2)). ONE construction shared by [[triangleStats]] and
    * x_pagerank, so the gates and the ScaleSmoke contract all certify
    * the same code.
    */
  /** The PLANTED-CLUSTER corpus the clustered recall gates share
    * (x_ann_recall_clustered + x_ann_index_multiprobe certify the SAME
    * corpus by construction — a drift between private copies would
    * silently invalidate the composition claim): group g = vec_id % 8,
    * clustered[i] = double(embedding[i]) + 0.25·[i%8 = g]. 0.25 is exact
    * in binary, so the shift adds deterministically in both engines; the
    * oracle derives the identical corpus with list_transform.
    */
  private[graft] def clusteredEmbeddings(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") + when(
          pmod(i.cast("bigint"), lit(8L)) === pmod(col("vec_id"), lit(8L)),
          lit(0.25)).otherwise(lit(0.0))).as("v"))

  /** The 8 frozen centroids of the planted-cluster corpus: the pure shift
    * vectors themselves — compile-time constants visible to both engines,
    * nothing data-dependent.
    */
  private[graft] val shiftCentroids: Seq[(Long, Array[Double])] =
    (0L until 8L).map(g => g -> Array.tabulate(64)(i => if (i % 8 == g) 0.25 else 0.0))

  /** The DRIFTED population for x_ann_index_rebuild: same base noise, but
    * the planted shift sits on CONTIGUOUS dim blocks [8g, 8g+8) instead
    * of the stride family i%8=g — a block centroid overlaps any stride
    * centroid in exactly ONE dim, so the old 8-cell index assigns these
    * vectors near-uniformly at random (measured: stale-probe recall
    * 2-5/10 across SFs) and only a rebuild with the new centroids
    * restores the floor (10/10). Ids offset by 970000 = 97·10000, so the
    * %97 panel exclusion is the SAME base-row set on both populations
    * and the drifted query (id 970000, base 0) is corpus-excluded.
    */
  private[graft] def blockEmbeddings(e: DataFrame): DataFrame =
    // Loud guard (ADVICE r13): the fixed 970000 offset silently assumes the
    // base fixture never reaches 970000 rows — a bigger future fixture would
    // collide drifted ids with base ids (duplicate vec_ids in brute force
    // AND the index) while engine/oracle parity masked it. raise_error keeps
    // the builder lazy and fails the first action that materializes it.
    e.select(when(col("vec_id") >= 970000L,
        raise_error(concat(lit("blockEmbeddings: base vec_id "), col("vec_id"),
          lit(" >= 970000 drift offset — grow the offset before the fixture"))))
      .otherwise(col("vec_id") + 970000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") + when(
          shiftright(i, 3).cast("bigint") === pmod(col("vec_id"), lit(8L)),
          lit(0.25)).otherwise(lit(0.0))).as("v"))

  /** The 8 block centroids of the drifted population (cells 8..15 of the
    * rebuilt 16-cell index): pure contiguous-block shift vectors,
    * compile-time constants visible to both engines.
    */
  private[graft] val blockCentroids: Seq[(Long, Array[Double])] =
    (0L until 8L).map(g => (g + 8L) -> Array.tabulate(64)(i => if (i / 8 == g) 0.25 else 0.0))

  /** Fixture-side encoder row for the image-dedup gates: deterministic
    * seeded gradient ([[graft.operators.ImageCodec.encodeImageVariant]]),
    * PNG/BMP by seed parity (both lossless — the hash is container-
    * independent, MultimodalSpec pins it), optional planted single-pixel
    * edit at exactly the grid-(3,3) downscale pick (flips ≤ 2 hash bits).
    */
  private[graft] def imageFixtureRow(id: Long, seed: Int, w: Int, h: Int,
      edit: Boolean, flipContainer: Boolean = false): (Long, Array[Byte]) =
    (id, graft.operators.ImageCodec.encodeImageVariant(
      if ((seed % 2 == 0) != flipContainer) "png" else "bmp", w, h, seed,
      if (edit) 3 * w / 8 else -1, if (edit) 3 * h / 8 else -1))

  /** dHash + 4×14-bit band explosion of an (img_id, blob) frame — the ONE
    * banding rule every image-dedup gate shares (band key = value·4 + k;
    * the hash is 56-bit nonnegative so arithmetic shifts agree with the
    * oracle's). Hamming ≤ 3 partners always share a band (pigeonhole), so
    * banded candidate generation is LOSSLESS at the verify threshold.
    * UNDECODABLE blobs (null hash) are DROPPED here — they can neither
    * nominate nor be deduplicated, and letting their null rows through
    * would admit the same corrupt blob on every recrawl and fill the
    * durable state with unindexable null keys (production routes them to
    * a quarantine path at ingest).
    */
  private[graft] def imageBands(df: DataFrame): DataFrame = df
    .select(col("img_id"),
      graft.operators.Multimodal.imageDhash(col("blob")).as("h"))
    .filter(col("h").isNotNull)
    .select(col("img_id"), col("h"), explode(array(
      (0 until 4).map(k =>
        shiftright(col("h"), k * 14).bitwiseAND(lit(16383L)) * 4 + k): _*)).as("band_key"))

  /** The NORMALIZE-THEN-HASH twin of [[imageBands]] (r15 verdict #3): a
    * canonical-resolution nearest-neighbor resize
    * ([[graft.operators.ResizeImage]]) runs BEFORE the dHash, so images of
    * ANY resolution — integer or non-integer rescales of one another —
    * hash in one canonical space and the standard band rule pairs them.
    * Both steps are codegen'd Catalyst expressions composed in one
    * projection; the pipeline pays one extra decode+encode per blob at
    * ingest (map-side, never shuffled), the price of resolution
    * independence. Exactness domain: picks compose by nested floor
    * division, so two rasters normalize IDENTICALLY whenever each one's
    * width is a multiple of the canonical width (then every canonical
    * pick divides back exactly — the x_image_neardup_normalized lattice);
    * off-lattice sizes land within a few picks of each other, which real
    * (band-limited) images absorb and the adversarial max-frequency
    * fixture gradient does not, so the gate pins the exact lattice.
    */
  /** The LOSSY-image banding (r16 verdict #8): jpeg's DCT round-trip
    * drifts a planted pick-edit up to the measured 6 bits (MultimodalSpec,
    * bound ≤ 6), beyond the 4-band rule's pigeonhole (lossless only to
    * ≤ 3). Split the same 56-bit dHash into 8 bands × 7 bits instead: any
    * ≤ 7-bit drift leaves at least one band intact, so banded nomination
    * stays lossless at the jpeg verify threshold. 2× the band rows of
    * [[imageBands]] — still one narrow row per (blob, band), never
    * all-pairs.
    */
  private[graft] def imageBandsLossy(df: DataFrame): DataFrame = df
    .select(col("img_id"),
      graft.operators.Multimodal.imageDhash(col("blob")).as("h"))
    .filter(col("h").isNotNull)
    .select(col("img_id"), col("h"), explode(array(
      (0 until 8).map(k =>
        shiftright(col("h"), k * 7).bitwiseAND(lit(127L)) * 8 + k): _*)).as("band_key"))

  private[graft] def imageBandsNormalized(df: DataFrame, maxWidth: Int): DataFrame = df
    .select(col("img_id"),
      graft.operators.Multimodal.imageDhash(
        graft.operators.Multimodal.resizeImage(col("blob"), maxWidth)
          .getField("blob")).as("h"))
    .filter(col("h").isNotNull)
    .select(col("img_id"), col("h"), explode(array(
      (0 until 4).map(k =>
        shiftright(col("h"), k * 14).bitwiseAND(lit(16383L)) * 4 + k): _*)).as("band_key"))

  /** Runtime-filtered probe + hamming-verified admission verdicts — the
    * ONE decision rule the durable and retraction perceptual-hash dedup
    * gates share, generic over the id column (img_id / clip_id): batch
    * bands probe the band state through an In read, banded candidates
    * verify at hamming ≤ `threshold` (default 3; the lossy-jpeg family
    * verifies at its measured ≤ 6-bit DCT drift under [[imageBandsLossy]],
    * whose 8-band split keeps nomination pigeonhole-lossless there), and
    * each batch blob gets its surviving-history match count (admitted ⇔
    * zero matches). localCheckpointed: callers read it for the state
    * append AND the output.
    * @return (idCol, matches, admitted)
    */
  private[queries] def bandAdmitVerdicts(s: SparkSession,
      state: graft.table.GraftTable, batchBands: DataFrame,
      idCol: String, threshold: Int = 3): DataFrame = {
    // Pin + measure the batch bands once: they are read three times below
    // (the In-probe collect, the nomination join, the id spine), and a
    // checkpointed batch frame carries NO size stats, so the planner
    // otherwise plans this batch-bounded side into shuffled joins against
    // the state scan (opt guide §3.1: size estimates are wrong after
    // RDD-backed lineage cuts — hint explicitly when a side is known
    // small). Within the measured budget the nomination join and the
    // verdict join both run broadcast-side — the per-batch hot path loses
    // its exchanges; past the budget (a corpus-sized reprobe) the joins
    // keep their shuffled shape.
    val (bands, fits) = measuredPairs(batchBands)
    val stateScan = state.scanWithRuntimeFilter(bands, "band_key", "band_key",
      maxKeys = CrawlProbeMaxKeys)
    val matches = maybeBroadcast(bands, fits)
      .join(stateScan.toDF(s).select(col("band_key"),
        col("h").as("h_hist"), col(idCol).as("hist_id")), Seq("band_key"))
      .filter(expr(s"bit_count(h ^ h_hist) <= $threshold"))
      .groupBy(idCol)
      .agg(countDistinct(col("hist_id")).as("matches"))
    pinMeasured(bands.select(idCol).distinct()
      .join(maybeBroadcast(matches, fits), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("matches"), lit(0L)).as("matches"),
        col("matches").isNull.as("admitted")))._1
  }

  /** [[bandAdmitVerdicts]] over the image dHash state. */
  private[queries] def imageAdmitVerdicts(s: SparkSession,
      state: graft.table.GraftTable, batchBands: DataFrame): DataFrame =
    bandAdmitVerdicts(s, state, batchBands, "img_id")

  /** [[bandAdmitVerdicts]] over the audio fingerprint state. */
  private[queries] def audioAdmitVerdicts(s: SparkSession,
      state: graft.table.GraftTable, batchBands: DataFrame): DataFrame =
    bandAdmitVerdicts(s, state, batchBands, "clip_id")

  /** The closed-form dHash recomputation every image gate's DuckDB oracle
    * shares — grid gray + bit packing over an `imgs(img_id, seed, w, h,
    * ex, ey, ...)` CTE. ONE text interpolated into four gate oracles (the
    * [[toksSql]] discipline): a formula tweak lands everywhere or
    * nowhere.
    */
  private[queries] val imageOracleGridBits: String =
    """grid AS (
      |  SELECT img_id, x, y,
      |    (CASE WHEN (x * w) // 8 = ex AND (y * h) // 8 = ey
      |       THEN ((((x * w) // 8) * (31 + 11 * seed) + ((y * h) // 8) * (17 + 5 * seed)) % 256 + 128) % 256
      |       ELSE (((x * w) // 8) * (31 + 11 * seed) + ((y * h) // 8) * (17 + 5 * seed)) % 256 END
      |     + ((x * w) // 8) % 256) // 3 AS gray
      |  FROM imgs, range(8) xs(x), range(8) ys(y)),
      |bits AS (
      |  SELECT g1.img_id,
      |    CAST(coalesce(sum(CASE WHEN g2.gray > g1.gray
      |      THEN CAST(1 AS BIGINT) << CAST(g1.y * 7 + g1.x AS INTEGER) END), 0) AS BIGINT) AS h
      |  FROM grid g1 JOIN grid g2
      |    ON g2.img_id = g1.img_id AND g2.y = g1.y AND g2.x = g1.x + 1
      |  GROUP BY 1)""".stripMargin

  /** Fixture-side encoder row for the video-dedup gates: deterministic
    * seeded animated GIF ([[graft.operators.ImageCodec
    * .encodeAnimatedGifVariant]]), optional planted single-pixel edit in
    * frame seed%nf at exactly the grid-(3,3) downscale pick (flips ≤ 2
    * bits of that one frame's hash) — the [[imageFixtureRow]] discipline
    * on the frame axis.
    */
  private[graft] def videoFixtureRow(id: Long, seed: Int, w: Int, h: Int,
      nf: Int, edit: Boolean): (Long, Array[Byte]) =
    (id, graft.operators.ImageCodec.encodeAnimatedGifVariant(w, h, nf, seed,
      if (edit) seed % nf else -1,
      if (edit) 3 * w / 8 else -1, if (edit) 3 * h / 8 else -1))

  /** Per-frame dHash rows of a (vid_id, blob) frame — the ONE video
    * fingerprint rule every video-dedup gate shares: EVERY rendered frame
    * hashed (stride 1 — a skipped frame would blind the fingerprint to
    * edits there), undecodable blobs dropped (the [[imageBands]]
    * quarantine rule). nf rides along per row so aligned verification can
    * insist on equal frame counts without a second pass over the blobs.
    * @return (vid_id, nf, frame, h)
    */
  private[graft] def videoFrameHashes(df: DataFrame): DataFrame = df
    .select(col("vid_id"),
      graft.operators.Multimodal.frameDhashes(col("blob"), 1).as("fh"))
    .filter(col("fh").isNotNull)
    .select(col("vid_id"), size(col("fh")).as("nf"), explode(col("fh")).as("fr"))
    .select(col("vid_id"), col("nf"), col("fr.frame").as("frame"), col("fr.h").as("h"))

  /** The video twin of [[imageBands]]: per-frame 4×14-bit band explosion —
    * candidates join on (frame, band_key). Pigeonhole keeps this LOSSLESS
    * at the clip-level verify threshold: an aligned pair with TOTAL
    * hamming ≤ 3 has frame-0 hamming ≤ 3, so at least one frame-0 band is
    * identical and the pair must collide.
    */
  private[graft] def videoBands(fh: DataFrame): DataFrame = fh
    .select(col("vid_id"), col("frame"), col("h"), explode(array(
      (0 until 4).map(k =>
        shiftright(col("h"), k * 14).bitwiseAND(lit(16383L)) * 4 + k): _*)).as("band_key"))

  /** Banded candidate pairs + hamming-≤3 verify over a single-plane band
    * frame ([[imageBands]]/[[audioBands]] output) — the ONE pair rule the
    * image/audio near-dup gates and the multimodal router share:
    * self-join on band_key, dedup, verify on the two BIGINTs
    * (pigeonhole-lossless at the threshold).
    * @return (a, b, hamming) with a < b
    */
  private[queries] def bandPairsOf(bands: DataFrame, idCol: String): DataFrame =
    bandPairsOfAt(bands, idCol, 3)

  /** [[bandPairsOf]] at an explicit verify threshold — the lossy-image
    * (jpeg) leg verifies at the measured DCT drift bound (≤ 6) and must
    * pair with a banding whose pigeonhole covers it
    * ([[imageBandsLossy]]: 8 bands ⊃ any ≤7-bit drift leaves one intact).
    */
  private[queries] def bandPairsOfAt(bands: DataFrame, idCol: String,
                                     threshold: Int): DataFrame = {
    val rhs = bands.select(col("band_key"), col(idCol).as("b"), col("h").as("hb"))
    bands.select(col("band_key"), col(idCol).as("a"), col("h").as("ha"))
      .join(rhs, Seq("band_key")).filter(col("a") < col("b"))
      .select("a", "b", "ha", "hb").distinct()
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= threshold)
      .select("a", "b", "hamming")
  }

  /** Per-frame-banded candidate pairs + equal-length aligned-hamming-sum
    * verify over a [[videoFrameHashes]] frame — the ONE video pair rule
    * x_video_neardup and the multimodal router share (nf rides in the
    * equi-join keys, so unequal-length pairs yield zero aligned rows).
    * @return (a, b, hamming) with a < b
    */
  private[queries] def videoPairsOf(fh: DataFrame): DataFrame = {
    val vb = videoBands(fh)
    val cand = vb.select(col("frame"), col("band_key"), col("vid_id").as("a"))
      .join(vb.select(col("frame"), col("band_key"), col("vid_id").as("b")),
        Seq("frame", "band_key"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
    cand
      .join(fh.select(col("vid_id").as("a"), col("nf"),
        col("frame"), col("h").as("ha")), Seq("a"))
      .join(fh.select(col("vid_id").as("b"), col("nf"),
        col("frame"), col("h").as("hb")), Seq("b", "frame", "nf"))
      .groupBy("a", "b")
      .agg(sum(expr("bit_count(ha ^ hb)")).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** Fixture-side encoder row for TRIM/CONTAINMENT video gates (r14
    * verdict #1/#6): frames [frameBase, frameBase + nf) of the seed's
    * frame sequence ([[graft.operators.ImageCodec.encodeAnimatedGifVariant]]
    * with a frame offset) — a clone with leading/trailing frames cut, or
    * a short contiguous subsequence of a longer clip. Optional planted
    * single-pixel edit in clip-local frame seed % nf at the grid-(3,3)
    * pick (≤ 2 bits of that one frame's hash, so trimmed-plus-edited
    * clones still verify at the aligned threshold).
    */
  private[graft] def videoTrimFixtureRow(id: Long, seed: Int, w: Int, h: Int,
      nf: Int, frameBase: Int, edit: Boolean): (Long, Array[Byte]) =
    (id, graft.operators.ImageCodec.encodeAnimatedGifVariant(w, h, nf, seed,
      if (edit) seed % nf else -1,
      if (edit) 3 * w / 8 else -1, if (edit) 3 * h / 8 else -1,
      frameBase))

  /** TRIM/OFFSET-TOLERANT video near-dup pairs over a [[videoFrameHashes]]
    * frame — the bounded-containment rule (r14 verdict #1/#6): a pair
    * matches when the SHORTER clip's frames sit fully inside the longer
    * clip at some anchor p with the SUM of aligned per-frame hammings ≤ 3,
    * reported at the best anchor (min hamming, ties to the smallest p).
    * `maxLenDiff = Some(k)` is the TRIMMED regime (≤ k frames cut — the
    * overwhelming real-video near-dup class; anchors sweep 0..k);
    * `None` is full CONTAINMENT (a short clip anywhere inside a long one
    * — intro/outro cuts beyond the trim window; anchors sweep the whole
    * length difference).
    *
    * Nomination stays banded and LOSSLESS by pigeonhole PER OFFSET: an
    * aligned sum ≤ 3 makes the short clip's frame 0 sit within hamming 3
    * of the long clip's frame p, so one of frame 0's bands equals one of
    * frame p's — candidates come from a frame-0-bands × candidate-frame-
    * bands equi-join on band_key (first k+1 frames in the trimmed regime,
    * all frames for containment), NEVER all-pairs; both directions are
    * covered because length order is unknown before the length join.
    * At 100 TB: the band join shuffles 4·frames narrow rows per clip,
    * anchor sweep and verify compare BIGINTs over candidate pairs only —
    * pixels never shuffle (the [[videoPairsOf]] economics, plus a ≤
    * (k+1)× anchor factor on the candidate verify).
    *
    * KEY CONTRACT (r15 ADVICE): `fh` must hold exactly ONE row per
    * (vid_id, frame) — the verify SUMS bit_count over joined (f, f+p)
    * rows, so a duplicated id/frame would inflate the aligned sum and
    * silently turn true near-dups into false negatives. Both shipped
    * producers satisfy it by construction ([[videoFrameHashes]] /
    * [[audioSegmentsOf]] explode ONE per-blob array, whose `frame`/`seg`
    * entries are unique), so a caller feeding user corpora owes the same
    * uniqueness on (vid_id, frame) — dedup ids upstream, not here (a
    * defensive distinct would re-shuffle every caller for a contract the
    * shipped pipelines already meet). The same contract binds
    * [[videoAdmitVerdictsTrimmed]] (the durable-state twin of this rule).
    * @return (vid_long, vid_short, hamming, anchor) — vid_long is the
    *         clip with more frames (ties: the smaller id)
    */
  private[queries] def videoContainmentPairsOf(fh: DataFrame,
      maxLenDiff: Option[Int],
      toBands: DataFrame => DataFrame = videoBands): DataFrame = {
    val vb = toBands(fh)
    val probe = maxLenDiff match {
      case Some(k) => vb.filter(col("frame") <= k)
      case None => vb
    }
    val cand0 = vb.filter(col("frame") === 0)
      .select(col("band_key"), col("vid_id").as("u"))
      .join(probe.select(col("band_key"), col("vid_id").as("v")), Seq("band_key"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("x"), greatest(col("u"), col("v")).as("y"))
      .distinct()
    val lens = fh.select("vid_id", "nf").distinct()
    val oriented = cand0
      .join(lens.select(col("vid_id").as("x"), col("nf").as("nfx")), Seq("x"))
      .join(lens.select(col("vid_id").as("y"), col("nf").as("nfy")), Seq("y"))
      .select(
        when(col("nfx") >= col("nfy"), col("x")).otherwise(col("y")).as("l"),
        when(col("nfx") >= col("nfy"), col("y")).otherwise(col("x")).as("s"),
        greatest(col("nfx"), col("nfy")).as("nfl"),
        least(col("nfx"), col("nfy")).as("nfs"))
    val bounded = maxLenDiff match {
      case Some(k) => oriented.filter(col("nfl") - col("nfs") <= k)
      case None => oriented
    }
    // anchor sweep + aligned-sum verify: every short-side frame joins
    // exactly one long-side frame per anchor (containment keeps f + p in
    // range), so each (pair, p) group sums nfs aligned hammings
    val scored = bounded
      .withColumn("p", explode(sequence(lit(0L), (col("nfl") - col("nfs")).cast("long"))))
      .join(fh.select(col("vid_id").as("s"), col("frame").as("f"),
        col("h").as("hs")), Seq("s"))
      .withColumn("lf", col("f") + col("p"))
      .join(fh.select(col("vid_id").as("l"), col("frame").as("lf"),
        col("h").as("hl")), Seq("l", "lf"))
      .groupBy("l", "s", "p")
      .agg(sum(expr("bit_count(hs ^ hl)")).cast("long").as("d"))
      .filter(col("d") <= 3)
    scored.groupBy("l", "s")
      .agg(min(struct(col("d"), col("p"))).as("best"))
      .select(col("l").as("vid_long"), col("s").as("vid_short"),
        col("best.d").as("hamming"), col("best.p").cast("long").as("anchor"))
  }

  /** Per-SEGMENT fingerprint rows of a (clip_id, blob) frame in the
    * GENERIC sequence shape (vid_id, nf, frame, h) the video machinery
    * speaks — [[videoFrameHashes]] on the audio plane (r15, beyond the
    * r14 asks): the clip's identity is its segment-hash sequence
    * ([[graft.operators.AudioCodec.segmentFingerprintsRow]]), so a clone
    * with leading/trailing whole SEGMENTS cut is the same bounded-
    * containment problem [[videoContainmentPairsOf]] already solves —
    * one rule, two modalities — banded by the audio 4×8 split
    * ([[audioSegBands]]; a 32-bit hash under the video 14-bit split
    * would leave its top bands degenerate-zero and nominate all-pairs).
    */
  private[graft] def audioSegmentsOf(df: DataFrame, segLen: Int): DataFrame = df
    .select(col("clip_id").as("vid_id"),
      graft.operators.Multimodal.audioSegmentFingerprints(col("blob"), segLen).as("sh"))
    .filter(col("sh").isNotNull)
    .select(col("vid_id"), size(col("sh")).as("nf"), explode(col("sh")).as("sg"))
    .select(col("vid_id"), col("nf"), col("sg.seg").as("frame"), col("sg.h").as("h"))

  /** WIDE (64-bit) segment fingerprints over the generic sequence shape
    * (r17 — the contract-18b band-space fix): the [[audioSegmentsOf]]
    * projection over [[graft.operators.Multimodal
    * .audioSegmentFingerprintsWide]]. `segLen` must be a multiple of 65
    * (canonical 325 → exact 5-sample windows, closed-form-oracle shape).
    */
  private[graft] def audioSegmentsWideOf(df: DataFrame, segLen: Int): DataFrame = df
    .select(col("clip_id").as("vid_id"),
      graft.operators.Multimodal.audioSegmentFingerprintsWide(
        col("blob"), segLen).as("sh"))
    .filter(col("sh").isNotNull)
    .select(col("vid_id"), size(col("sh")).as("nf"), explode(col("sh")).as("sg"))
    .select(col("vid_id"), col("nf"), col("sg.seg").as("frame"), col("sg.h").as("h"))

  /** The WIDE audio banding: 4 bands × 16 bits over the 64-bit segment
    * hash — a 262,144-key space (vs the 32-bit hash's 1,024), so at bulk
    * scale each (commit, bucket) state file holds a sparse key slice and
    * its bloom keeps pruning (the saturation mechanism the contract-18b
    * census records). Pigeonhole-lossless at the ≤3 verify, like every
    * 4-way banding. Arithmetic shiftright is safe: the 16-bit mask drops
    * the sign extension.
    */
  private[graft] def audioSegBandsWide(fh: DataFrame): DataFrame = fh
    .select(col("vid_id"), col("frame"), col("h"), explode(array(
      (0 until 4).map(k =>
        shiftright(col("h"), k * 16).bitwiseAND(lit(65535L)) * 4 + k): _*)).as("band_key"))

  /** The streaming WIDE-fingerprint offset-audio dedup crawl loop — the
    * 64-bit instantiation of the generic containment loop (r17): the SAME
    * machinery as [[streamIncrementalAudioDedupOffset]] with the wide
    * sequence and the 4×16 banding plugged in. Contract 18b runs it at
    * 30× and REQUIREs the bulk-regime band probes to PRUNE where the
    * 32-bit loop's saturate.
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalAudioDedupWide(s: SparkSession,
      stage: String, schema: org.apache.spark.sql.types.StructType,
      bandState: graft.table.GraftTable, sigState: graft.table.GraftTable,
      results: graft.table.GraftTable, segLen: Int = 325, maxLenDiff: Int = 2,
      filesPerTrigger: Int = 1,
      onBandScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    streamIncrementalContainDedup(s, stage, schema, bandState, sigState,
      results, audioSegmentsWideOf(_, segLen), audioSegBandsWide, "tw",
      maxLenDiff, filesPerTrigger, onBandScanMetrics)

  /** ONSET-ALIGNED segment fingerprints (r16 verdict #4): the
    * [[audioSegmentsOf]] shape over the content-anchored grid —
    * [[graft.operators.Multimodal.audioSegmentFingerprintsOnset]] anchors
    * segment 0 at the first sample deviating from the leading value by
    * more than `tol`, so ANY off-grid trim confined to a uniform lead
    * (plus any trailing trim) pairs at hamming 0 through the unchanged
    * containment rule. Body-cutting trims move the anchor and fall back
    * to the dual-phase 165-sample floor — the re-documented residual.
    */
  private[graft] def audioSegmentsOnsetAligned(df: DataFrame, segLen: Int,
      tol: Int = 4): DataFrame = df
    .select(col("clip_id").as("vid_id"),
      graft.operators.Multimodal.audioSegmentFingerprintsOnset(
        col("blob"), segLen, tol).as("sh"))
    .filter(col("sh").isNotNull)
    .select(col("vid_id"), size(col("sh")).as("nf"), explode(col("sh")).as("sg"))
    .select(col("vid_id"), col("nf"), col("sg.seg").as("frame"), col("sg.h").as("h"))

  /** DUAL-PHASE segment fingerprints (r15 verdict #4): every clip is
    * fingerprinted on TWO segment grids — phase 0 and phase segLen/2 —
    * each becoming its own sequence identity (composite id = clip_id·2 +
    * phase index), so a trim that is any multiple of segLen/2 lands
    * segment-aligned on SOME grid of each side and the UNCHANGED
    * containment rule pairs the matching phases. Halves the alignment
    * granularity for 2× the (narrow, hash-only) sequence rows and 2×
    * decode at ingest (a production kernel folds both grids into one
    * decode pass; the two projections here keep the shipped kernel
    * single-purpose). Residual offsets under segLen/2 still perturb every
    * window — the documented front-end boundary, pinned by the gate's
    * must-NOT-pair plant.
    */
  private[graft] def audioSegmentsDualPhase(df: DataFrame, segLen: Int): DataFrame = {
    // Composite-id domain guard (r16 ADVICE): clip_id·2 + ph overflows for
    // ids at or above Long.MaxValue/2, and negative ids break the
    // group-atomic `div` rollup's floor pairing — both would silently land
    // a clip's two phases in different admission groups. Fail loudly
    // per-row instead; callers hashing to 63+ bits must mask first.
    val guarded = when(
      col("clip_id").isNull || col("clip_id") < 0 ||
        col("clip_id") >= lit(Long.MaxValue / 2),
      raise_error(concat(lit("audioSegmentsDualPhase: clip_id must be in [0, Long.MaxValue/2), got "),
        coalesce(col("clip_id").cast("string"), lit("NULL"))))
    ).otherwise(col("clip_id") * 2)
    def onePhase(ph: Int) = df
      .select((guarded + lit(ph)).as("vid_id"),
        graft.operators.Multimodal.audioSegmentFingerprints(
          col("blob"), segLen, ph * segLen / 2).as("sh"))
      .filter(col("sh").isNotNull)
      .select(col("vid_id"), size(col("sh")).as("nf"), explode(col("sh")).as("sg"))
      .select(col("vid_id"), col("nf"), col("sg.seg").as("frame"), col("sg.h").as("h"))
    onePhase(0).unionByName(onePhase(1))
  }

  /** TEMPORAL NORMALIZATION (r16 verdict #5 — the frame-axis twin of the
    * normalize-then-hash image resize): re-sample every clip's hash
    * sequence onto a canonical `c`-frame grid — canonical slot k carries
    * clip frame (k·nf) div c — so a frame-rate-resampled clone (every
    * s-th frame of its base) and the base land on the SAME content frames
    * whenever both frame counts are multiples of c (k·(nf/c) composes
    * exactly; the image lattice argument on the time axis), and the
    * UNCHANGED equal-length pair rule compares them. Off-lattice frame
    * counts drift picks — the same documented residual class as
    * off-lattice image sizes. Pure column algebra over the already-
    * extracted (vid_id, nf, frame, h) rows: no second decode, map-side.
    */
  private[graft] def videoFramesCanonical(fh: DataFrame, c: Int): DataFrame = fh
    .filter(col("nf") >= c)
    .select(col("vid_id"), col("nf"), col("frame"), col("h"),
      explode(sequence(lit(0), lit(c - 1))).as("k"))
    .filter(col("frame") === expr(s"(k * nf) div $c"))
    .select(col("vid_id"), lit(c).as("nf"), col("k").as("frame"), col("h"))

  /** The audio 4×8-bit band explosion over the generic sequence shape —
    * the per-segment twin of [[audioBands]], fed to
    * [[videoContainmentPairsOf]] as its banding rule.
    */
  private[graft] def audioSegBands(fh: DataFrame): DataFrame = fh
    .select(col("vid_id"), col("frame"), col("h"), explode(array(
      (0 until 4).map(k =>
        shiftright(col("h"), k * 8).bitwiseAND(lit(255L)) * 4 + k): _*)).as("band_key"))

  /** Fixture-side encoder row for the OFFSET-audio gates: seeded 8-bit
    * WAV rendering samples [segBase·segLen, segBase·segLen +
    * nSegs·segLen) of the seed's sample sequence ([[graft.operators
    * .AudioCodec.encodeAudioVariant]] with a sample offset — the
    * [[videoTrimFixtureRow]] discipline on the audio plane), optional
    * planted single-sample edit at the clip midpoint (perturbs one
    * window of one segment — ≤ 2 bits of that segment's hash).
    */
  private[graft] def audioOffsetFixtureRow(id: Long, seed: Int, nSegs: Int,
      segLen: Int, segBase: Int, edit: Boolean): (Long, Array[Byte]) = {
    require(segLen % 33 == 0, s"segment length $segLen must be a multiple of 33")
    val n = nSegs * segLen
    (id, graft.operators.AudioCodec.encodeAudioVariant(n, seed,
      if (edit) n / 2 else -1, sampleBase = segBase * segLen))
  }

  /** The closed-form per-SEGMENT fingerprint recomputation every
    * offset-audio gate's DuckDB oracle shares — segment/window sums + bit
    * packing over a `clips(clip_id, seed, n, sb, e, ...)` CTE (the
    * [[audioOracleBits]] discipline on the segment axis: 330-sample
    * segments, 10-sample windows; `sb` is the SAMPLE base the clip's
    * values carry, `e` the clip-local edited sample). `maxN` bounds the
    * sample range (≥ the largest fixture clip).
    */
  private[queries] def audioOracleSegBits(maxN: Int): String =
    s"""smp AS (
      |  SELECT clip_id, x // 330 AS seg, (x % 330) // 10 AS w,
      |    CASE WHEN x = e THEN (((x + sb) * (13 + 7 * seed) + 31) % 256 + 128) % 256
      |         ELSE ((x + sb) * (13 + 7 * seed) + 31) % 256 END AS s
      |  FROM clips, range($maxN) t(x) WHERE x < n),
      |ws AS (SELECT clip_id, seg, w, CAST(sum(s) AS BIGINT) AS sw
      |  FROM smp GROUP BY 1, 2, 3),
      |sbits AS (
      |  SELECT a.clip_id, a.seg,
      |    CAST(coalesce(sum(CASE WHEN b.sw > a.sw
      |      THEN CAST(1 AS BIGINT) << CAST(a.w AS INTEGER) END), 0) AS BIGINT) AS h
      |  FROM ws a JOIN ws b ON b.clip_id = a.clip_id AND b.seg = a.seg
      |    AND b.w = a.w + 1
      |  GROUP BY 1, 2)""".stripMargin

  /** The closed-form WIDE-fingerprint recomputation (r17): 325-sample
    * segments × 65 exact 5-sample windows → 64 adjacent-sign bits per
    * segment, over the same `clips(clip_id, seed, n, sb, e, ...)` CTE
    * shape as [[audioOracleSegBits]]. Bit 63 shifts into the BIGINT sign —
    * identical two's-complement semantics on both engines, and only
    * xor/bit_count ever touch the value.
    */
  private[queries] def audioOracleSegBitsWide(maxN: Int): String =
    s"""smp AS (
      |  SELECT clip_id, x // 325 AS seg, (x % 325) // 5 AS w,
      |    CASE WHEN x = e THEN (((x + sb) * (13 + 7 * seed) + 31) % 256 + 128) % 256
      |         ELSE ((x + sb) * (13 + 7 * seed) + 31) % 256 END AS s
      |  FROM clips, range($maxN) t(x) WHERE x < n),
      |ws AS (SELECT clip_id, seg, w, CAST(sum(s) AS BIGINT) AS sw
      |  FROM smp GROUP BY 1, 2, 3),
      |sbits AS (
      |  SELECT a.clip_id, a.seg,
      |    CAST(coalesce(sum(CASE WHEN b.sw > a.sw THEN
      |      CASE WHEN a.w = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
      |           ELSE CAST(1 AS BIGINT) << CAST(a.w AS INTEGER) END
      |      END), 0) AS BIGINT) AS h
      |  FROM ws a JOIN ws b ON b.clip_id = a.clip_id AND b.seg = a.seg
      |    AND b.w = a.w + 1
      |  GROUP BY 1, 2)""".stripMargin
  // bit 63 of the wide hash is the BIGINT sign: DuckDB range-checks
  // 1 << 63, so the oracle adds the two's-complement constant instead —
  // any subset sum of {2^0..2^62, -2^63} stays in the BIGINT domain, and
  // the total IS the signed long whose bit 63 is set.

  /** The closed-form DUAL-PHASE per-segment fingerprint recomputation the
    * sub-segment audio gates' oracles share — both phase grids (0 and
    * 165) of every clip in a `clips(clip_id, seed, n, sb, e, ...)` CTE,
    * full segments only, ending in `sb2(sid, clip_id, seg, h)` with the
    * composite id sid = clip_id·2 + phase (the
    * [[audioSegmentsDualPhase]] identity). `maxN` bounds the sample range
    * (≥ the largest fixture clip).
    */
  private[queries] def audioOracleDualPhaseBits(maxN: Int): String =
    s"""smp AS (
      |  SELECT clip_id, ph.p, (x - 165 * ph.p) // 330 AS seg,
      |    ((x - 165 * ph.p) % 330) // 10 AS w,
      |    CASE WHEN x = e THEN (((x + sb) * (13 + 7 * seed) + 31) % 256 + 128) % 256
      |         ELSE ((x + sb) * (13 + 7 * seed) + 31) % 256 END AS s
      |  FROM clips, range(2) ph(p), range($maxN) t(x)
      |  WHERE x >= 165 * ph.p
      |    AND x - 165 * ph.p < ((n - 165 * ph.p) // 330) * 330 AND x < n),
      |ws AS (SELECT clip_id, p, seg, w, CAST(sum(s) AS BIGINT) AS sw
      |  FROM smp GROUP BY 1, 2, 3, 4),
      |sbits AS (
      |  SELECT a.clip_id, a.p, a.seg,
      |    CAST(coalesce(sum(CASE WHEN b.sw > a.sw
      |      THEN CAST(1 AS BIGINT) << CAST(a.w AS INTEGER) END), 0) AS BIGINT) AS h
      |  FROM ws a JOIN ws b ON b.clip_id = a.clip_id AND b.p = a.p
      |    AND b.seg = a.seg AND b.w = a.w + 1
      |  GROUP BY 1, 2, 3),
      |sb2 AS (SELECT clip_id * 2 + p AS sid, clip_id, seg, h FROM sbits)""".stripMargin

  /** Two-plane probe + aligned-sum admission verdicts — the video twin of
    * [[bandAdmitVerdicts]], shaped like the fuzzy-text crawl (nominate on
    * a narrow signature plane, fetch candidates through a pruned read):
    * the batch's FRAME-0 bands probe the band plane through an In read
    * (pigeonhole makes frame-0 nomination complete: total aligned hamming
    * ≤ 3 ⇒ frame-0 hamming ≤ 3 ⇒ some frame-0 band collides), the
    * nominated history vids' FULL hash sequences come from a vid_id-
    * pruned read of the sequence plane, and the pair verifies on equal
    * frame counts + SUM of aligned per-frame hammings ≤ 3. Admitted ⇔
    * zero verified matches. localCheckpointed: callers read it for the
    * state appends AND the output.
    * @param bandState  (vid_id, band_key) — frame-0 bands, band_key-
    *                   bucketed + bloom'd (the nomination plane)
    * @param sigState   (vid_id, nf, frame, h) — vid_id-bucketed + bloom'd
    *                   (the sequence plane the verify fetches from)
    * @param batchFh    [[videoFrameHashes]] of the batch, pinned
    * @return (vid_id, matches, admitted)
    */
  private[queries] def videoAdmitVerdicts(s: SparkSession,
      bandState: graft.table.GraftTable, sigState: graft.table.GraftTable,
      batchFh: DataFrame,
      onBandScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): DataFrame = {
    // Measured broadcast discipline (opt guide §3.1), as in
    // [[bandAdmitVerdicts]]: the probe bands, the candidate pair set and
    // the verdict aggregate are all batch-bounded but RDD-backed (no size
    // stats), so without explicit hints every join below plans shuffled.
    // The budget is measured on the batch's FRAME rows (callers pin
    // batchFh, so the count is one cheap job) — every hinted side below
    // is bounded by them: f0 ≤ 4·clips, cand ≤ clips·matches,
    // cand ⋈ batchFh ≤ frame rows · matches. Within the budget the whole
    // nominate→fetch→verify chain runs broadcast-side with the batch /
    // candidate side as the build side and the state scans streaming —
    // the shape that is also right at 100 TB, where the pruned state
    // read dwarfs the batch; past it the joins keep their shuffled shape.
    val (_, fits) = measuredPairs(batchFh, alreadyPinned = true)
    val f0 = videoBands(batchFh.filter(col("frame") === 0))
      .select(col("vid_id"), col("band_key"))
    val bandScan = bandState.scanWithRuntimeFilter(f0, "band_key", "band_key",
      maxKeys = CrawlProbeMaxKeys)
    onBandScanMetrics(bandScan.metrics)
    val (cand, _) = pinMeasured( // bounds the vid_id fetch probe below
      maybeBroadcast(f0, fits)
        .join(bandScan.toDF(s).select(col("band_key"),
          col("vid_id").as("hist_id")), Seq("band_key"))
        .select(col("vid_id"), col("hist_id")).distinct())
    val histFh = sigState.scanWithRuntimeFilter(
      cand.select(col("hist_id").as("vid_id")), "vid_id", "vid_id",
      maxKeys = CrawlProbeMaxKeys).toDF(s)
    // the verify side is frame rows × matches-per-clip — a near-budget
    // batch whose clips collide with many history ids can exceed the
    // batchFh-derived budget, so its hint is bounded ON ITS OWN (r18
    // ADVICE): |cand| × max frames-per-clip upper-bounds the joined side,
    // from the pinned cand's plan-time row count and one tiny max() on
    // the pinned batchFh; past the bound the join keeps its shuffled
    // shape instead of force-broadcasting an unbounded side
    val vFits = fits && localRowCount(cand).exists { nc =>
      val nfMax = Option(batchFh.agg(max(col("nf"))).head.get(0))
        .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
      nc * math.max(1L, nfMax) <= broadcastCap(s)
    }
    // nf rides in the equi-join keys: unequal-length pairs produce zero
    // aligned rows and can never verify — no post-hoc mismatch filter,
    // and their overlap rows never shuffle
    val verified = maybeBroadcast(cand
        .join(batchFh.select(col("vid_id"), col("nf"),
          col("frame"), col("h").as("ha")), Seq("vid_id")), vFits)
      .join(histFh.select(col("vid_id").as("hist_id"), col("nf"),
        col("frame"), col("h").as("hb")), Seq("hist_id", "frame", "nf"))
      .groupBy("vid_id", "hist_id")
      .agg(sum(expr("bit_count(ha ^ hb)")).as("hamming"))
      .filter(col("hamming") <= 3)
    pinMeasured(batchFh.select("vid_id").distinct()
      .join(maybeBroadcast(verified.groupBy("vid_id")
          .agg(countDistinct(col("hist_id")).as("matches")), fits),
        Seq("vid_id"), "left")
      .select(col("vid_id"), coalesce(col("matches"), lit(0L)).as("matches"),
        col("matches").isNull.as("admitted")))._1
  }

  /** The TRIM-TOLERANT twin of [[videoAdmitVerdicts]] (r14 verdict #1's
    * durable leg): same two-plane shape, but the band plane carries the
    * first maxLenDiff+1 frames' bands of each admitted video and the
    * verify is the bounded-containment rule ([[videoContainmentPairsOf]]'s
    * semantics against history): a batch video REJECTS when some history
    * video within maxLenDiff frames of its length aligns fully-contained
    * at some anchor with aligned-hamming sum ≤ 3 — so a recrawl with a
    * frame or two trimmed (either direction: batch shorter OR longer) is
    * caught. Nomination is complete by pigeonhole per offset: whichever
    * side is shorter, its frame-0 bands collide with the other side's
    * frame-p bands (p ≤ maxLenDiff), and BOTH live in the probe — the
    * batch probes with its frames ≤ maxLenDiff, the plane stores history
    * frames ≤ maxLenDiff. Probe and fetch stay batch-bounded In reads.
    * KEY CONTRACT: one row per (vid_id, frame) in `batchFh` and in the
    * sequence plane — see [[videoContainmentPairsOf]] (the aligned SUM
    * inflates under duplicates, turning near-dups into false negatives).
    * @param bandState  (vid_id, band_key) — frames ≤ maxLenDiff bands
    * @param sigState   (vid_id, nf, frame, h) — full sequences
    * @return (vid_id, matches, admitted)
    */
  private[queries] def videoAdmitVerdictsTrimmed(s: SparkSession,
      bandState: graft.table.GraftTable, sigState: graft.table.GraftTable,
      batchFh: DataFrame, maxLenDiff: Int = 2,
      onBandScanMetrics: graft.table.ScanMetrics => Unit = _ => (),
      toBands: DataFrame => DataFrame = videoBands): DataFrame = {
    // Measured broadcast discipline (opt guide §3.1) — the
    // [[videoAdmitVerdicts]] rationale verbatim: every hinted side below
    // is bounded by the batch's frame rows (probe bands ≤ (maxLenDiff+1)·
    // 4·clips, cand ≤ clips·matches, the anchor-swept frame join ≤ frame
    // rows · matches · (maxLenDiff+1)), so one cheap count on the pinned
    // batchFh decides every hint; past the budget the shuffled shapes
    // are kept.
    val (_, fits) = measuredPairs(batchFh, alreadyPinned = true)
    val fK = toBands(batchFh.filter(col("frame") <= maxLenDiff))
      .select(col("vid_id"), col("band_key"))
    val bandScan = bandState.scanWithRuntimeFilter(fK, "band_key", "band_key",
      maxKeys = CrawlProbeMaxKeys)
    onBandScanMetrics(bandScan.metrics)
    val (cand, _) = pinMeasured( // bounds the vid_id fetch probe below
      maybeBroadcast(fK, fits)
        .join(bandScan.toDF(s).select(col("band_key"),
          col("vid_id").as("hist_id")), Seq("band_key"))
        .select(col("vid_id"), col("hist_id")).distinct())
    // NOT checkpointed: since the length columns ride the frame join below
    // the fetch is read exactly once, so inlining it keeps the In-filter
    // pushed down to the parquet scan inside the verify plan and drops a
    // whole materialize-execution from the per-batch hot path
    val histFh = sigState.scanWithRuntimeFilter(
      cand.select(col("hist_id").as("vid_id")), "vid_id", "vid_id",
      maxKeys = CrawlProbeMaxKeys).toDF(s)
    // orient by length, sweep anchors, verify containment: per (pair, p)
    // every SHORT-side frame joins exactly one long-side frame (bf − hf =
    // +p when the batch is longer, −p when history is), so each group
    // sums nfs aligned hammings. nf/nfh ride on EVERY frame row already,
    // so the pair lengths need no separate dims joins (the previous shape
    // paid two distinct()-exchanges + two joins to learn them); exploding
    // the anchor sweep after the frame join is row-for-row identical —
    // p's sequence depends only on (nf, nfh), constant per pair.
    // the anchor-swept verify side is frame rows × matches-per-clip — its
    // hint is bounded ON ITS OWN (r18 ADVICE), not inferred from batchFh:
    // |cand| × max frames-per-clip upper-bounds the joined side, from the
    // pinned cand's plan-time row count and one tiny max() on the pinned
    // batchFh; past the bound the join keeps its shuffled shape instead
    // of force-broadcasting an unbounded side
    val vFits = fits && localRowCount(cand).exists { nc =>
      val nfMax = Option(batchFh.agg(max(col("nf"))).head.get(0))
        .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
      nc * math.max(1L, nfMax) <= broadcastCap(s)
    }
    val verified = maybeBroadcast(cand
        .join(batchFh.select(col("vid_id"), col("nf"),
          col("frame").as("bf"), col("h").as("ha")), Seq("vid_id")), vFits)
      .join(histFh.select(col("vid_id").as("hist_id"), col("nf").as("nfh"),
          col("frame").as("hf"), col("h").as("hb")),
        Seq("hist_id"))
      .filter(abs(col("nf") - col("nfh")) <= maxLenDiff)
      .withColumn("blonger", col("nf") >= col("nfh"))
      .withColumn("p", explode(sequence(lit(0L),
        abs(col("nf") - col("nfh")).cast("long"))))
      .filter(col("bf") - col("hf") ===
        when(col("blonger"), col("p")).otherwise(-col("p")))
      .groupBy("vid_id", "hist_id", "p")
      .agg(sum(expr("bit_count(ha ^ hb)")).as("d"))
      .filter(col("d") <= 3)
      .select("vid_id", "hist_id").distinct()
    pinMeasured(batchFh.select("vid_id").distinct()
      .join(maybeBroadcast(verified.groupBy("vid_id")
          .agg(countDistinct(col("hist_id")).as("matches")), fits),
        Seq("vid_id"), "left")
      .select(col("vid_id"), coalesce(col("matches"), lit(0L)).as("matches"),
        col("matches").isNull.as("admitted")))._1
  }

  /** The streaming VIDEO-dedup crawl loop — the
    * x_stream_incremental_video_dedup pipeline body, shared with
    * StreamVideoDedupSpec; completes the video fingerprint's lifecycle
    * matrix (batch: x_video_neardup; durable + compacted:
    * x_incremental_video_dedup; retraction: x_video_dedup_retract; now
    * STREAMING). Per micro-batch of (vid_id, blob): per-frame dHash the
    * batch ([[videoFrameHashes]] — one decode pass), decide admissions
    * via [[videoAdmitVerdicts]] (frame-0 band nomination + vid_id-pruned
    * sequence fetch, both AS OF ARRIVAL), then THREE statementId-keyed
    * commits in results → sequences → bands order. Crash between any
    * two: the replay recomputes admissions against a band plane without
    * this batch's bands — identical verdicts (nomination never reads the
    * sequence plane's own batch rows) — and each landed append no-ops on
    * its ledger entry while the rest complete; bands-last means a batch's
    * own bands can never reject its replay. Within-batch videos never
    * nominate each other. Decoded bytes per batch are the batch's own;
    * the durable planes carry 4 + frames narrow rows per admitted video.
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalVideoDedup(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType,
      bandState: graft.table.GraftTable, sigState: graft.table.GraftTable,
      results: graft.table.GraftTable,
      filesPerTrigger: Int = 1,
      onBandScanMetrics: graft.table.ScanMetrics => Unit = _ => (),
      /** Sequence extractor — the default is the raw per-frame hash walk;
        * the frame-rate-resampled leg plugs the canonical re-sample in
        * front ([[videoFramesCanonical]]) and changes NOTHING else. */
      toSeq: DataFrame => DataFrame = videoFrameHashes): Int =
    runMicroBatched(s, stage, schema, filesPerTrigger) { (b, batchId) =>
      // measured driver-local pin (opt guide §3.1): In-probe collects and
      // candidate joins read the batch sequence job-free within the budget
      val (fh, _) = pinMeasured(toSeq(b))
      val verdicts = videoAdmitVerdicts(s, bandState, sigState, fh, onBandScanMetrics)
      val admitted = verdicts.filter(col("admitted")).select("vid_id")
      results.append(s, admitted, statementId = Some(s"$stage-vres-$batchId"))
      sigState.append(s, fh.join(admitted, Seq("vid_id"))
          .select("vid_id", "nf", "frame", "h"),
        statementId = Some(s"$stage-vsig-$batchId"))
      bandState.append(s,
        videoBands(fh.filter(col("frame") === 0)).join(admitted, Seq("vid_id"))
          .select("vid_id", "band_key"),
        statementId = Some(s"$stage-vband-$batchId")): Unit
    }

  /** The TRIM-TOLERANT streaming video-dedup crawl loop (r14 verdict #1's
    * streaming leg) — [[streamIncrementalVideoDedup]] with the bounded-
    * containment admission rule: verdicts come from
    * [[videoAdmitVerdictsTrimmed]] (anchor-swept aligned-hamming against
    * nominated history, either side may be the longer), and the band
    * plane stores the first maxLenDiff+1 frames' bands of each admitted
    * video so future batches nominate trimmed recrawls in BOTH length
    * directions. Same three statementId-keyed commits in results →
    * sequences → bands order with the identical crash-window argument
    * (nomination never reads the sequence plane's own batch rows; bands
    * last so a batch's own bands can never reject its replay).
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalVideoDedupTrimmed(s: SparkSession,
      stage: String, schema: org.apache.spark.sql.types.StructType,
      bandState: graft.table.GraftTable, sigState: graft.table.GraftTable,
      results: graft.table.GraftTable, maxLenDiff: Int = 2,
      filesPerTrigger: Int = 1,
      onBandScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    streamIncrementalContainDedup(s, stage, schema, bandState, sigState,
      results, videoFrameHashes, videoBands, "tv", maxLenDiff,
      filesPerTrigger, onBandScanMetrics)

  /** The streaming OFFSET-AUDIO dedup crawl loop — the audio
    * instantiation of the generic containment loop: per-segment
    * fingerprints ([[audioSegmentsOf]], 330-sample segments) as the
    * sequence, the audio 4×8 banding as the nomination plane. Completes
    * the offset-audio lifecycle (batch: x_audio_neardup_offset; durable:
    * x_incremental_audio_dedup_offset; now STREAMING).
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalAudioDedupOffset(s: SparkSession,
      stage: String, schema: org.apache.spark.sql.types.StructType,
      bandState: graft.table.GraftTable, sigState: graft.table.GraftTable,
      results: graft.table.GraftTable, segLen: Int = 330, maxLenDiff: Int = 2,
      filesPerTrigger: Int = 1,
      onBandScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    streamIncrementalContainDedup(s, stage, schema, bandState, sigState,
      results, audioSegmentsOf(_, segLen), audioSegBands, "ta", maxLenDiff,
      filesPerTrigger, onBandScanMetrics)

  /** The streaming FINE-TRIM audio dedup crawl loop — the ONSET-ALIGNED
    * instantiation of the generic containment loop (r17): sequences come
    * from [[audioSegmentsOnsetAligned]] (content-anchored grids), so
    * arbitrary off-grid trims confined to a clip's uniform lead — and any
    * trailing trim — reject against earlier batches at hamming 0 through
    * the unchanged two-plane machinery. Completes the fine-trim lifecycle
    * (batch: x_audio_neardup_finetrim; durable:
    * x_incremental_audio_dedup_finetrim; now STREAMING).
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalAudioDedupFinetrim(s: SparkSession,
      stage: String, schema: org.apache.spark.sql.types.StructType,
      bandState: graft.table.GraftTable, sigState: graft.table.GraftTable,
      results: graft.table.GraftTable, segLen: Int = 330, maxLenDiff: Int = 2,
      filesPerTrigger: Int = 1,
      onBandScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    streamIncrementalContainDedup(s, stage, schema, bandState, sigState,
      results, audioSegmentsOnsetAligned(_, segLen), audioSegBands, "tg",
      maxLenDiff, filesPerTrigger, onBandScanMetrics)

  /** The streaming SUB-SEGMENT audio dedup crawl loop — the dual-phase
    * instantiation of the generic containment loop (r16): every clip
    * fingerprints on BOTH phase grids ([[audioSegmentsDualPhase]],
    * composite id = clip·2 + phase), admission is CLIP-atomic
    * (idGroupDiv = 2), and both grids of each admitted clip persist — so
    * 165-multiple trims of earlier batches reject while sub-half-grid
    * offsets stay the documented front-end residual. Completes the
    * sub-segment lifecycle (batch: x_audio_neardup_subsegment; durable:
    * x_incremental_audio_dedup_subsegment; now STREAMING).
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalAudioDedupSubsegment(s: SparkSession,
      stage: String, schema: org.apache.spark.sql.types.StructType,
      bandState: graft.table.GraftTable, sigState: graft.table.GraftTable,
      results: graft.table.GraftTable, segLen: Int = 330, maxLenDiff: Int = 2,
      filesPerTrigger: Int = 1,
      onBandScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    streamIncrementalContainDedup(s, stage, schema, bandState, sigState,
      results, audioSegmentsDualPhase(_, segLen), audioSegBands, "ts",
      maxLenDiff, filesPerTrigger, onBandScanMetrics, idGroupDiv = Some(2))

  /** The ONE streaming CONTAINMENT-dedup loop body under the trimmed
    * video and offset-audio crawls — generic over the sequence extractor
    * and banding rule exactly like [[streamIncrementalBandDedup]] is for
    * the single-plane loops: per micro-batch, extract the (vid_id, nf,
    * frame, h) sequence, decide admissions via the trim-tolerant
    * two-plane rule ([[videoAdmitVerdictsTrimmed]] with the modality's
    * banding), then THREE statementId-keyed commits in results →
    * sequences → bands order — the [[streamIncrementalVideoDedup]]
    * crash-window argument verbatim (nomination never reads the sequence
    * plane's own batch rows; bands last so a batch's own bands can never
    * reject its replay).
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalContainDedup(s: SparkSession,
      stage: String, schema: org.apache.spark.sql.types.StructType,
      bandState: graft.table.GraftTable, sigState: graft.table.GraftTable,
      results: graft.table.GraftTable,
      toSeq: DataFrame => DataFrame, toBands: DataFrame => DataFrame,
      stmtPrefix: String, maxLenDiff: Int, filesPerTrigger: Int,
      onBandScanMetrics: graft.table.ScanMetrics => Unit,
      /** When Some(g), sequence ids are COMPOSITES of g-sized groups
        * (id = group·g + member — the [[audioSegmentsDualPhase]] identity
        * with g = 2) and admission is GROUP-atomic: a group admits only
        * when every member composite admits, and all member sequences
        * persist together — half-admitted clips can never seed the state.
        * The crash-window argument is unchanged (verdicts read state as
        * of arrival; the rollup is a deterministic function of them).
        */
      idGroupDiv: Option[Int] = None): Int =
    runMicroBatched(s, stage, schema, filesPerTrigger) { (b, batchId) =>
      // measured driver-local pin (opt guide §3.1): In-probe collects and
      // candidate joins read the batch sequence job-free within the budget
      val (fh, _) = pinMeasured(toSeq(b))
      val verdicts = videoAdmitVerdictsTrimmed(s, bandState, sigState, fh,
        maxLenDiff, onBandScanMetrics, toBands)
      val admittedRaw = idGroupDiv match {
        case Some(g) =>
          // INTEGER division (r16 ADVICE): `/` is double division, which
          // loses precision above 2^52 and could land a clip's two phase
          // composites in different groups, silently breaking the
          // group-atomic admission; `div` stays exact over the full Long
          // domain (composites are non-negative by the dual-phase guard).
          val grpAdm = verdicts
            .select(expr(s"vid_id div $g").as("grp"), col("admitted"))
            .groupBy("grp")
            .agg((min(col("admitted").cast("int")) === 1).as("adm"))
            .filter(col("adm")).select("grp")
          fh.select("vid_id").distinct()
            .join(grpAdm, expr(s"vid_id div $g") === col("grp"))
            .select("vid_id")
        case None => verdicts.filter(col("admitted")).select("vid_id")
      }
      // gates the results append AND both state appends
      val (admitted, _) = pinMeasured(admittedRaw)
      results.append(s, admitted, statementId = Some(s"$stage-${stmtPrefix}res-$batchId"))
      sigState.append(s, fh.join(admitted, Seq("vid_id"))
          .select("vid_id", "nf", "frame", "h"),
        statementId = Some(s"$stage-${stmtPrefix}sig-$batchId"))
      bandState.append(s,
        toBands(fh.filter(col("frame") <= maxLenDiff))
          .join(admitted, Seq("vid_id"))
          .select("vid_id", "band_key").distinct(),
        statementId = Some(s"$stage-${stmtPrefix}band-$batchId")): Unit
    }

  /** BULK-REGIME BATCH SIZING (r17 verdict #7) — the km/S true-overlap
    * law's operating rule. Contract 18b measured that a probe of k
    * distinct band keys keeps a state file holding m keys with
    * P ≈ 1 − e^(−km/S) through TRUE band overlaps (S = the modality's
    * band-key space), so once state files and batches are both corpus-
    * fraction-sized every probe keeps ~every file regardless of hash
    * width — BATCH SIZE is the bulk lever. When state files are
    * themselves batch-sized (the crawl loops' shape: one state file per
    * micro-batch commit), k ≈ c·b and m ≈ c·b for a batch of b ids
    * contributing c band keys each, so the largest batch whose expected
    * per-file keep fraction stays below `keepFraction` is
    *
    *   b* = sqrt(S · ln(1/(1−f))) / c
    *
    * (c²·b²/S < ln(1/(1−f)) ⇔ 1 − e^(−km/S) < f). `keysPerId` is the
    * MEASURED c — state band rows / state ids, metadata a caller already
    * has — so the rule adapts to the modality's real density instead of
    * assuming one. Contract 18b's derived-batch leg REQUIREs that the
    * 30× bulk regime, re-staged at b*, records probe fractions < 1 where
    * the corpus-sized batches saturate.
    */
  private[graft] def bulkBatchCap(bandSpace: Long, keysPerId: Double,
      keepFraction: Double): Long = {
    require(keepFraction > 0.0 && keepFraction < 1.0,
      s"keepFraction must be in (0, 1): $keepFraction")
    require(keysPerId > 0.0, s"keysPerId must be positive: $keysPerId")
    math.max(1L,
      (math.sqrt(bandSpace * math.log(1.0 / (1.0 - keepFraction))) / keysPerId).toLong)
  }

  /** The closed-form per-frame dHash recomputation every video gate's
    * DuckDB oracle shares — rendered-frame gray + bit packing over a
    * `vids(vid_id, seed, w, h, nf, ef, ex, ey, ...)` CTE (the
    * [[imageOracleGridBits]] discipline on the frame axis; gray = the
    * grayscale sample itself, since the GIF palette round-trips it
    * bit-exactly and (v+v+v)/3 = v). Covers nf ≤ 8.
    */
  private[queries] val videoOracleFrameBits: String =
    """vgrid AS (
      |  SELECT vid_id, f, x, y,
      |    ((((x * w) // 8) * (31 + 11 * seed) + ((y * h) // 8) * (17 + 5 * seed) + f * 7)
      |     + CASE WHEN f = ef AND (x * w) // 8 = ex AND (y * h) // 8 = ey
      |        THEN 128 ELSE 0 END) % 256 AS gray
      |  FROM vids, range(8) xs(x), range(8) ys(y), range(8) fs(f)
      |  WHERE f < nf),
      |vbits AS (
      |  SELECT g1.vid_id, g1.f,
      |    CAST(coalesce(sum(CASE WHEN g2.gray > g1.gray
      |      THEN CAST(1 AS BIGINT) << CAST(g1.y * 7 + g1.x AS INTEGER) END), 0) AS BIGINT) AS h
      |  FROM vgrid g1 JOIN vgrid g2
      |    ON g2.vid_id = g1.vid_id AND g2.f = g1.f AND g2.y = g1.y AND g2.x = g1.x + 1
      |  GROUP BY 1, 2)""".stripMargin

  /** [[videoOracleFrameBits]] generalized with a FRAME OFFSET column: the
    * `vids` CTE additionally carries `fb` (frameBase) and clip-local frame
    * f renders gradient frame f + fb — the closed form of
    * [[videoTrimFixtureRow]]'s trimmed/subsequence clips. Covers nf ≤ 8.
    */
  private[queries] val videoOracleFrameBitsOffset: String =
    """vgrid AS (
      |  SELECT vid_id, f, x, y,
      |    ((((x * w) // 8) * (31 + 11 * seed) + ((y * h) // 8) * (17 + 5 * seed) + (f + fb) * 7)
      |     + CASE WHEN f = ef AND (x * w) // 8 = ex AND (y * h) // 8 = ey
      |        THEN 128 ELSE 0 END) % 256 AS gray
      |  FROM vids, range(8) xs(x), range(8) ys(y), range(8) fs(f)
      |  WHERE f < nf),
      |vbits AS (
      |  SELECT g1.vid_id, g1.f,
      |    CAST(coalesce(sum(CASE WHEN g2.gray > g1.gray
      |      THEN CAST(1 AS BIGINT) << CAST(g1.y * 7 + g1.x AS INTEGER) END), 0) AS BIGINT) AS h
      |  FROM vgrid g1 JOIN vgrid g2
      |    ON g2.vid_id = g1.vid_id AND g2.f = g1.f AND g2.y = g1.y AND g2.x = g1.x + 1
      |  GROUP BY 1, 2)""".stripMargin

  /** The audio twin of [[imageBands]]: windowed-energy fingerprint +
    * 4×8-bit band explosion of a (clip_id, blob) frame (band key =
    * value·4 + k over a 32-bit nonnegative hash); same pigeonhole
    * losslessness at hamming ≤ 3, same drop rule for undecodables.
    */
  private[graft] def audioBands(df: DataFrame): DataFrame = df
    .select(col("clip_id"),
      graft.operators.Multimodal.audioFingerprint(col("blob")).as("h"))
    .filter(col("h").isNotNull)
    .select(col("clip_id"), col("h"), explode(array(
      (0 until 4).map(k =>
        shiftright(col("h"), k * 8).bitwiseAND(lit(255L)) * 4 + k): _*)).as("band_key"))

  /** Fixture-side encoder row for the audio-dedup gates: deterministic
    * seeded 8-bit mono WAV ([[graft.operators.AudioCodec
    * .encodeAudioVariant]]), optional planted single-sample edit at the
    * clip midpoint (perturbs one window sum — flips ≤ 2 fingerprint
    * bits), the [[imageFixtureRow]] discipline on the audio plane.
    */
  private[graft] def audioFixtureRow(id: Long, seed: Int, n: Int,
      edit: Boolean): (Long, Array[Byte]) = {
    // oracle-parity precondition (ADVICE r14): audioOracleBits assigns
    // sample x to window (x·33)//n while the engine uses boundary windows
    // [w·n/33, (w+1)·n/33) — identical ONLY when 33 | n, so every fixture
    // clip length must be a multiple of 33 or the two silently diverge at
    // window boundaries
    require(n % 33 == 0, s"audio fixture clip length $n must be a multiple of 33")
    (id, graft.operators.AudioCodec.encodeAudioVariant(n, seed,
      if (edit) n / 2 else -1))
  }

  /** The 16-BIT twin of [[audioFixtureRow]] (r14 verdict #2): deterministic
    * seeded 16-bit signed mono clip ([[graft.operators.AudioCodec
    * .encodeAudioVariant16]]), container chosen by the caller (WAV stores
    * the samples little-endian, AIFF big-endian — SAME samples, so
    * cross-container pairs fingerprint identically), optional planted
    * single-sample edit at the clip midpoint (perturbs one window sum —
    * flips ≤ 2 fingerprint bits). Same n % 33 == 0 oracle-parity
    * precondition as the 8-bit row.
    */
  private[graft] def audioFixtureRow16(id: Long, seed: Int, n: Int,
      edit: Boolean, container: String = "wav"): (Long, Array[Byte]) = {
    require(n % 33 == 0, s"audio fixture clip length $n must be a multiple of 33")
    (id, graft.operators.AudioCodec.encodeAudioVariant16(container, n, seed,
      if (edit) n / 2 else -1))
  }

  /** The closed-form windowed-energy fingerprint recomputation every audio
    * gate's DuckDB oracle shares — window sums + bit packing over a
    * `clips(clip_id, seed, n, e, ...)` CTE (the [[imageOracleGridBits]]
    * discipline on the audio plane). `maxN` bounds the sample range (≥ the
    * largest fixture clip; WHERE x < n trims per clip).
    *
    * FIXTURE CONTRACT: every clip length must satisfy n % 33 == 0
    * (enforced by [[audioFixtureRow]]). This CTE assigns sample x to
    * window (x·33)//n; the engine ([[graft.operators.AudioCodec
    * .fingerprintRow]]) uses boundary windows [w·n/33, (w+1)·n/33). The
    * two agree exactly when 33 | n and silently diverge at window
    * boundaries otherwise.
    */
  private[queries] def audioOracleBits(maxN: Int): String =
    s"""smp AS (
      |  SELECT clip_id, (x * 33) // n AS w,
      |    CASE WHEN x = e THEN ((x * (13 + 7 * seed) + 31) % 256 + 128) % 256
      |         ELSE (x * (13 + 7 * seed) + 31) % 256 END AS s
      |  FROM clips, range($maxN) t(x) WHERE x < n),
      |ws AS (SELECT clip_id, w, CAST(sum(s) AS BIGINT) AS sw FROM smp GROUP BY 1, 2),
      |bits AS (
      |  SELECT a.clip_id, CAST(coalesce(sum(CASE WHEN b.sw > a.sw
      |    THEN CAST(1 AS BIGINT) << CAST(a.w AS INTEGER) END), 0) AS BIGINT) AS h
      |  FROM ws a JOIN ws b ON b.clip_id = a.clip_id AND b.w = a.w + 1
      |  GROUP BY 1)""".stripMargin

  /** The MIXED-WIDTH twin of [[audioOracleBits]] for gates whose `clips`
    * CTE carries a `wide` flag: wide clips recompute the 16-bit encoder's
    * closed form (u = (x·(13 + 7·seed)·193 + 31) mod 65536, sample =
    * u − 32768, edit = half-range flip on u), narrow clips the 8-bit one
    * — the two sample domains of [[graft.operators.AudioCodec
    * .fingerprintRow]], in ONE shared CTE text so an 8↔16 cross pair is
    * brute-forceable. Same n % 33 == 0 fixture contract as the narrow CTE.
    */
  private[queries] def audioOracleBitsMixed(maxN: Int): String =
    s"""smp AS (
      |  SELECT clip_id, (x * 33) // n AS w,
      |    CASE WHEN wide THEN
      |      (CASE WHEN x = e THEN ((x * (13 + 7 * seed) * 193 + 31) % 65536 + 32768) % 65536
      |            ELSE (x * (13 + 7 * seed) * 193 + 31) % 65536 END) - 32768
      |    ELSE
      |      CASE WHEN x = e THEN ((x * (13 + 7 * seed) + 31) % 256 + 128) % 256
      |           ELSE (x * (13 + 7 * seed) + 31) % 256 END
      |    END AS s
      |  FROM clips, range($maxN) t(x) WHERE x < n),
      |ws AS (SELECT clip_id, w, CAST(sum(s) AS BIGINT) AS sw FROM smp GROUP BY 1, 2),
      |bits AS (
      |  SELECT a.clip_id, CAST(coalesce(sum(CASE WHEN b.sw > a.sw
      |    THEN CAST(1 AS BIGINT) << CAST(a.w AS INTEGER) END), 0) AS BIGINT) AS h
      |  FROM ws a JOIN ws b ON b.clip_id = a.clip_id AND b.w = a.w + 1
      |  GROUP BY 1)""".stripMargin

  /** The pruned multi-probe top-10 + certified-recall block shared by
    * x_ann_index_multiprobe and x_stream_ann_ingest — the "same probe"
    * claim is enforced by construction, not by copy: the query's
    * nprobe=2 cell list becomes ONE In-predicate scan of the cell-
    * partitioned index `t` (pruning certified via scan metrics —
    * candidates come from the PRUNED read; the query row and its panel
    * peers are corpus-excluded like every recall gate), ranked by the
    * shared TakeOrderedAndProject ranker (never a single-partition
    * window — the pruned read is still nprobe/K of the corpus at scale),
    * every top-10 row hit-flagged against exact brute force with ≥8/10
    * REQUIREd in-process. `queryId` selects the query vector (default 0;
    * x_ann_index_rebuild probes from the GROWN population, whose id
    * offset is a multiple of 97 so the %97 panel exclusion removes the
    * query row from the corpus for any queryId ≡ 0 mod 97).
    * @return (rank, neighbor_id, hit, probe_pruned, cells_probed)
    */
  private[graft] def prunedMultiprobeTopK(s: SparkSession,
      t: graft.table.GraftTable, clustered: DataFrame,
      cents: Seq[(Long, Array[Double])], queryId: Long = 0L): DataFrame = {
    import graft.format.Predicate
    val q = clustered.filter(col("vec_id") === queryId).select(col("v").as("q"))
    val probeCells = q
      .select(VF.ivfProbeCellsExact(col("q"), cents, nprobe = 2))
      .head.getSeq[Long](0)
    val scan = t.scan(Predicate.In("cell", probeCells))
    val cand = scan.toDF(s).filter(col("vec_id") % 97 =!= 0)
      .select(col("vec_id").as("neighbor_id"), col("v").as("c_emb"))
      .crossJoin(broadcast(q))
      .withColumn("sim", nanvl(VF.cosineSimilarity(col("q"), col("c_emb")),
        lit(null).cast("double")))
      .filter(col("sim").isNotNull)
    val top = VF.rankTopK(cand, "neighbor_id", 10)
      .select("rank", "neighbor_id")
    val brute = VF.bruteForceTopK(
        clustered.filter(col("vec_id") % 97 =!= 0), q, "vec_id", "v", 10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    require(brute.size == 10, "clustered corpus must yield a full brute top-10")
    val pruned = scan.metrics.filesScanned < scan.metrics.filesTotal
    val out = top
      .withColumn("hit", col("neighbor_id").isInCollection(brute))
      .withColumn("probe_pruned", lit(pruned))
      .withColumn("cells_probed", lit(probeCells.length.toLong))
      .orderBy("rank")
      .localCheckpoint() // certified below, then returned as-is
    val hits = out.collect().count(_.getAs[Boolean]("hit"))
    require(hits >= 8,
      s"pruned-probe recall floor broken: $hits/10 from cells $probeCells")
    out
  }

  /** [[prunedMultiprobeTopK]] with the QUANTIZED coarse-rank composed in —
    * what the durable index probe actually reads at 100 TB. The index
    * table stores int8 CODES beside the floats; the probe is the same
    * nprobe=2 In-predicate pruned scan, but the coarse pass ranks by
    * [[graft.functions.VectorFunctions.quantizedCosine]] over (vec_id,
    * codes) ONLY — the float column is column-pruned out of the coarse
    * read, a 4× byte cut on the probe's dominant I/O — and only the m=50
    * coarse winners are re-ranked by exact float cosine for the top 10
    * (the x_sim_quantized reduction law, now against the durable index),
    * the winner ids PUSHED into the float fetch as an In filter so the
    * re-rank never scans the cells' float column either (without the
    * pushdown, codes + floats of the probed cells would read MORE bytes
    * than floats alone — the cut would be fake). `codes_only_scan` pins
    * both halves as ReadSchema/PushedFilters FACTS: the coarse
    * projection's index scan reads codes and never floats, and the
    * executing re-rank plan fetches floats under an In(vec_id) pushdown
    * with codes absent. Hit-flagged vs exact brute force with the same
    * ≥8/10 floor REQUIREd in-process as the float probe.
    * @return (rank, neighbor_id, hit, probe_pruned, cells_probed,
    *         codes_only_scan)
    */
  private[graft] def prunedQuantizedTopK(s: SparkSession,
      t: graft.table.GraftTable, clustered: DataFrame,
      cents: Seq[(Long, Array[Double])]): DataFrame = {
    import graft.format.Predicate
    val q = clustered.filter(col("vec_id") === 0).select(col("v").as("q"))
    val probeCells = q
      .select(VF.ivfProbeCellsExact(col("q"), cents, nprobe = 2))
      .head.getSeq[Long](0)
    val scan = t.scan(Predicate.In("cell", probeCells))
    val corpus = scan.toDF(s).filter(col("vec_id") % 97 =!= 0)
    // plan-string facts below would silently weaken if Spark truncated
    // the metadata (ReadSchema/PushedFilters) out of the dump — raise
    // the limit for the pin, restore after
    val metaLenKey = "spark.sql.maxMetadataStringLength"
    val metaLenPrior = s.conf.get(metaLenKey)
    s.conf.set(metaLenKey, "100000")
    val (codesOnly, coarseScans, rerankScans, topk) = try {
      // BOTH pins land on the plans quantizedTopK actually executed: the
      // staged variant returns its coarse DataFrame (already run — the
      // winner collect), so the coarse ReadSchema fact is the executing
      // scan's, not a reconstruction that could drift from the
      // implementation. ReadSchema there is (vec_id, cell, codes): the
      // 8-byte cell column rides along because the probe's In-filter
      // re-checks it as a residual DataFilter — the byte cut being
      // pinned is the FLOAT column's absence.
      val (coarseExec, tk) = VF.quantizedTopKStaged(corpus, q,
        "vec_id", "v", 10, 50, "codes")
      // the facts are about the INDEX TABLE's scans — the executed plans
      // also contain the query vector's own (float) scan, filtered out
      // here by table name
      def indexScans(df: DataFrame): List[String] =
        df.queryExecution.executedPlan.toString
          .linesIterator.filter(l =>
            l.contains("graft-dpp") && l.contains(t.name)).toList
      val cs = indexScans(coarseExec)
      val coarseCodesOnly = cs.nonEmpty && cs.forall(l =>
        l.contains("codes:array<int>") && !l.contains("v:array<double>"))
      // re-rank-half pin: the coarse winners collapsed to a driver-side
      // id list, so tk's lineage IS the re-rank — its index scan must
      // fetch floats under the pushed In(vec_id) winner filter with
      // codes absent
      val rs = indexScans(tk)
      val rerankPushed = rs.nonEmpty && rs.forall(l =>
          l.contains("v:array<double>") && l.contains("In(vec_id") &&
          !l.contains("codes:array<int>"))
      (coarseCodesOnly && rerankPushed, cs, rs, tk)
    } finally s.conf.set(metaLenKey, metaLenPrior)
    val brute = VF.bruteForceTopK(
        clustered.filter(col("vec_id") % 97 =!= 0), q, "vec_id", "v", 10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    require(brute.size == 10, "clustered corpus must yield a full brute top-10")
    val pruned = scan.metrics.filesScanned < scan.metrics.filesTotal
    val out = topk
      .select(col("rank"), col("vec_id").as("neighbor_id"))
      .withColumn("hit", col("neighbor_id").isInCollection(brute))
      .withColumn("probe_pruned", lit(pruned))
      .withColumn("cells_probed", lit(probeCells.length.toLong))
      .withColumn("codes_only_scan", lit(codesOnly))
      .orderBy("rank")
      .localCheckpoint() // certified below, then returned as-is
    val hits = out.collect().count(_.getAs[Boolean]("hit"))
    require(hits >= 8,
      s"quantized pruned-probe recall floor broken: $hits/10 from cells $probeCells")
    require(codesOnly,
      "coarse must read codes only and the re-rank must fetch floats under " +
        s"the pushed winner filter; coarse scans:\n${coarseScans.mkString("\n")}\n" +
        s"re-rank scans:\n${rerankScans.mkString("\n")}")
    out
  }

  /** Streaming IVF-index ingest: replay the staged parquet directory as
    * a micro-batched stream and append every batch — assigned to its
    * [[graft.functions.VectorFunctions.ivfCellExact]] cell MAP-SIDE, no
    * stream state — to the identity-partitioned index table `t`. This is
    * the 100 TB vector-store maintenance shape: embeddings arrive
    * continuously, assignment is a per-row expression against frozen
    * centroids (never a re-clustering), and each micro-batch lands as
    * one atomic Graft commit so probes always read a consistent index
    * and a crashed ingest resumes from the checkpoint with no partial
    * files visible. Shared by x_stream_ann_ingest and
    * AnnStreamIngestSpec so the spec certifies the shipped ingest path.
    * @return number of non-empty micro-batches (== commits appended)
    */
  private[graft] def annStreamIngest(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType, t: graft.table.GraftTable,
      cents: Seq[(Long, Array[Double])], filesPerTrigger: Int): Int =
    streamIngestTransformed(s, stage, schema, t,
      _.withColumn("cell", VF.ivfCellExact(col("v"), cents)), filesPerTrigger)

  /** The shared micro-batched index-ingest rig under [[annStreamIngest]]
    * and [[keywordStreamIngest]]: replay the staged parquet directory as
    * an AvailableNow stream and append `derive(batch)` — a STATELESS
    * per-batch derivation (cell assignment, postings extraction) — to
    * the partitioned index table, one atomic Graft commit per non-empty
    * micro-batch. Exactly-once under CRASH recovery, not just graceful
    * completion: each append carries the GraftSink statementId discipline
    * (`<checkpoint>-batch-<batchId>`), so a micro-batch that committed to
    * the table but crashed before the stream's own commit log recorded it
    * replays as a table-side no-op. Restart semantics (same checkpoint ⇒
    * only new files) are additionally certified by AnnStreamIngestSpec.
    * @return number of non-empty micro-batches (== commits appended)
    */
  private[graft] def streamIngestTransformed(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType, t: graft.table.GraftTable,
      derive: DataFrame => DataFrame, filesPerTrigger: Int): Int =
    runMicroBatched(s, stage, schema, filesPerTrigger) { (b, batchId) =>
      t.append(s, derive(b),
        statementId = Some(s"$stage-ckpt-batch-$batchId")): Unit
    }

  /** The ONE micro-batched replay runner under every streaming-ingest
    * helper (index ingest, crawl dedup): AvailableNow over the staged
    * parquet directory, `body` per NON-EMPTY batch, checkpoint derived
    * from the stage path. On timeout the hung query is STOPPED before
    * throwing — a live stream left behind would keep committing under
    * any post-mortem inspection. One implementation so the timeout/
    * stop/batch-counting discipline cannot drift between helpers.
    * @return number of non-empty micro-batches
    */
  private[graft] def runMicroBatched(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType, filesPerTrigger: Int)(
      body: (DataFrame, Long) => Unit): Int = {
    var batches = 0
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(stage)
      .writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) {
          batches += 1
          body(b, batchId)
        }
      }
      .option("checkpointLocation", s"$stage-ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val done = q.awaitTermination(300000)
    if (!done && q.isActive) q.stop()
    require(done, s"runMicroBatched($stage): stream did not finish in 300s")
    batches
  }

  /** Streaming inverted-index ingest: each micro-batch of documents is
    * reduced to its [[postingsOf]] postings (token, doc_id, tf, bucket)
    * and appended to the bucket-partitioned index. Correct because a
    * document never spans micro-batches (the file source delivers whole
    * rows), so every (token, doc_id) tf is complete within its batch and
    * the streamed index equals the one-shot build row for row — the
    * continuous-crawl maintenance shape of a 100 TB lexical index.
    */
  private[graft] def keywordStreamIngest(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType, t: graft.table.GraftTable,
      filesPerTrigger: Int): Int =
    streamIngestTransformed(s, stage, schema, t, postingsOf, filesPerTrigger)

  /** The streaming crawl-dedup loop — the x_stream_incremental_dedup
    * pipeline body, shared with StreamIncrementalDedupSpec. Per
    * micro-batch of documents (doc_id, …, text): reduce to first-in-batch
    * (fp, min doc_id), anti-join the fingerprint `state` AS OF ARRIVAL
    * (history recrawls and earlier-batch admissions both reject), append
    * admitted ids to `results` and admitted fps to the state, each one
    * atomic statementId-keyed commit. The admitted set is PINNED per
    * batch (localCheckpoint): correctness, not perf — the state append
    * mutates the table the anti-join read, so a lazy plan recomputed
    * later could reject its own batch.
    *
    * CRASH-CONSISTENT by ordering + idempotency: results commits BEFORE
    * state. A crash between them replays the batch against a state that
    * does NOT yet hold its fps, so the recomputed admitted set is
    * identical, the results append no-ops on its statementId, and the
    * state append completes. A crash after both (or before either)
    * replays as two no-ops (or a clean re-run). The reverse order would
    * lose admissions forever: state-first would make the replayed
    * anti-join reject the batch's own fps before results ever committed.
    *
    * `filesPerTrigger` is THE batch-sizing knob the honest-cost note in
    * the gate names: each micro-batch pays ONE anti-join scan of the
    * fingerprint state, so the per-corpus state-scan count equals the
    * BATCH count, not the row count — size batches so that scan
    * amortizes (StreamIncrementalDedupSpec measures: same staged corpus,
    * 3 batches at the default vs 1 batch at filesPerTrigger=3, identical
    * admissions, state-scan/commit count 3 vs 1). And the scan itself is
    * a RUNTIME-FILTERED read: the batch's fp set is a bounded driver
    * collect (it is the batch, already reduced to first-in-batch), pushed
    * as an In probe so the state's fp-bloom and bucket planes skip files
    * — sound for the anti-join because a pruned-away state row's fp is
    * outside the batch set and could never reject anything. md5-uniform
    * min/max bounds cannot prune, but the bloom plane can: on SMALL
    * batches the probe reads only the files that plausibly hold the
    * batch's fps (measured in StreamIncrementalDedupSpec); above
    * `scanWithRuntimeFilter`'s key cap it degrades to the full scan —
    * never wrong, just unpruned (the S15 discipline).
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalDedup(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType,
      state: graft.table.GraftTable, results: graft.table.GraftTable,
      filesPerTrigger: Int = 1,
      onStateScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    runMicroBatched(s, stage, schema, filesPerTrigger) { (b, batchId) =>
      // pinned driver-local within the budget (pinMeasured): the In-probe
      // collect and the anti-join's build side then cost zero extra jobs
      val (first, _) = pinMeasured(
        b.select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
          .groupBy("fp").agg(min(col("doc_id")).as("doc_id")))
      val stateScan = state.scanWithRuntimeFilter(first, "fp", "fp",
        maxKeys = CrawlProbeMaxKeys)
      onStateScanMetrics(stateScan.metrics)
      val (adm, _) = pinMeasured(first // pinned BEFORE the state mutates below
        .join(stateScan.toDF(s).select(col("fp")), Seq("fp"), "left_anti"))
      results.append(s, adm.select(col("doc_id")),
        statementId = Some(s"$stage-res-$batchId"))
      state.append(s, adm.select(col("fp")),
        statementId = Some(s"$stage-fp-$batchId")): Unit
    }

  /** Stage `df` as `nSlices` parquet slices in slice order with
    * EXPLICITLY stamped strictly-increasing mtimes, so the file stream
    * source replays them deterministically oldest-first. The order
    * cannot be left to the filesystem clock: coarse (1 s) mtime
    * granularity can tie adjacent writes and replay them swapped — the
    * r10-ADVICE lesson. Shared by the streaming gates and
    * ScaleSmoke.stageSlices (via [[stagePreSliced]]) so the stamping
    * discipline cannot drift. `slice` must evaluate to 0..nSlices-1.
    */
  private[graft] def stageOrderedSlices(df: DataFrame, stage: String,
      slice: org.apache.spark.sql.Column, nSlices: Int,
      filesPerSlice: Int = 1): Unit =
    stagePreSliced(df.withColumn("_slice", slice), stage, nSlices, filesPerSlice)

  /** [[stageOrderedSlices]] body for callers that already carry a
    * `_slice` column (0..nSlices-1) — ScaleSmoke derives its slice from
    * event time on a column it must then drop, so it pre-slices.
    */
  private[graft] def stagePreSliced(withSlice: DataFrame, stage: String,
      nSlices: Int, filesPerSlice: Int): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val sliced = withSlice.localCheckpoint()
    val stamped = scala.collection.mutable.Set[Path]()
    val base = System.currentTimeMillis()
    for (k <- 0 until nSlices) {
      sliced.filter(col("_slice") === k).drop("_slice")
        .coalesce(filesPerSlice).write.mode("append").parquet(stage)
      val walk = Files.walk(Paths.get(stage))
      try walk.forEach { f =>
        if (Files.isRegularFile(f) && !stamped.contains(f)) {
          Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime.fromMillis(base + k * 1000L))
          stamped.add(f)
        }
      } finally walk.close()
    }
    sliced.unpersist(): Unit
  }

  /** Per-user funnel stages (view → click → purchase, each step strictly
    * AFTER the previous one's first occurrence) — the x_funnel pipeline
    * body, shared with ScaleSmoke contract 10 so the smoke certifies
    * shipped code. Three chained keyed windows over ONE user-id exchange;
    * NULL propagation implements the funnel ordering (see the gate
    * comment). Input: (user_id, event_type, ts).
    * @return (user_id, reached, gap12_us, gap23_us) — unordered
    */
  private[graft] def funnelStages(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    val staged = ev.select("user_id", "event_type", "ts")
      .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ts") > col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") > col("t2"), col("ts"))).over(w))
    staged.groupBy("user_id")
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
      .select(col("user_id"),
        when(col("t3").isNotNull, 3L)
          .when(col("t2").isNotNull, 2L)
          .when(col("t1").isNotNull, 1L).otherwise(0L).as("reached"),
        (unix_micros(col("t2").cast("timestamp")) -
          unix_micros(col("t1").cast("timestamp"))).as("gap12_us"),
        (unix_micros(col("t3").cast("timestamp")) -
          unix_micros(col("t2").cast("timestamp"))).as("gap23_us"))
  }

  /** Per-user consecutive-event transition matrix — the
    * x_event_transitions pipeline body, shared with ScaleSmoke contract
    * 10. One keyed exchange + a lag window per user, then a hash agg onto
    * the |types|² matrix; ordering ties break by event_id. Input:
    * (user_id, event_type, ts, event_id).
    * @return (from_type, to_type, transitions, users) — unordered
    */
  private[graft] def transitionMatrix(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("transitions"),
        countDistinct(col("user_id")).as("users"))
  }

  /** Per-user session rollup over the shipped gap-sessionizer
    * ([[graft.streaming.Sessionize.sessionsBatch]]) — the x_sessionize
    * pipeline body, shared with ScaleSmoke contract 10. Input:
    * (user_id, ts).
    * @return (user_id, n_sessions, max_session_events, total_events) —
    *         unordered
    */
  private[graft] def sessionRollup(s: SparkSession, ev: DataFrame,
      gapMs: Long): DataFrame = {
    import s.implicits._
    import graft.streaming.Sessionize
    Sessionize.sessionsBatch(
        ev.select(col("user_id").as("userId"),
          col("ts").cast("timestamp").as("ts")).as[Sessionize.Event], gapMs)
      .groupBy(col("userId").as("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("events")).cast("long").as("max_session_events"),
        sum(col("events")).as("total_events"))
  }

  /** Per-lang bigram-LM quality rollup — the x_lm_score pipeline body,
    * shared with ScaleSmoke contract 12. Trains the fixed-point bigram
    * model on `docs` (doc_id, lang, text) and rolls the per-doc
    * floor-average scores up per language; all-integer (see the gate
    * comment for the CCNet-perplexity framing and the 100 TB plan shape).
    * @return (lang, docs, avg_score, min_score, max_score, n_low) —
    *         unordered
    */
  private[graft] def lmScoreRollup(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), col("lang"),
        explode(TF.shingles(col("text"), 2)).as("bg"))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val probs = lmProbs(c2)
    val perDoc = bg.join(probs, "bg")
      .groupBy("doc_id")
      .agg(min(col("lang")).as("lang"),
        expr("sum(q) div count(1)").as("score"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        expr("sum(score) div count(1)").as("avg_score"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"),
        sum(when(col("score") < 33000L, 1L).otherwise(0L)).as("n_low"))
  }

  /** Fixed-point bigram model from a (bg, c2) count table. c1 DERIVES
    * from c2 by head-word grouping — c1(w1) = Σ_w2 c2(w1 w2), the exact
    * multiset identity, so this is bit-identical to re-counting heads
    * from the corpus while reading a VOCAB-sized input instead of a
    * corpus-sized one (at 100 TB that second tokenize+explode pass is
    * the difference). One row per distinct bigram; w1 is a prefix of bg,
    * so c2 <= c1 and the fixed point q = (c2·1e6) div c1 is always in
    * [1, 1e6] when counts come from one corpus (a history-only model
    * probed by a later batch can still read 0 via a left-join miss).
    * Shared by x_lm_score and x_incremental_lm so the scale constant and
    * join shape cannot drift between the in-memory and durable-model
    * gates.
    */
  private[graft] def lmProbs(c2: DataFrame): DataFrame = {
    // pinned: c2 feeds BOTH join branches (directly and re-aggregated
    // into c1) — unpinned, the vocab-sized table's whole upstream
    // subtree (for x_lm_score, a corpus-sized tokenize+explode+count)
    // plans twice unless ReuseExchange happens to canonicalize the
    // branches identically. The pin makes the callers' one-scan claims
    // true by construction; the materialized rows are vocab-sized.
    val pc2 = c2.localCheckpoint()
    val c1 = pc2.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    pc2.join(c1, substring_index(pc2("bg"), " ", 1) === c1("w1"))
      .select(col("bg"), expr("(c2 * 1000000) div c1").as("q"))
  }

  /** The incremental near-dup crawl fixture shared by
    * x_incremental_neardup and x_incremental_neardup_compacted: history
    * = even docs; batch = odd docs plus lightly-edited recrawls of every
    * 10th history doc (text + a 2-token tail, Jaccard » 0.5, disjoint
    * +1e9 ids).
    */
  private[graft] def neardupCrawlFixture(docs: DataFrame): (DataFrame, DataFrame) = {
    val hist = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(hist.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("lang"),
          concat(col("text"), lit(" recrawl tail")).as("text")))
    (hist, batch)
  }

  /** Banded-MinHash signatures (band, sig, doc_id) — the durable
    * near-dup state's row shape (2 narrow rows per doc at bands=2,
    * rowsPerBand=3), shared by both incremental near-dup gates so the
    * signature construction cannot drift between them.
    */
  private[graft] def bandSigsOf(df: DataFrame): DataFrame = df
    .withColumn("mins", TF.shingleBandMinima(col("text"), 2, bands = 2, rowsPerBand = 3))
    .select(col("doc_id"),
      posexplode(TF.bandsFromMinima(col("mins"), 2, 3)).as(Seq("band", "sig")))
    .select(col("band").cast("long").as("band"), col("sig"), col("doc_id"))

  /** One crawl step of the incremental near-dup pipeline — shared by
    * x_incremental_neardup and x_incremental_neardup_compacted so the
    * nomination/verify/append semantics cannot drift between the plain
    * and mid-compaction gates (StateMaintenanceSpec cross-checks their
    * admissions row for row): nominate the batch against the persisted
    * band-signature table `t` by (band, sig) equi-join, exact-Jaccard
    * ≥ 0.5 verify via pairJaccard's measured-broadcast discipline
    * (history TEXT fetched only for nominated candidates), APPEND the
    * admitted docs' signatures back to the state — the single commit
    * this helper makes, so callers bracket it with file inventories —
    * and return the admitted batch rows. The id-only reject set is
    * PINNED: it gates both the state append and the caller's rollup
    * (measured 5.3 -> 5.0 s at sf0.1; the verify inputs were already
    * pinned inside pairJaccard, so the saving is the join itself).
    *
    * Streaming callers ([[streamIncrementalNeardup]]) pass
    * `stateStatementId` and a `commitResults` hook, which runs on the
    * admitted rows BETWEEN the (pinned) admission decision and the state
    * append — the results-BEFORE-state crash ordering the exact crawl
    * loop pins: a crash between the two commits replays against a state
    * that does not yet hold the batch's signatures, so the recomputed
    * admitted set is identical (the reject set derives only from state
    * and the pinned nomination, and the results rows the earlier attempt
    * committed are never nominated against — they are not in the
    * SIGNATURE table yet), the results append no-ops on its statementId,
    * and the state append completes. State-first would lose admissions
    * forever. Batch callers leave both defaulted: one unkeyed commit,
    * exactly the pre-r12 behavior.
    *
    * `fetchCandidates`, when installed, replaces the `hist` corpus as
    * the source of nominated partners' TEXT: it receives the pinned
    * candidate pairs (doc_a, doc_b) and must return (doc_id, text) rows
    * covering the doc_b side. This is the 100 TB read shape — the
    * streaming loop persists its corpus in a doc_id-bloom-indexed Graft
    * table and fetches ONLY the nominated ids via an In-probe pruned
    * scan ([[graft.table.GraftTable.scanWithRuntimeFilter]]), instead of
    * passing the whole corpus per batch. `hist` is untouched when the
    * hook is present. Fetched rows need not be deduplicated against the
    * batch: doc_b ids come from the SIGNATURE state, which never holds
    * this batch's sigs at verify time (even on crash-replay), so the
    * union cannot double a doc.
    */
  private[graft] def neardupAdmitAndAppend(s: SparkSession,
      t: graft.table.GraftTable, hist: DataFrame, batch: DataFrame,
      stateStatementId: Option[String] = None,
      commitResults: DataFrame => Unit = _ => (),
      fetchCandidates: Option[DataFrame => DataFrame] = None,
      onStateScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): DataFrame = {
    // measured driver-local pin: nominate AND re-append read it job-free
    val (batchSigs, sigsFit) = pinMeasured(bandSigsOf(batch))
    // the nomination reads the signature state through a RUNTIME-FILTERED
    // scan: the batch's sig set (2 narrow rows per doc — bounded by the
    // batch) pushes as an In probe so a sig-bloom state skips files that
    // cannot collide with this batch. Sound for the (band, sig) equi-join
    // — a pruned-away state row's sig is outside the batch set and could
    // never produce a candidate; the probe is a SUPERSET cut (sig only,
    // band re-checked by the join). Above the key cap it degrades to the
    // full scan (the S15 discipline).
    val stateScan = t.scanWithRuntimeFilter(batchSigs, "sig", "sig",
      maxKeys = CrawlProbeMaxKeys)
    onStateScanMetrics(stateScan.metrics)
    // measured broadcast (opt guide §3.1, the bandAdmitVerdicts
    // discipline): within the budget the batch side builds and the state
    // scan streams — right at 100 TB too
    val cand0 = maybeBroadcast(
        batchSigs.select(col("doc_id").as("doc_a"), col("band"), col("sig")), sigsFit)
      .join(stateScan.toDF(s).select(col("band"), col("sig"), col("doc_id").as("doc_b")),
        Seq("band", "sig"))
      .select("doc_a", "doc_b").distinct()
    // with a pruned fetch installed, cand is read twice (the fetch
    // collects its doc_b ids for the In probe; pairJaccard joins it) —
    // pin it so the state nomination join runs once
    val cand = if (fetchCandidates.isDefined) pinMeasured(cand0)._1 else cand0
    val verifyText = fetchCandidates match {
      case Some(fetch) => batch.select("doc_id", "text").unionByName(fetch(cand))
      case None =>
        batch.select("doc_id", "text").unionByName(hist.select("doc_id", "text"))
    }
    val rejected = pinMeasured(pairJaccard(verifyText, cand,
        pairsPinned = fetchCandidates.isDefined)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("doc_id")).distinct())._1
    val admitted = batch.join(rejected, Seq("doc_id"), "left_anti")
    commitResults(admitted) // results BEFORE state — the crash ordering
    t.append(s, batchSigs.join(admitted.select("doc_id"), "doc_id")
      .select("band", "sig", "doc_id"), statementId = stateStatementId)
    admitted
  }

  /** The streaming FUZZY crawl loop — the x_stream_incremental_neardup
    * pipeline body, shared with StreamIncrementalNeardupSpec; the
    * near-dup twin of [[streamIncrementalDedup]], completing the
    * lifecycle matrix (batch / durable / compacted / STREAMING) the
    * exact family already has. Per micro-batch of documents: the ONE
    * shared [[neardupAdmitAndAppend]] nominates against the persisted
    * band-signature state AS OF ARRIVAL — history recrawls AND near-dups
    * of docs admitted by EARLIER micro-batches both reject, the
    * cross-batch distinction only durable state provides — verifies by
    * exact Jaccard >= 0.5, then commits admitted rows to `results` and
    * admitted signatures to the state, in that order, both
    * statementId-keyed (crash-window analysis on the helper).
    *
    * The crawl CORPUS — history pre-loaded by the caller plus every
    * admitted batch's rows, which this loop appends (the results
    * commits) — lives in ONE doc_id-bloom-indexed, doc_id-bucketed
    * Graft table, and the verify text for nominated candidates is
    * fetched from it by an In-probe PRUNED scan
    * ([[graft.table.GraftTable.scanWithRuntimeFilter]]): the batch's
    * nominated doc_b ids are a bounded driver collect (the candidate
    * set a band-collision join yields per batch, capped with a full-scan
    * fallback — the S15 discipline), pushed as an In predicate where the
    * bucket-partition, min/max and bloom planes all skip corpus files
    * before any text bytes are read. Per-batch fetch cost is therefore
    * candidate-sized, not corpus-sized — the shape that survives 100 TB,
    * where the corpus text dwarfs every batch. Each fetch's ScanMetrics
    * and its nominated ids are surfaced through `onFetch`; the gate
    * REQUIREs that no batch reads a file the nominated key set excludes.
    * Reading the corpus
    * (= results) inside the batch is safe under replay: the reject set
    * is pinned BEFORE this batch's results commit, and on a crash-replay
    * the extra already-committed rows are never nominated (their
    * signatures are not in the state yet), so they are dead rows the
    * probe never selects.
    *
    * Honest 100 TB cost accounting, the exact loop's discipline applied
    * here: each micro-batch pays one SIGNATURE-state scan for the
    * (band, sig) nomination join — and that read too is RUNTIME-FILTERED
    * (the batch's sig set as an In probe against a sig-bloom state, the
    * superset-cut detail on [[neardupAdmitAndAppend]]): md5-uniform sig
    * min/max bounds never prune, the bloom plane can on small batches,
    * and above the key cap the read degrades to the full scan.
    * `filesPerTrigger` remains the batch-sizing knob that amortizes the
    * state scan; the text fetch no longer scales with the corpus at all.
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalNeardup(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType,
      state: graft.table.GraftTable, corpus: graft.table.GraftTable,
      filesPerTrigger: Int = 1,
      onFetch: (graft.table.ScanMetrics, DataFrame) => Unit = (_, _) => (),
      onStateScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    runMicroBatched(s, stage, schema, filesPerTrigger) { (b, batchId) =>
      neardupAdmitAndAppend(s, state, corpus.toDF(s), b,
        stateStatementId = Some(s"$stage-sig-$batchId"),
        commitResults = adm => corpus.append(s, adm,
          statementId = Some(s"$stage-res-$batchId")): Unit,
        fetchCandidates = Some { cand =>
          val sc = corpus.scanWithRuntimeFilter(
            cand.select("doc_b"), "doc_b", "doc_id")
          onFetch(sc.metrics, cand.select("doc_b"))
          sc.toDF(s).select("doc_id", "text")
        },
        onStateScanMetrics = onStateScanMetrics): Unit
    }

  /** The streaming LM-scoring crawl loop — the x_stream_incremental_lm
    * pipeline body, shared with StreamLmSpec; the model-state twin of
    * [[streamIncrementalDedup]], completing the LM count-log's lifecycle
    * matrix (batch: x_lm_score; durable + compacted: x_incremental_lm;
    * now STREAMING). Per micro-batch of documents: train the fixed-point
    * bigram model from the count-delta log AS OF ARRIVAL (the one shared
    * [[lmProbs]], which PINS the model at call time — each batch scores
    * under a frozen model that includes every EARLIER batch's deltas,
    * the cross-batch distinction), score the batch per-doc
    * (floor-average of modeled fixed points, unmodeled bigrams read 0),
    * then THREE statementId-keyed commits in fixed order: scores to
    * `results`, the batch's (bg, cnt) deltas to the `state` log, and a
    * MERGE folding the deltas into the compact `model` table (matched
    * bg: c2 += cnt; unmatched: insert) — the W7 machinery keyed like
    * every other crawl commit.
    *
    * The MODEL table is what each batch READS; the delta LOG stays the
    * source of truth, and the gate REQUIREs model ≡ log-sum after the
    * crawl. Before r13 each batch re-summed the whole delta log — a scan
    * that grew with crawl COUNT; the model read is bounded by vocab
    * regardless of how many crawls accumulated, and is further
    * RUNTIME-FILTERED by the batch's head-word set (w1-bucketed,
    * w1-bloom'd — the soundness argument for why head-pruning keeps the
    * fixed point exact is at the probe site below).
    *
    * Crash windows (results → log → merge, replay-idempotent at each):
    * after results only — the replay scores under a model WITHOUT the
    * batch's deltas (the merge is LAST), recomputes identical scores,
    * no-ops the results append, completes log + merge. After log, before
    * merge — same identical rescoring (the model still lacks the batch),
    * results and log no-op, the merge completes. Merge-before-results
    * would be WRONG the same two ways state-first always is: a crash
    * would lose scores forever, and the replayed batch would score under
    * a model polluted by its own counts.
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalLm(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType,
      state: graft.table.GraftTable, model: graft.table.GraftTable,
      results: graft.table.GraftTable,
      filesPerTrigger: Int = 1,
      onModelScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    runMicroBatched(s, stage, schema, filesPerTrigger) { (b, batchId) =>
      val bb = b.select(col("doc_id"), col("lang"),
          explode(TF.shingles(col("text"), 2)).as("bg"))
        .localCheckpoint() // In-probe collect + scoring join + delta rollup
      // the model read is RUNTIME-FILTERED by HEAD WORD, not bigram: the
      // fixed point q = (c2·1e6) div c1 needs c1(w1) = Σ over ALL bigrams
      // starting with w1, so pruning by bg would undercount c1 — pruning
      // by the batch's distinct w1 set keeps every row of every probed
      // head (bloom/min-max never drop a matching file), making the
      // pruned-model scores BIT-EQUAL to the full read (extra rows from
      // false-positive files carry unprobed heads only, and those bgs
      // never join a batch bigram whose head is by construction probed).
      // The model is w1-bucketed + w1-bloom'd for exactly this probe;
      // above the key cap the read degrades to the full scan.
      val modelScan = model.scanWithRuntimeFilter(
        bb.select(substring_index(col("bg"), " ", 1).as("w1")), "w1", "w1",
        maxKeys = CrawlProbeMaxKeys)
      onModelScanMetrics(modelScan.metrics)
      // lmProbs pins the model internally at CALL time, so the merge
      // below cannot leak this batch's deltas into its own model even
      // under lazy recomputation
      val probs = lmProbs(modelScan.toDF(s).select(col("bg"), col("c2")))
      val perDoc = bb.join(probs, Seq("bg"), "left")
        .groupBy("doc_id")
        .agg(min(col("lang")).as("lang"),
          expr("sum(coalesce(q, cast(0 as bigint))) div count(1)").as("score"),
          sum(when(col("q").isNotNull, 1L).otherwise(0L)).as("modeled"))
      val deltas = bb.groupBy("bg").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // read twice: the log append + the model MERGE
      // Empty-delta short circuit (r13 verdict #6): a batch whose docs
      // carry no bigram at all (every text under 2 tokens) has nothing to
      // score (perDoc derives from the same empty bb), log, or fold — but
      // without the guard it would still pay THREE full commit rounds for
      // three no-ops. Skipping is replay-safe: a skipped batch writes
      // nothing and claims no statementIds, so its replay skips
      // identically; commit counts stay pinned to BIGRAM-BEARING batches
      // (every gate/smoke fixture batch carries bigrams, so their pins
      // read the same).
      if (!deltas.isEmpty) {
        results.append(s, perDoc,
          statementId = Some(s"$stage-res-$batchId"))
        state.append(s, deltas,
          statementId = Some(s"$stage-lm-$batchId"))
        model.merge(s,
          deltas.withColumn("w1", substring_index(col("bg"), " ", 1)),
          Seq("bg" -> "bg"),
          whenMatchedUpdate = Map("c2" -> (col("t.c2") + col("s.cnt"))),
          whenNotMatchedInsert = Some(Map(
            "bg" -> col("s.bg"), "c2" -> col("s.cnt"), "w1" -> col("s.w1"))),
          statementId = Some(s"$stage-lmm-$batchId")): Unit
      }
    }

  /** The streaming IMAGE-dedup crawl loop — the
    * x_stream_incremental_image_dedup pipeline body, shared with
    * StreamImageDedupSpec; completes the image perceptual-hash state's
    * lifecycle matrix (batch: x_image_neardup; durable + compacted:
    * x_incremental_image_dedup; retraction: x_image_dedup_retract; now
    * STREAMING). One instantiation of [[streamIncrementalBandDedup]] over
    * [[imageBands]] — see there for the per-batch probe/verify/commit
    * machinery and the results-before-state crash-window argument.
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalImageDedup(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType,
      state: graft.table.GraftTable, results: graft.table.GraftTable,
      filesPerTrigger: Int = 1,
      onStateScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    streamIncrementalBandDedup(s, stage, schema, state, results,
      "img_id", imageBands, "im", filesPerTrigger, onStateScanMetrics)

  /** The streaming NORMALIZED-image dedup crawl loop (r16) — the
    * [[imageBandsNormalized]] instantiation of the generic band loop:
    * every crawled blob normalizes to the canonical resolution before
    * hashing, so recrawls at DIFFERENT resolutions (lattice resamples)
    * reject against the durable state. Completes the normalized family's
    * lifecycle (batch: x_image_neardup_normalized; durable:
    * x_incremental_image_dedup_normalized; now STREAMING).
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalImageDedupNormalized(s: SparkSession,
      stage: String, schema: org.apache.spark.sql.types.StructType,
      state: graft.table.GraftTable, results: graft.table.GraftTable,
      maxWidth: Int = 16, filesPerTrigger: Int = 1,
      onStateScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    streamIncrementalBandDedup(s, stage, schema, state, results,
      "img_id", imageBandsNormalized(_, maxWidth), "nm", filesPerTrigger,
      onStateScanMetrics)

  /** The streaming LOSSY-image (jpeg) dedup crawl loop (r18) — the
    * [[imageBandsLossy]] instantiation of the generic band loop at the
    * measured jpeg verify threshold (≤ 6 bits of DCT/re-quality drift;
    * the 8×7-bit banding keeps nomination pigeonhole-lossless there).
    * Completes the re-quality family's lifecycle (batch:
    * x_image_neardup_requality; durable:
    * x_incremental_image_dedup_requality; now STREAMING).
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalImageDedupLossy(s: SparkSession,
      stage: String, schema: org.apache.spark.sql.types.StructType,
      state: graft.table.GraftTable, results: graft.table.GraftTable,
      filesPerTrigger: Int = 1,
      onStateScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    streamIncrementalBandDedup(s, stage, schema, state, results,
      "img_id", imageBandsLossy, "rq", filesPerTrigger,
      onStateScanMetrics, threshold = 6)

  /** The ONE streaming band-dedup loop body under
    * [[streamIncrementalImageDedup]] and [[streamIncrementalAudioDedup]]
    * — the single-plane perceptual-hash crawl, generic over the id column
    * and banding rule exactly like [[bandAdmitVerdicts]] is for the batch
    * gates. Per micro-batch of (idCol, blob): band the batch, probe the
    * durable band state AS OF ARRIVAL through a runtime-filtered In read
    * (full-scan fallback above the key cap), verify banded candidates by
    * hamming ≤ `threshold` (default 3; pigeonhole-lossless under the
    * paired banding — the lossy-jpeg instantiation verifies at ≤ 6 under
    * [[imageBandsLossy]]'s 8-band split), append ADMITTED ids to `results`
    * and their band rows to `state` — results BEFORE state,
    * statementId-keyed (crash between the commits: the replay recomputes
    * admissions against a state without this batch's bands — identical
    * verdicts, the results append no-ops on its ledger entry, the state
    * append completes; state-first would let the batch's own bands reject
    * its replay). Within-batch blobs never nominate each other — the
    * stateless-oracle contract every crawl loop keeps. Decoded bytes per
    * batch are the batch's own; the state carries 4 BIGINT rows per
    * admitted blob.
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalBandDedup(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType,
      state: graft.table.GraftTable, results: graft.table.GraftTable,
      idCol: String, toBands: DataFrame => DataFrame, stmtPrefix: String,
      filesPerTrigger: Int = 1,
      onStateScanMetrics: graft.table.ScanMetrics => Unit = _ => (),
      threshold: Int = 3): Int =
    runMicroBatched(s, stage, schema, filesPerTrigger) { (b, batchId) =>
      // measured driver-local pin (opt guide §3.1): within the budget the
      // batch bands become a LocalRelation — the In-probe collect is a
      // driver array walk, and the candidate join, admit anti-join and
      // state-append join all see exact build-side sizes; past the budget
      // the distributed pin keeps today's shuffled shapes
      val (bands, fits) = pinMeasured(toBands(b))
      val sc = state.scanWithRuntimeFilter(bands, "band_key", "band_key",
        maxKeys = CrawlProbeMaxKeys)
      onStateScanMetrics(sc.metrics)
      val matched = maybeBroadcast(bands, fits)
        .join(sc.toDF(s).select(col("band_key"), col("h").as("h2")), Seq("band_key"))
        .filter(expr(s"bit_count(h ^ h2) <= $threshold"))
        .select(idCol).distinct()
      val (admitted, _) = pinMeasured( // gates the results append AND the state append
        bands.select(idCol).distinct()
          .join(maybeBroadcast(matched, fits), Seq(idCol), "left_anti"))
      results.append(s, admitted, statementId = Some(s"$stage-${stmtPrefix}res-$batchId"))
      state.append(s,
        bands.join(maybeBroadcast(admitted, fits), Seq(idCol)).select(idCol, "h", "band_key"),
        statementId = Some(s"$stage-${stmtPrefix}sig-$batchId")): Unit
    }

  /** The streaming AUDIO-dedup crawl loop — the
    * x_stream_incremental_audio_dedup pipeline body, shared with
    * StreamAudioDedupSpec; completes the audio fingerprint state's
    * lifecycle matrix (batch: x_audio_neardup; durable + compacted:
    * x_incremental_audio_dedup; retraction: x_audio_dedup_retract; now
    * STREAMING). One instantiation of [[streamIncrementalBandDedup]]
    * over [[audioBands]] — the crawl machinery is modality-blind; what
    * differs at scale is the PRUNING lever (the 10-bit audio band space
    * saturates per-file blooms on a grown corpus, so the band_key bucket
    * count carries the probe — StreamAudioDedupSpec measures it).
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalAudioDedup(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType,
      state: graft.table.GraftTable, results: graft.table.GraftTable,
      filesPerTrigger: Int = 1,
      onStateScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    streamIncrementalBandDedup(s, stage, schema, state, results,
      "clip_id", audioBands, "au", filesPerTrigger, onStateScanMetrics)

  /** The streaming novelty-scoring crawl loop — the
    * x_stream_incremental_novelty pipeline body, shared with
    * StreamNoveltySpec; completes the first-seen gram state's lifecycle
    * matrix (batch: x_ngram_novelty; durable + compacted:
    * x_incremental_novelty; now STREAMING). Per micro-batch of
    * documents: per-doc distinct 3-grams, anti-join the durable
    * first-seen table AS OF ARRIVAL — grams seen in history AND grams
    * first claimed by EARLIER batches both read as non-novel, the
    * cross-batch distinction — min-doc-claims the unseen grams within
    * the batch, commits per-doc novelty scores to `results` and THEN the
    * batch's first-seen rows to the state, both statementId-keyed.
    * Crash between the commits: the replay recomputes the unseen set
    * against a state without the batch's claims — identical scores, the
    * results append no-ops, the state append completes (state-first
    * would zero the replayed batch's own novelty and lose the scores).
    * Same per-batch state-scan cost knob as every crawl loop
    * (`filesPerTrigger`) — and like the exact loop's, the state scan is
    * a RUNTIME-FILTERED read: the batch's distinct-gram set pushes as an
    * In probe (bounded by the batch the knob sizes), so the first-seen
    * table's g-bloom and bucket planes skip files that cannot hold any
    * batch gram — sound for the anti-join because a pruned-away state
    * row's gram is outside the batch set and could never mark anything
    * non-novel. Natural-language grams are not md5-uniform, so the
    * min/max plane can contribute here too; above the key cap the read
    * degrades to the full scan (the S15 discipline).
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalNovelty(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType,
      state: graft.table.GraftTable, results: graft.table.GraftTable,
      filesPerTrigger: Int = 1,
      onStateScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    runMicroBatched(s, stage, schema, filesPerTrigger) { (b, batchId) =>
      val bg = b.select(col("doc_id"), col("lang"),
          explode(array_distinct(TF.shingles(col("text"), 3))).as("g"))
        .localCheckpoint() // In-probe collect + anti-join + rollup read it
      val stateScan = state.scanWithRuntimeFilter(bg, "g", "g",
        maxKeys = CrawlProbeMaxKeys)
      onStateScanMetrics(stateScan.metrics)
      val unseen = bg.select("doc_id", "g")
        .join(stateScan.toDF(s).select(col("g")), Seq("g"), "left_anti")
        .groupBy("g").agg(min(col("doc_id")).as("first_doc"))
        .localCheckpoint() // pinned BEFORE the state mutates; read twice
      val unseenFits = unseen.count() <=
        broadcastCap(s) // the rollup's broadcast measure, as in r18
      val perDoc = bg
        // unseen is batch-bounded and pinned: broadcast it as the build
        // side of the rollup's left join within the measured budget
        // (opt guide §3.1) rather than shuffling both sides on g
        .join(maybeBroadcast(unseen.withColumnRenamed("first_doc", "fd"),
          unseenFits), Seq("g"), "left")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("fd") === col("doc_id"), lit(1L)).otherwise(lit(0L))).as("novel"))
      results.append(s, perDoc, statementId = Some(s"$stage-res-$batchId"))
      state.append(s, unseen, statementId = Some(s"$stage-fs-$batchId")): Unit
    }

  /** Non-overlapping `w`-token chunks of (doc_id, lang, text) keyed by
    * md5 of the chunk text — the ONE chunker under [[chunkDedupStats]]
    * (the x_chunk_dedup gate + ScaleSmoke contract 11) and
    * x_incremental_chunk_dedup's durable state, so the two cannot drift
    * (a w / tokenizer / hash change applied to one would silently break
    * the "x_chunk_dedup's state made durable" composition claim while
    * both gates still matched their own oracles). Chunk length by
    * arithmetic, not size(slice(..)): a second slice per chunk would
    * re-allocate the array (no CSE in interpreted HOFs — the repo-wide
    * discipline).
    * @return (doc_id, lang, ci, n_tok, h) — UNPINNED; callers pin
    */
  private[graft] def chunksOf(docs: DataFrame, w: Int): DataFrame = docs
    .select(col("doc_id"), col("lang"), TF.tokens(col("text")).as("t"))
    .filter(size(col("t")) > 0)
    .select(col("doc_id"), col("lang"), col("t"),
      posexplode(sequence(lit(1), size(col("t")), lit(w))).as(Seq("ci", "start")))
    .select(col("doc_id"), col("lang"), col("ci").cast("long").as("ci"),
      least(lit(w.toLong), (size(col("t")) - col("start") + 1).cast("long")).as("n_tok"),
      md5(array_join(slice(col("t"), col("start"), lit(w)), " ")).as("h"))

  /** Keep-first ledger rows over a chunk stream — the ONE keep-first
    * rule under every durable chunk-dedup state (x_incremental_chunk_dedup
    * and the streaming crawl loop), so the rule cannot drift between the
    * batch-refresh and streaming legs: min doc per hash, then min chunk
    * within that doc, returned WITH the kept occurrence's (lang, n_tok)
    * payload so a ledger doubles as the per-crawl keep rollup. Input is
    * [[chunksOf]]-shaped (doc_id, lang, ci, n_tok, h); the input is
    * PINNED here (read by both keep-first aggregates and the payload
    * join — and streaming callers anti-join mutable state upstream, so
    * the pin also fences the ledger from the state append that follows).
    * @return (h, f_doc, f_ci, lang, n_tok) — one row per distinct h
    */
  private[graft] def chunkKeepFirstLedger(chunks: DataFrame): DataFrame = {
    val hc = chunks.localCheckpoint()
    val fd = hc.groupBy("h").agg(min(col("doc_id")).as("f_doc"))
    // keys derives from hc, so the payload join below is a self-join —
    // its h is renamed so every column reference resolves to exactly one
    // side (DetectAmbiguousSelfJoin rejects df("col") disambiguation)
    val keys = hc.join(fd, "h").filter(col("doc_id") === col("f_doc"))
      .groupBy("h", "f_doc").agg(min(col("ci")).as("f_ci"))
      .withColumnRenamed("h", "_graft_kh")
    hc.join(keys, col("h") === col("_graft_kh") &&
        col("doc_id") === col("f_doc") && col("ci") === col("f_ci"))
      .select(col("h"), col("f_doc"), col("f_ci"), col("lang"), col("n_tok"))
  }

  /** The streaming chunk-level crawl loop — the
    * x_stream_incremental_chunk_dedup pipeline body, shared with
    * StreamChunkDedupSpec; the sub-document twin of
    * [[streamIncrementalDedup]], completing the chunk-hash state's
    * lifecycle matrix (batch / durable / streaming). Per micro-batch of
    * documents: chunk via the ONE shared [[chunksOf]], anti-join the
    * durable keep-first ledger AS OF ARRIVAL on the chunk hash — history
    * chunks AND chunks first kept by EARLIER micro-batches both reject,
    * the cross-batch distinction only durable state provides — then
    * run the ONE shared [[chunkKeepFirstLedger]] keep-first over the
    * unseen chunks and append the batch's first-occurrences as ONE
    * atomic statementId-keyed commit. A single commit per batch makes
    * the crash analysis trivial: a replayed batch either no-ops on its
    * statementId or re-runs cleanly against the pre-batch state — there
    * is no multi-commit window at all (the ledger IS both state and
    * result; a downstream shard writer would key its own commits the
    * same way).
    *
    * Honest 100 TB cost: each batch pays one ledger scan for the
    * anti-join — the same sized knob as the exact loop's, exposed as
    * `filesPerTrigger`. And like the exact loop's, the scan is a
    * RUNTIME-FILTERED read: the batch's chunk-hash set (bounded by the
    * batch — `filesPerTrigger` sizes it) pushes as an In probe, so the
    * ledger's h-bloom and bucket planes skip files on small batches —
    * sound for the anti-join because a pruned-away ledger row's hash is
    * outside the batch set and could never reject anything; md5-uniform
    * min/max bounds can never prune this state, the bloom plane can.
    * Above `scanWithRuntimeFilter`'s key cap it degrades to the full
    * scan (the S15 discipline).
    * @return number of non-empty micro-batches
    */
  private[graft] def streamIncrementalChunkDedup(s: SparkSession, stage: String,
      schema: org.apache.spark.sql.types.StructType,
      state: graft.table.GraftTable, w: Int, filesPerTrigger: Int = 1,
      onStateScanMetrics: graft.table.ScanMetrics => Unit = _ => ()): Int =
    runMicroBatched(s, stage, schema, filesPerTrigger) { (b, batchId) =>
      val bc = chunksOf(b, w)
        .localCheckpoint() // read twice: the In-probe collect + the anti-join
      val stateScan = state.scanWithRuntimeFilter(bc, "h", "h",
        maxKeys = CrawlProbeMaxKeys)
      onStateScanMetrics(stateScan.metrics)
      val unseen = bc.join(stateScan.toDF(s).select(col("h")), Seq("h"), "left_anti")
      state.append(s, chunkKeepFirstLedger(unseen),
        statementId = Some(s"$stage-chunks-$batchId")): Unit
    }

  /** Corpus-wide chunk-level keep-first dedup rollup — the x_chunk_dedup
    * pipeline body, shared with ScaleSmoke contract 11. Non-overlapping
    * `w`-token chunks keyed by md5 of the chunk text; keep-first is two
    * narrow aggregates (min doc per hash, min chunk within that doc) and
    * chunk text never travels — the exploded stream carries (hash, count)
    * only and is PINNED once (read by the first-occurrence aggregate AND
    * the probe; an unpinned stream re-tokenizes the corpus per read, the
    * pre-r8 pairJaccard 405 s failure shape). Input: (doc_id, lang, text).
    * @return per-lang (docs, chunks, kept_chunks, tokens, kept_tokens,
    *         dup_chunk_rate) — unordered
    */
  private[graft] def chunkDedupStats(docs: DataFrame, w: Int = 16): DataFrame = {
    val chunks = chunksOf(docs, w)
      .localCheckpoint() // read twice: first-occurrence aggs + probe
    val fdoc = chunks.groupBy("h").agg(min(col("doc_id")).as("f_doc"))
    val fci = chunks.join(fdoc, "h")
      .filter(col("doc_id") === col("f_doc"))
      .groupBy("h", "f_doc").agg(min(col("ci")).as("f_ci"))
    chunks.join(fci, "h")
      .withColumn("keep",
        col("doc_id") === col("f_doc") && col("ci") === col("f_ci"))
      .groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("docs"),
        count(lit(1)).as("chunks"),
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("kept_chunks"),
        sum(col("n_tok")).as("tokens"),
        sum(when(col("keep"), col("n_tok")).otherwise(lit(0L))).as("kept_tokens"))
      .withColumn("dup_chunk_rate",
        lit(1.0) - col("kept_chunks").cast("double") / col("chunks").cast("double"))
  }

  private[graft] def basketEdges(items: DataFrame, cap: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capped = items
      .withColumn("basket", count(lit(1)).over(Window.partitionBy("l_orderkey")))
      .filter(col("basket") <= cap)
    val a = capped.select(col("l_orderkey").as("k"), col("l_partkey").as("u"))
    val b = capped.select(col("l_orderkey").as("k"), col("l_partkey").as("v"))
    a.join(b, Seq("k")).filter(col("u") < col("v")).select("u", "v").distinct()
  }

  /** Exact fixed-point PageRank over a SYMMETRIZED edge list (u, v) — the
    * x_pagerank iteration body, shared with the ScaleSmoke iterative-rank
    * contract so the smoke certifies shipped code. Mass starts at S/N
    * (S = 10^12), each node ships p div outdeg along its edges, damped
    * update base + (85·Σ) div 100 — every step exact BIGINT floor
    * arithmetic, engine-identical (see the x_pagerank gate comment for why
    * float PageRank can never be oracle-gated). The loop-invariant
    * edges ⋈ outdeg join is HOISTED (r9 verdict #5): outdeg never changes
    * across iterations, so it pins onto the edge list ONCE and each round
    * is a single edge-sized join + one hash aggregate (the previous shape
    * paid two edge-sized joins per round), lineage cut per round.
    * @return (node, p) — unordered; callers rank by (p desc, node)
    */
  private[graft] def pagerankScores(edgesIn: DataFrame, iters: Int = 5): DataFrame = {
    val edges = edgesIn.localCheckpoint()
    val outdeg = edges.groupBy(col("u")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val nN = outdeg.count()
    // a degenerate corpus (no order with 2+ distinct parts survives the
    // sample) has no graph: return the empty ranking rather than
    // dividing the mass by zero
    if (nN == 0) return outdeg.select(col("u").as("node"), lit(0L).as("p"))
    val p0 = 1000000000000L / nN
    val base = (15L * p0) / 100L
    // the rank vector is exactly node-sized (one row per node, ≤ nN every
    // round), and nN is already on the driver — broadcast it through each
    // round's edge join within the budget (opt guide §3.1/§2.4: the
    // edge-sized side then never shuffles; the one unavoidable exchange
    // per round is the in_sum aggregate). A graph too big for the budget
    // keeps the shuffled join.
    val fits = nN <= PairBroadcastMaxRows
    val edgesW = edges.join(outdeg, "u").localCheckpoint()
    var p = outdeg.select(col("u").as("node"), lit(p0).as("p"))
    for (_ <- 1 to iters) {
      p = edgesW
        .join(maybeBroadcast(p.select(col("node").as("u"), col("p")), fits), "u")
        .select(col("v").as("node"), expr("p div outdeg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("in_sum"))
        .select(col("node"),
          (lit(base) + expr("(85 * in_sum) div 100")).as("p"))
        .localCheckpoint()
    }
    p
  }

  /** Exact fixed-point HITS authorities over a BIPARTITE edge list (c, p)
    * — the x_hits iteration body, shared with the ScaleSmoke iterative-rank
    * contract. Each iteration rescales by (v · S) div max(v) through
    * DECIMAL(38) (see the x_hits gate comment for the overflow-boundary
    * argument); max is the only driver value per half-round. Edges are
    * pinned once; each half-round is one edge join + hash agg + scalar max.
    * @return (p, a) final-iteration authorities — unordered
    */
  private[graft] def hitsAuthorities(edgesIn: DataFrame, iters: Int = 3,
      S: Long = 1000000L): DataFrame = {
    val edges = edgesIn.localCheckpoint()
    // a degenerate corpus with zero edges has no fixed point: return the
    // empty authorities frame rather than NPE on agg(max).head of an empty
    // first iteration (the pagerankScores guard, mirrored)
    if (edges.isEmpty)
      return edges.select(col("p"), lit(0L).as("a"))
    var hub = edges.select(col("c")).distinct().withColumn("h", lit(S))
      .localCheckpoint()
    // hub/authority vectors are node-sided (one row per c / per p) and
    // only shrink across rounds — measure each side ONCE on its first
    // pinned vector and broadcast that side of every later half-round's
    // edge join within the budget (the pagerankScores rationale: the
    // edge-sized side then never shuffles; past the budget the joins keep
    // their shuffled shape). The two sides are gated SEPARATELY (r18
    // ADVICE): on a bipartite graph with few citing docs and many cited
    // pages, hub fits while auth is arbitrarily large, and a hub-derived
    // hint on the auth side would force-broadcast past the budget.
    // Both counts are cheap jobs on already-pinned frames.
    val fits = hub.count() <= PairBroadcastMaxRows
    var auth: DataFrame = null
    var authFits = false
    for (i <- 1 to iters) {
      val aRaw = edges.join(maybeBroadcast(hub, fits), "c")
        .groupBy("p").agg(sum(col("h")).as("a"))
        .localCheckpoint()
      if (i == 1) authFits = aRaw.count() <= PairBroadcastMaxRows
      val aMax = aRaw.agg(max(col("a"))).head.getLong(0)
      auth = aRaw.select(col("p"),
          expr(s"cast((cast(a as decimal(38,0)) * $S) div $aMax as bigint)").as("a"))
        .localCheckpoint()
      if (i < iters) { // the final hub update would feed an unused pass
        val hRaw = edges.join(maybeBroadcast(auth, authFits), "p")
          .groupBy("c").agg(sum(col("a")).as("h"))
          .localCheckpoint()
        val hMax = hRaw.agg(max(col("h"))).head.getLong(0)
        hub = hRaw.select(col("c"),
            expr(s"cast((cast(h as decimal(38,0)) * $S) div $hMax as bigint)").as("h"))
          .localCheckpoint()
      }
    }
    auth
  }

  private[graft] def triangleStats(s: SparkSession, items: DataFrame): DataFrame = {
    val edges = basketEdges(items).localCheckpoint()
    // the edge list is pinned and the degree/oriented planes derive from
    // it, so one count prices every broadcast below (opt guide §3.1):
    // within the budget the degree joins, the wedge self-join and the
    // closing probe all stream the BIG side (wedges, Σ C(deg,2)) past a
    // built edge-sized side instead of shuffling it; past the budget the
    // shuffled shapes are kept.
    val nE = edges.count()
    val fits = nE <= PairBroadcastMaxRows
    val deg = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // read three times: two degree joins + n_paths2
    val withDeg = edges
      .join(maybeBroadcast(deg.select(col("node").as("u"), col("deg").as("du")), fits), "u")
      .join(maybeBroadcast(deg.select(col("node").as("v"), col("deg").as("dv")), fits), "v")
    val oriented = withDeg.select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("src"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("dst"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("dv")).otherwise(col("du")).as("ddst"))
      .localCheckpoint()
    val w1 = oriented.select(col("src"), col("dst").as("d1"), col("ddst").as("r1"))
    val w2 = oriented.select(col("src"), col("dst").as("d2"), col("ddst").as("r2"))
    // pin the wedge set: it is the pipeline's dominant volume (the
    // Σ C(outdeg, 2) join), and both its own count and the closing probe
    // read it — without the checkpoint the self-join would run twice
    val wedges = w1.join(maybeBroadcast(w2, fits), Seq("src"))
      .filter(col("r1") < col("r2") || (col("r1") === col("r2") && col("d1") < col("d2")))
      .select("src", "d1", "d2").localCheckpoint()
    val closed = wedges.join(
      maybeBroadcast(oriented.select(col("src").as("d1"), col("dst").as("d2")), fits),
      Seq("d1", "d2"))
    // unoriented 2-paths Σ C(deg, 2) — exact BIGINT from the degree
    // table, the transitivity denominator (each triangle closes 3 of
    // them; the ORIENTED wedge set above each triangle closes exactly 1,
    // so it is the join volume, not the normalizer). coalesce: an empty
    // graph sums to NULL, and the summary row must read (0,0,0,0,0.0),
    // not NPE
    val nP = deg.agg(coalesce(sum(col("deg") * (col("deg") - lit(1L))), lit(0L)).as("p"))
      .head.getLong(0) / 2 // Σ deg·(deg−1) is even; halve exactly
    val nW = wedges.count()
    val nT = closed.count()
    import s.implicits._
    Seq((nE, nW, nP, nT)).toDF("n_edges", "n_wedges", "n_paths2", "n_triangles")
      .withColumn("transitivity",
        when(col("n_paths2") > 0,
          (lit(3.0) * col("n_triangles").cast("double")) / col("n_paths2").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Probe one term's positional posting list (pruned like [[probeTerm]]). */
  private[graft] def probeTermPositions(s: SparkSession, t: graft.table.GraftTable,
      term: String): (graft.table.GraftScan, DataFrame) = {
    import graft.format.Predicate
    val sc = t.scan(Predicate.Eq("bucket",
      graft.functions.SketchFunctions.hash60Local(term) % 16))
    (sc, sc.toDF(s).filter(col("token") === term).select(col("doc_id"), col("pos")))
  }

  /** Exact-Jaccard verification of candidate pairs WITHOUT shuffling text
    * or over-computing shingles: the pair set is measured
    * ([[measuredPairs]]) and — when it fits the budget — broadcast; the
    * (interpreted, md5-heavy) shingle expression runs ONCE PER MATCHED DOC
    * — the corpus streams through a broadcast id-join, so un-nominated
    * docs never evaluate it and text never crosses the wire — and the
    * per-doc arrays then join to the pair set. Evaluations are thereby
    * min-bounded both ways: ≤ matched docs (≤ 2·|pairs|) and ≤ corpus —
    * computing ABOVE the pair join instead (the previous shape) re-shingled
    * a doc once per pair and ran 30x-clone corpora ~14x over budget, while
    * computing for the whole corpus would waste work when candidates are
    * sparse (the common 100 TB case). Past the broadcast budget the joins
    * degrade to stats-planned shuffled joins (row volume through the
    * exchange stays O(matched + |pairs|), never corpus-squared) instead of
    * dying on an oversized broadcast.
    */
  private[graft] def pairJaccard(docs: DataFrame, pairs: DataFrame,
      pairsPinned: Boolean = false): DataFrame = {
    val (cand, fits) = measuredPairs(pairs, alreadyPinned = pairsPinned)
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // pinned: both join sides below read it, and without the checkpoint
    // the per-matched-doc shingle expression evaluates twice
    val matched = docs.select(col("doc_id"), col("text"))
      .join(maybeBroadcast(ids, fits), "doc_id")
      .withColumn("sh", TF.shingles(col("text"), 2))
      .select(col("doc_id"), col("sh"))
      .localCheckpoint()
    val withA = matched.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      .join(maybeBroadcast(cand, fits), "doc_a")
    val both = matched.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      .join(maybeBroadcast(withA, fits), "doc_b")
    both.withColumn("jaccard", TF.jaccardOf(col("sh_a"), col("sh_b")))
  }

  /** Distributed connected components by min-label propagation: each round
    * is one (src,dst) equi-join + min-aggregate — O(cluster diameter)
    * rounds, label state one row per clustered doc, lineage cut per round
    * so the plan stays flat at any scale.
    *
    * Near-dup clusters are shallow (diameter a handful of hops), so the
    * common path is plain propagation. A PATHOLOGICAL chain (one templated
    * corpus stitched into a long path) used to abort at `maxIters`; past
    * that point each round now adds a pointer-jumping step — label ←
    * label(label), labels being doc_ids so the parent lookup is a self-join
    * — which at least halves the remaining label depth per round, so
    * convergence lands within ~log2(n) extra rounds instead of O(n).
    * @return (doc_id, label) for every doc appearing in an edge
    */
  private[graft] def connectedComponents(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    val bi = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    // fused first round: against identity labels, neighbor-min propagation
    // reduces to least(self, min(neighbor)) — one aggregate instead of the
    // identity join + change-count a full loop round would pay
    var labels = bi.groupBy(col("src"))
      .agg(min(col("dst")).as("nbr"))
      .select(col("src").as("doc_id"), least(col("src"), col("nbr")).as("label"))
      .localCheckpoint()
    val n = labels.count()
    val cap = maxIters + 2 * (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))) + 4
    var iters = 0
    var changed = true
    while (changed && iters < cap) {
      iters += 1
      val prop = bi.join(labels, bi("dst") === labels("doc_id"))
        .groupBy(bi("src")).agg(min(col("label")).as("nbr"))
      // carry a change flag through the same job: the convergence check is
      // then a cheap count on the just-materialized checkpoint, not a
      // second join against the previous labels
      val hop = labels.alias("l")
        .join(prop.alias("p"), col("l.doc_id") === col("p.src"), "left")
        .select(col("l.doc_id").as("doc_id"),
          least(col("l.label"), coalesce(col("p.nbr"), col("l.label"))).as("label"),
          (coalesce(col("p.nbr"), col("l.label")) < col("l.label")).as("chg"))
      val next =
        if (iters <= maxIters) hop.localCheckpoint()
        else {
          // doubling regime: jump through the just-hopped labels
          val h = hop.localCheckpoint()
          val parents = h.select(col("doc_id").as("p_id"), col("label").as("p_label"))
          h.alias("h")
            .join(parents.alias("pp"), col("h.label") === col("pp.p_id"), "left")
            .select(col("h.doc_id").as("doc_id"),
              least(col("h.label"), coalesce(col("pp.p_label"), col("h.label"))).as("label"),
              (col("h.chg") ||
                coalesce(col("pp.p_label"), col("h.label")) < col("h.label")).as("chg"))
            .localCheckpoint()
        }
      changed = next.filter(col("chg")).limit(1).count() > 0
      labels = next.drop("chg")
    }
    require(!changed, s"label propagation did not converge in $iters iterations")
    labels
  }

  /** Materialize an intermediate corpus consumed by several downstream
    * stages. The default localCheckpoint pins it in executor storage —
    * fastest at test scale, but at 100 TB it competes with shuffle memory
    * and dies with executors. `graft.pipeline.spill=table` lands it in a
    * single-use Graft table instead: durable across executor loss,
    * re-readable through the full scan stack (stats/column pruning), and
    * reclaimed with its temp warehouse.
    */
  private[queries] def materializeCorpus(s: SparkSession, df: DataFrame): DataFrame =
    s.conf.getOption("graft.pipeline.spill") match {
      case Some("table") =>
        val t = TableOps.newCatalog().createTable("tmp.corpus_spill", df.schema)
        t.append(s, df)
        t.toDF(s)
      case _ => df.localCheckpoint()
    }

  /** Candidate pairs from signature buckets, with the in-bucket all-pairs
    * explode BOUNDED: a bucket of b members normally yields b·(b-1)/2 rows
    * from one group — a boilerplate-heavy corpus at 100 TB plants a
    * mega-bucket whose quadratic explode becomes one straggler task. Buckets
    * over `graft.neardup.max-bucket` (default 256) are split into sub-buckets
    * by a secondary hash (all-pairs within each) plus one bridge group of the
    * sub-bucket minima, so pair count is O(b·cap + (b/cap)²) and cluster
    * connectivity survives the split (every sub-bucket links through its
    * min). Below the cap the expansion is exactly the original all-pairs —
    * the common path pays one `when` per bucket row, nothing more.
    *
    * CONTRACT vs the gate oracles: the DuckDB twins of the neardup queries
    * enumerate EVERY same-sig pair, so above the cap the candidate sets
    * intentionally diverge (cross-sub-bucket pairs beyond the bridge minima
    * are the sacrifice that bounds the straggler task). The gate corpora
    * keep every bucket far under the default 256 — verified empirically by
    * the gates themselves staying green at all three SFs — while the
    * capped behavior is proven separately by the 3000-member planted-
    * bucket spec. Lowering graft.neardup.max-bucket under a gate corpus's
    * max bucket size WILL fail the oracle compare, by design.
    */
  private[graft] def boundedBucketPairs(buckets: DataFrame): DataFrame = {
    val cap = buckets.sparkSession.conf.getOption("graft.neardup.max-bucket")
      .map(_.toInt).getOrElse(256)
    def allPairs(df: DataFrame): DataFrame = df
      .select(explode(col("members")).as("doc_a"), col("members"))
      .select(col("doc_a"), explode(col("members")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b")) // also drops null mins of empty sub-buckets
    val candidates = buckets.filter(size(col("members")) > 1)
    // Branch-union, NOT a per-row `when`: wrapping every bucket in a
    // conditional group array put an extra generator stage and interpreted
    // sub-bucket lambdas on the 99.99% of buckets below the cap (measured
    // ~2x on the whole near-dup family at sf0.1). The two branches share
    // the bucket aggregation's exchange (ReuseExchange plans it once), so
    // the expensive signature computation is not duplicated.
    val small = allPairs(candidates.filter(size(col("members")) <= cap))
    def sub(i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      filter(col("members"), m => pmod(hash(m), col("nsub")) === i)
    val big = candidates.filter(size(col("members")) > cap)
      .withColumn("nsub", ceil(size(col("members")).cast("double") / cap).cast("int"))
      .withColumn("groups", concat(
        transform(sequence(lit(0), col("nsub") - 1), sub(_)),
        array(transform(sequence(lit(0), col("nsub") - 1), i => array_min(sub(i))))))
      .select(explode(col("groups")).as("members"))
      .filter(size(col("members")) > 1)
    small.union(allPairs(big))
  }

  /** Shared near-dup edge builder (shingle → k=4 MinHash sig → bucket pairs
    * → exact-Jaccard ≥ 0.5) over any (doc_id, text) corpus — the x_neardup_
    * jaccard pipeline reused as a building block.
    */
  /** The ONE candidate pipeline both near-dup consumers share: 2-shingles,
    * per-doc minhash signature (with the 'empty:' sentinel for shingle-less
    * docs — a NULL sig would both fuse them into one phantom bucket and
    * sort differently across engines), bucket-capped candidate pairs, and
    * the exact Jaccard verification. Shingle digests materialize in the
    * Generate (hashed once per row); only (doc_id, sig) leaves the node.
    * Returns (doc_a, doc_b, jaccard) for pairs with jaccard >= minJaccard.
    */
  private[graft] def verifiedNearDupPairs(docs: DataFrame,
                                            minJaccard: Double = 0.5): DataFrame =
    Extensions.pairJaccard(docs.select("doc_id", "text"), neardupCandidatePairs(docs))
      .filter(col("jaccard") >= minJaccard)

  /** The candidate HALF of the shared pipeline alone: (doc_a, doc_b) pairs
    * from the minhash signature buckets, unverified. Exposed so alternative
    * verification metrics (exact Jaccard above, edit distance in
    * x_neardup_edit) reuse one candidate generator instead of forking the
    * sentinel/bucket-cap discipline.
    */
  private[graft] def neardupCandidatePairs(docs: DataFrame): DataFrame =
    boundedBucketPairs(
      neardupSigs(docs).groupBy("sig").agg(collect_list(col("doc_id")).as("members")))

  /** The signature stage of [[neardupCandidatePairs]] alone: (doc_id, sig).
    * Exposed so the bucket-occupancy canary spec can measure the EXACT sig
    * buckets the candidate generator will build — the near-dup oracles are
    * plain sig self-joins that assume every bucket is below the
    * graft.neardup.max-bucket cap, so the canary pins that assumption to
    * the fixture rather than trusting it silently.
    */
  private[graft] def neardupSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .withColumn("sh", TF.shingles(col("text"), 2))
      .select(col("doc_id"), explode(array(TF.itemHashes(col("sh")))).as("_h"))
      .select(col("doc_id"),
        coalesce(TF.minhashFromHashes(col("_h"), k = 4),
          concat(lit("empty:"), col("doc_id").cast("string"))).as("sig"))

  /** Edit-distance verification of candidate pairs, same shuffle discipline
    * as [[pairJaccard]]: the measured pair set broadcasts when it fits the
    * budget (shuffled joins past it), the corpus streams through the two
    * joins, and only the matched rows' texts are carried — at 100 TB no
    * text enters an exchange keyed by anything but the candidate probe.
    * levenshtein is the O(|a|·|b|) DP in BOTH engines (integer-exact, so
    * the oracle comparison is bit-free of float concerns); it runs only on
    * the ~|pairs| matched rows, never corpus×corpus.
    */
  private[queries] def pairEditDistance(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val (cand, fits) = measuredPairs(pairs)
    val withA = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      .join(maybeBroadcast(cand, fits), "doc_a")
    val both = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
      .join(maybeBroadcast(withA, fits), "doc_b")
    both.withColumn("edit_dist", levenshtein(col("text_a"), col("text_b")))
  }

  /** The planted-clone embedding corpus both embedding-dedup gates share:
    * every 10th vector re-appears under id+100000 (an exact cosine-1.0
    * duplicate), and each row carries its 8-bit sign-LSH cell. ONE home for
    * the planting constants — the two gates' DuckDB twins must stay
    * byte-consistent with this construction, so it must not fork.
    */
  private[queries] def plantedEmbeddingCorpus(e: DataFrame): DataFrame = {
    val planted = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label"))
    e.unionByName(planted)
      .withColumn("bucket", VF.lshBucket(col("embedding"), bits = 8))
  }

  /** The x_heavy_hitters pipeline over any (doc_id, text) corpus — exposed
    * so the randomized property test replays the IDENTICAL operator
    * (sampling decision, both thresholds, ordering) over corpora the gate
    * fixture never exercises.
    */
  private[queries] def heavyHitters(docs: DataFrame): DataFrame = {
    val occ = docs
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("pos", "token")))
    val sampleKey = substring(
      md5(concat_ws(":", col("doc_id"), col("pos") + 1, col("token"))), 1, 1) === "0"
    val samp = occ.filter(sampleKey).groupBy("token").agg(count(lit(1)).as("sc"))
    val cand = samp.crossJoin(broadcast(samp.agg(sum(col("sc")).as("ts"))))
      .filter(col("sc") * 128 >= col("ts")).select("token")
    // NULL-text docs contribute ZERO, matching both the explode side
    // (posexplode drops null arrays) and the oracle's NULL-skipping SUM —
    // a bare size() would feed -1 per null row under non-ANSI sessions
    val total = docs.agg(
      sum(when(col("text").isNull, 0).otherwise(size(TF.tokens(col("text")))))
        .cast("long").as("total"))
    occ.join(broadcast(cand), "token")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(total))
      .filter(col("freq") * 64 >= col("total"))
      .select(col("token"), col("freq"),
        (col("freq").cast("double") / col("total")).as("share"))
      .orderBy(col("freq").desc, col("token"))
  }

  private[queries] def neardupEdges(docs: DataFrame): DataFrame =
    verifiedNearDupPairs(docs)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))

  /** Every §2.9 gate: (key, Spark query, DuckDB oracle SQL). Declaration
    * order is irrelevant (SparkEntry builds maps; Bench runs sorted) — the
    * per-family slices live in the ExtensionsXxxGates traits.
    */
  val entries: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    dedupGates ++
    annGates ++
    textGates ++
    multimodalGates ++
    analyticsGates ++
    retrievalGates ++
    crawlGates ++
    retractionGates
}
