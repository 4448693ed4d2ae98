package graft.tools

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.format.{Predicate, Transform}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The physical-plan characteristics that matter at 100 TB, enforced as
  * tests instead of a printed audit: filters reach the parquet scan,
  * projections prune the read schema, small dimensions broadcast, top-k
  * plans TakeOrderedAndProject (never an unpartitioned window), and graft
  * scans keep all of the above after driver-side pruning.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection reach the parquet scan on raw tables") {
    val d = "/root/testdata/sf0.001"
    val df = graft.queries.Tables.orders(spark, d)
      .filter(col("o_totalprice") > 200000.0)
      .select("o_orderkey", "o_totalprice")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,200000.0)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"read schema not pruned:\n$plan")
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"),
      s"no codegen span:\n$plan")
  }

  test("star join broadcasts the dimension side") {
    val d = "/root/testdata/sf0.001"
    val o = graft.queries.Tables.orders(spark, d)
    val c = graft.queries.Tables.customer(spark, d)
    val plan = planOf(o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1))))
    assert(plan.contains("BroadcastHashJoin"), s"dimension not broadcast:\n$plan")
  }

  test("graft scan keeps parquet pushdown after driver-side pruning") {
    val cat = new GraftCatalog(tempWarehouse())
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType), StructField("v", DoubleType)))
    val t = cat.createTable("db.audit", schema, partitionBy = Seq("cat" -> Transform.Identity))
    t.append(spark, spark.createDataFrame(
      Seq(Row(1L, "a", 1.0), Row(2L, "b", 2.0), Row(3L, "b", 3.0)).asJava, schema))
    val plan = planOf(t.toDF(spark, Predicate.Eq("cat", "b"), Predicate.Gt("v", 1.5)).select("id", "v"))
    assert(plan.contains("GreaterThan(v,1.5)"), s"residual filter not pushed to parquet:\n$plan")
    assert(!plan.contains("RowDataSourceScan"), s"row-based scan leaked in:\n$plan")
  }

  test("top-k plans TakeOrderedAndProject — no unpartitioned window anywhere") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      (1L to 50L).map(i => Row(i, Seq(i.toFloat, 1f))).asJava, schema)
    val q = spark.createDataFrame(Seq(Row(Seq(1.0f, 1.0f))).asJava,
      StructType(Seq(StructField("q", ArrayType(FloatType)))))
    val plan = planOf(
      graft.functions.VectorFunctions.bruteForceTopK(df, q, "vec_id", "embedding", 5))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$plan")
    assert(!plan.contains("Window"), s"window crept back into top-k:\n$plan")
  }

  test("knn join: query batch broadcasts; every window partition key carries the query id") {
    val d = "/root/testdata/sf0.001"
    val e = graft.queries.Tables.embeddings(spark, d)
    val plan = planOf(graft.functions.VectorFunctions.knnJoin(
      e.filter(col("vec_id") % 10 =!= 0), e.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", "vec_id", "embedding", k = 5))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query batch not broadcast:\n$plan")
    // both windows partition by _graft_qid (stage 1 additionally by bucket):
    // an unpartitioned window over the scored corpus is the single-reducer
    // straggler this operator exists to avoid
    val winSpecs = "Window .*".r.findAllIn(plan).toList
    assert(winSpecs.nonEmpty, s"expected window stages:\n$plan")
    winSpecs.foreach(w =>
      assert(w.contains("_graft_qid"), s"window not partitioned by query id: $w"))
  }

  test("heavy hitters: candidate and total sides broadcast — the corpus never joins shuffled") {
    val gate = graft.queries.Extensions.entries.find(_._1 == "x_heavy_hitters").get._2
    val plan = planOf(gate(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("SortMergeJoin"),
      s"probe join degraded to a shuffle join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"candidates not broadcast:\n$plan")
  }

  test("tfidf: top-k is TakeOrderedAndProject, corpus count broadcasts") {
    val gate = graft.queries.Extensions.entries.find(_._1 == "x_tfidf").get._2
    val plan = planOf(gate(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("TakeOrderedAndProject"), s"top-15 not TakeOrdered:\n$plan")
    assert(!plan.contains("Window"), s"global window crept into tfidf:\n$plan")
  }

  test("near-dup candidate generation is an equi-join on bucket — never all-pairs") {
    val d = "/root/testdata/sf0.001"
    val e = graft.queries.Tables.embeddings(spark, d)
      .withColumn("bucket", graft.functions.VectorFunctions.lshBucket(col("embedding"), bits = 8))
    val a = e.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = e.select(col("bucket"), col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val pairs = a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .filter(graft.functions.VectorFunctions.cosineSimilarity(col("emb_a"), col("emb_b")) >= 0.99)
    val plan = planOf(pairs)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation degenerated to all-pairs:\n$plan")
    assert(plan.contains("bucket"), s"join key missing:\n$plan")
  }

  test("incremental-state gates: id-set joins broadcast, probes stay equi — never all-pairs") {
    val d = "/root/testdata/sf0.001"
    for (name <- Seq("x_incremental_dedup_compacted", "x_incremental_novelty")) {
      val gate = graft.queries.Extensions.entries.find(_._1 == name).get._2
      val plan = planOf(gate(spark, d))
      assert(!plan.contains("CartesianProduct"),
        s"$name: a state probe degenerated to all-pairs:\n$plan")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"$name: the bounded id set did not broadcast:\n$plan")
    }
  }

  test("ann recall: every ranking window is per-query — no global window, no cartesian") {
    val gate = graft.queries.Extensions.entries.find(_._1 == "x_ann_recall").get._2
    val plan = planOf(gate(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct"),
      s"a probe join degenerated to an unkeyed product:\n$plan")
    // knnJoin's broadcast of the query batch is the one intended
    // nested-loop; the LSH/IVF probe sides must stay cell-keyed windows
    // partitioned by the query id — a global window over scored pairs is
    // the single-reducer straggler the per-query shape exists to avoid
    val winSpecs = "Window .*".r.findAllIn(plan).toList
    assert(winSpecs.nonEmpty, s"expected per-query rank windows:\n$plan")
    winSpecs.foreach(w =>
      assert(w.contains("query_id") || w.contains("_graft_qid"),
        s"rank window not partitioned by query id: $w"))
  }

  /** The read layouts (one per write schema) the Graft scans of `df` hand
    * their readers: where the by-ID nested rebuild now lives.
    */
  private def layoutsOf(df: org.apache.spark.sql.DataFrame): Seq[graft.sources.ReadLayout] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collect { case g: graft.sources.GraftDppScan =>
      g.createReaderFactory().asInstanceOf[graft.sources.GraftSpjReaderFactory].layouts.values
    }.flatten

  test("nested-evolution read path: un-evolved struct columns stay on the cast fast path") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("meta", StructType(Seq(
        StructField("uid", IntegerType), StructField("tag", StringType))))))
    val cat = new GraftCatalog(tempWarehouse())

    // table A: never evolved — the scan must NOT rebuild the struct
    val a = cat.createTable("db.audit_flat", schema)
    a.append(spark, spark.createDataFrame(
      Seq(Row(1L, Row(10, "x"))).asJava, a.meta.currentSchema))
    val layoutsA = layoutsOf(a.toDF(spark))
    assert(layoutsA.nonEmpty && layoutsA.forall(_.ordinals.isDefined),
      s"un-evolved struct should be read as is, not rebuilt:\n$layoutsA")

    // table B: nested evolution — old files must be re-projected by ID
    val b = cat.createTable("db.audit_evolved", schema)
    b.append(spark, spark.createDataFrame(
      Seq(Row(1L, Row(10, "x"))).asJava, b.meta.currentSchema))
    b.dropColumn("meta.tag")
    b.addColumn("meta.note", StringType)
    val layoutsB = layoutsOf(b.toDF(spark))
    val rebuild = layoutsB.flatMap(_.exprs).mkString("\n")
    assert(rebuild.contains("if (isnull(") && rebuild.contains("named_struct(uid"),
      s"evolved struct read must re-project by ID:\n$rebuild")
    // dropped subfield is pruned out of the parquet read entirely
    assert(layoutsB.exists(_.request.catalogString.contains("meta:struct<uid:int>")),
      s"dropped subfield should not be read:\n${layoutsB.map(_.request.catalogString)}")
    assert(b.toDF(spark).collect().toSeq == Seq(Row(1L, Row(10, null))))
    // nested-pruned reads rebuild only the subfields they ask for
    assert(b.toDF(spark).select(col("meta.uid")).collect().toSeq == Seq(Row(10)))
    assert(b.toDF(spark).select(col("meta.note")).collect().toSeq == Seq(Row(null)))
    // and the rebuild disappears again for files written under the NEW shape
    val c = cat.loadTable("db.audit_evolved")
    val newOnly = c.toDF(spark).filter(col("meta.note").isNotNull)
    assert(newOnly.count() == 0) // old file has null note; plan still resolves
  }

  test("sequence packing: ONE exchange — the aggregate reuses the window's partitioning") {
    // the groupBy keys (lang, shard, seq_id) are a superset of the window's
    // partition keys (lang, shard), so hash(lang, shard) already satisfies
    // the aggregate's distribution: a second shuffle would be pure waste at
    // 100 TB. Guard the plan, not just the answer.
    val run = graft.queries.Extensions.entries.find(_._1 == "x_pack_sequences").get._2
    val df = run(spark, "/root/testdata/sf0.001")
    df.collect()
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val top = df.queryExecution.executedPlan
    val plans = top +: top.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
    val shuffles = plans.map(_.collect { case _: ShuffleExchangeExec => 1 }.sum).sum
    // one exchange for the window partitioning, one for the final orderBy's
    // range partitioning (presentation only) — the aggregate must add NONE
    assert(shuffles <= 2, s"sequence packing should shuffle once (+sort): $shuffles\n$top")
  }

  test("pii scrub is map-only: the lone exchange is the per-lang rollup") {
    // the scrub itself (regexp_replace/regexp_count over text) must add no
    // exchange — at 100 TB the text never moves; only the tiny per-lang
    // partial aggregates do.
    val run = graft.queries.Extensions.entries.find(_._1 == "x_pii_scrub").get._2
    val df = run(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    val exchanges = "Exchange ".r.findAllIn(plan).size
    assert(exchanges <= 2, // agg rollup + presentation orderBy
      s"scrub must not shuffle text — expected <=2 exchanges (agg + sort):\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"rollup must be partial+final (map-side combined):\n$plan")
  }

  test("domain mix broadcasts the per-source rate table onto the corpus") {
    // per-source totals are rows=#sources; joining them back must be a
    // broadcast hash join, never a shuffled join of the corpus.
    val run = graft.queries.Extensions.entries.find(_._1 == "x_domain_mix").get._2
    val df = run(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"rate table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle for the rates join:\n$plan")
  }

  test("decontamination probes a broadcast gram set — train text never shuffles") {
    val run = graft.queries.Extensions.entries.find(_._1 == "x_decontaminate").get._2
    val df = run(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), s"eval grams must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge join anywhere in the decontamination plan:\n$plan")
  }

  test("per-group kmv sketch: two bounded exchanges, no collect_set, window over deduped pairs") {
    // exchange #1 carries per-partition-DISTINCT (group, hash) pairs (the
    // map-side combine dedups first — raw rows never move), exchange #2
    // re-partitions those deduped pairs by group for the window; the final
    // per-group aggregate reuses hash(g). No ObjectHashAggregate anywhere:
    // a collect_set-per-group would hold a group's whole distinct set.
    import spark.implicits._
    val df = (1 to 2000).map(i => (s"g${i % 3}", i)).toDF("g", "v").repartition(8)
    val sk = graft.functions.SketchFunctions.kmvSketchByGroup(df, col("g"), col("v"), 64)
    sk.collect()
    val plan = planOf(sk).split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"per-group sketch must shuffle at most twice (deduped pairs + window):\n$plan")
    assert(!plan.contains("rangepartitioning"), s"no range exchange:\n$plan")
    assert(plan.contains("Window"), s"top-k-per-group must be a window:\n$plan")
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("collect_set"),
      s"no unbounded per-group state:\n$plan")
    assert(plan.contains("partial_"), s"distinct must partial-aggregate map-side:\n$plan")
  }

  test("quantized ANN: broadcast query, TakeOrdered coarse cut, no window, no shuffled join") {
    val d = "/root/testdata/sf0.001"
    val e = graft.queries.Tables.embeddings(spark, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val topk = graft.functions.VectorFunctions.quantizedTopK(
      e.filter(col("vec_id") =!= 0), q, "vec_id", "embedding", 10, 50)
    val plan = planOf(topk)
    assert(plan.contains("TakeOrderedAndProject"),
      s"coarse cut must be per-task top-k:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"query vector must broadcast:\n$plan")
    assert(!plan.contains("Window"), s"no window in the ANN path:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus must not shuffle for the query join:\n$plan")
  }

  test("stored quantized corpus: the coarse ANN pass never reads the float column") {
    // production shape of x_sim_quantized: codes are STORED beside the
    // floats; the coarse scan must column-prune the embedding out of the
    // parquet read entirely (the 4x-fewer-bytes claim is a ReadSchema
    // fact, not an intention), and the re-rank reads floats for only the
    // m candidate ids.
    val d = "/root/testdata/sf0.001"
    val e = graft.queries.Tables.embeddings(spark, d)
      .withColumn("codes",
        graft.functions.VectorFunctions.quantizeInt8(col("embedding")).getField("codes"))
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.qcorpus", e.schema)
    t.append(spark, e)
    val q = e.filter(col("vec_id") === 0)
      .select(graft.functions.VectorFunctions.quantizeInt8(col("embedding"))
        .getField("codes").as("qcodes"))
    val coarse = t.toDF(spark)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("qsim",
        graft.functions.VectorFunctions.quantizedCosine(col("codes"), col("qcodes")))
      .select("vec_id", "qsim")
      .orderBy(col("qsim").desc, col("vec_id")).limit(50)
    val plan = planOf(coarse)
    // the CORPUS scan (the qcorpus table's graft-dpp scan) must read codes
    // only; the 1-row query side reads its float vector from the raw fixture
    val corpusScans = plan.linesIterator.filter(l =>
      l.contains("graft-dpp") && l.contains("qcorpus")).toList
    assert(corpusScans.nonEmpty, s"no corpus graft-dpp scan found:\n$plan")
    assert(corpusScans.forall(l =>
      l.contains("ReadSchema: struct<vec_id:bigint,codes:array<int>>")),
      s"coarse corpus scan must read codes, not the float embedding column:\n$corpusScans")
    assert(plan.contains("TakeOrderedAndProject"), s"coarse cut must be top-k:\n$plan")
    // re-rank: float reads happen for the candidate ids only
    val ids = coarse.collect().map(_.getLong(0))
    val rerank = t.toDF(spark).filter(col("vec_id").isin(ids: _*))
      .select("vec_id", "embedding")
    val rplan = planOf(rerank)
    assert(rplan.contains("embedding") && !rplan.contains("codes:array"),
      s"re-rank reads floats (and not codes) for candidates only:\n$rplan")
    assert(rerank.count() == 50)
  }

  test("quantizedTopK(codesCol): coarse scan column-prunes floats; re-rank fetches by pushed In") {
    // the packaged stored-codes path must have the same facts the
    // hand-rolled shape above proves — and BOTH halves matter: without
    // the re-rank pushdown, codes + floats of the corpus would read MORE
    // bytes than floats alone, making the 4x cut fake. The coarse pass
    // collapses to a driver-side winner-id list inside quantizedTopK, so
    // its scan is pinned on the projection it plans from (identical
    // graft-dpp scan — projection pruning is select-driven), and the returned
    // df's lineage IS the re-rank.
    val d = "/root/testdata/sf0.001"
    val e = graft.queries.Tables.embeddings(spark, d)
      .withColumn("codes",
        graft.functions.VectorFunctions.quantizeInt8(col("embedding")).getField("codes"))
    val cat = new GraftCatalog(tempWarehouse())
    val t = cat.createTable("db.qapi", e.schema)
    t.append(spark, e)
    val corpus = t.toDF(spark).filter(col("vec_id") =!= 0)
    val coarseScans = planOf(corpus.select(col("vec_id"), col("codes")))
      .linesIterator.filter(l => l.contains("graft-dpp") && l.contains("qapi")).toList
    assert(coarseScans.nonEmpty && coarseScans.forall(_.contains(
      "ReadSchema: struct<vec_id:bigint,codes:array<int>>")),
      s"coarse projection must scan codes only:\n$coarseScans")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val topk = graft.functions.VectorFunctions.quantizedTopK(
      corpus, q, "vec_id", "embedding", 10, 50, codesCol = Some("codes"))
    val rerankScans = planOf(topk).linesIterator.filter(l =>
      l.contains("graft-dpp") && l.contains("qapi")).toList
    assert(rerankScans.exists(l =>
      l.contains("embedding:array<float>") && l.contains("In(vec_id")),
      s"re-rank must fetch floats under the pushed winner-id In filter:\n$rerankScans")
    assert(!rerankScans.exists(_.contains("codes:array")),
      s"re-rank must not read codes:\n$rerankScans")
    assert(topk.count() == 10)
  }

  test("corpus shuffle write path: one hash exchange + local sort, no global sort") {
    // the 100 TB shape behind x_corpus_shuffle: shard + order are pure row
    // functions, so materializing a shuffled epoch is repartition(shard)
    // .sortWithinPartitions(hash) — ONE hash exchange, per-partition sort,
    // and NEVER a range exchange (a global ORDER BY rand() would range-
    // partition and sample the whole corpus first).
    val h = md5(concat(lit("epoch1:"), col("doc_id").cast("string")))
    val df = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("h", h)
      .withColumn("shard", substring(col("h"), 1, 1))
      .repartition(col("shard"))
      .sortWithinPartitions("h")
    df.collect()
    // string-walk the final plan: AQE hides the Exchange inside a
    // ShuffleQueryStage (not a TreeNode child), so node collection misses
    // it; drop the "== Initial Plan ==" section (it repeats every node)
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one hash exchange:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"shard exchange must hash-partition, not range:\n$plan")
    val sorts = "(?m)^.*\\bSort \\[.*$".r.findAllIn(plan).toList
    assert(sorts.nonEmpty && sorts.forall(_.contains("], false, 0")),
      s"ordering must be per-partition (no global sort):\n$plan")
  }

  test("window features: keyed RANGE-frame window, zero joins") {
    val gate = graft.queries.Extensions.entries.find(_._1 == "x_window_features").get._2
    val plan = planOf(gate(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("windowspecdefinition(l_suppkey"),
      s"window not keyed by supplier:\n$plan")
    assert(!plan.contains("Join"), s"trailing features must not join:\n$plan")
  }

  test("oov rate: vocab is TakeOrderedAndProject, token probe broadcasts") {
    val gate = graft.queries.Extensions.entries.find(_._1 == "x_oov_rate").get._2
    val plan = planOf(gate(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N vocab must be TakeOrdered, not a global window/sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 16-row vocab must broadcast into the token stream:\n$plan")
    assert(!plan.contains("Window"), s"no window belongs in oov scoring:\n$plan")
  }

  test("lsh ann join: hash join on the cell key, ranking window keyed by query") {
    val gate = graft.queries.Extensions.entries.find(_._1 == "x_lsh_ann_join").get._2
    val plan = planOf(gate(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cell join degenerated to all-pairs:\n$plan")
    assert(plan.contains("windowspecdefinition(query_id"),
      s"per-query ranking window must partition by query_id:\n$plan")
  }

  test("quality buckets: map-side CASE + hash agg — never a global sort or ntile") {
    val gate = graft.queries.Extensions.entries.find(_._1 == "x_quality_buckets").get._2
    val plan = planOf(gate(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("Window"), s"ntile/window crept into bucketing:\n$plan")
    assert(plan.contains("CASE WHEN"), s"expected the broadcast-threshold CASE:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected a hash aggregate:\n$plan")
  }

  test("keyword search: top-k is TakeOrderedAndProject, no cartesian, no window") {
    val gate = graft.queries.Extensions.entries.find(_._1 == "x_keyword_search").get._2
    val plan = planOf(gate(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("TakeOrderedAndProject"), s"ranked cut not TakeOrdered:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"posting intersection must be an equi-join:\n$plan")
    assert(!plan.contains("Window"), s"window crept into the ranking:\n$plan")
  }

  test("random projection gate: one exchange (the label rollup), no joins, no window") {
    val gate = graft.queries.Extensions.entries.find(_._1 == "x_random_projection").get._2
    val plan = planOf(gate(spark, "/root/testdata/sf0.001"))
    // projection itself is row-local; the only exchange the gate may pay is
    // the (label, j) aggregate + its output ordering
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"projection gate must not add exchanges beyond agg+sort:\n$plan")
    assert(!plan.contains("Join"), s"projection is map-only — no joins:\n$plan")
    assert(!plan.contains("Window"), s"projection gate must not window:\n$plan")
  }

  test("lm score: model and probe joins stay equi — never cartesian, never windowed") {
    val d = "/root/testdata/sf0.001"
    val plan = planOf(graft.queries.Extensions.lmScoreRollup(
      graft.queries.Tables.documents(spark, d)))
    // the model build (c2 x c1 on the head word) and the corpus probe (on
    // the bigram key) are both hash-partitionable equi-joins — an
    // all-pairs fallback here is the 100 TB scale killer
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"LM joins must be equi:\n$plan")
    assert(!plan.contains("Window"), s"no window belongs in the LM rollup:\n$plan")
    assert(plan.contains("HashAggregate"), s"counts must hash-aggregate:\n$plan")
  }

  test("importance resample: the 256-cell weight table broadcasts onto the corpus") {
    val gate = graft.queries.Extensions.entries.find(_._1 == "x_importance_resample").get._2
    val plan = planOf(gate(spark, "/root/testdata/sf0.001"))
    // the hashed-feature table is constant-size by construction — if it
    // ever shuffle-joins, the whole point of hashed DSIR is lost
    assert(plan.contains("BroadcastHashJoin"), s"weight table not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"resample joins must be equi:\n$plan")
    assert(!plan.contains("Window"), s"no window belongs in the resample:\n$plan")
  }
  test("perceptual-hash dedup gates: band joins stay equi-keyed — never all-pairs over blobs") {
    val d = "/root/testdata/sf0.001"
    // x_video_neardup included: its candidate join keys on (frame,
    // band_key) and its aligned verify on (vid_id, frame) — both equi;
    // a nested-loop anywhere would mean per-frame hashes (or worse,
    // pixels) going all-pairs
    for (name <- Seq("x_image_neardup", "x_image_neardup_scaled",
        "x_audio_neardup", "x_video_neardup",
        "x_audio_neardup_16bit", "x_audio_neardup_offset",
        "x_video_neardup_trimmed", "x_video_containment")) {
      val gate = graft.queries.Extensions.entries.find(_._1 == name).get._2
      val plan = planOf(gate(spark, d))
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: candidate generation degenerated to all-pairs:\n$plan")
      assert(plan.contains("band"), s"$name: band join key missing:\n$plan")
    }
  }
}
