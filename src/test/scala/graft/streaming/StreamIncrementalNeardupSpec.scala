package graft.streaming

import graft.SparkSpec
import graft.queries.{Extensions, TableOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Certifies the shipped streaming fuzzy crawl loop
  * ([[graft.queries.Extensions.streamIncrementalNeardup]], the
  * x_stream_incremental_neardup pipeline) on a hand-planted corpus where
  * the rejection classes cross micro-batch boundaries — the distinction
  * only the persisted band-signature STATE provides: a near-dup arriving
  * in a LATER slice of a doc ADMITTED in an earlier slice must reject via
  * the signatures that earlier batch appended. Also replays the
  * crash-window the helper's results-before-state ordering is designed
  * for: a results commit orphaned by a crash before the state commit must
  * no-op on replay, never double-admit.
  */
class StreamIncrementalNeardupSpec extends SparkSpec {
  import spark.implicits._

  private val docsSchema = new StructType()
    .add("doc_id", LongType).add("text", StringType)

  private def histDf = Seq(
    (100L, "the quick brown fox jumps over the lazy dog")
  ).toDF("doc_id", "text")

  // slice 0 (ids < 10): 1 and 5 are new (admit); 3 is a lightly-edited
  // recrawl of history 100 (reject via HIST sigs — nomination asserted as
  // a precondition below, not assumed). slice 1 (ids >= 10): 11 is an
  // exact copy of slice-0-ADMITTED doc 1 (must reject via the STATE rows
  // batch 0 appended — the cross-batch distinction); 13 is new (admit);
  // 15 is an exact copy of history (reject via hist).
  private def batchDf = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (3L, "the quick brown fox jumps over the lazy dog extra tail"),
    (5L, "one two three four five six seven eight nine ten"),
    (11L, "alpha beta gamma delta epsilon zeta eta theta"),
    (13L, "completely different words nothing shared here at all"),
    (15L, "the quick brown fox jumps over the lazy dog")
  ).toDF("doc_id", "text")

  private def newTables() = {
    val cat = new graft.catalog.GraftCatalog(tempWarehouse())
    val histSigs = Extensions.bandSigsOf(histDf)
    val state = cat.createTable("db.nd_sigs_spec", histSigs.schema,
      partitionBy = Seq("sig" -> graft.format.Transform.Bucket(4)))
    state.append(spark, histSigs)
    // the corpus table doubles as the results ledger: history text
    // pre-loaded, admitted rows appended per batch (the helper's
    // candidate fetch In-probes it instead of scanning a corpus DF)
    val corpus = cat.createTable("db.nd_corpus_spec", docsSchema,
      partitionBy = Seq("doc_id" -> graft.format.Transform.Bucket(8)),
      properties = Map(graft.format.TableProperties.BloomColumns -> "doc_id"))
    corpus.append(spark, histDf)
    (state, corpus)
  }

  private def stageSlices(): String = {
    val stage = TableOps.newTempDir("graft-sndspec")
    Extensions.stageOrderedSlices(batchDf, stage,
      when(col("doc_id") < 10L, 0).otherwise(1), 2)
    stage
  }

  private def admittedIds(corpus: graft.table.GraftTable): Set[Long] =
    corpus.toDF(spark).filter(col("doc_id") =!= 100L)
      .select("doc_id").as[Long].collect().toSet

  test("later-slice near-dups of earlier ADMISSIONS reject via state") {
    // precondition, not assumption: the edited recrawl (3) actually
    // NOMINATES against its history source under the shipped banded
    // minhash (an added shingle can displace a band minimum) and its
    // exact bigram Jaccard clears 0.5 — so its rejection below exercises
    // the verify path, not luck
    val nom = Extensions.bandSigsOf(batchDf.filter(col("doc_id") === 3L))
      .join(Extensions.bandSigsOf(histDf), Seq("band", "sig"))
      .count()
    assert(nom > 0, "fixture broke: edited recrawl no longer shares a band signature")

    val (state, corpus) = newTables()
    val fetches = scala.collection.mutable.Buffer.empty[graft.table.ScanMetrics]
    val batches = Extensions.streamIncrementalNeardup(
      spark, stageSlices(), docsSchema, state, corpus, onFetch = (m, _) => fetches += m)

    assert(batches == 2, s"expected 2 micro-batches, got $batches")
    val admitted = admittedIds(corpus)
    assert(admitted == Set(1L, 5L, 13L),
      s"admissions wrong: $admitted (11 must reject via the STATE carrying " +
        "batch 0's admission of doc 1; 3/15 via history)")
    // state grew append-only: 2 hist sig rows + 2 per admitted doc
    assert(state.toDF(spark).count() == 2 + 3 * 2)
    assert(state.meta.snapshots.size == 3, "hist append + one per batch")
    assert(corpus.meta.snapshots.size == 3, "hist load + one results commit per batch")
    // the candidate-text fetch is a pruned In-probe scan: by batch 1 the
    // corpus spans several files (hist + batch 0's admissions) and the
    // probe of partner ids {1, 100} must skip the rest (batch 0's corpus
    // is a single hist file, so pruning is only observable from batch 1)
    assert(fetches.size == 2)
    assert(fetches.last.filesScanned < fetches.last.filesTotal,
      s"fetch must prune: ${fetches.map(m => s"${m.filesScanned}/${m.filesTotal}")}")
  }

  test("crash between results and state commits: replay no-ops the results, completes the state") {
    val (state, corpus) = newTables()
    val stage = stageSlices()
    // simulate the crash window: batch 0's RESULTS commit landed (the
    // helper commits results first) but the process died before the state
    // commit and before the stream's own commit log recorded the batch —
    // on restart the file source redelivers batch 0 in full
    corpus.append(spark, Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (5L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text"),
      statementId = Some(s"$stage-res-0"))
    val batches = Extensions.streamIncrementalNeardup(
      spark, stage, docsSchema, state, corpus)
    assert(batches == 2)
    // no double-admission: the replayed batch-0 results append no-ops on
    // its statementId, and the recomputed admitted set was identical
    // because the state did NOT yet hold batch 0's signatures (the
    // orphaned rows sit in the verify corpus but are never nominated)
    val rows = admittedIds(corpus).toList
    assert(rows.sorted == List(1L, 5L, 13L),
      s"orphaned results commit double-admitted on replay: $rows")
    assert(corpus.meta.snapshots.size == 3,
      "hist + pre-committed batch 0 + batch 1 — the replayed batch-0 append must no-op")
    assert(state.meta.snapshots.size == 3, "state completes normally on replay")
  }

  test("re-running the finished crawl on the same checkpoint ingests nothing") {
    val (state, corpus) = newTables()
    val stage = stageSlices()
    Extensions.streamIncrementalNeardup(spark, stage, docsSchema, state, corpus)
    val (rows, stateRows) = (corpus.toDF(spark).count(), state.toDF(spark).count())
    val again = Extensions.streamIncrementalNeardup(
      spark, stage, docsSchema, state, corpus)
    assert(again == 0, s"finished checkpoint must deliver no batches, got $again")
    assert(corpus.toDF(spark).count() == rows && state.toDF(spark).count() == stateRows)
  }

  test("small batches probe the signature state with a pruned runtime-filtered scan") {
    // the exact loop's discipline applied to the NOMINATION read: the
    // batch's sig set (2 narrow rows per doc) is a bounded driver collect
    // pushed as an In probe, so a sig-bloom state skips files that cannot
    // collide with this batch (md5-uniform sig min/max never prunes; the
    // probe is a superset cut — band re-checked by the join). A grown
    // many-file state + a 2-doc batch must scan a small fraction.
    val cat = new graft.catalog.GraftCatalog(tempWarehouse())
    val state = cat.createTable("db.nd_sigs_probe",
      Extensions.bandSigsOf(histDf).schema,
      partitionBy = Seq("sig" -> graft.format.Transform.Bucket(4)),
      properties = Map(graft.format.TableProperties.BloomColumns -> "sig"))
    (0 until 3).foreach { c =>
      val hist = (0 until 200).map(i =>
          (1000L + c * 200 + i, s"w${c}a$i w${c}b$i w${c}c$i w${c}d$i w${c}e$i w${c}f$i w${c}g$i"))
        .toDF("doc_id", "text")
      state.append(spark, Extensions.bandSigsOf(hist))
    }
    val corpus = cat.createTable("db.nd_corpus_probe", docsSchema,
      partitionBy = Seq("doc_id" -> graft.format.Transform.Bucket(8)),
      properties = Map(graft.format.TableProperties.BloomColumns -> "doc_id"))
    // doc 1 is an exact copy of a crawl-0 doc (nominates + rejects); doc
    // 2 is fresh (admits)
    val batch = Seq(
      (1L, "w0a5 w0b5 w0c5 w0d5 w0e5 w0f5 w0g5"),
      (2L, "fresh tokens nothing shared with any state doc")
    ).toDF("doc_id", "text")
    // the rejection needs doc_b's TEXT in the corpus ledger
    corpus.append(spark, Seq((1005L, "w0a5 w0b5 w0c5 w0d5 w0e5 w0f5 w0g5"))
      .toDF("doc_id", "text"))
    val stage = TableOps.newTempDir("graft-sndspec-probe")
    Extensions.stageOrderedSlices(batch, stage, lit(0), 1)
    val scans = scala.collection.mutable.Buffer.empty[graft.table.ScanMetrics]
    Extensions.streamIncrementalNeardup(spark, stage, docsSchema, state, corpus,
      onStateScanMetrics = scans += _)
    val admitted = corpus.toDF(spark).filter(col("doc_id") < 100L)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(2L), s"state near-dup must reject, fresh admit: $admitted")
    assert(scans.size == 1)
    val m = scans.head
    assert(m.filesTotal >= 10,
      s"fixture must spread the state over many files: ${m.filesTotal}")
    assert(m.filesScanned * 2 < m.filesTotal,
      s"small-batch nomination probe must prune: ${m.filesScanned}/${m.filesTotal}")
  }
}
