package graft.streaming

import graft.Pins
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** The COMPOSED curation pipeline as a continuous job — the streaming twin
  * of the batch `pipeline_curate` flagship ([[graft.operators.Pipeline]]),
  * with the near-dup stage in its greedy growing-corpus form (the only
  * order-deterministic continuous semantic; see
  * [[StreamingDedup.growingCurationStream]]'s scaladoc for why batch CC
  * collapse has no streaming equivalent).
  *
  * Per arriving document, in doc_id order within a batch and batch order
  * across batches (the same total order as the batch pipeline's doc_id
  * survivorship rule):
  *
  *   1. exact/near dedup against every EARLIER KEPT-BY-DEDUP doc — the
  *      growing index from [[StreamingDedup.GreedyGrowingIndex]]. As in
  *      the batch pipeline, dedup runs FIRST and is blind to quality
  *      flags: a repetition-flagged doc still absorbs its exact twin
  *      (both end up dropped — stage order is semantics, not cosmetics).
  *   2. repetition gate — dominant-bigram ratio, same thresholds as
  *      [[graft.operators.QualityFilters.repetitionFilter]]; per-doc
  *      arithmetic, order-independent.
  *   3. decontamination gate — shingle containment ≥ 0.5 against a STATIC
  *      benchmark shingle frame (eval sets are fixed artifacts — MBs; at
  *      scale this is a broadcast stream-static join, the canonical
  *      Structured Streaming enrichment shape).
  *   4. split assignment — the content-stable md5 bucket of
  *      [[graft.operators.DataPrep.splitOf]]; kept docs only.
  *
  * Verdict precedence mirrors batch stage order: a dedup drop reports
  * `exact`/`near` (keeper_id set); a dedup survivor failing a gate
  * reports `repetition` else `contaminated`; survivors report `kept`
  * with their split. Each micro-batch does bounded distributed work
  * (candidates against the index + batch-local aggregates); only the
  * batch's own decision list reaches the driver.
  *
  * Spec-pinned ([[graft.StreamingCurateSpec]]): decisions equal an
  * independent O(n²) greedy + per-doc-arithmetic reference for ANY
  * micro-batch slicing of the corpus. */
object StreamingCurate {
  import StreamingDedup.DocEvent

  /** One curation decision. `verdict` ∈ kept | exact | near | repetition |
    * contaminated; `keeper_id` is the absorbing doc for dedup drops, −1
    * otherwise; `split` is train/valid/test for kept docs, "" otherwise. */
  case class CurateVerdict(doc_id: Long, verdict: String, keeper_id: Long,
                           split: String)

  private val RepMinCount = 2
  private val RepRatio = 0.05
  private val DeconThreshold = 0.5

  /** Distinct-shingle frame (s) of the benchmark documents — build once
    * from the eval-set corpus and pass to [[curateStream]]. */
  def benchmarkShingles(benchDocs: DataFrame): DataFrame =
    Dedup.shingles(benchDocs).select("s").distinct()

  /** Per-batch stateless gates: (repetition-flagged ids, contaminated
    * ids) — distributed aggregates over the batch sliver, batch-sized
    * collects. Shared by [[curateStream]] and [[trainingSetStream]]. */
  private def statelessFlags(mb: DataFrame, bench: DataFrame): (Set[Long], Set[Long]) = {
    val (rep, cont, _) = statelessMeta(mb, bench, withSplits = false)
    (rep, cont)
  }

  /** One-action form of the stateless gates: repetition flags,
    * contamination flags and (optionally) split buckets collected in a
    * SINGLE distributed job — per-batch fixed job overhead is a real
    * fraction of small-batch latency, and the three are independent
    * per-doc aggregates over the same pinned batch. */
  private def statelessMeta(mb: DataFrame, bench: DataFrame,
                            withSplits: Boolean)
      : (Set[Long], Set[Long], Map[Long, String]) = {
    val bg = Dedup.ngrams(mb, 2)
    val rep = bg.groupBy("doc_id", "s").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_c"), sum(col("c")).as("total"))
      .select(col("doc_id"),
        (col("top_c") >= RepMinCount &&
          col("top_c").cast("double") / col("total").cast("double") >= RepRatio)
          .as("flag"))
    val cont = Dedup.shingles(mb)
      // bench is a pinned (stats-free) frame: without the hint the
      // stream-static enrichment join would shuffle both sides; the eval
      // set is a fixed MB-scale artifact — the canonical broadcast side
      .join(broadcast(bench), Seq("s"), "left")
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"),
        (col("n_hit").cast("double") / col("n_sh").cast("double") >= DeconThreshold)
          .as("flag"))
    val base = mb.select(col("doc_id"),
      (if (withSplits) graft.operators.DataPrep.splitBucketCol else lit(-1))
        .as("bucket"))
    val rows = base
      .join(rep.select(col("doc_id"), col("flag").as("rep_flag")), Seq("doc_id"), "left")
      .join(cont.select(col("doc_id"), col("flag").as("cont_flag")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep_flag"), lit(false)),
        coalesce(col("cont_flag"), lit(false)), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getInt(3)))
    (rows.collect { case (d, true, _, _) => d }.toSet,
     rows.collect { case (d, _, true, _) => d }.toSet,
     if (!withSplits) Map.empty
     else rows.map { case (d, _, _, b) =>
       d -> (if (b < 90) "train" else if (b < 95) "valid" else "test")
     }.toMap)
  }

  /** `banded = true` routes the growing dedup layer through the minhash
    * band candidate generator (see [[StreamingDedup.GreedyGrowingIndex]])
    * — the form whose per-batch cost stays flat as the kept index grows;
    * the default stays the exact lex-prefix probe, whose decisions are
    * pinned against the O(n²) greedy reference. */
  def curateStream(stream: Dataset[DocEvent], benchShingles: DataFrame,
                   t: Double = 0.5, banded: Boolean = false)
                  (sink: (Seq[CurateVerdict], Long) => Unit)
      : DataStreamWriter[Row] = {
    val proc = new CurateProcessor(benchShingles, t, sink, banded)
    stream.toDF().writeStream.foreachBatch(proc.process _)
  }

  /** The per-micro-batch body of [[curateStream]], a named class so the
    * retry spec can invoke `process` directly with a repeated batchId —
    * the one foreachBatch behavior a MemoryStream run cannot force.
    *
    * Same-run retry guard: Structured Streaming may re-invoke
    * foreachBatch with the SAME batchId after a transient sink failure;
    * unconditionally re-growing the greedy index would double-absorb the
    * batch and flip later verdicts. A repeated batchId re-emits the
    * cached verdicts instead — the growing index already reflects them.
    * (Cross-RESTART replay is out of scope for this session-state form;
    * that is [[trainingSetStreamDurable]]'s contract.) */
  private[graft] final class CurateProcessor(
      benchShingles: DataFrame, t: Double,
      sink: (Seq[CurateVerdict], Long) => Unit,
      banded: Boolean = false) {
    private val gi = new StreamingDedup.GreedyGrowingIndex(t, banded)
    // the benchmark frame is re-joined every batch: pin it once, for the
    // life of the stream
    private val bench = new Pins.Ledger().within(
      Pins.checkpoint(benchShingles.withColumn("hit", lit(1))))
    private var lastBatch = -1L
    private var lastVerdicts: Seq[CurateVerdict] = Nil

    def process(mb0: DataFrame, batchId: Long): Unit = {
      if (batchId == lastBatch) { sink(lastVerdicts, batchId); return }
      val verdicts = Pins.scope {
        val mb = Pins.checkpoint(mb0.select("doc_id", "text"))

        // ---- stage 1: greedy dedup, all docs participate (flags come later)
        val dedup = gi.decideAndGrow(mb)

        // ---- stages 2-4: per-doc, order-independent, ONE distributed pass
        // (split assignment uses THE shared bucket column from DataPrep —
        // one definition across batch and streaming builds)
        val (rep, cont, splits) = statelessMeta(mb, bench, withSplits = true)

        dedup.map { d =>
          if (d.kind != "kept") CurateVerdict(d.doc_id, d.kind, d.keeper_id, "")
          else if (rep(d.doc_id)) CurateVerdict(d.doc_id, "repetition", -1L, "")
          else if (cont(d.doc_id)) CurateVerdict(d.doc_id, "contaminated", -1L, "")
          else CurateVerdict(d.doc_id, "kept", -1L, splits(d.doc_id))
        }
      }
      lastBatch = batchId; lastVerdicts = verdicts
      sink(verdicts, batchId)
    }
  }

  // ------------------------------------------------- training-set stream
  /** A document with its ingest metadata — the event type of the full
    * training-set stream (production docs arrive WITH their source; the
    * harness derives it, but the operator never does). */
  case class CurateDoc(doc_id: Long, text: String, source: String)

  /** One continuously-emitted training-set row — the streaming form of a
    * [[graft.operators.Pipeline.trainingSet]] output row (sans digest:
    * the batch build hashes payloads for the cross-engine gate; the
    * stream's contract is the placement decision). */
  case class TrainingRow(doc_id: Long, source: String, split: String,
                         copies: Long, n_tokens: Long, chunk_id: Long)

  /** Batch-sized driver map of per-doc tail-stage inputs — source, token
    * count, mix/split buckets, permille weight — computed in ONE
    * distributed pass with the shared [[graft.operators.DataPrep]] column
    * helpers (the same expressions the oracle-gated batch build uses). */
  private def collectMeta(mb0: DataFrame)
      : Map[Long, (String, Long, Int, Int, Int)] =
    mb0.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        graft.operators.DataPrep.mixBucketCol.as("mbucket"),
        graft.operators.DataPrep.splitBucketCol.as("sbucket"),
        graft.operators.DataPrep.sourceW1000Col.as("w1000"))
      .collect().map { r =>
        r.getLong(0) -> (r.getString(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5))
      }.toMap

  /** Driver-side twins of [[graft.operators.DataPrep.copiesCol]] and
    * [[graft.operators.DataPrep.splitLabelOf]] — the per-batch greedy
    * tail runs on collected ints; keep the mirror in one place. */
  private def copiesOf(w1000: Int, mbucket: Int): Int =
    w1000 / 1000 + (if (mbucket < w1000 % 1000) 1 else 0)
  private def splitLabelOf(sbucket: Int): String =
    if (sbucket < 90) "train" else if (sbucket < 95) "valid" else "test"

  /** The END-TO-END training-set build as a continuous job: curation
    * verdicts exactly as [[curateStream]], then the surviving docs run
    * the batch build's tail stages — source-weighted mixture replication
    * (same permille arithmetic as `prep_mix_weighted`; zero-copy docs
    * leave the set) and sequence chunking against a PER-SOURCE running
    * token offset. The offsets are driver state (one counter per source
    * — the same footprint class as the greedy decision list), advanced
    * in arrival order: chunk placement follows the order documents
    * actually arrive, which IS the streaming-meaningful order (the batch
    * build's doc_id order coincides when ingest is id-ordered, as the
    * equivalence spec arranges).
    *
    * Durability: in THIS form the greedy index and the offset counters
    * are session state (a restart resumes from an empty index and zero
    * offsets) — the fast path when the stream owns its lifetime.
    * [[trainingSetStreamDurable]] is the restart-safe twin: on-disk
    * growing index plus per-batchId offset snapshots, replay-stable
    * end to end. */
  def trainingSetStream(stream: Dataset[CurateDoc], benchShingles: DataFrame,
                        t: Double = 0.5)
                       (sink: (Seq[TrainingRow], Long) => Unit)
      : DataStreamWriter[Row] = {
    val proc = new TrainingSetProcessor(benchShingles, t, sink)
    stream.toDF().writeStream.foreachBatch(proc.process _)
  }

  /** Per-micro-batch body of [[trainingSetStream]] — named class for the
    * same retry-spec reason as [[CurateProcessor]]: a re-invoked batchId
    * must not double-advance the offsets or double-grow the index. */
  private[graft] final class TrainingSetProcessor(
      benchShingles: DataFrame, t: Double,
      sink: (Seq[TrainingRow], Long) => Unit) {
    private val gi = new StreamingDedup.GreedyGrowingIndex(t)
    private val bench = new Pins.Ledger().within(
      Pins.checkpoint(benchShingles.withColumn("hit", lit(1))))
    private val offsets = scala.collection.mutable.Map.empty[String, Long]
    private var lastBatch = -1L
    private var lastRows: Seq[TrainingRow] = Nil

    def process(mb0: DataFrame, batchId: Long): Unit = {
      if (batchId == lastBatch) { sink(lastRows, batchId); return }
      lastRows = Pins.scope {
        val mb = Pins.checkpoint(mb0.select("doc_id", "text"))
        val dedup = gi.decideAndGrow(mb)
        val (rep, cont) = statelessFlags(mb, bench)
        // per-doc tail-stage inputs, one distributed pass: token count, mix
        // and split buckets, permille weight — the SHARED column helpers
        // from DataPrep, so batch and stream cannot desynchronize
        val meta = collectMeta(mb0)

        val rows = Seq.newBuilder[TrainingRow]
        // dedup decisions are already in doc_id order (the greedy rule's
        // order); offsets advance in exactly that order
        dedup.foreach { d =>
          if (d.kind == "kept" && !rep(d.doc_id) && !cont(d.doc_id)) {
            val (src, nTok, mbucket, sbucket, w1000) = meta(d.doc_id)
            val copies = copiesOf(w1000, mbucket)
            if (copies >= 1) {
              val split = splitLabelOf(sbucket)
              val off = offsets.getOrElse(src, 0L)
              rows += TrainingRow(d.doc_id, src, split, copies.toLong, nTok,
                off / SeqTokens)
              offsets(src) = off + copies * nTok
            }
          }
        }
        rows.result()
      }
      lastBatch = batchId
      sink(lastRows, batchId)
    }
  }

  private val SeqTokens = 512L

  // --------------------------------------- durable training-set stream
  private def offsetsFile(tag: String, batchId: Long): java.io.File =
    new java.io.File(s"${System.getProperty("java.io.tmpdir")}" +
      s"/graft_growing_index/$tag/_chunk_offsets_$batchId")

  /** Offsets as of the END of `batchId` (empty for batchId < 0 or a
    * fresh tag). Reading the PREVIOUS batch's snapshot at the start of
    * every batch — instead of trusting driver memory — is what makes
    * chunk placement replay-stable by construction: a replayed batch
    * starts from exactly the offsets it started from the first time. */
  private def loadOffsets(tag: String, batchId: Long)
      : scala.collection.mutable.Map[String, Long] = {
    val m = scala.collection.mutable.Map.empty[String, Long]
    val f = offsetsFile(tag, batchId)
    if (batchId >= 0 && f.exists()) {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().filter(_.nonEmpty).foreach { l =>
        val i = l.lastIndexOf('='); m(l.substring(0, i)) = l.substring(i + 1).toLong
      } finally src.close()
    }
    m
  }

  private def saveOffsets(tag: String, batchId: Long,
                          m: scala.collection.Map[String, Long]): Unit = {
    val f = offsetsFile(tag, batchId)
    f.getParentFile.mkdirs()
    val tmp = new java.io.File(f.getPath + ".tmp")
    val w = new java.io.PrintWriter(tmp, "UTF-8")
    try m.toSeq.sortBy(_._1).foreach { case (k, v) => w.println(s"$k=$v") }
    finally w.close()
    // rename-over: a crash mid-write leaves only the tmp; the replay that
    // follows re-derives the identical snapshot from batchId-1's
    if (!tmp.renameTo(f)) { f.delete(); require(tmp.renameTo(f), s"snapshot $f") }
  }

  /** One micro-batch of the DURABLE training-set build: dedup against the
    * on-disk growing index ([[StreamingDedup.durableDecideAndGrow]] —
    * replay-stable, marker-guarded appends), stateless gates, then chunk
    * placement against offsets loaded from the PREVIOUS batch's on-disk
    * snapshot and snapshotted per batchId after. Everything a replayed
    * batch consumes is the state as of its first run, so re-delivery
    * after any crash emits byte-identical training rows — the spec
    * drives replay and a torn-snapshot crash window. */
  private[graft] def durableTrainingBatch(s: org.apache.spark.sql.SparkSession,
                                          tag: String, mb0: DataFrame,
                                          batchId: Long, benchShingles: DataFrame,
                                          t: Double = 0.5): Seq[TrainingRow] = Pins.scope {
    val mb = Pins.checkpoint(mb0.select("doc_id", "text"))
    val dedup = StreamingDedup.durableDecideAndGrow(s, tag, mb, batchId, t)
    val (rep, cont) = statelessFlags(mb, benchShingles.withColumn("hit", lit(1)))
    val meta = collectMeta(mb0)

    val offsets = loadOffsets(tag, batchId - 1)
    val rows = Seq.newBuilder[TrainingRow]
    dedup.foreach { d =>
      if (d.kind == "kept" && !rep(d.doc_id) && !cont(d.doc_id)) {
        val (src, nTok, mbucket, sbucket, w1000) = meta(d.doc_id)
        val copies = copiesOf(w1000, mbucket)
        if (copies >= 1) {
          val split = splitLabelOf(sbucket)
          val off = offsets.getOrElse(src, 0L)
          rows += TrainingRow(d.doc_id, src, split, copies.toLong, nTok,
            off / SeqTokens)
          offsets(src) = off + copies * nTok
        }
      }
    }
    saveOffsets(tag, batchId, offsets)
    rows.result()
  }

  /** Streaming wiring for [[durableTrainingBatch]] — the training-set
    * build whose EVERY piece of state (kept-doc index, chunk offsets)
    * survives a restart, closing [[trainingSetStream]]'s documented
    * session-state trade. */
  def trainingSetStreamDurable(stream: Dataset[CurateDoc], benchShingles: DataFrame,
                               tag: String, t: Double = 0.5)
                              (sink: (Seq[TrainingRow], Long) => Unit)
      : DataStreamWriter[Row] = {
    // pinned for the life of the stream, outside the session ledger
    val bench = new Pins.Ledger().within(Pins.checkpoint(benchShingles))
    stream.toDF().writeStream.foreachBatch { (mb0: DataFrame, batchId: Long) =>
      sink(durableTrainingBatch(mb0.sparkSession, tag, mb0, batchId, bench, t),
        batchId)
    }
  }

  // ----------------------------------------- continuous quality scoring
  /** Deploy the trained LR quality filter ONLINE: weights are fit once
    * on the standing corpus ([[graft.operators.QualityFilters]]'s descent,
    * frozen exactly like the standing dedup index's df order), then every
    * micro-batch of arriving docs is scored stream-static — one broadcast
    * join of the 1-row weight table per batch, no state store. Split
    * invariance is structural (a doc's score depends only on the doc and
    * the frozen weights); a decision, once emitted, never changes. The
    * batch twin is `quality_lr_scores`; spec-equal over random slicings.
    * Model REFRESH is a new streaming query over refit weights — weights
    * must never drift mid-stream, or replays after a crash would score
    * differently (the same reason the curation streams freeze their
    * index). */
  def qualityScoreStream(stream: Dataset[StreamingDedup.DocEvent],
                         weights: DataFrame)
                        (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import graft.operators.QualityFilters
    stream.toDF().writeStream
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        val scored = QualityFilters
          .lrFeaturesOf(mb.withColumn("lang", lit("")))  // label unused at scoring
          .crossJoin(broadcast(weights))
          .select(col("doc_id"),
            round(lit(1.0) / (lit(1.0) + exp(-QualityFilters.lrScore)), 6).as("score"),
            (QualityFilters.lrScore >= 0).as("kept"))
        sink(scored, batchId)
      }
  }

  /** The frozen weights for [[qualityScoreStream]], fit on the corpus at
    * `dir` — the deployment wiring. */
  def lrWeightsFor(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityFilters
    QualityFilters.lrWeights(s,
      Pins.cache(QualityFilters.lrFeaturesOf(graft.Tables.documents(s, dir))))
  }

  // ------------------------------------------- continuous DSIR scoring
  /** Deploy the DSIR importance scorer ONLINE: the unigram log-likelihood-
    * ratio model is fit once on the standing corpus and FROZEN (same
    * refit-is-a-new-query contract as [[qualityScoreStream]]'s weights —
    * a drifting model would re-score crash replays differently), then each
    * arriving micro-batch is scored stream-static through the SAME
    * [[graft.operators.Curation.dsirScoreOf]] column expressions as the
    * batch query `mix_dsir_weights` — one broadcast join of the vocab-sized
    * model per batch, no state store, split-invariant by construction.
    * Stream-time tokens outside the frozen vocabulary contribute nothing
    * until a refit (the model defines them as zero-information). */
  def dsirScoreStream(stream: Dataset[CurateDoc], model: DataFrame)
                     (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import graft.operators.Curation
    val frozen = new Pins.Ledger().within(Pins.checkpoint(model))
    stream.toDF().writeStream
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        sink(Curation.dsirScoreOf(Curation.docTokens(mb), frozen), batchId)
      }
  }

  /** The frozen model for [[dsirScoreStream]], fit on the corpus at `dir`. */
  def dsirModelFor(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    Curation.dsirModelOf(Curation.docTokens(graft.Tables.documents(s, dir)))
  }

  // ------------------------------------------ continuous entity resolution
  /** Incremental multi-signal entity resolution: arriving docs join the
    * identity graph without recomputing it. Per micro-batch (docs sorted
    * by id), the session computes the THREE batch signals — exact-content
    * star edges, Jaccard ≥ 0.7, aHash hamming ≤ 3, through the SAME
    * [[graft.operators.Dedup.entityPairsOf]] as the batch query —
    * restricted to pairs TOUCHING the batch (pairs among earlier docs were
    * already unioned; a semi-join against the batch ids prunes them), then
    * unions them into a driver-side union-find whose roots are component
    * MINIMA (smaller root adopts larger — so reps match the batch CC rule
    * exactly, merges included: a later doc bridging two standing entities
    * collapses them to the lower rep). The union-find is entity-count-
    * sized driver state, the same bounded-decision-list trade as the other
    * curation streams and documented likewise.
    *
    * Harness scale recomputes the batch-touching signals against the full
    * accumulated set (localCheckpoint chain, like the growing curation
    * index); the production form probes the STANDING artifacts instead —
    * the dedup digest/prefix index for exact/Jaccard and the media band
    * table for aHash — with per-batch cost batch-sized. The union-find
    * and emitted semantics are identical either way.
    *
    * Emitted per batch: (doc_id, entity rep AS OF this batch) for batch
    * docs. Reps can move DOWN later when a bridge doc merges entities —
    * the at-emit rep is honest event-time output; `snapshot()` returns
    * the current final partition (spec-equal to batch `entity_resolution`
    * over arbitrary slicings). */
  class EntityResolveSession(spark: org.apache.spark.sql.SparkSession) {
    import org.apache.spark.sql.functions._
    private var seen: Option[DataFrame] = None
    // the accumulated snapshot lives as long as the session
    private val pins = new Pins.Ledger
    private val parent = scala.collection.mutable.Map.empty[Long, Long]
    private val inPair = scala.collection.mutable.Set.empty[Long]

    private def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    private def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }

    def processBatch(mb0: DataFrame): Seq[(Long, Long)] = Pins.scope {
      val mb = Pins.checkpoint(mb0.select(col("doc_id"), col("text")))
      val all = pins.within(Pins.checkpoint(seen.map(_.unionByName(mb)).getOrElse(mb)))
      seen.foreach(Pins.release)
      val bid = mb.select(col("doc_id").as("bid"))
      val pairs = graft.operators.Dedup.entityPairsOf(all, graft.operators.Dedup.jaccardPairsFrom)
        .join(broadcast(bid),
          col("a_id") === col("bid") || col("b_id") === col("bid"), "left_semi")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      pairs.foreach { case (a, b) => inPair += a; inPair += b; union(a, b) }
      seen = Some(all)
      mb.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        .map(id => (id, find(id)))
    }

    /** Current identity partition over docs that appeared in ≥1 signal
      * pair — the same coverage rule as the batch CC output. */
    def snapshot(): Map[Long, Long] =
      inPair.toSeq.map(id => id -> find(id)).toMap
  }

  /** Streaming wiring for [[EntityResolveSession]]. */
  def entityResolveStream(stream: Dataset[CurateDoc], session: EntityResolveSession)
                         (sink: (Seq[(Long, Long)], Long) => Unit): DataStreamWriter[Row] =
    stream.toDF().writeStream
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        sink(session.processBatch(mb), batchId)
      }

  // ------------------------------------ durable-state curation stream
  /** One indexed-curation decision (nullable stages as Options so the
    * driver-side decision list round-trips losslessly). */
  case class IndexedDecision(doc_id: Long, decision: String,
                             ref_id: Option[Long], jac: Option[Double],
                             split: Option[String])

  /** DURABLE-STATE curation stream — the day-2 production topology: each
    * micro-batch (a "day's" delta) runs the full six-stage indexed
    * curation probe [[graft.operators.StandingIndex.curateIncrementalIndexedFor]]
    * against the standing `cur*` tables, and the day's ADMITTED
    * survivors are appended
    * ([[graft.operators.StandingIndex.appendCurationFor]]) so the next
    * delta dedups against them — the same standing-index pattern
    * [[StreamingDedup.incrementalDedupStream]] established for the
    * dedup index, completed for the five-table curated state.
    *
    * Semantics are `pipeline_curate_incremental`'s at MICRO-BATCH
    * granularity: the within-delta stages (exact_batch, near_batch CC)
    * are scoped to each batch, and cross-batch duplicates resolve as
    * exact_base/near_base against the appended state. A single batch
    * holding the whole delta is literally the gated batch query
    * (spec-pinned); a multi-batch run equals the day-by-day FOLD of the
    * batch operator over freshly rebuilt state (spec-pinned per step —
    * the accretion proof extending the append-equals-rebuild lifecycle
    * spec to a whole stream), and deliberately NOT the single-shot
    * batch run: only admitted docs join the standing state, so a
    * near-dup CC component bridged by a dropped doc re-splits at a
    * batch boundary — exactly what a deployment's daily cadence yields
    * (the same reasoning that makes batch CC collapse stream-inexpressible,
    * see [[StreamingDedup.growingCurationStream]]).
    *
    * `compactEvery` > 0 compacts the cur* tables every that-many
    * appends ([[graft.operators.StandingIndex.compact]]) — pure layout,
    * decisions unaffected (compaction spec), keeping probe file counts
    * bounded on long streams. Only the batch's decision list (sliver-
    * sized by construction) reaches the driver. */
  def curateIndexedStream(stream: Dataset[StreamingDedup.DocEvent],
                          tag: String, compactEvery: Int = 0,
                          banded: Boolean = false)
                         (sink: (Seq[IndexedDecision], Long) => Unit): DataStreamWriter[Row] = {
    val appends = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.toDF().writeStream.foreachBatch { (mb0: DataFrame, batchId: Long) =>
      val s = mb0.sparkSession
      val decisions = Pins.scope {
        val mb = Pins.checkpoint(mb0.select("doc_id", "text"))
        // eager inside (localCheckpoint) — out is independent of mb's plan.
        // `banded = true` probes through the band table instead of the
        // prefix index — the adversarial-vocabulary stream topology (the
        // batch probe's mean-df guard applies per micro-batch otherwise)
        val out =
          if (banded) graft.operators.StandingIndex
            .curateIncrementalBandedFor(s, tag, mb)
          else graft.operators.StandingIndex
            .curateIncrementalIndexedFor(s, tag, mb)
        val decisions = out.select("doc_id", "decision", "ref_id", "jac", "split")
          .collect().map { r =>
            IndexedDecision(r.getLong(0), r.getString(1),
              if (r.isNullAt(2)) None else Some(r.getLong(2)),
              if (r.isNullAt(3)) None else Some(r.getDouble(3)),
              if (r.isNullAt(4)) None else Some(r.getString(4)))
          }.toSeq
        val admitted = decisions.filter(_.decision == "admitted").map(_.doc_id)
        if (admitted.nonEmpty) {
          graft.operators.StandingIndex.appendCurationFor(s, tag,
            mb.filter(col("doc_id").isInCollection(admitted)))
          if (compactEvery > 0 &&
              appends.incrementAndGet() % compactEvery == 0)
            graft.operators.StandingIndex.compact(s, tag, "cur")
        }
        decisions
      }
      sink(decisions, batchId)
    }
  }

  // --------------------------------------------- continuous rule gating
  /** The Gopher rule gate ONLINE: purely row-local (no model, no state, no
    * corpus aggregate — the thresholds are literals), so split invariance
    * is structural in the strongest sense: a doc's verdict depends on the
    * doc alone. Runs [[graft.operators.Curation.gopherRulesOf]]'s exact
    * column expressions per micro-batch; spec-equal to the batch gate over
    * random slicings. This is the first filter of an ingest topology —
    * upstream of the dedup probes and scorers, dropping junk before it
    * costs index lookups. */
  def gopherGateStream(stream: Dataset[StreamingDedup.DocEvent])
                      (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.toDF().writeStream
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        sink(graft.operators.Curation.gopherRulesOf(mb), batchId)
      }
}
