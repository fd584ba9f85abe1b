package graft.streaming

import graft.Pins
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, GraftShims}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** Continuous twins of the incremental-dedup curation probe
  * (`graft.operators.Dedup.incrementalDedup` — the batch steady-state
  * shape: a new sliver of documents decided exact-then-near against a
  * standing corpus).
  *
  * Two operators, matching the two halves of the production problem:
  *
  *  1. [[incrementalDedupStream]] — the FULL exact+near probe as a
  *     continuous pipeline. Each micro-batch of new docs runs the same
  *     two-stage decision as the batch operator, against a standing corpus
  *     index that is built ONCE ([[buildStandingIndex]]) and only read
  *     afterwards. This is deliberately a stream-static dataflow rather
  *     than state-store state: at 100 TB the corpus digest table and
  *     shingle prefix index are many-TB materialized artifacts — they
  *     belong in a bucketed columnar table shared by every executor scan,
  *     not serialized per-key into RocksDB. The state store holds nothing;
  *     the index IS the state, and its once-built/never-rescanned property
  *     is spec-pinned (StreamingDedupSpec checks the per-batch plan reads
  *     the index from InMemoryRelation, and that output equals the batch
  *     operator for ARBITRARY micro-batch splits).
  *
  *     Split-invariance argument: each document's decision depends only on
  *     (doc, corpus). The batch operator orders candidate prefixes by
  *     document frequency over batch∪corpus; here the shared total order
  *     is (corpus df, shingle) with stream-only shingles at df = 0 — a
  *     DIFFERENT order, but the PPJoin prefix lemma is order-agnostic (any
  *     total order shared by both sides of a pair keeps the filter
  *     lossless at t), and both pipelines verify candidates with the exact
  *     full-set Jaccard — so the VERIFIED output is identical, per doc,
  *     regardless of how the stream is sliced. That is also why the corpus
  *     prefix index is precomputable at all: its order no longer depends
  *     on the day's batch.
  *
  *  2. [[ExactDedupProcessor]] — the within-stream exact-dedup layer the
  *     full probe deliberately omits (the batch twin never compares batch
  *     docs to each other). transformWithState, key = content digest, one
  *     O(1) ValueState per DISTINCT digest holding the keeper id: each doc
  *     is decided exactly once, first-keeper-wins. Fed any id-ordered
  *     arrival (splits arbitrary), it equals the batch `dedup_exact`
  *     keep-lowest-id rule; in-batch arrivals are sorted by id so a
  *     micro-batch boundary can never flip a decision. State is bounded by
  *     distinct CONTENT (not stream length) and audited through the state
  *     data source; kill/restart exactly-once is spec-pinned.
  */
object StreamingDedup {

  /** One new document arriving on the stream. */
  case class DocEvent(doc_id: Long, text: String)

  /** Decision row: same schema as the batch probe's output. */
  case class Decision(batch_id: Long, corpus_id: Long, kind: String, jac: Double)

  /** The standing corpus index — built once, read every micro-batch.
    * `digests`: (h, len) → lowest corpus id; `arrays`: full shingle sets
    * for exact verification; `dfreq`: corpus document frequency per
    * shingle (the shared prefix order); `prefix`: the PPJoin prefix
    * inverted index (each corpus doc's |c| − ⌈t·|c|⌉ + 1 rarest shingles).
    * At deployment scale these are bucketed tables; here they are cached
    * plans with identical dataflow, pinned in the index's own ledger (the
    * index outlives any one query; `releaseAll` leaves it alone). */
  final case class StandingIndex(digests: DataFrame, arrays: DataFrame,
                                 dfreq: DataFrame, prefix: DataFrame,
                                 threshold: Double)(pins: Pins.Ledger = new Pins.Ledger) {
    def release(): Unit = pins.release()
  }

  /** Materialize the standing index for `corpus`. The prefix order is
    * (corpus df asc, shingle asc) — corpus-only, so the index never needs
    * rebuilding when a new batch arrives (the batch operator's batch∪corpus
    * df order would). */
  def buildStandingIndex(corpus: DataFrame, t: Double = 0.5): StandingIndex = {
    val pins = new Pins.Ledger
    pins.within {
      val digests = Pins.cache(corpus
        .select(md5(col("text")).as("h"), length(col("text")).as("len"), col("doc_id"))
        .groupBy("h", "len").agg(min("doc_id").as("corpus_id")))
      val arrays = Pins.cache(Dedup.shingleArrays(corpus)
        .select(col("doc_id").as("corpus_id"), col("sh"),
          size(col("sh")).cast("long").as("nc")))
      val dfreq = Pins.cache(arrays
        .select(col("corpus_id"), explode(col("sh")).as("s"))
        .groupBy("s").agg(count(lit(1)).as("df")))
      val prefix = Pins.cache(Dedup.prefixRows(arrays, "corpus_id", "nc", dfreq, t))
      StandingIndex(digests, arrays, dfreq, prefix, t)(pins)
    }
  }

  /** Decide one micro-batch of new docs against the standing index —
    * the same exact-then-near, best-match-per-doc semantics as
    * `Dedup.incrementalDedup`, per document. */
  def decideBatch(mb: DataFrame, idx: StandingIndex): DataFrame = {
    val t = idx.threshold
    val exact = mb
      .select(col("doc_id").as("batch_id"), md5(col("text")).as("h"),
        length(col("text")).as("len"))
      .join(idx.digests, Seq("h", "len"))
      // tolerate several digest rows per (h, len): an APPENDED on-disk
      // index is pre-min'd per segment, not globally — re-minimize to the
      // batch operator's lowest-twin rule (no-op on a single-segment index)
      .groupBy("batch_id").agg(min("corpus_id").as("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        lit("exact").as("kind"), lit(1.0).as("jac"))
    val rest = mb.join(exact.select(col("batch_id").as("doc_id")),
      Seq("doc_id"), "left_anti")
    val bArr = Dedup.shingleArrays(rest)
      .select(col("doc_id").as("batch_id"), col("sh"),
        size(col("sh")).cast("long").as("nb"))
    // batch-side prefix under the SHARED corpus-df order; shingles the
    // corpus has never seen take df = 0 (sort first — they are exactly the
    // shingles that cannot produce a corpus candidate anyway)
    val cand = Dedup.prefixCandidates(Dedup.prefixRows(bArr, "batch_id", "nb", idx.dfreq, t),
      "nb", idx.prefix, "nc", t)
    val best = Dedup.bestCorpusMatch(cand, bArr, idx.arrays, t)
      .select(col("batch_id"), col("corpus_id"), lit("near").as("kind"), col("jac"))
    exact.unionByName(best)
  }

  /** The continuous probe: each micro-batch is decided against the
    * standing index and handed to `sink` (append semantics — a decision,
    * once emitted, never changes, because the corpus side is immutable).
    * foreachBatch is the right Spark surface here: the decision is a
    * stream-static join PLAN, not per-key state, so the micro-batch is the
    * natural unit and checkpointing gives at-least-once delivery to the
    * sink (exactly-once when the sink is idempotent on batchId, as the
    * spec's is). */
  def incrementalDedupStream(stream: Dataset[DocEvent], idx: StandingIndex)
                            (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.toDF().writeStream
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        sink(decideBatch(mb, idx), batchId)
      }

  /** The deployment wiring: a [[StandingIndex]] view over the ON-DISK
    * bucketed tables `graft.operators.StandingIndex` materializes (built
    * once per session if absent). Same dataflow [[decideBatch]] always
    * ran — the cached-plan index and the bucketed-table index are
    * interchangeable inputs, which the spec proves by running the stream
    * against this view and matching the batch operator. At 100 TB this is
    * the ONLY viable form: the index outlives any one streaming query and
    * every probe-side join reads the tables pre-partitioned on its key. */
  def standingIndexFromTables(s: org.apache.spark.sql.SparkSession,
                              dir: String): StandingIndex = {
    val t = graft.operators.StandingIndex.ensureBuilt(s, dir)
    def idx(name: String): DataFrame = s.table(s"graft_idx_${name}_$t")
    StandingIndex(
      digests = idx("digests"),
      arrays = idx("arrays"),
      dfreq = idx("dfreq"),
      prefix = idx("prefix").withColumnRenamed("cn", "nc"),
      threshold = graft.operators.StandingIndex.Threshold)()
  }

  // --------------------------------------- continuous substring-span probe
  /** One duplicated-run finding: batch doc × corpus doc × positions. */
  case class SpanFinding(batch_id: Long, corpus_id: Long,
                         b_start: Long, c_start: Long, span_len: Long)

  /** Continuous twin of
    * [[graft.operators.SubstringDedup.incrementalSubstringIndexed]]: each
    * micro-batch of arriving docs is probed against the standing gram
    * index for duplicated token runs ≥ MinSpan. Same stream-static shape
    * as [[incrementalDedupStream]] — the index is built once (pre-capped,
    * frozen stop set) and only READ per batch, because at 100 TB the
    * positional gram table is a many-TB bucketed artifact, not state-store
    * state. Split invariance is immediate here: a doc's spans depend only
    * on (doc, corpus index) — no cross-batch interaction of any kind, so
    * ANY slicing emits the same findings (spec-checked over random
    * shuffles and split points). Append semantics: a finding, once
    * emitted, never changes (the index is immutable within the stream;
    * maintenance appends via
    * [[graft.operators.SubstringDedup.appendGrams]] happen between
    * streaming queries, exactly like the daily index-append cadence). */
  def substringSpanStream(stream: Dataset[DocEvent], gramIndex: DataFrame)
                         (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.toDF().writeStream
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        sink(graft.operators.SubstringDedup.probeGramsWith(mb, gramIndex), batchId)
      }

  /** Deployment wiring for [[substringSpanStream]]: the on-disk bucketed
    * gram table (built once per session if absent). */
  def gramIndexFromTables(s: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame = {
    val tag = graft.operators.SubstringDedup.ensureGramIndex(s, dir)
    s.table(s"graft_idx_grams_$tag")
  }

  // ------------------------------------------------ continuous bloom probe
  /** Build the bloom prefilter index once from the standing corpus:
    * (bits, digests), both cached — the filter is ONE row (a sorted
    * positions array), the digest set one narrow column; both broadcast
    * at probe time, so each micro-batch costs zero corpus-side work. */
  def bloomIndexOf(corpus: DataFrame): (DataFrame, DataFrame) = {
    val bits = Pins.cache(graft.operators.Dedup.bloomBitsOf(corpus))
    val digests = Pins.cache(graft.operators.Dedup.bloomDigestsOf(corpus))
    (bits, digests)
  }

  /** Continuous twin of [[graft.operators.Dedup.bloomPrefilter]]: each
    * arriving micro-batch is probed against the static bloom bit array
    * (plan-constant per row — no join, no shuffle, no state) plus the
    * broadcast digest join for the exact verdict. The ideal first stage
    * of a streaming ingest pipeline at 100 TB: most arrivals are
    * "definitely new" after ~k array probes and never touch the standing
    * index the [[incrementalDedupStream]] stage reads. Split invariance
    * is immediate (verdicts depend on (doc, corpus) only); append
    * semantics as with the sibling streams — the corpus side is immutable
    * within a streaming query, maintenance rebuilds run between them. */
  def bloomProbeStream(stream: Dataset[DocEvent],
                       bits: DataFrame, digests: DataFrame)
                      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.toDF().writeStream
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        sink(graft.operators.Dedup.bloomProbe(mb, bits, digests), batchId)
      }

  // ------------------------------------------------- within-stream exact
  case class DigestDoc(digest: String, doc_id: Long)
  case class KeeperDecision(doc_id: Long, keeper_id: Long)

  /** Within-stream exact dedup: one ValueState[Long] per distinct content
    * digest holding the keeper (first-arrival) id. Arrivals inside a
    * micro-batch are decided in id order, so slicing the stream
    * differently can never flip a decision; fed in id-nondecreasing order
    * the result equals the batch `dedup_exact` keep-lowest-id rule
    * exactly. State grows with distinct CONTENT, not stream length — the
    * dedup hit rate is precisely the state NOT added. */
  class ExactDedupProcessor
      extends StatefulProcessor[String, DigestDoc, KeeperDecision] {
    @transient private var keeper: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      keeper = getHandle.getValueState[Long](
        "keeper", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(digest: String, rows: Iterator[DigestDoc],
                                 tv: TimerValues): Iterator[KeeperDecision] = {
      // in-batch id order: decisions are a pure function of (state, ids),
      // independent of source arrival order within the micro-batch
      val sorted = rows.toArray.sortBy(_.doc_id)
      sorted.iterator.map { d =>
        if (keeper.exists()) KeeperDecision(d.doc_id, keeper.get())
        else { keeper.update(d.doc_id); KeeperDecision(d.doc_id, d.doc_id) }
      }
    }
  }

  /** Streaming exact dedup via [[ExactDedupProcessor]]: emits one
    * (doc_id, keeper_id) per document; `doc_id === keeper_id` marks the
    * kept copy. */
  def exactDedupTws(docs: Dataset[DocEvent]): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(md5(col("text")).as("digest"), col("doc_id"))
      .as[DigestDoc]
      .groupByKey(_.digest)
      .transformWithState(new ExactDedupProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  // ------------------------------------------------ growing-corpus stream
  /** One decision of the growing-corpus curation stream: `kind` is
    * `kept`, `exact` (duplicate of an earlier KEPT doc's text) or `near`
    * (Jaccard ≥ t against an earlier KEPT doc); `keeper_id` names the
    * smallest-id kept doc that caused a drop, −1 for kept rows. */
  case class CurateDecision(doc_id: Long, kind: String, keeper_id: Long)

  /** Growing-corpus continuous curation — the production form
    * [[incrementalDedupStream]] deliberately does not attempt: ACCEPTED
    * documents join the standing index, so later stream docs dedup
    * against them too (the index grows; the batch probe's corpus is
    * immutable).
    *
    * SEMANTICS (greedy prefix rule — the only order-deterministic one):
    * documents are decided in doc_id order within each micro-batch,
    * micro-batches in arrival order. A doc is dropped iff it exactly
    * matches, or near-matches (J ≥ t), an EARLIER KEPT doc; otherwise it
    * is kept and immediately becomes part of the index. Dropped docs
    * never absorb later docs — which is why plain connected-components
    * collapse (the batch `neardup_clusters` rule) is NOT equivalent:
    * near-dup is not transitive, and greedy keeps the earliest
    * representative of every chain link that escapes its predecessor.
    * Fed the same docs in the same order, the decision sequence is
    * IDENTICAL for every micro-batch slicing — spec-pinned against an
    * independent O(n²) in-memory reference.
    *
    * SHAPE: the growing index is two distributed frames (kept
    * digests+shingle-arrays combined, kept prefix entries — digests and
    * arrays shared one union+checkpoint job since r20), extended per
    * batch by union + eager localCheckpoint (lineage stays O(1) deep;
    * the superseded snapshot is released). The prefix order here is plain
    * LEXICOGRAPHIC — unlike the static twin's corpus-df order, a
    * df-based order would shift as the corpus grows and break the prefix
    * lemma's shared-order requirement across old index vs new probe; lex
    * never moves, stays lossless, and costs only the rare-first pruning
    * heuristic. Candidate generation and Jaccard verification are
    * distributed; only the micro-batch's own decision list (the day's
    * sliver) and its within-batch candidate pairs come to the driver,
    * where the greedy rule resolves sequentially — the one inherently
    * serial step, sized to the batch, never the corpus. Index state
    * lives outside the checkpoint (production persists it as a bucketed
    * table with idempotent per-batchId MERGE — documented trade; the
    * split-invariance spec is the correctness surface here). */
  def growingCurationStream(stream: Dataset[DocEvent], t: Double = 0.5,
                            banded: Boolean = false)
                           (sink: (Seq[CurateDecision], Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val gi = new GreedyGrowingIndex(t, banded)
    stream.toDF().writeStream.foreachBatch { (mb0: DataFrame, batchId: Long) =>
      sink(gi.decideAndGrow(mb0), batchId)
    }
  }

  /** The greedy growing-index core of [[growingCurationStream]], factored
    * out so [[StreamingCurate]] can compose the same dedup layer with
    * stateless quality gates. Driver-held handles to three distributed
    * frames; one [[decideAndGrow]] call per micro-batch. NOT thread-safe —
    * exactly one owner stream, which is how foreachBatch runs it. */
  /** Candidate-list broadcast ceiling for the growing-index near probe:
    * 4M ids-only rows ≈ 64 MB serialized — comfortably inside executor
    * broadcast budgets, far below driver maxResultSize. Above it the
    * probe degrades to a shuffled join instead of risking the collect. */
  private[streaming] val MaxBroadcastCandidates = 4000000L

  /** `banded = true` swaps BOTH near-candidate generators (index probe
    * and within-batch) from the exact lex-prefix inverted index to
    * xxhash64 minhash BAND buckets ([[Dedup.xxhashBandBuckets]] — the
    * same family `neardup_minhash_lsh` ships), with the [[Dedup.MaxBucket]]
    * star fallback on hot buckets and the same exact J ≥ t verification.
    * Why: on a dense-vocabulary corpus the prefix keeps most shingles,
    * so index-probe candidates grow ∝ kept-index size and per-batch cost
    * climbs linearly with stream age (measured: 2.53 → 19.6 s/batch over
    * 60 sf1 batches — SCALE.md); band candidates follow TRUE similarity,
    * so the curve flattens. A doc's signature is content-only, so old
    * band rows stay valid forever — the same never-moves property the
    * lex order has and a df order lacks. The trade is banding recall
    * (~0.9 at J = 0.5 for 8×2 bands; exact duplicates are unaffected —
    * the digest path is shared): decisions are deterministic, and
    * slicing-invariant BELOW the [[Dedup.MaxBucket]] star cap — bucket
    * collisions are a pure function of content, so where a pair lands
    * relative to batch boundaries cannot change whether its collision
    * exists. Above the cap both passes collapse a hot bucket to spokes
    * on its minimum id (the same rule every batch generator uses), and
    * there the invariance claim weakens: the cap triggers on the
    * bucket's OCCUPANCY AT PROBE TIME (kept-index members for the index
    * probe, batch members for the within-batch pass), which does depend
    * on slicing — a true pair sharing ONLY hot buckets may be found in
    * one slicing and spoke-missed in another. In practice a kept-index
    * bucket goes hot only under hash degeneracy: a genuine duplicate
    * cluster keeps just its minimum member, so its bucket holds ONE
    * kept doc forever and the clique case stays exactly invariant (the
    * >MaxBucket fixture in StreamingDedupSpec pins this). */
  private[streaming] final class GreedyGrowingIndex(t: Double,
                                                    banded: Boolean = false) {
    // kept digests + shingle arrays live in ONE checkpointed frame
    // (id, h, len, sh, n) — they were two separate per-batch union +
    // localCheckpoint jobs before (r20; the digest view projects it, the
    // array view filters the no-shingle docs out exactly as the split
    // frames did)
    private var keptAll: DataFrame = null // (id, h, len, sh, n) kept docs
    private var prefix: DataFrame = null  // (id, n, s)    lex-order prefix entries
    private var bands: DataFrame = null   // (id, n, band, bucket) when banded
    private var nKept = 0L                // cumulative kept docs → honest frame stats
    // the index snapshots live as long as the stream: its own ledger
    private val pins = new Pins.Ledger
    private def digests: DataFrame =      // (h, len, id)  kept docs
      keptAll.select("h", "len", "id")
    private def arrays: DataFrame =       // (id, sh, n)   kept docs with ≥1 shingle
      keptAll.filter(size(col("sh")) >= 1).select("id", "sh", "n")

    private def lexPrefix(arr: DataFrame, idCol: String): DataFrame =
      lexPrefixOf(arr, idCol, t)

    /** Decide `mb0` (doc_id, text, …) against the index grown from every
      * earlier call, in the greedy prefix rule's doc_id order; kept docs
      * join the index before returning. */
    def decideAndGrow(mb0: DataFrame): Seq[CurateDecision] = Pins.scope {
      val spark = mb0.sparkSession
      import spark.implicits._
      // pin the batch ONCE as a single wide frame (doc_id, h, len, sh, n) —
      // this used to be three separate eager localCheckpoints (mb, keyed,
      // arrays), i.e. three per-batch driver jobs re-reading one another;
      // per-batch fixed job overhead is a real fraction of small-batch
      // latency (r20, guide §5/§1.2). The digest and shingle views below
      // are projections of the one pinned snapshot. The shingles are
      // [[Dedup.shingleSet]] (short docs carry an empty array here, because
      // the digest path must keep them; the arrays view filters them out
      // exactly like shingleArrays' token filter does).
      val mbAll = Pins.checkpoint(mb0
        .select(col("doc_id"), md5(col("text")).as("h"),
          length(col("text")).as("len"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), col("h"), col("len"), Dedup.shingleSet().as("sh"))
        .select(col("doc_id"), col("h"), col("len"), col("sh"),
          size(col("sh")).cast("long").as("n")))
      val mbKeyed = mbAll.select("doc_id", "h", "len")
      val mbArr = mbAll.filter(size(col("sh")) >= 1).select("doc_id", "sh", "n")
      // banded mode: the batch's band-bucket rows, computed ONCE and
      // reused by the index probe, the within-batch pass, and the grow
      val mbBands: DataFrame =
        if (!banded) null
        else Pins.checkpoint(Dedup.xxhashBandBuckets(mbArr)
          .join(mbArr.select(col("doc_id"), col("n")), "doc_id"))

      // ---- distributed: candidates against the KEPT index (all final)
      // every batch-vs-index join BROADCASTS the batch side explicitly:
      // the index frames are localCheckpointed LogicalRDDs with NO size
      // statistics, so Catalyst assumes them huge AND the batch side
      // unknown and falls back to shuffling BOTH — reshuffling the whole
      // growing index every micro-batch (measured: the near probe grew
      // 1.8 -> 4.3 s/batch across 6 batches at sf0.1). A micro-batch is
      // bounded by construction; broadcasting it streams the index
      // map-side with zero index movement — also exactly the production
      // shape (probe sliver vs standing bucketed table).
      // exact and near index probes share ONE action: per-batch fixed job
      // overhead is a real fraction of small-batch latency, and the two
      // probes are independent aggregates over disjoint machinery — a
      // tagged union collects both maps in a single round trip
      val (idxExact, idxNear): (Map[Long, Long], Map[Long, Long]) =
        if (keptAll == null) (Map.empty, Map.empty)
        else {
          val exactHits = broadcast(mbKeyed).join(digests, Seq("h", "len"))
            .groupBy("doc_id").agg(min("id").as("keeper"))
            .select(lit(0).as("tag"), col("doc_id"), col("keeper"))
          // near candidates against the index: banded (bucket hits with
          // the star cap) or exact (lex-prefix inverted index)
          var bandHits: DataFrame = null
          val cand =
            if (banded) {
              val probeB = mbBands.select(col("doc_id").as("b_id"),
                col("n").as("bn"), col("band"), col("bucket"))
              bandHits = Pins.checkpoint(bands.join(broadcast(probeB), Seq("band", "bucket"))
                .filter(col("n") * t <= col("bn") && col("bn") * t <= col("n"))
                .select(col("b_id"), col("id").as("k_id"),
                  col("band"), col("bucket")))
              // star cap per (bucket, probe doc): a hot index bucket is
              // hash degeneracy or a giant duplicate cluster — expanding
              // it is the quadratic term; the probe pairs against the
              // bucket's minimum kept id instead (the bucketCandidates
              // rule, probe-sided). perProbe is ≤ bands-per-doc × batch
              // rows, so both auxiliary joins broadcast the tiny side.
              val perProbe = bandHits.groupBy("band", "bucket", "b_id")
                .agg(count(lit(1)).as("kcnt"), min(col("k_id")).as("kmin"))
              val smallKeys = perProbe.filter(col("kcnt") <= Dedup.MaxBucket)
                .select("band", "bucket", "b_id")
              bandHits.join(broadcast(smallKeys), Seq("band", "bucket", "b_id"))
                .select("b_id", "k_id")
                .union(perProbe.filter(col("kcnt") > Dedup.MaxBucket)
                  .select(col("b_id"), col("kmin").as("k_id")))
                .distinct()
            } else {
              val probe = lexPrefix(mbArr, "doc_id")
                .withColumnRenamed("id", "b_id").withColumnRenamed("n", "bn")
              broadcast(probe)
                .join(prefix.withColumnRenamed("id", "k_id")
                  .withColumnRenamed("n", "kn"), "s")
                .filter(col("bn") * t <= col("kn") && col("kn") * t <= col("bn"))
                .select("b_id", "k_id").distinct()
            }
          // VERIFY JOIN ORDER MATTERS AT SCALE: the round-13 streaming
          // rehearsal killed the previous form — broadcast(cand ⋈ mbArr) —
          // at sf1 batch 56 with "serialized results 1059.9 MiB >
          // spark.driver.maxResultSize": cand is NOT batch-bounded (it is
          // batch × index matches, growing with the kept index), and that
          // broadcast carried the batch's full shingle ARRAYS per
          // candidate row. The fixed shape broadcasts only the ids-only
          // candidate list (16 B/row) and the batch arrays (truly
          // batch-bounded); the growing `arrays` frame is probed MAP-SIDE
          // by two chained broadcast joins in one codegen stage — the
          // wide candidate×array rows stream through the stage and are
          // never materialized, collected, or shuffled.
          //
          // GUARD: cand is batch × index matches — ids-only (16 B/row) so
          // the broadcast ceiling is far out, but a hot-shingle corpus can
          // still explode it past driver memory (the exact failure class
          // the round-13 reorder fixed for the ARRAY frame). Materialize
          // the ids-only list once (eager checkpoint — the join ran
          // anyway), read its true count, and above the threshold fall
          // back to an unhinted join so a pathological batch degrades to
          // a shuffle instead of killing the query.
          val candCk0 = Pins.checkpoint(cand)
          val nCand = candCk0.count()
          // the band-hit snapshot is consumed once candCk0 materializes
          if (bandHits != null) Pins.release(bandHits)
          // repin, per repo convention (digests/arrays/prefix below): the
          // checkpoint otherwise carries the join-PRODUCT size estimate of
          // the cand plan, which would skew planning of the unhinted
          // fallback join path
          val candCk = GraftShims.repinStats(candCk0, nCand, 16L)
          val candSide =
            if (nCand <= MaxBroadcastCandidates) broadcast(candCk)
            else {
              System.err.println(s"[graft] growing-index near-verify: " +
                s"$nCand candidates > $MaxBroadcastCandidates — shuffle fallback")
              candCk
            }
          val nearHits = candSide
            .join(arrays.select(col("id").as("k_id"), col("sh").as("sk"),
              col("n").as("nk")), "k_id")
            .join(broadcast(mbArr.select(col("doc_id").as("b_id"),
              col("sh").as("sb"), col("n").as("nb"))), "b_id")
            .withColumn("c", size(array_intersect(col("sb"), col("sk"))).cast("long"))
            .filter(col("c").cast("double") / (col("nb") + col("nk") - col("c")) >= t)
            .groupBy("b_id").agg(min("k_id").as("keeper"))
            .select(lit(1).as("tag"), col("b_id").as("doc_id"), col("keeper"))
          val rows = exactHits.unionByName(nearHits)
            .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
          Pins.release(candCk)
          (rows.collect { case (0, d, k) => d -> k }.toMap,
           rows.collect { case (1, d, k) => d -> k }.toMap)
        }

      // ---- distributed: WITHIN-batch candidate pairs (driver resolves)
      // the two within-batch pair families likewise share one action.
      // banded mode uses the SAME band rule within the batch as against
      // the index — otherwise where a pair straddles a batch boundary
      // would decide whether it gets the exact or the banded generator.
      // The MaxBucket star cap applies here too (round 16 — it was
      // index-probe-only before, so a hot bucket got the capped rule
      // across batches but the uncapped all-pairs rule within one): a
      // hot bucket collapses to spokes on its minimum id, the
      // bucketCandidates rule, inlined without its diamond cache: the
      // stats diamond it would memoize is batch-bounded.
      val withinNear =
        if (!banded) Dedup.jaccardArrayPairs(mbArr).select("a_id", "b_id")
        else {
          val bb = mbBands.select("doc_id", "band", "bucket")
          val bstats = bb.groupBy("band", "bucket")
            .agg(count(lit(1)).as("bsz"), min(col("doc_id")).as("bmin"))
            .filter(col("bsz") >= 2)
          val joined = bb.join(bstats, Seq("band", "bucket"))
          val small = joined.filter(col("bsz") <= Dedup.MaxBucket)
            .select("doc_id", "band", "bucket")
          val candWithin = small.as("x").join(small.as("y"),
              col("x.band") === col("y.band") &&
                col("x.bucket") === col("y.bucket") &&
                col("x.doc_id") < col("y.doc_id"))
            .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
            .union(joined
              .filter(col("bsz") > Dedup.MaxBucket && col("doc_id") =!= col("bmin"))
              .select(col("bmin").as("a_id"), col("doc_id").as("b_id")))
            .distinct()
          Dedup.verifyPairs(candWithin, mbArr, t).select("a_id", "b_id")
        }
      // the batch's own doc-id list rides the SAME action as the two pair
      // families (tag 2) — it was a separate collect before (r20)
      val pairRows = withinBatchExactPairs(mbKeyed)
        .select(lit(0).as("tag"), col("lo"), col("hi"))
        .unionByName(withinNear
          .select(lit(1).as("tag"), col("a_id").as("lo"), col("b_id").as("hi")))
        .unionByName(mbAll
          .select(lit(2).as("tag"), col("doc_id").as("lo"), lit(-1L).as("hi")))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      // ---- driver: greedy resolution in doc order (batch-sized, serial)
      val decisions = greedyResolve(pairRows.collect { case (2, a, _) => a }.toSeq,
        idxExact, idxNear, pairRows.collect { case (0, a, b) => (a, b) }.toSeq,
        pairRows.collect { case (1, a, b) => (a, b) }.toSeq)
      val kept = decisions.collect { case d if d.kind == "kept" => d.doc_id }

      // ---- grow the index with this batch's kept docs
      val keptIds = kept.toDF("doc_id")
      val newAll = mbAll.join(keptIds, "doc_id")
        .select(col("doc_id").as("id"), col("h"), col("len"),
          col("sh"), col("n"))
      val newArr = mbArr.join(keptIds, "doc_id")
        .select(col("doc_id").as("id"), col("sh"), col("n"))
      val oldAll = keptAll; val oldPf = prefix
      val oldBd = bands
      // COALESCE each standing frame to the session parallelism before
      // re-pinning: a checkpointed union otherwise ACCUMULATES partitions
      // batch over batch (32 more per batch), and every later probe pays
      // task-launch overhead linear in stream age — measured as a
      // +0.3 s/batch drift at sf0.1 with nothing growing but task counts.
      // coalesce is narrow (no shuffle); data volume still grows only by
      // the kept delta.
      val par = spark.sparkContext.defaultParallelism
      // every re-pin also RE-PINS STATISTICS with driver-tracked counts:
      // localCheckpoint otherwise carries the union plan's size ESTIMATE,
      // which UNDERSHOOTS wide string-array frames — small enough that the
      // planner may choose to broadcast a grown index frame whose real
      // size passed 1 GiB long ago (the exact failure the rehearsal hit).
      // rowBytes are deliberate per-doc OVERestimates (array frame ≈ one
      // shingle array per kept doc): the only job of these stats is to
      // keep a frame that grows without bound out of broadcast plans —
      // the error direction matters, the precision does not.
      nKept += kept.size
      // the new snapshots go to the stream's ledger, not the batch scope
      pins.within {
        keptAll = GraftShims.repinStats(
          Pins.checkpoint((if (oldAll == null) newAll else oldAll.unionByName(newAll))
            .coalesce(par)), nKept, 16384L)
        // the index grows by the batch's DELTA only — a lex prefix (or a
        // minhash band row) never moves once computed, so old entries stay
        // valid forever (this is exactly what a df-based order would break)
        if (banded) {
          val newBd = mbBands.join(keptIds, "doc_id")
            .select(col("doc_id").as("id"), col("n"), col("band"), col("bucket"))
          bands = GraftShims.repinStats(
            Pins.checkpoint((if (oldBd == null) newBd else oldBd.unionByName(newBd))
              .coalesce(par)),
            nKept * (Dedup.NumHashes / Dedup.BandRows), 48L)
        } else {
          val newPf = lexPrefix(newArr, "id")
          prefix = GraftShims.repinStats(
            Pins.checkpoint((if (oldPf == null) newPf else oldPf.unionByName(newPf))
              .coalesce(par)), nKept, 8192L)
        }
      }
      // superseded snapshots: safe to drop once the new eager checkpoints
      // above have materialized (the batch's own pins go with the scope)
      Seq(oldAll, oldPf, oldBd).filter(_ != null).foreach(Pins.release)

      decisions
    }
  }

  /** Within-batch exact-content pairs of a (doc_id, h, len) digest frame,
    * as (lo, hi) rows with lo < hi. */
  private def withinBatchExactPairs(keyed: DataFrame): DataFrame =
    keyed.alias("a")
      .join(keyed.alias("b"), col("a.h") === col("b.h") &&
        col("a.len") === col("b.len") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("lo"), col("b.doc_id").as("hi"))

  /** The greedy prefix rule over one batch, decided on the driver in
    * doc_id order: a doc is an `exact` dup of the smallest of its index
    * hit (`idxExact`, doc → keeper) and the lower-id KEPT batch docs it
    * pairs with in `exactPairs`; failing that a `near` dup, by the same
    * rule over `idxNear` and `nearPairs`; otherwise it is kept, and only
    * then can it keep later batch docs out. Pairs are (lo, hi), lo < hi.
    * Pure, and shared by both growing indexes. */
  private[graft] def greedyResolve(batchIds: Seq[Long], idxExact: Map[Long, Long],
      idxNear: Map[Long, Long], exactPairs: Seq[(Long, Long)],
      nearPairs: Seq[(Long, Long)]): Seq[CurateDecision] = {
    val (exactBy, nearBy) = (exactPairs.groupMap(_._2)(_._1), nearPairs.groupMap(_._2)(_._1))
    val kept = scala.collection.mutable.Set.empty[Long]
    batchIds.sorted.map { id =>
      val exactK = (idxExact.get(id).toSeq ++ exactBy.getOrElse(id, Nil).filter(kept)).minOption
      lazy val nearK = (idxNear.get(id).toSeq ++ nearBy.getOrElse(id, Nil).filter(kept)).minOption
      if (exactK.isDefined) CurateDecision(id, "exact", exactK.get)
      else if (nearK.isDefined) CurateDecision(id, "near", nearK.get)
      else { kept += id; CurateDecision(id, "kept", -1L) }
    }
  }

  /** Lex-order PPJoin prefix entries of a shingle-array frame — the
    * growing-index order: lexicographic never shifts as the corpus grows,
    * so old prefix entries stay valid forever (a df order would not). */
  private def lexPrefixOf(arr: DataFrame, idCol: String, t: Double): DataFrame =
    arr.select(col(idCol).as("id"), col("n"),
        Dedup.prefixSlice(t, "sort_array(sh)", "sh").as("pf"))
      .select(col("id"), col("n"), explode(col("pf")).as("s"))

  // ------------------------------------------- durable growing curation
  private def gidxPath(tag: String, name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_growing_index/$tag/$name"
  private def gidxTable(name: String, tag: String): String =
    s"graft_gidx_${name}_$tag"

  /** Create the durable growing-index tables for `tag` if absent —
    * digests (by content hash), shingle arrays (by doc id), lex-order
    * prefix entries (by shingle): the same bucket keys the probe joins
    * on, so probes read the tables exchange-free on the index side. */
  private[graft] def durableCurateInit(s: org.apache.spark.sql.SparkSession,
                                       tag: String): Unit = {
    import s.implicits._
    def ensure(df: DataFrame, name: String, bucketCol: String): Unit =
      if (!s.catalog.tableExists(gidxTable(name, tag)))
        df.write.mode("overwrite").option("path", gidxPath(tag, name))
          .bucketBy(8, bucketCol).saveAsTable(gidxTable(name, tag))
    ensure(Seq.empty[(String, Int, Long)].toDF("h", "len", "id"), "digests", "h")
    ensure(Seq.empty[(Long, Seq[String], Long)].toDF("id", "sh", "n"), "arrays", "id")
    ensure(Seq.empty[(Long, Long, String)].toDF("id", "n", "s"), "prefix", "s")
  }

  /** One micro-batch of DURABLE growing curation: decide `mb` against the
    * on-disk kept-doc index, then append this batch's kept docs to it.
    * This closes the trade [[growingCurationStream]]'s scaladoc documents
    * (its index lives in session-cached frames that die with the query);
    * here the index is bucketed tables that survive restarts, and the
    * replay story is EXACT by construction:
    *
    *   - decisions are replay-stable: index probes only admit keepers with
    *     `id < doc_id`. In normal operation that is a no-op (arrival is
    *     id-ordered, every indexed id precedes the batch); on a replay
    *     AFTER the append landed, it exactly cancels the batch's own rows
    *     — a replayed doc can only match what it could match the first
    *     time (the within-batch pass finds the same earlier-in-batch
    *     keepers either way, and the decision takes the min over both).
    *   - appends are marker-guarded per batchId (skip if already applied),
    *     and a crash BETWEEN append and marker is still harmless: every
    *     probe path is duplicate-neutral (exact/near keepers are min-aggs,
    *     candidates are distinct'd), so a double-append costs storage
    *     until compaction, never a changed decision — at-least-once
    *     storage, exactly-once semantics. A lakehouse table format would
    *     make the append itself atomic; plain parquet tables cannot, so
    *     the invariant is carried by the algebra instead and spec-pinned
    *     (replay after append, and after a simulated crashed marker, must
    *     reproduce byte-identical decisions).
    */
  private[graft] def durableDecideAndGrow(s: org.apache.spark.sql.SparkSession,
                                          tag: String, mb0: DataFrame,
                                          batchId: Long, t: Double = 0.5)
      : Seq[CurateDecision] = Pins.scope {
    import s.implicits._
    durableCurateInit(s, tag)
    def tbl(name: String): DataFrame = s.table(gidxTable(name, tag))

    val mb = Pins.checkpoint(mb0.select("doc_id", "text"))
    val mbKeyed = Pins.checkpoint(mb.select(col("doc_id"), md5(col("text")).as("h"),
      length(col("text")).as("len")))
    val mbArr = Pins.checkpoint(Dedup.shingleArrays(mb)
      .select(col("doc_id"), col("sh"), size(col("sh")).cast("long").as("n")))

    // ---- distributed: candidates against the durable KEPT index
    val idxExact: Map[Long, Long] =
      mbKeyed.join(tbl("digests"), Seq("h", "len"))
        .filter(col("id") < col("doc_id")) // replay safety (see scaladoc)
        .groupBy("doc_id").agg(min("id").as("keeper"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val idxNear: Map[Long, Long] = {
      val probe = lexPrefixOf(mbArr, "doc_id", t)
        .withColumnRenamed("id", "b_id").withColumnRenamed("n", "bn")
      val cand = probe.join(tbl("prefix").withColumnRenamed("id", "k_id")
          .withColumnRenamed("n", "kn"), "s")
        .filter(col("bn") * t <= col("kn") && col("kn") * t <= col("bn"))
        .filter(col("k_id") < col("b_id")) // replay safety
        .select("b_id", "k_id").distinct()
      cand
        .join(mbArr.select(col("doc_id").as("b_id"), col("sh").as("sb"),
          col("n").as("nb")), "b_id")
        .join(tbl("arrays").select(col("id").as("k_id"), col("sh").as("sk"),
          col("n").as("nk")), "k_id")
        .withColumn("c", size(array_intersect(col("sb"), col("sk"))).cast("long"))
        .filter(col("c").cast("double") / (col("nb") + col("nk") - col("c")) >= t)
        .groupBy("b_id").agg(min("k_id").as("keeper"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    // ---- distributed: WITHIN-batch candidate pairs (driver resolves)
    val exactPairs = withinBatchExactPairs(mbKeyed)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the batch is shingled once: the within-batch pairs read the pinned
    // arrays the index probe used
    val nearPairs = Dedup.jaccardArrayPairs(mbArr)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))

    // ---- driver: greedy resolution in doc order (batch-sized, serial)
    val decisions = greedyResolve(mb.select("doc_id").collect().map(_.getLong(0)).toSeq,
      idxExact, idxNear, exactPairs.toSeq, nearPairs.toSeq)

    // ---- grow the durable index with this batch's kept docs (guarded)
    val marker = new java.io.File(gidxPath(tag, s"_applied_$batchId"))
    if (!marker.exists()) {
      val keptIds = decisions.collect { case d if d.kind == "kept" => d.doc_id }.toDF("doc_id")
      def appendTo(df: DataFrame, name: String, bucketCol: String): Unit =
        df.write.mode("append").option("path", gidxPath(tag, name))
          .bucketBy(8, bucketCol).saveAsTable(gidxTable(name, tag))
      val newArr = mbArr.join(keptIds, "doc_id")
        .select(col("doc_id").as("id"), col("sh"), col("n"))
      appendTo(mbKeyed.join(keptIds, "doc_id")
        .select(col("h"), col("len"), col("doc_id").as("id")), "digests", "h")
      appendTo(newArr, "arrays", "id")
      appendTo(lexPrefixOf(newArr, "id", t), "prefix", "s")
      marker.getParentFile.mkdirs()
      marker.createNewFile()
    }

    decisions
  }

  /** Streaming wiring for [[durableDecideAndGrow]] — same contract as
    * [[growingCurationStream]], but the kept-doc index outlives the
    * query in bucketed tables keyed by `tag`. */
  def growingCurationStreamDurable(stream: Dataset[DocEvent], tag: String,
                                   t: Double = 0.5)
                                  (sink: (Seq[CurateDecision], Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.toDF().writeStream.foreachBatch { (mb: DataFrame, batchId: Long) =>
      sink(durableDecideAndGrow(stream.sparkSession, tag, mb, batchId, t), batchId)
    }
}
