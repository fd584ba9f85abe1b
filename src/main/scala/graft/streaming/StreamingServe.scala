package graft.streaming

import graft.Pins
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Continuous ANN serving over the standing IVF index — the vector-store
  * query loop as a streaming job, completing the standing-artifact
  * family: the dedup index serves [[StreamingDedup.incrementalDedupStream]],
  * the gram index serves [[StreamingDedup.substringSpanStream]], the bloom
  * filter serves [[StreamingDedup.bloomProbeStream]], and the IVF index
  * serves this. */
object StreamingServe {

  /** A query vector arriving on the serving stream. */
  case class VecQuery(q_id: Long, qv: Seq[Double])

  /** Each micro-batch of arriving query vectors probes the STANDING IVF
    * index (built once via
    * [[graft.operators.Similarity.ensureAnnIndex]], maintained via its
    * append/delete paths). The per-batch plan is exactly the batch
    * `ann_ivf_indexed` probe: centroids broadcast, inverted lists joined
    * on their bucket key, zero corpus-side shuffle — per-batch cost
    * follows the BATCH size, never the corpus. Split invariance is
    * structural (one query's top-k depends on (query, index) only) and
    * spec-checked over random slicings against the batch probe. Index
    * maintenance (append/delete) happens between streaming queries, as
    * with every standing-artifact stream here. */
  def annProbeStream(stream: Dataset[VecQuery], tag: String)
                    (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.toDF().writeStream
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        sink(graft.operators.Similarity.ivfProbe(mb.sparkSession, tag,
          mb.select(col("q_id"), col("qv"))), batchId)
      }

  // ---------------------------------------------- media ingest dedup
  /** Continuous perceptual image dedup: each micro-batch of arriving image
    * docs is hashed (aHash through the real decode path) and probed
    * against the FROZEN standing band table — the media-ingest mirror of
    * the text streams above. Per-batch cost is batch-sized plus the index
    * partitions the batch's band keys touch; split invariance is
    * structural (a probe's matches depend on (doc, index) only) and
    * spec-checked over random slicings against the batch probe. Index
    * growth (newly admitted images) is an append between streaming
    * queries, exactly as for the dedup/gram/bloom/IVF artifacts. */
  def mediaProbeStream(stream: Dataset[StreamingDedup.DocEvent],
                       corpusBands: DataFrame)
                      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // pinned for the life of the stream, outside the session ledger
    val frozen = new Pins.Ledger().within(Pins.checkpoint(corpusBands))
    stream.toDF().writeStream
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        sink(graft.operators.Multimodal.imageProbe(mb, frozen), batchId)
      }
  }

  /** The standing band table for [[mediaProbeStream]], built from the
    * corpus at `dir`. */
  def mediaBandsFor(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.imageBandsOf(Multimodal.imageHashes(s, dir))
  }

  // ------------------------------------------ continuous semantic dedup
  /** One semantic-dedup decision for a streamed vector. */
  case class SemDecision(vec_id: Long, cluster_rep: Long, kept: Boolean)

  /** Continuous semantic dedup over the standing frozen-quantizer index —
    * the one dedup family that lacked a streaming twin (round 19). Each
    * micro-batch of arriving vectors runs the batch standing probe
    * [[graft.operators.Similarity.semanticDedupIvfIndexedFor]] against
    * the `semc`/`sema` tables (frozen centroids broadcast, cell lists
    * joined bucket-local, star-capped within-batch pairs — per-batch cost
    * follows the BATCH size, never the corpus), and the batch's KEPT
    * vectors are appended
    * ([[graft.operators.Similarity.appendSemDedupFor]]) so the next batch
    * dedups against them — the [[StreamingCurate.curateIndexedStream]]
    * maintenance pattern on the [[annProbeStream]] surface.
    *
    * Semantics are `semantic_dedup_ivf_indexed`'s at micro-batch
    * granularity: a single batch holding the whole delta is literally the
    * gated batch query, and a multi-batch run equals the day-by-day FOLD
    * of the batch probe over fresh same-centroid rebuilds (spec-pinned —
    * the accretion proof every standing-artifact stream here carries). A
    * within-delta CC component split across batch boundaries resolves its
    * later members as base hits against the appended earlier ones —
    * exactly the daily-cadence semantics of the dedup/curation streams
    * (a component cannot bridge through a DROPPED vector across batches;
    * see [[StreamingDedup.growingCurationStream]] for why that is
    * stream-inexpressible). The probe-time cell-mass acceptance guard
    * applies per micro-batch, so a duplicate-saturated stream that
    * degrades the frozen quantizer refuses loudly instead of slowing
    * quadratically. Only the batch's decision list (batch-sized by
    * construction) reaches the driver. */
  def semanticDedupStream(stream: Dataset[VecQuery], tag: String)
                         (sink: (Seq[SemDecision], Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.toDF().writeStream.foreachBatch { (mb0: DataFrame, batchId: Long) =>
      val s = mb0.sparkSession
      val decisions = Pins.scope {
        val mb = Pins.checkpoint(mb0.select(col("q_id").as("vec_id"), col("qv").as("v")))
        // eager inside (the probe checkpoints its delta-sized output in
        // its own scope — semanticDedupIvfIndexedFor)
        val out = graft.operators.Similarity.semanticDedupIvfIndexedFor(s, tag, mb)
        val decisions = out.collect()
          .map(r => SemDecision(r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
        val kept = decisions.filter(_.kept).map(_.vec_id)
        if (kept.nonEmpty)
          graft.operators.Similarity.appendSemDedupFor(s, tag,
            mb.filter(col("vec_id").isInCollection(kept)))
        decisions
      }
      sink(decisions, batchId)
    }
}
