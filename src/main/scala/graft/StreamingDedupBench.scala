package graft

import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.DocEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Throughput probe for the continuous dedup operators (BASELINE.md
  * records its output): feeds the harness documents through
  *
  *   - the STATIC-index probe (`incrementalDedupStream` twin of
  *     `dedup_incremental`): corpus = doc_id % 7 != 0 indexed once, the
  *     1/7 sliver streamed in micro-batches — per-batch latency should be
  *     flat (index read from cache, cost ∝ batch);
  *   - the GROWING-corpus greedy curation (`growingCurationStream`): all
  *     docs streamed in id order — per-batch latency grows with the kept
  *     index (each batch probes a larger corpus), which is the honest
  *     steady-state cost the operator's scaladoc promises to bound by
  *     index size, not stream length.
  *
  * Usage: `graft.StreamingDedupBench [sfDir] [nBatches]`. Prints one JSON
  * line per operator with per-batch seconds and docs/sec.
  */
object StreamingDedupBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = Session.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def r2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def chunksOf[T](xs: Seq[T], n: Int): Seq[Seq[T]] = {
      val size = math.max(1, (xs.length + n - 1) / n)
      xs.grouped(size).toSeq
    }

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => DocEvent(r.getLong(0), r.getString(1))).toSeq
      .sortBy(_.doc_id)

    // ------------------------------------------------- static-index probe
    {
      val corpus = Tables.documents(spark, sfDir).filter("doc_id % 7 <> 0")
      val sliver = docs.filter(_.doc_id % 7 == 0)
      val tIdx0 = System.nanoTime()
      val idx = StreamingDedup.buildStandingIndex(corpus)
      Seq(idx.digests, idx.arrays, idx.dfreq, idx.prefix).foreach(_.count())
      val idxSec = (System.nanoTime() - tIdx0) / 1e9
      val ms = MemoryStream[DocEvent](401, spark, None)
      var decided = 0L
      val batchSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val ckpt = java.nio.file.Files.createTempDirectory("sdb_static").toString
      val q = StreamingDedup.incrementalDedupStream(ms.toDS(), idx) { (df, _) =>
        decided += df.count(); ()
      }.option("checkpointLocation", ckpt).start()
      try chunksOf(sliver, nBatches).foreach { c =>
        val t0 = System.nanoTime()
        ms.addData(c: _*); q.processAllAvailable()
        batchSecs += (System.nanoTime() - t0) / 1e9
      } finally q.stop()
      idx.release()
      val total = batchSecs.sum
      println(s"""{"op":"incrementalDedupStream","sf":"$sfDir",""" +
        s""""n_docs":${sliver.length},"n_batches":${batchSecs.length},""" +
        s""""index_build_sec":${r2(idxSec)},"decisions":$decided,""" +
        s""""batch_secs":[${batchSecs.map(r2).mkString(",")}],""" +
        s""""docs_per_sec":${r2(sliver.length / total)}}""")
    }

    // ------------------------------------------------- growing curation
    {
      val ms = MemoryStream[DocEvent](402, spark, None)
      var kept = 0L; var dropped = 0L
      val batchSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val ckpt = java.nio.file.Files.createTempDirectory("sdb_grow").toString
      val q = StreamingDedup.growingCurationStream(ms.toDS()) { (ds, _) =>
        kept += ds.count(_.kind == "kept"); dropped += ds.count(_.kind != "kept")
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunksOf(docs, nBatches).foreach { c =>
        val t0 = System.nanoTime()
        ms.addData(c: _*); q.processAllAvailable()
        batchSecs += (System.nanoTime() - t0) / 1e9
      } finally q.stop()
      val total = batchSecs.sum
      println(s"""{"op":"growingCurationStream","sf":"$sfDir",""" +
        s""""n_docs":${docs.length},"n_batches":${batchSecs.length},""" +
        s""""kept":$kept,"dropped":$dropped,""" +
        s""""batch_secs":[${batchSecs.map(r2).mkString(",")}],""" +
        s""""docs_per_sec":${r2(docs.length / total)}}""")
    }

    // ------------------------------------------------ composed curation
    // the FULL chain (greedy dedup + repetition + decontamination +
    // split): measures what the stateless gates add on top of the growing
    // dedup — expected near-zero marginal (per-batch arithmetic + one
    // broadcast join against the fixed benchmark shingles)
    {
      import org.apache.spark.sql.functions.col
      val corpus = docs.filter(_.doc_id % 10 != 0)
      val benchDf = Tables.documents(spark, sfDir).filter(col("doc_id") % 10 === 0)
      val benchSh = graft.streaming.StreamingCurate.benchmarkShingles(benchDf)
      val ms = MemoryStream[DocEvent](403, spark, None)
      val verdictCounts = scala.collection.mutable.Map.empty[String, Long]
      val batchSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val ckpt = java.nio.file.Files.createTempDirectory("sdb_curate").toString
      val q = graft.streaming.StreamingCurate.curateStream(ms.toDS(), benchSh) { (vs, _) =>
        vs.groupBy(_.verdict).foreach { case (k, v) =>
          verdictCounts(k) = verdictCounts.getOrElse(k, 0L) + v.size
        }
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunksOf(corpus, nBatches).foreach { c =>
        val t0 = System.nanoTime()
        ms.addData(c: _*); q.processAllAvailable()
        batchSecs += (System.nanoTime() - t0) / 1e9
      } finally q.stop()
      val total = batchSecs.sum
      val vjson = verdictCounts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      println(s"""{"op":"curateStream","sf":"$sfDir",""" +
        s""""n_docs":${corpus.length},"n_batches":${batchSecs.length},""" +
        s""""verdicts":{$vjson},""" +
        s""""batch_secs":[${batchSecs.map(r2).mkString(",")}],""" +
        s""""docs_per_sec":${r2(corpus.length / total)}}""")
    }
    spark.stop()
  }
}
