package graft

import graft.operators.{Dedup, Pipeline, Similarity, StandingIndex}
import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.DocEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** No cache or checkpoint outlives its query or micro-batch: the pins a
  * query leaves behind all sit in the session ledger (released by
  * `Pins.releaseAll`) or the cache manager (`clearCache`), and a stream's
  * per-batch pins go with the batch's scope. */
class LeakGateSpec extends GraftSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("the durable growing stream holds no more persistent RDDs after 5 micro-batches than after 1") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .orderBy("doc_id").collect().map(r => DocEvent(r.getLong(0), r.getString(1)))
    val chunks = docs.grouped((docs.length + 4) / 5).toSeq
    assert(chunks.size == 5)
    val ms = MemoryStream[DocEvent](331, spark, None)
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = StreamingDedup.growingCurationStreamDurable(ms.toDS(),
        s"spec_leak_${System.nanoTime()}") { (_, _) =>
        sizes += spark.sparkContext.getPersistentRDDs.size
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_leak").toString)
      .start()
    try chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    finally q.stop()
    assert(sizes.size == 5)
    assert(sizes.last <= sizes.head, s"persistent RDDs per batch: $sizes")
  }

  test("every declared Dedup, Pipeline, StandingIndex and Similarity query leaves nothing persisted after releaseAll + clearCache") {
    def clean(): Unit = { Pins.releaseAll(); spark.catalog.clearCache() }
    clean()
    val baseline = persisted
    val queries = Dedup.queries ++ Pipeline.queries ++ StandingIndex.queries ++
      Similarity.queries
    val leaks = queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, sf0001).write.format("noop").mode("overwrite").save()
      clean()
      val left = persisted -- baseline
      if (left.isEmpty) None else Some(s"$name left ${left.size}")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }
}
