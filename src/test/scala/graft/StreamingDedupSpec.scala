package graft

import graft.operators.Dedup
import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.DocEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The continuous incremental-dedup twin must compute exactly what the
  * batch, oracle-checked `dedup_incremental` computes — per document,
  * regardless of how the stream of new docs is sliced into micro-batches
  * — and the standing corpus index must be read, never recomputed, per
  * batch. The within-stream exact layer must equal `dedup_exact`'s
  * keep-lowest-id rule under id-ordered arrival and survive a mid-stream
  * kill with exactly-once state. */
class StreamingDedupSpec extends GraftSpec {
  import spark.implicits._

  private def corpusDf = Tables.documents(spark, sf0001).filter("doc_id % 7 <> 0")

  private def newDocs: Array[DocEvent] =
    Tables.documents(spark, sf0001).filter("doc_id % 7 = 0")
      .select("doc_id", "text").collect()
      .map(r => DocEvent(r.getLong(0), r.getString(1)))

  private def splitChunks[T](xs: Seq[T], n: Int, rnd: scala.util.Random): Seq[Seq[T]] = {
    // n-1 random cut points → n contiguous chunks (some possibly empty)
    val cuts = (Seq.fill(n - 1)(rnd.nextInt(xs.length + 1)) :+ 0 :+ xs.length)
      .sorted.distinct
    cuts.zip(cuts.tail).map { case (a, b) => xs.slice(a, b) }
  }

  test("continuous incremental dedup == batch operator for arbitrary micro-batch splits") {
    val expected = Dedup.incrementalDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(expected.nonEmpty, "harness corpus must contain incremental dups")
    val idx = StreamingDedup.buildStandingIndex(corpusDf)
    try {
      val docs = newDocs.toSeq
      for ((seed, msId) <- Seq((1, 301), (7, 302))) {
        val rnd = new scala.util.Random(seed)
        // arrival order shuffled AND split points random: decisions must
        // depend on (doc, corpus) only
        val chunks = splitChunks(rnd.shuffle(docs), 3 + rnd.nextInt(3), rnd)
        val ms = MemoryStream[DocEvent](msId, spark, None)
        val sink = scala.collection.mutable.ArrayBuffer[(Long, Long, String, Double)]()
        val ckpt = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
        val q = StreamingDedup.incrementalDedupStream(ms.toDS(), idx) { (df, _) =>
          val rows = df.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
          sink.synchronized { sink ++= rows }
          ()
        }.option("checkpointLocation", ckpt).start()
        try chunks.foreach { c =>
          if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
        } finally q.stop()
        val got = sink.synchronized(sink.toSet)
        assert(got == expected,
          s"seed=$seed: streamed decisions diverge from the batch operator " +
          s"(missing=${(expected -- got).take(3)}, extra=${(got -- expected).take(3)})")
      }
    } finally idx.release()
  }

  test("continuous probe against the ON-DISK bucketed index == batch operator") {
    // the deployment wiring: the stream's standing index is the
    // materialized bucketed-table form, not a cached plan — decisions
    // must still equal the batch operator exactly
    val expected = Dedup.incrementalDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val idx = StreamingDedup.standingIndexFromTables(spark, sf0001)
    val rnd = new scala.util.Random(11)
    val chunks = splitChunks(rnd.shuffle(newDocs.toSeq), 4, rnd)
    val ms = MemoryStream[DocEvent](307, spark, None)
    val sink = scala.collection.mutable.ArrayBuffer[(Long, Long, String, Double)]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_diskidx").toString
    val q = StreamingDedup.incrementalDedupStream(ms.toDS(), idx) { (df, _) =>
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      sink.synchronized { sink ++= rows }
      ()
    }.option("checkpointLocation", ckpt).start()
    try chunks.foreach { c =>
      if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = sink.synchronized(sink.toSet)
    assert(got == expected,
      s"on-disk-index stream diverges from the batch operator " +
      s"(missing=${(expected -- got).take(3)}, extra=${(got -- expected).take(3)})")
  }

  test("continuous bloom probe == batch prefilter for arbitrary micro-batch splits") {
    val expected = Dedup.bloomPrefilter(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    val (bits, digests) = StreamingDedup.bloomIndexOf(corpusDf)
    try {
      val docs = newDocs.toSeq
      for ((seed, msId) <- Seq((3, 341), (11, 342))) {
        val rnd = new scala.util.Random(seed)
        val chunks = splitChunks(rnd.shuffle(docs), 3 + rnd.nextInt(3), rnd)
        val ms = MemoryStream[DocEvent](msId, spark, None)
        val sink = scala.collection.mutable.ArrayBuffer[(Long, Boolean, Boolean)]()
        val ckpt = java.nio.file.Files.createTempDirectory("graft_bloom").toString
        val q = StreamingDedup.bloomProbeStream(ms.toDS(), bits, digests) { (df, _) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
          sink.synchronized { sink ++= rows }
          ()
        }.option("checkpointLocation", ckpt).start()
        try chunks.foreach { c =>
          if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
        } finally q.stop()
        val got = sink.synchronized(sink.toSet)
        assert(got == expected,
          s"seed=$seed: streamed bloom verdicts diverge from the batch prefilter")
      }
    } finally { bits.unpersist(blocking = false); digests.unpersist(blocking = false) }
  }

  test("continuous substring-span probe == batch operator for arbitrary micro-batch splits") {
    val expected = graft.operators.SubstringDedup.incrementalSubstring(spark, sf0001)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(expected.nonEmpty, "harness corpus must contain batch-vs-corpus spans")
    val gramIdx = StreamingDedup.gramIndexFromTables(spark, sf0001)
    for ((seed, msId) <- Seq((3, 311), (13, 312))) {
      val rnd = new scala.util.Random(seed)
      val chunks = splitChunks(rnd.shuffle(newDocs.toSeq), 3 + rnd.nextInt(3), rnd)
      val ms = MemoryStream[DocEvent](msId, spark, None)
      val sink = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_spanstream").toString
      val q = StreamingDedup.substringSpanStream(ms.toDS(), gramIdx) { (df, _) =>
        val rows = df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        sink.synchronized { sink ++= rows }
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunks.foreach { c =>
        if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = sink.synchronized(sink.toSet)
      assert(got == expected,
        s"seed=$seed: streamed spans diverge from the batch operator " +
        s"(missing=${(expected -- got).take(3)}, extra=${(got -- expected).take(3)})")
    }
  }

  test("continuous LR quality scoring == batch scorer for arbitrary micro-batch splits") {
    val expected = graft.operators.QualityFilters.qualityLrScores(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    val weights = graft.streaming.StreamingCurate.lrWeightsFor(spark, sf0001)
      .localCheckpoint() // freeze: a mid-stream refit would re-score replays
    val allDocs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => DocEvent(r.getLong(0), r.getString(1))).toSeq
    val rnd = new scala.util.Random(17)
    val chunks = splitChunks(rnd.shuffle(allDocs), 4, rnd)
    val ms = MemoryStream[DocEvent](321, spark, None)
    val sink = scala.collection.mutable.ArrayBuffer[(Long, Double, Boolean)]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lrstream").toString
    val q = graft.streaming.StreamingCurate.qualityScoreStream(ms.toDS(), weights) { (df, _) =>
      val rows = df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      sink.synchronized { sink ++= rows }
      ()
    }.option("checkpointLocation", ckpt).start()
    try chunks.foreach { c =>
      if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = sink.synchronized(sink.toSet)
    assert(got == expected,
      s"streamed scores diverge from the batch scorer " +
      s"(missing=${(expected -- got).take(3)}, extra=${(got -- expected).take(3)})")
  }

  test("standing index is READ per micro-batch, never recomputed from the corpus") {
    // the 100 TB contract: per-batch cost is proportional to the batch,
    // not the corpus — the decision plan must source every corpus subtree
    // from the materialized (cached) index and contain NO file scan at all
    // (the micro-batch side is in-memory rows)
    val idx = StreamingDedup.buildStandingIndex(corpusDf)
    try {
      Seq(idx.digests, idx.arrays, idx.dfreq, idx.prefix).foreach(_.count())
      val mb = Seq(
        DocEvent(7L, "the quick brown fox jumps over the lazy dog"),
        DocEvent(14L, "tiny")).toDF("doc_id", "text")
      // leaf collection descending through AQE wrappers (plain collect()
      // stops at AdaptiveSparkPlanExec); InMemoryTableScan is a leaf, and
      // its cached plan's provenance (which legitimately mentions the
      // original FileScan) is innerChildren, not children — so any
      // FileSourceScan LEAF found here is a genuine per-batch rescan
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.inputPlan)
        case s if s.children.isEmpty => Seq(s)
        case s => s.children.flatMap(leaves)
      }
      val ls = leaves(StreamingDedup.decideBatch(mb, idx).queryExecution.executedPlan)
      assert(ls.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"corpus index must be read from InMemoryRelation: ${ls.map(_.nodeName)}")
      assert(!ls.exists(_.isInstanceOf[FileSourceScanExec]),
        s"per-batch decision plan rescans storage: ${ls.map(_.nodeName)}")
    } finally idx.release()
  }

  test("decideBatch == brute-force reference on random small-vocab corpora") {
    // randomized losslessness proof for the corpus-df prefix filter: tiny
    // vocabulary + short docs generate dense boundary cases (J exactly at
    // threshold, empty docs, sub-shingle docs, exact twins) that the
    // harness corpus never hits; the reference is an all-pairs scan with
    // plain Scala sets — no shared code, no filtering
    import spark.implicits._
    def sh(t: String): Set[String] = {
      val tk = t.split(" ", -1)
      if (tk.length < 3) Set.empty else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    for (seed <- Seq(5, 21, 77)) {
      val rnd = new scala.util.Random(seed)
      def mkDoc(): String =
        (0 until rnd.nextInt(13)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val corpus = (0L until 60L).map(i => (i, mkDoc()))
      val batch = (100L until 130L).map(i => (i, mkDoc()))
      val idx = StreamingDedup.buildStandingIndex(corpus.toDF("doc_id", "text"))
      try {
        val got = StreamingDedup.decideBatch(batch.toDF("doc_id", "text"), idx)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
          .toSet
        val expected = batch.flatMap { case (bid, btext) =>
          corpus.filter(_._2 == btext).map(_._1).minOption match {
            case Some(cid) => Some((bid, cid, "exact", 1.0))
            case None =>
              val bsh = sh(btext)
              val cands = corpus.flatMap { case (cid, ctext) =>
                val csh = sh(ctext)
                val c = (bsh & csh).size
                val den = bsh.size + csh.size - c
                if (den > 0 && c.toDouble / den >= 0.5)
                  Some((c.toDouble / den, cid)) else None
              }
              if (cands.isEmpty) None
              else {
                val (j, cid) = cands.minBy { case (jv, cv) => (-jv, cv) }
                Some((bid, cid, "near", j))
              }
          }
        }.toSet
        assert(got == expected, s"seed=$seed: missing=${(expected -- got).take(3)} " +
          s"extra=${(got -- expected).take(3)}")
      } finally idx.release()
    }
  }

  test("greedyResolve == O(n²) greedy reference over index hits and within-batch pairs") {
    // the driver half both growing indexes share, pure: the index hits and
    // the within-batch pairs are computed here from text and shingle sets,
    // and the decisions must equal the reference's over one id-ordered run
    def shingles(text: String): Set[String] = {
      val tk = text.split(" ", -1)
      if (tk.length < 3) Set.empty else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    def jac(a: Set[String], b: Set[String]): Double = {
      val c = (a & b).size
      val d = a.size + b.size - c
      if (d == 0) 0.0 else c.toDouble / d
    }
    val rnd = new scala.util.Random(23)
    val vocab = Seq("a", "b", "c", "d")
    for (trial <- 0 until 30) {
      val docs = (1L to 30L).map(id =>
        id -> Seq.fill(3 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val sh = docs.map { case (id, text) => id -> shingles(text) }.toMap
      val text = docs.toMap
      val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
      val expected = docs.map { case (id, _) =>
        val exactK = kept.filter(k => text(k) == text(id)).minOption
        lazy val nearK = kept.filter(k => jac(sh(k), sh(id)) >= 0.5).minOption
        (exactK, nearK) match {
          case (Some(k), _) => StreamingDedup.CurateDecision(id, "exact", k)
          case (None, Some(k)) => StreamingDedup.CurateDecision(id, "near", k)
          case _ => kept += id; StreamingDedup.CurateDecision(id, "kept", -1L)
        }
      }
      val cut = rnd.nextInt(docs.size)
      val (idx, batch) = (docs.take(cut).map(_._1), docs.drop(cut).map(_._1))
      val idxKept = idx.filter(kept.contains)
      def hits(m: (Long, Long) => Boolean): Map[Long, Long] =
        batch.flatMap(b => idxKept.filter(m(_, b)).minOption.map(b -> _)).toMap
      def pairs(m: (Long, Long) => Boolean): Seq[(Long, Long)] =
        for (a <- batch; b <- batch if a < b && m(a, b)) yield (a, b)
      val sameText = (a: Long, b: Long) => text(a) == text(b)
      val near = (a: Long, b: Long) => jac(sh(a), sh(b)) >= 0.5
      val got = StreamingDedup.greedyResolve(rnd.shuffle(batch),
        hits(sameText), hits(near), pairs(sameText), pairs(near))
      assert(got == expected.drop(cut), s"trial $trial, cut $cut")
    }
  }

  test("growing-corpus curation == independent greedy reference, any micro-batch splits") {
    // The greedy prefix rule (drop iff exact/near match against an earlier
    // KEPT doc, decided in doc order) is order-deterministic, so the
    // decision sequence must be IDENTICAL for every micro-batch slicing —
    // verified against an O(n²) in-memory reimplementation that shares no
    // code with the operator (text equality instead of md5; plain Scala
    // sets instead of Spark arrays).
    def shingles(text: String): Set[String] = {
      val tk = text.split(" ", -1) // Spark's split keeps empty tokens
      if (tk.length < 3) Set.empty
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    def jac(a: Set[String], b: Set[String]): Double = {
      val c = (a & b).size
      val d = a.size + b.size - c
      if (d == 0) 0.0 else c.toDouble / d
    }
    val base = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // the sf0.001 slice has near-dups but no exact twins whose first copy
    // survives — append synthetic exact copies of early docs (new ids past
    // the max) so the 'exact' path is exercised; reference and stream
    // consume the SAME extended sequence, so equality stays meaningful
    val maxId = base.map(_._1).max
    val docs = base ++ base.take(3).zipWithIndex.map { case ((_, text), i) =>
      (maxId + 1 + i, text)
    }
    case class Kept(id: Long, text: String, sh: Set[String])
    val kept = scala.collection.mutable.ArrayBuffer.empty[Kept]
    val expected = docs.map { case (id, text) =>
      val sh = shingles(text)
      val exactK = kept.filter(_.text == text).map(_.id).minOption
      lazy val nearK = kept.filter(k => jac(sh, k.sh) >= 0.5).map(_.id).minOption
      exactK match {
        case Some(k) => (id, "exact", k)
        case None => nearK match {
          case Some(k) => (id, "near", k)
          case None => kept += Kept(id, text, sh); (id, "kept", -1L)
        }
      }
    }.toSeq
    assert(expected.exists(_._2 == "exact") && expected.exists(_._2 == "near"),
      "harness corpus must exercise both drop kinds")

    val events = docs.map { case (id, text) => DocEvent(id, text) }.toSeq
    for ((seed, msId) <- Seq((3, 306), (13, 307))) {
      val rnd = new scala.util.Random(seed)
      // id order ACROSS batches (the rule's total order), cuts random
      val chunks = splitChunks(events, 2 + rnd.nextInt(4), rnd)
      val ms = MemoryStream[DocEvent](msId, spark, None)
      val sink = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_growdedup").toString
      val q = StreamingDedup.growingCurationStream(ms.toDS()) { (ds, _) =>
        sink.synchronized { sink ++= ds.map(d => (d.doc_id, d.kind, d.keeper_id)) }
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunks.foreach { c =>
        if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = sink.synchronized(sink.toSeq).sortBy(_._1)
      assert(got == expected,
        s"seed=$seed: greedy decisions diverge " +
        s"(first diff: ${got.zip(expected).find(p => p._1 != p._2)})")
    }
  }

  test("BANDED growing curation == banding-aware greedy reference, any micro-batch splits") {
    // the banded form swaps BOTH near-candidate generators (index probe
    // and within-batch) to minhash band buckets; decisions stay
    // deterministic and slicing-invariant because a bucket collision is a
    // pure function of content, never of where a batch boundary falls.
    // The reference reimplements the greedy rule in plain Scala over its
    // OWN shingle sets and Jaccard; the band-bucket table is computed
    // once through the shared banding stage (xxhash64 is not something a
    // pure-Scala reimplementation can reproduce) — what the reference
    // does NOT share is the candidate join, the star cap, the growing
    // index maintenance, and the greedy resolution under test.
    import spark.implicits._
    def shingles(text: String): Set[String] = {
      val tk = text.split(" ", -1)
      if (tk.length < 3) Set.empty
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    def jac(a: Set[String], b: Set[String]): Double = {
      val c = (a & b).size
      val d = a.size + b.size - c
      if (d == 0) 0.0 else c.toDouble / d
    }
    val base = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val maxId = base.map(_._1).max
    val docs = base ++ base.take(3).zipWithIndex.map { case ((_, text), i) =>
      (maxId + 1 + i, text)
    }
    val buckets: Map[Long, Set[(Int, Long)]] =
      graft.operators.Dedup.xxhashBandBuckets(
        graft.operators.Dedup.shingleArrays(docs.toSeq.toDF("doc_id", "text")))
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    case class Kept(id: Long, text: String, sh: Set[String], bk: Set[(Int, Long)])
    val kept = scala.collection.mutable.ArrayBuffer.empty[Kept]
    val expected = docs.map { case (id, text) =>
      val sh = shingles(text)
      val bk = buckets.getOrElse(id, Set.empty[(Int, Long)])
      val exactK = kept.filter(_.text == text).map(_.id).minOption
      lazy val nearK = kept
        .filter(k => (k.bk & bk).nonEmpty && jac(sh, k.sh) >= 0.5)
        .map(_.id).minOption
      exactK match {
        case Some(k) => (id, "exact", k)
        case None => nearK match {
          case Some(k) => (id, "near", k)
          case None => kept += Kept(id, text, sh, bk); (id, "kept", -1L)
        }
      }
    }.toSeq
    assert(expected.exists(_._2 == "exact") && expected.exists(_._2 == "near"),
      "fixture must exercise both drop kinds under banding")

    val events = docs.map { case (id, text) => DocEvent(id, text) }.toSeq
    for ((seed, msId) <- Seq((7, 318), (23, 319))) {
      val rnd = new scala.util.Random(seed)
      val chunks = splitChunks(events, 2 + rnd.nextInt(4), rnd)
      val ms = MemoryStream[DocEvent](msId, spark, None)
      val sink = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_growband").toString
      val q = StreamingDedup.growingCurationStream(ms.toDS(), banded = true) { (ds, _) =>
        sink.synchronized { sink ++= ds.map(d => (d.doc_id, d.kind, d.keeper_id)) }
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunks.foreach { c =>
        if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = sink.synchronized(sink.toSeq).sortBy(_._1)
      assert(got == expected,
        s"seed=$seed: banded greedy decisions diverge " +
        s"(first diff: ${got.zip(expected).find(p => p._1 != p._2)})")
    }
  }

  test("BANDED growing curation: a >MaxBucket band bucket takes the star-cap path and still matches the greedy reference") {
    // hot-bucket fixture: one doc per clique member, each sharing ~all
    // band buckets with every other (base text + one unique trailing
    // token → pairwise J ≈ 0.95). Within one batch the bucket exceeds
    // MaxBucket, so the within-batch pass MUST take the star-cap branch
    // (round 16 — before, only the index probe was capped); across
    // batches the kept index holds only the clique minimum, so its
    // bucket never goes hot. For a genuine duplicate CLIQUE the capped
    // and uncapped rules provably coincide — every member's minimum
    // candidate is the clique min either way — which is exactly why the
    // uncapped banding-aware greedy reference remains the right oracle
    // here; the slicing-dependent hot-bucket exception (hash degeneracy,
    // where kept docs share buckets WITHOUT being similar) is documented
    // on growingCurationStream instead of spec'd, because it has no
    // slicing-invariant ground truth to pin.
    import spark.implicits._
    val n = Dedup.MaxBucket + 16 // 80 docs: bucket size comfortably > cap
    val baseTokens = (0 until 40).map(i => s"tok$i").mkString(" ")
    val docs: Seq[(Long, String)] =
      (0 until n).map(i => (100L + i, s"$baseTokens uniq$i")) ++
        Seq((900L, (0 until 40).map(i => s"other$i").mkString(" ")))
    // precondition: the fixture really produces an over-cap bucket
    val maxBucket = graft.operators.Dedup.xxhashBandBuckets(
        graft.operators.Dedup.shingleArrays(docs.toDF("doc_id", "text")))
      .groupBy("band", "bucket").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxBucket > Dedup.MaxBucket,
      s"fixture bucket max $maxBucket must exceed the ${Dedup.MaxBucket} cap")

    // uncapped banding-aware greedy reference (same shape as the BANDED
    // slicing test above)
    def shingles(text: String): Set[String] =
      text.split(" ", -1).sliding(3).map(_.mkString(" ")).toSet
    def jac(a: Set[String], b: Set[String]): Double = {
      val c = (a & b).size; val d = a.size + b.size - c
      if (d == 0) 0.0 else c.toDouble / d
    }
    val buckets: Map[Long, Set[(Int, Long)]] =
      graft.operators.Dedup.xxhashBandBuckets(
        graft.operators.Dedup.shingleArrays(docs.toDF("doc_id", "text")))
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    case class Kept(id: Long, text: String, sh: Set[String], bk: Set[(Int, Long)])
    val kept = scala.collection.mutable.ArrayBuffer.empty[Kept]
    val expected = docs.sortBy(_._1).map { case (id, text) =>
      val sh = shingles(text)
      val bk = buckets.getOrElse(id, Set.empty[(Int, Long)])
      val nearK = kept
        .filter(k => (k.bk & bk).nonEmpty && jac(sh, k.sh) >= 0.5)
        .map(_.id).minOption
      nearK match {
        case Some(k) => (id, "near", k)
        case None => kept += Kept(id, text, sh, bk); (id, "kept", -1L)
      }
    }
    assert(expected.count(_._2 == "near") >= n - 1,
      "the clique must collapse onto its minimum member")

    val events = docs.sortBy(_._1).map { case (id, text) => DocEvent(id, text) }
    // slicing 1: everything in ONE batch (within-batch star cap fires);
    // slicings 2-3: random cuts (index probe sees the 1-member bucket)
    val slicings: Seq[(Seq[Seq[DocEvent]], Int)] = {
      val r2 = new scala.util.Random(11); val r3 = new scala.util.Random(29)
      Seq((Seq(events), 351),
          (splitChunks(events, 3, r2), 352),
          (splitChunks(events, 5, r3), 353))
    }
    for ((chunks, msId) <- slicings) {
      val ms = MemoryStream[DocEvent](msId, spark, None)
      val sink = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_growhot").toString
      val q = StreamingDedup.growingCurationStream(ms.toDS(), banded = true) { (ds, _) =>
        sink.synchronized { sink ++= ds.map(d => (d.doc_id, d.kind, d.keeper_id)) }
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunks.foreach { c =>
        if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = sink.synchronized(sink.toSeq).sortBy(_._1)
      assert(got == expected,
        s"msId=$msId: hot-bucket decisions diverge " +
        s"(first diff: ${got.zip(expected).find(p => p._1 != p._2)})")
    }
  }

  test("durable growing curation == greedy reference; replay and crashed-marker replay are decision-stable") {
    def shingles(text: String): Set[String] = {
      val tk = text.split(" ", -1)
      if (tk.length < 3) Set.empty else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    def jac(a: Set[String], b: Set[String]): Double = {
      val c = (a & b).size; val d = a.size + b.size - c
      if (d == 0) 0.0 else c.toDouble / d
    }
    val base = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val maxId = base.map(_._1).max
    val docs = base ++ base.take(3).zipWithIndex.map { case ((_, text), i) =>
      (maxId + 1 + i, text)
    }
    // independent O(n²) greedy reference (no shared code with the operator)
    case class Kept(id: Long, text: String, sh: Set[String])
    val keptRef = scala.collection.mutable.ArrayBuffer.empty[Kept]
    val expected = docs.map { case (id, text) =>
      val sh = shingles(text)
      val exactK = keptRef.filter(_.text == text).map(_.id).minOption
      lazy val nearK = keptRef.filter(k => jac(sh, k.sh) >= 0.5).map(_.id).minOption
      exactK match {
        case Some(k) => (id, "exact", k)
        case None => nearK match {
          case Some(k) => (id, "near", k)
          case None => keptRef += Kept(id, text, sh); (id, "kept", -1L)
        }
      }
    }.toSeq

    import spark.implicits._
    val tag = s"spec_durable_${System.nanoTime()}"
    val third = docs.length / 3
    val chunks = Seq(docs.take(third), docs.slice(third, 2 * third),
      docs.drop(2 * third))
    def run(chunk: Seq[(Long, String)], batchId: Long) =
      StreamingDedup.durableDecideAndGrow(spark, tag,
          chunk.toDF("doc_id", "text"), batchId)
        .map(d => (d.doc_id, d.kind, d.keeper_id))

    val d0 = run(chunks(0), 0)
    val d1 = run(chunks(1), 1)
    // replay batch 0 with its marker present: append skipped, decisions
    // must be byte-identical despite the index now CONTAINING batch 0
    assert(run(chunks(0), 0) == d0, "replay after append changed decisions")
    // simulate the crash window: marker lost, append re-applied — the
    // duplicate index rows must be decision-neutral
    val marker = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_growing_index/$tag/_applied_0")
    assert(marker.exists()); assert(marker.delete())
    assert(run(chunks(0), 0) == d0, "duplicate append changed decisions")
    val d2 = run(chunks(2), 2)
    assert((d0 ++ d1 ++ d2) == expected,
      s"durable decisions diverge from the greedy reference (first diff: " +
      s"${(d0 ++ d1 ++ d2).zip(expected).find(p => p._1 != p._2)})")
  }

  test("streaming exact dedup == batch keep-lowest-id rule, any id-ordered splits") {
    val docs = Tables.documents(spark, sf0001)
    val expected = docs.alias("d")
      .join(docs.groupBy(md5(col("text")).as("h"), length(col("text")).as("len"))
              .agg(min("doc_id").as("keeper_id")),
        md5(col("d.text")) === col("h") && length(col("d.text")) === col("len"))
      .select(col("d.doc_id"), col("keeper_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = docs.select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => DocEvent(r.getLong(0), r.getString(1))).toSeq
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rnd = new scala.util.Random(11)
      val chunks = splitChunks(all, 4, rnd) // id order preserved, cuts random
      val ms = MemoryStream[DocEvent](303, spark, None)
      val sink = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_exdedup").toString
      val q = StreamingDedup.exactDedupTws(ms.toDS()).writeStream
        .option("checkpointLocation", ckpt).outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r => (r.getLong(0), r.getLong(1)))
          sink.synchronized { sink ++= rows }
          ()
        }.start()
      try chunks.foreach { c =>
        if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      assert(sink.synchronized(sink.toSet) == expected)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming exact dedup: state bounded by distinct content; exactly-once across a kill") {
    // state-data-source audit + the racy-kill restart proof, mirroring the
    // as-of twin's: data enqueued but not awaited when the query dies, so
    // the cut batch may land on either side — the final decision set must
    // be identical either way, and the keeper store must hold EXACTLY one
    // row per distinct digest (the dedup hit rate is the state NOT added)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_exdedup_kill").toString
      val ms = MemoryStream[DocEvent](304, spark, None)
      val sink = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      def start() = StreamingDedup.exactDedupTws(ms.toDS()).writeStream
        .option("checkpointLocation", ckpt).outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r => (r.getLong(0), r.getLong(1)))
          sink.synchronized { sink ++= rows }
          ()
        }.start()
      val q1 = start()
      try {
        ms.addData(DocEvent(1, "alpha beta"), DocEvent(2, "alpha beta"),
          DocEvent(3, "gamma"))
        q1.processAllAvailable()
        // enqueue, then kill WITHOUT waiting — the racy point
        ms.addData(DocEvent(4, "gamma"), DocEvent(5, "delta"))
      } finally q1.stop()
      val q2 = start()
      try {
        ms.addData(DocEvent(6, "alpha beta"), DocEvent(7, "delta"))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = sink.synchronized(sink.toSet)
      assert(got == Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L),
        (6L, 1L), (7L, 5L)),
        s"decisions must be exactly-once across the kill: $got")
      val stateRows = spark.read.format("statestore")
        .option("path", ckpt).option("stateVarName", "keeper").load()
      assert(stateRows.count() == 3L,
        "keeper store must hold exactly one row per distinct digest " +
        "(alpha beta / gamma / delta)")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("RUNBOOK ingest topology end-to-end: TWS dedup -> gate -> durable greedy -> DSIR -> card under one checkpoint root survives a racy kill exactly-once") {
    // The composed drill the round-10/12 verdicts ask for: the full ingest
    // chain as ONE streaming query under ONE checkpoint root —
    //   content dedup (transformWithState keeper store, the checkpointed
    //   stage) → Gopher rule gate (row-local) → durable greedy near-dup
    //   (marker-guarded growing index tables) → DSIR scoring (frozen
    //   model) → additive card (batchId-guarded driver state, the same
    //   same-run retry guard as CurateProcessor)
    // killed at the raciest point a MemoryStream harness can force (events
    // enqueued but NOT awaited when the query dies, so the cut batch
    // replays from the checkpoint on restart, possibly mid-append in the
    // growing index). Exactly-once is asserted three ways: the composed
    // per-doc output equals an uninterrupted single-run reference, the
    // durable index holds each kept doc once, and the state data source
    // shows exactly one keeper row per distinct delivered digest.
    import graft.streaming.StreamingCurate
    import graft.operators.Curation
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docsStatic = Tables.documents(spark, sf0001)
        .select("doc_id", "text", "source").localCheckpoint()
      val model = StreamingCurate.dsirModelFor(spark, sf0001).localCheckpoint()
      val all = Tables.documents(spark, sf0001).select("doc_id", "text")
        .orderBy("doc_id").limit(150).collect()
        .map(r => DocEvent(r.getLong(0), r.getString(1))).toSeq

      final case class TopoRun(scored: Set[(Long, String, Long, Double)],
                               cardDocs: Long, cardTokens: Long,
                               indexedIds: Long, ckpt: String)

      def runTopology(msId: Int, tag: String)
                     (feed: (MemoryStream[DocEvent], () => org.apache.spark.sql.streaming.StreamingQuery) => Unit): TopoRun = {
        val ckptRoot = java.nio.file.Files.createTempDirectory(s"graft_topo_$tag").toString
        val out = scala.collection.mutable.Map.empty[Long, Seq[(Long, String, Long, Double)]]
        val cardBatches = scala.collection.mutable.Set.empty[Long]
        var cardDocs = 0L; var cardTokens = 0L
        val ms = MemoryStream[DocEvent](msId, spark, None)
        def body(mb: org.apache.spark.sql.DataFrame, batchId: Long): Unit = graft.Pins.scope {
          val firsts = graft.Pins.checkpoint(mb.filter(col("doc_id") === col("keeper_id"))
            .select("doc_id").join(docsStatic, "doc_id"))
          val gated = graft.Pins.checkpoint(firsts.join(
            Curation.gopherRulesOf(firsts).filter(col("pass") === 1)
              .select("doc_id"), "doc_id"))
          val kept = StreamingDedup.durableDecideAndGrow(spark, tag,
              gated.select("doc_id", "text"), batchId)
            .filter(_.kind == "kept").map(_.doc_id).toSet
          val scored =
            if (kept.isEmpty) Seq.empty[(Long, String, Long, Double)]
            else Curation.dsirScoreOf(Curation.docTokens(
                gated.filter(col("doc_id").isInCollection(kept))), model)
              .collect()
              .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
              .toSeq
          out.synchronized {
            out(batchId) = scored // replay overwrites with identical rows
            if (cardBatches.add(batchId)) { // additive card, counted once
              cardDocs += scored.length
              cardTokens += scored.map(_._3).sum
            }
          }
        }
        def start() = StreamingDedup.exactDedupTws(ms.toDS()).writeStream
          .option("checkpointLocation", s"$ckptRoot/ingest")
          .outputMode("append").foreachBatch(body _).start()
        feed(ms, () => start())
        // count DISTINCT indexed ids: a kill between append and marker is
        // allowed to cost duplicate STORAGE rows (at-least-once storage,
        // exactly-once semantics — see durableDecideAndGrow's scaladoc),
        // never a second id admitted as a different decision
        val idxIds = spark.table(s"graft_gidx_arrays_$tag")
          .select("id").distinct().count()
        TopoRun(out.values.flatten.toSet, cardDocs, cardTokens, idxIds,
          s"$ckptRoot/ingest")
      }

      val chunks = all.grouped(40).toSeq
      // reference: uninterrupted run, its own tag + checkpoint root
      val ref = runTopology(310, "topo_ref") { (ms, start) =>
        val q = start()
        try chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
        finally q.stop()
      }
      // drill: kill with chunk 1 enqueued but NOT awaited; restart resumes
      // from the same checkpoint root and replays it
      val killed = runTopology(311, "topo_kill") { (ms, start) =>
        val q1 = start()
        try {
          ms.addData(chunks(0): _*); q1.processAllAvailable()
          ms.addData(chunks(1): _*) // the racy point: enqueued, never awaited
        } finally q1.stop()
        val q2 = start()
        try {
          chunks.drop(2).foreach { c => ms.addData(c: _*); q2.processAllAvailable() }
          q2.processAllAvailable()
        } finally q2.stop()
      }

      assert(killed.scored == ref.scored,
        s"composed output must be exactly-once across the kill: " +
        s"missing=${ref.scored.diff(killed.scored).take(5)} " +
        s"extra=${killed.scored.diff(ref.scored).take(5)}")
      assert(killed.scored.nonEmpty, "drill must exercise real docs")
      assert(killed.cardDocs == ref.cardDocs &&
             killed.cardTokens == ref.cardTokens,
        "additive card must count each batch once across the replay")
      assert(killed.indexedIds == ref.indexedIds,
        "growing index must admit each kept doc exactly once")
      // state-data-source audit of the checkpointed stage: one keeper row
      // per distinct delivered digest, no loss and no double-commit
      val nDigests = all.map(d => java.security.MessageDigest.getInstance("MD5")
        .digest(d.text.getBytes("UTF-8")).map("%02x".format(_)).mkString)
        .distinct.length
      val stateRows = spark.read.format("statestore")
        .option("path", killed.ckpt).option("stateVarName", "keeper").load()
      assert(stateRows.count() == nDigests.toLong,
        s"keeper store must hold one row per distinct digest ($nDigests)")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
