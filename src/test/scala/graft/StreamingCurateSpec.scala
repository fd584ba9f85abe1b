package graft

import graft.streaming.{StreamingCurate, StreamingDedup}
import graft.streaming.StreamingDedup.DocEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingCurateSpec extends GraftSpec {
  import spark.implicits._

  private def splitChunks[T](xs: Seq[T], n: Int, rnd: scala.util.Random): Seq[Seq[T]] = {
    val cuts = (Seq.fill(n - 1)(rnd.nextInt(xs.length + 1)) :+ 0 :+ xs.length)
      .sorted.distinct
    cuts.zip(cuts.tail).map { case (a, b) => xs.slice(a, b) }
  }

  // ---- independent reference pieces: no code shared with the operator
  private def tokens(text: String): Array[String] = text.split(" ", -1)
  private def shingleSet(text: String): Set[String] = {
    val tk = tokens(text)
    if (tk.length < 3) Set.empty else tk.sliding(3).map(_.mkString(" ")).toSet
  }
  private def isRepetitive(text: String): Boolean = {
    val tk = tokens(text)
    if (tk.length < 2) false
    else {
      val counts = tk.sliding(2).map(_.mkString(" ")).toSeq.groupBy(identity)
        .map(_._2.size)
      val top = counts.max; val total = counts.sum
      top >= 2 && top.toDouble / total >= 0.05
    }
  }
  private def jac(a: Set[String], b: Set[String]): Double = {
    val c = (a & b).size; val d = a.size + b.size - c
    if (d == 0) 0.0 else c.toDouble / d
  }
  private def splitOf(id: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val b = Integer.parseInt(hex.take(4), 16) % 100
    if (b < 90) "train" else if (b < 95) "valid" else "test"
  }

  test("continuous curation == independent greedy+gates reference, any micro-batch splits") {
    val base = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val benchSh: Set[String] =
      base.filter(_._1 % 10 == 0).flatMap(d => shingleSet(d._2)).toSet
    // corpus = non-benchmark docs, plus exact twins of three early docs so
    // the exact path fires (same trick as the growing-dedup spec)
    val corpus0 = base.filter(_._1 % 10 != 0)
    val maxId = base.map(_._1).max
    val corpus = corpus0 ++ corpus0.take(3).zipWithIndex.map {
      case ((_, text), i) => (maxId + 1 + i, text)
    }

    case class Kept(id: Long, text: String, sh: Set[String])
    val keptIdx = scala.collection.mutable.ArrayBuffer.empty[Kept]
    val expected = corpus.map { case (id, text) =>
      val sh = shingleSet(text)
      val exactK = keptIdx.filter(_.text == text).map(_.id).minOption
      lazy val nearK = keptIdx.filter(k => jac(sh, k.sh) >= 0.5).map(_.id).minOption
      exactK.orElse(nearK) match {
        case Some(k) =>
          (id, if (exactK.isDefined) "exact" else "near", k, "")
        case None =>
          keptIdx += Kept(id, text, sh) // dedup survivors index even if flagged
          if (isRepetitive(text)) (id, "repetition", -1L, "")
          else if (sh.nonEmpty &&
            (sh & benchSh).size.toDouble / sh.size >= 0.5) (id, "contaminated", -1L, "")
          else (id, "kept", -1L, splitOf(id))
      }
    }.toSeq
    // the fixture must exercise every verdict
    val kinds = expected.map(_._2).toSet
    assert(Set("kept", "exact", "near", "contaminated").subsetOf(kinds),
      s"fixture too weak: only $kinds")

    val benchDf = Tables.documents(spark, sf0001).filter(col("doc_id") % 10 === 0)
    val events = corpus.map { case (id, text) => DocEvent(id, text) }
    for ((seed, msId) <- Seq((5, 311), (29, 312))) {
      val rnd = new scala.util.Random(seed)
      val chunks = splitChunks(events, 2 + rnd.nextInt(4), rnd)
      val ms = MemoryStream[DocEvent](msId, spark, None)
      val sink = scala.collection.mutable.ArrayBuffer[(Long, String, Long, String)]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_curate").toString
      val q = StreamingCurate.curateStream(ms.toDS(),
          StreamingCurate.benchmarkShingles(benchDf)) { (vs, _) =>
        sink.synchronized {
          sink ++= vs.map(v => (v.doc_id, v.verdict, v.keeper_id, v.split))
        }
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunks.foreach { c =>
        if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = sink.synchronized(sink.toSeq).sortBy(_._1)
      assert(got == expected,
        s"seed=$seed: curation decisions diverge " +
        s"(first diff: ${got.zip(expected).find(p => p._1 != p._2)})")
    }
  }

  test("continuous training-set build == batch-tail reference over the greedy kept set") {
    import graft.streaming.StreamingCurate.CurateDoc
    val base = Tables.documents(spark, sf0001).select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val benchSh: Set[String] =
      base.filter(_._1 % 10 == 0).flatMap(d => shingleSet(d._2)).toSet
    val corpus = base.filter(_._1 % 10 != 0)

    // reference: greedy dedup survivors (id order) → gates → mix/split/chunk
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    case class Kept(id: Long, text: String, sh: Set[String])
    val keptIdx = scala.collection.mutable.ArrayBuffer.empty[Kept]
    val offsets = scala.collection.mutable.Map.empty[String, Long]
    val expected = corpus.flatMap { case (id, text, src) =>
      val sh = shingleSet(text)
      val dup = keptIdx.exists(_.text == text) ||
        keptIdx.exists(k => jac(sh, k.sh) >= 0.5)
      if (dup) None
      else {
        keptIdx += Kept(id, text, sh)
        val contaminated = sh.nonEmpty &&
          (sh & benchSh).size.toDouble / sh.size >= 0.5
        if (isRepetitive(text) || contaminated) None
        else {
          val hex = md5hex(id.toString)
          val mbucket = Integer.parseInt(hex.substring(4, 8), 16) % 1000
          val w1000 = (src.drop(3).toInt % 8 + 1) * 250
          val copies = w1000 / 1000 + (if (mbucket < w1000 % 1000) 1 else 0)
          if (copies < 1) None
          else {
            val nTok = tokens(text).length.toLong
            val off = offsets.getOrElse(src, 0L)
            offsets(src) = off + copies * nTok
            Some((id, src, splitOf(id), copies.toLong, nTok, off / 512))
          }
        }
      }
    }.toSeq
    assert(expected.nonEmpty && expected.exists(_._6 > 0),
      "fixture must fill more than one chunk in some source")
    assert(expected.exists(_._4 == 2L), "an upsampled source must appear")

    val events = corpus.map { case (id, text, src) => CurateDoc(id, text, src) }
    for ((seed, msId) <- Seq((7, 313), (41, 314))) {
      val rnd = new scala.util.Random(seed)
      val chunks = splitChunks(events, 2 + rnd.nextInt(4), rnd)
      val ms = MemoryStream[CurateDoc](msId, spark, None)
      val sink = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long, Long, Long)]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_tset").toString
      val benchDf = Tables.documents(spark, sf0001).filter(col("doc_id") % 10 === 0)
      val q = StreamingCurate.trainingSetStream(ms.toDS(),
          StreamingCurate.benchmarkShingles(benchDf)) { (rs, _) =>
        sink.synchronized {
          sink ++= rs.map(r => (r.doc_id, r.source, r.split, r.copies,
            r.n_tokens, r.chunk_id))
        }
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunks.foreach { c =>
        if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = sink.synchronized(sink.toSeq).sortBy(_._1)
      assert(got == expected,
        s"seed=$seed: training rows diverge " +
        s"(first diff: ${got.zip(expected).find(p => p._1 != p._2)})")
    }
  }

  test("durable training-set build: replay- and crash-stable, equals the session form") {
    import graft.streaming.StreamingCurate.TrainingRow
    val base = Tables.documents(spark, sf0001).select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val corpus = base.filter(_._1 % 10 != 0)
    val benchDf = Tables.documents(spark, sf0001).filter(col("doc_id") % 10 === 0)
    val benchSh = StreamingCurate.benchmarkShingles(benchDf)

    val tag = s"spec_tset_${System.nanoTime()}"
    val third = corpus.length / 3
    val chunks = Seq(corpus.take(third), corpus.slice(third, 2 * third),
      corpus.drop(2 * third))
    def run(chunk: Seq[(Long, String, String)], batchId: Long): Seq[TrainingRow] =
      StreamingCurate.durableTrainingBatch(spark, tag,
        chunk.toDF("doc_id", "text", "source"), batchId, benchSh)

    val r0 = run(chunks(0), 0)
    val r1 = run(chunks(1), 1)
    // replay batch 1 after its index append + offset snapshot landed:
    // rows (chunk ids included) must be byte-identical
    assert(run(chunks(1), 1) == r1, "replay changed training rows")
    // crash window: the batch-1 offset snapshot is torn away mid-write —
    // the replay must re-derive it from batch 0's snapshot, identically
    val snap = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_growing_index/$tag/_chunk_offsets_1")
    assert(snap.exists()); assert(snap.delete())
    assert(run(chunks(1), 1) == r1, "torn-snapshot replay changed training rows")
    val r2 = run(chunks(2), 2)

    // and the durable build must equal the session-state stream's rows
    // (same corpus, id-ordered batches) — proven transitively against the
    // independent batch-tail reference by the previous test
    import graft.streaming.StreamingCurate.CurateDoc
    val events = corpus.map { case (id, text, src) => CurateDoc(id, text, src) }
    val ms = MemoryStream[CurateDoc](317, spark, None)
    val sessionRows = scala.collection.mutable.ArrayBuffer[TrainingRow]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tset_d").toString
    val q = StreamingCurate.trainingSetStream(ms.toDS(), benchSh) { (rs, _) =>
      sessionRows.synchronized { sessionRows ++= rs }; ()
    }.option("checkpointLocation", ckpt).start()
    try chunks.foreach { c =>
      if (c.nonEmpty) {
        ms.addData(c.map { case (id, t2, s2) => CurateDoc(id, t2, s2) }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert((r0 ++ r1 ++ r2) == sessionRows.synchronized(sessionRows.toSeq),
      "durable and session training rows diverge")
  }

  test("same-run batchId retry re-emits cached results without mutating state") {
    // Structured Streaming may re-invoke foreachBatch with the SAME
    // batchId after a transient sink failure (at-least-once sinks). The
    // processors must re-emit the cached output and must NOT double-grow
    // the greedy index or double-advance the chunk offsets — a MemoryStream
    // run cannot force this path, so the spec drives the processor classes
    // directly.
    import graft.streaming.StreamingCurate.{CurateVerdict, TrainingRow}
    val base = Tables.documents(spark, sf0001).select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val corpus = base.filter(_._1 % 10 != 0)
    val benchSh = StreamingCurate.benchmarkShingles(
      Tables.documents(spark, sf0001).filter(col("doc_id") % 10 === 0))
    val half = corpus.length / 2
    val b0 = corpus.take(half); val b1 = corpus.drop(half)

    // ---- curate processor
    val verdicts = scala.collection.mutable.ArrayBuffer[(Long, Seq[CurateVerdict])]()
    val cp = new StreamingCurate.CurateProcessor(benchSh, 0.5,
      (vs, id) => { verdicts += ((id, vs)); () })
    cp.process(b0.map(c => (c._1, c._2)).toSeq.toDF("doc_id", "text"), 0L)
    cp.process(b0.map(c => (c._1, c._2)).toSeq.toDF("doc_id", "text"), 0L) // retry
    cp.process(b1.map(c => (c._1, c._2)).toSeq.toDF("doc_id", "text"), 1L)
    assert(verdicts.map(_._1) == Seq(0L, 0L, 1L))
    assert(verdicts(0)._2 == verdicts(1)._2, "retry must re-emit batch 0 verbatim")
    // batch-1 verdicts must equal a run that never saw the retry — if the
    // retry had double-grown the index, later near-dup decisions could
    // flip keeper ids
    val cleanVerdicts = scala.collection.mutable.ArrayBuffer[Seq[CurateVerdict]]()
    val cpClean = new StreamingCurate.CurateProcessor(benchSh, 0.5,
      (vs, _) => { cleanVerdicts += vs; () })
    cpClean.process(b0.map(c => (c._1, c._2)).toSeq.toDF("doc_id", "text"), 0L)
    cpClean.process(b1.map(c => (c._1, c._2)).toSeq.toDF("doc_id", "text"), 1L)
    assert(verdicts(2)._2 == cleanVerdicts(1),
      "a retried batch must not perturb later batches' verdicts")

    // ---- training-set processor (adds offset state to the same contract)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Seq[TrainingRow])]()
    val tp = new StreamingCurate.TrainingSetProcessor(benchSh, 0.5,
      (rs, id) => { rows += ((id, rs)); () })
    def df3(c: scala.collection.immutable.Seq[(Long, String, String)]) = c.toDF("doc_id", "text", "source")
    tp.process(df3(b0.toSeq), 0L); tp.process(df3(b0.toSeq), 0L); tp.process(df3(b1.toSeq), 1L)
    val cleanRows = scala.collection.mutable.ArrayBuffer[Seq[TrainingRow]]()
    val tpClean = new StreamingCurate.TrainingSetProcessor(benchSh, 0.5,
      (rs, _) => { cleanRows += rs; () })
    tpClean.process(df3(b0.toSeq), 0L); tpClean.process(df3(b1.toSeq), 1L)
    assert(rows(0)._2 == rows(1)._2, "retry must re-emit batch 0 rows verbatim")
    assert(rows(2)._2 == cleanRows(1),
      "a retried batch must not advance chunk offsets — batch-1 chunk_ids moved")
  }

  test("continuous entity resolution converges to the batch partition for any slicing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingCurate
    import graft.streaming.StreamingCurate.CurateDoc
    // batch truth: (member id -> component rep) from the gated query
    val expected = graft.operators.Dedup.entityResolution(spark, sf0001)
      .collect().flatMap { r =>
        r.getString(2).split(",").map(_.toLong -> r.getLong(0))
      }.toMap
    assert(expected.nonEmpty, "fixture must contain entities")
    val allDocs = Tables.documents(spark, sf0001)
      .select("doc_id", "text", "source").collect()
      .map(r => CurateDoc(r.getLong(0), r.getString(1), r.getString(2))).toSeq
    for ((seed, msId) <- Seq((13, 351), (47, 352))) {
      val rnd = new scala.util.Random(seed)
      val chunks = splitChunks(rnd.shuffle(allDocs), 3 + rnd.nextInt(3), rnd)
      val ms = MemoryStream[CurateDoc](msId, spark, None)
      val session = new StreamingCurate.EntityResolveSession(spark)
      val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_erstream").toString
      val q = StreamingCurate.entityResolveStream(ms.toDS(), session) { (rows, _) =>
        emitted.synchronized { emitted ++= rows }
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunks.foreach { c =>
        if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = session.snapshot()
      assert(got == expected,
        s"seed=$seed: incremental partition diverges from batch ER " +
        s"(missing=${(expected.toSet -- got.toSet).take(3)}, " +
        s"extra=${(got.toSet -- expected.toSet).take(3)})")
      // at-emit reps may exceed the final rep (pre-merge) but never undercut
      // it: a rep only ever moves DOWN as merges arrive
      emitted.synchronized(emitted.toSeq).foreach { case (id, repAtEmit) =>
        expected.get(id).foreach { finalRep =>
          assert(repAtEmit >= finalRep, s"doc $id emitted rep below final")
        }
      }
    }
  }

  test("continuous gopher gate == batch gate for arbitrary micro-batch splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{StreamingCurate, StreamingDedup}
    import StreamingDedup.DocEvent
    val expected = graft.operators.Curation.gopherRules(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(5), r.getInt(6)))
      .toSet
    val allDocs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => DocEvent(r.getLong(0), r.getString(1))).toSeq
    val rnd = new scala.util.Random(29)
    val chunks = splitChunks(rnd.shuffle(allDocs), 4, rnd)
    val ms = MemoryStream[DocEvent](341, spark, None)
    val sink = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Int)]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gate").toString
    val q = StreamingCurate.gopherGateStream(ms.toDS()) { (df, _) =>
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(5), r.getInt(6)))
      sink.synchronized { sink ++= rows }
      ()
    }.option("checkpointLocation", ckpt).start()
    try chunks.foreach { c =>
      if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = sink.synchronized(sink.toSet)
    assert(got == expected,
      s"streamed gate diverges from the batch gate " +
      s"(missing=${(expected -- got).take(3)}, extra=${(got -- expected).take(3)})")
  }

  test("continuous DSIR scoring == batch scorer for arbitrary micro-batch splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingCurate
    import graft.streaming.StreamingCurate.CurateDoc
    val expected = graft.operators.Curation.dsirWeights(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val model = StreamingCurate.dsirModelFor(spark, sf0001)
    val allDocs = Tables.documents(spark, sf0001)
      .select("doc_id", "text", "source").collect()
      .map(r => CurateDoc(r.getLong(0), r.getString(1), r.getString(2))).toSeq
    for ((seed, msId) <- Seq((11, 331), (53, 332))) {
      val rnd = new scala.util.Random(seed)
      val chunks = splitChunks(rnd.shuffle(allDocs), 2 + rnd.nextInt(4), rnd)
      val ms = MemoryStream[CurateDoc](msId, spark, None)
      val sink = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Double)]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_dsir").toString
      val q = StreamingCurate.dsirScoreStream(ms.toDS(), model) { (df, _) =>
        val rows = df.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        sink.synchronized { sink ++= rows }
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunks.foreach { c =>
        if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = sink.synchronized(sink.toSet)
      assert(got == expected,
        s"seed=$seed: streamed DSIR scores diverge from the batch scorer " +
        s"(missing=${(expected -- got).take(3)}, extra=${(got -- expected).take(3)})")
    }
  }

  test("durable-state curation stream: one batch == pipeline_curate_incremental; slicings == day-by-day fold over fresh rebuilds") {
    // the day-2 production topology: micro-batches probed through the
    // standing cur* tables with admitted docs appended between batches.
    // Pinned two ways: (1) the whole delta in ONE batch is literally the
    // gated batch query; (2) any slicing equals the day-by-day FOLD of
    // the indexed probe over FRESHLY REBUILT state per step — proving
    // the stream's append accretion equals a rebuild at every boundary
    // (the lifecycle spec's theorem, extended over a whole stream).
    // Arbitrary-slicing equality to the SINGLE-shot batch query is
    // deliberately not claimed: only admitted docs join the standing
    // state, so a near CC component bridged by a dropped doc re-splits
    // at batch boundaries (see curateIndexedStream's scaladoc).
    import graft.operators.{Pipeline, StandingIndex}
    val docs = Tables.documents(spark, sf0001)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val base = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 0)
      .select("doc_id", "text").collect()
      .map(r => DocEvent(r.getLong(0), r.getString(1))).sortBy(_.doc_id).toSeq
    def r9(j: Double): Double = math.rint(j * 1e9) / 1e9
    type Dec = (Long, String, Option[Long], Option[Double], Option[String])
    def runStream(chunks: Seq[Seq[DocEvent]], tag: String, msId: Int): Seq[Dec] = {
      val ms = MemoryStream[DocEvent](msId, spark, None)
      val sink = scala.collection.mutable.ArrayBuffer.empty[Dec]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_curidx").toString
      val q = StreamingCurate.curateIndexedStream(ms.toDS(), tag) { (ds, _) =>
        sink.synchronized {
          sink ++= ds.map(d => (d.doc_id, d.decision, d.ref_id,
            d.jac.map(r9), d.split))
        }
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunks.foreach { c =>
        if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      sink.synchronized(sink.toSeq).sortBy(_._1)
    }
    def decRows(df: org.apache.spark.sql.DataFrame): Seq[Dec] = df
      .select("doc_id", "decision", "ref_id", "jac", "split")
      .collect().map { r =>
        (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r9(r.getDouble(3))),
          if (r.isNullAt(4)) None else Some(r.getString(4)))
      }.sortBy(_._1).toSeq

    // 1. single batch == the gated batch query, and the stream appended
    val tag1 = s"curstream1_${System.nanoTime()}"
    StandingIndex.buildCurationFor(spark, sf0001, tag1)
    val one = runStream(Seq(delta), tag1, 371)
    val batchRef = decRows(Pipeline.curateIncremental(spark, sf0001))
    assert(one == batchRef,
      s"single-batch stream diverged from pipeline_curate_incremental: " +
      s"${one.diff(batchRef).take(3)} vs ${batchRef.diff(one).take(3)}")
    assert(StandingIndex.isMaintained(spark, tag1, "cur"),
      "the stream must append its admitted docs (maintenance marker)")

    // 2. random slicings == day-by-day fold over fresh rebuilds
    val kept0 = Pipeline.keptDocsOf(spark, sf0001, base, graft.operators.Dedup.bandedPairsFrom)
      .cache()
    for ((seed, msId) <- Seq((17, 372), (41, 373))) {
      val rnd = new scala.util.Random(seed)
      val chunks = splitChunks(delta, 2 + rnd.nextInt(3), rnd).filter(_.nonEmpty)
      val tagS = s"curstream_s${seed}_${System.nanoTime()}"
      StandingIndex.buildCurationFor(spark, sf0001, tagS)
      val streamed = runStream(chunks, tagS, msId)
      var admittedSoFar = Seq.empty[Long]
      val folded = chunks.zipWithIndex.flatMap { case (slice, i) =>
        val tagF = s"curfold_${seed}_${i}_${System.nanoTime()}"
        val keptNow =
          if (admittedSoFar.isEmpty) kept0
          else kept0.unionByName(
            docs.filter(col("doc_id").isInCollection(admittedSoFar)))
        StandingIndex.buildCurationFromKept(spark, keptNow, bench, tagF)
        val out = decRows(StandingIndex.curateIncrementalIndexedFor(spark, tagF,
          slice.map(e => (e.doc_id, e.text)).toDF("doc_id", "text")))
        admittedSoFar ++= out.filter(_._2 == "admitted").map(_._1)
        out
      }.sortBy(_._1)
      assert(streamed == folded,
        s"seed=$seed: stream diverged from the fresh-rebuild fold " +
        s"(${streamed.diff(folded).take(3)} vs ${folded.diff(streamed).take(3)})")
    }
    kept0.unpersist()
  }

  test("durable-state curation stream, BANDED probe: one batch == the gated banded query; slicing == banded fold") {
    // the adversarial-vocabulary stream topology: same durable-state
    // loop, both near stages through the band family
    // (curateIndexedStream(banded = true)) — pinned against the gated
    // pipeline_curate_incremental_banded batch query and the day-by-day
    // banded fold over fresh rebuilds, mirroring the prefix-probe spec
    import graft.operators.{Pipeline, StandingIndex}
    val docs = Tables.documents(spark, sf0001)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val base = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 0)
      .select("doc_id", "text").collect()
      .map(r => DocEvent(r.getLong(0), r.getString(1))).sortBy(_.doc_id).toSeq
    def r9(j: Double): Double = math.rint(j * 1e9) / 1e9
    type Dec = (Long, String, Option[Long], Option[Double], Option[String])
    def runStream(chunks: Seq[Seq[DocEvent]], tag: String, msId: Int): Seq[Dec] = {
      val ms = MemoryStream[DocEvent](msId, spark, None)
      val sink = scala.collection.mutable.ArrayBuffer.empty[Dec]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_curband").toString
      val q = StreamingCurate.curateIndexedStream(ms.toDS(), tag,
          banded = true) { (ds, _) =>
        sink.synchronized {
          sink ++= ds.map(d => (d.doc_id, d.decision, d.ref_id,
            d.jac.map(r9), d.split))
        }
        ()
      }.option("checkpointLocation", ckpt).start()
      try chunks.foreach { c =>
        if (c.nonEmpty) { ms.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      sink.synchronized(sink.toSeq).sortBy(_._1)
    }
    def decRows(df: org.apache.spark.sql.DataFrame): Seq[Dec] = df
      .select("doc_id", "decision", "ref_id", "jac", "split")
      .collect().map { r =>
        (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r9(r.getDouble(3))),
          if (r.isNullAt(4)) None else Some(r.getString(4)))
      }.sortBy(_._1).toSeq

    // 1. single batch == the gated banded batch query
    val tag1 = s"curbstream1_${System.nanoTime()}"
    StandingIndex.buildCurationFor(spark, sf0001, tag1)
    val one = runStream(Seq(delta), tag1, 374)
    val batchRef = decRows(StandingIndex.curateIncrementalBanded(spark, sf0001))
    assert(one == batchRef,
      s"single-batch banded stream diverged from the gated query: " +
      s"${one.diff(batchRef).take(3)} vs ${batchRef.diff(one).take(3)}")

    // 2. a random slicing == the day-by-day BANDED fold over fresh rebuilds
    val kept0 = Pipeline.keptDocsOf(spark, sf0001, base, graft.operators.Dedup.bandedPairsFrom)
      .cache()
    val rnd = new scala.util.Random(29)
    val chunks = splitChunks(delta, 2 + rnd.nextInt(3), rnd).filter(_.nonEmpty)
    val tagS = s"curbstream_s29_${System.nanoTime()}"
    StandingIndex.buildCurationFor(spark, sf0001, tagS)
    val streamed = runStream(chunks, tagS, 375)
    var admittedSoFar = Seq.empty[Long]
    val folded = chunks.zipWithIndex.flatMap { case (slice, i) =>
      val tagF = s"curbfold_${i}_${System.nanoTime()}"
      val keptNow =
        if (admittedSoFar.isEmpty) kept0
        else kept0.unionByName(
          docs.filter(col("doc_id").isInCollection(admittedSoFar)))
      StandingIndex.buildCurationFromKept(spark, keptNow, bench, tagF)
      val out = decRows(StandingIndex.curateIncrementalBandedFor(spark, tagF,
        slice.map(e => (e.doc_id, e.text)).toDF("doc_id", "text")))
      admittedSoFar ++= out.filter(_._2 == "admitted").map(_._1)
      out
    }.sortBy(_._1)
    assert(streamed == folded,
      s"banded stream diverged from the banded fold " +
      s"(${streamed.diff(folded).take(3)} vs ${folded.diff(streamed).take(3)})")
    kept0.unpersist()
  }
}
