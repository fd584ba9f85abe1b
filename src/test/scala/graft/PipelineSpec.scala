package graft

import graft.operators.{Dedup, Pipeline, QualityFilters}
import org.apache.spark.sql.functions._

/** Semantic invariants of the composed curation pipeline, asserted
  * against the standalone oracle-checked operators it is built from. */
class PipelineSpec extends GraftSpec {

  test("footerRowCount reads parquet metadata with ZERO Spark jobs, exactly") {
    // the broadcast/tripwire guards (Pipeline.dropSetJoin,
    // Similarity.guardExactBaseline) key off this — it must be free
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-footer-${System.nanoTime()}"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.add(js.jobId)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "footer probe")
      val n = try Tables.footerRowCount(spark, sf0001, "documents")
              finally sc.clearJobGroup()
      Thread.sleep(600) // async listener bus
      assert(jobs.isEmpty, s"footerRowCount scheduled Spark jobs: $jobs")
      assert(n == Tables.table(spark, sf0001, "documents").count(),
        "footer sum must equal the scan count exactly")
    } finally sc.removeSparkListener(l)
  }

  test("guarded builders fire one action per query: no eager count() jobs at build") {
    // VERDICT r8 item 2: dropSetJoin's broadcast guard and
    // qualitySignalAgreement's decile cutoff used to run a count() ACTION
    // at build time (a job per invocation; for the decile, a full re-sort).
    // Now the guard reads parquet footers driver-side (zero jobs) and the
    // cutoff rides the plan as a broadcast scalar. Build-time jobs that
    // REMAIN are inherent and allowed explicitly:
    //   - "parquet at"   : spark.read.parquet footer/schema inference
    //   - AQE stage materialization via Ranks.globalRowNumber's .rdd
    //     (stage names come from SQLExecution futures), and zipWithIndex
    //   - the CC fixpoint (tagged via Dedup.CcFixpointTag, data-dependent
    //     round count — see ccLabels scaladoc)
    // What must NEVER appear is a `count at` job from a query builder —
    // that is exactly the regression this spec pins. Attribution is by
    // job-group tag on this thread + QueryExecution reference, so
    // concurrently-running suites cannot pollute the result.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val names = Seq("pipeline_curate", "quality_signal_agreement", "ann_brute_topk")

    val group = s"graft-lazy-build-${System.nanoTime()}"
    val countJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id") &&
            js.properties.getProperty(graft.operators.Dedup.CcFixpointTag) == null)
          js.stageInfos.map(_.name).filter(_.startsWith("count at"))
            .foreach(n => countJobs.add(s"${js.jobId}:$n"))
    }
    val seenQes = java.util.concurrent.ConcurrentHashMap.newKeySet[QueryExecution]()
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { seenQes.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      sc.setJobGroup(group, "lazy-build probe")
      val built = try names.map(n => n -> SparkEntry.queries(n)(spark, sf0001))
                  finally sc.clearJobGroup()
      Thread.sleep(1000) // listener bus is async — let job-start events drain
      assert(countJobs.isEmpty,
        s"building ${names.mkString("/")} fired eager count() actions: $countJobs")

      // execute: exactly one action each, seen for the query's OWN execution
      built.foreach { case (name, df) =>
        df.collect()
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (!seenQes.contains(df.queryExecution) && System.nanoTime() < deadline)
          Thread.sleep(50)
        assert(seenQes.contains(df.queryExecution),
          s"$name: no action event for the query's own execution")
        graft.operators.Ranks.releaseAll()
      }
    } finally {
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(jobListener)
    }
  }

  test("curate output is disjoint from every drop category and well-formed") {
    val out = Pipeline.curate(spark, sf0001).collect()
    val ids = out.map(_.getLong(0))
    assert(ids.nonEmpty)
    assert(ids.distinct.length == ids.length, "no doc emitted twice")
    assert(ids.forall(_ % 10 != 0), "benchmark docs never in the curated set")
    assert(out.map(_.getString(4)).toSet.subsetOf(Set("train", "valid", "test")))

    val idSet = ids.toSet
    // flagged-by-quality docs must be absent
    val rep = QualityFilters.repetitionFilter(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val dec = QualityFilters.decontaminate(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(idSet.intersect(rep).isEmpty, s"repetition-flagged docs leaked: ${idSet.intersect(rep)}")
    assert(idSet.intersect(dec).isEmpty, s"contaminated docs leaked: ${idSet.intersect(dec)}")

    // of every near-dup pair that survives the quality drops, at most one
    // member is kept (the cluster collapse guarantee)
    val pairs = Dedup.jaccardNearDup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(!(idSet.contains(a) && idSet.contains(b)),
        s"near-dup pair ($a, $b) fully kept")
    }
  }

  test("training-set build: curate survivors minus zero-copy docs, coherent chunk offsets") {
    import org.apache.spark.sql.functions.{col, md5}
    val curated = Pipeline.curate(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    val rows = Pipeline.trainingSet(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6)))
    assert(rows.nonEmpty)
    // membership: every training row is a curate survivor with the same
    // split; survivors absent from the set are exactly the 0-copy docs
    rows.foreach { case (id, _, split, copies, _, _, _) =>
      assert(curated.get(id).contains(split), s"doc $id: not a survivor or split drift")
      assert(copies >= 1)
    }
    assert(rows.length < curated.size,
      "the 250-permille sources must down-sample some docs to zero copies")
    // pass-through proof on the clean corpus: scrub changes nothing
    val textMd5 = Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, _, _, _, _, _, digest) =>
      assert(textMd5(id) == digest, s"doc $id: scrub altered clean text")
    }
    // chunking: per source in doc_id order, chunk_id must equal the
    // running-offset rule exactly
    rows.groupBy(_._2).foreach { case (src, rs) =>
      var offset = 0L
      rs.sortBy(_._1).foreach { case (id, _, _, copies, nTok, chunk, _) =>
        assert(chunk == offset / 512, s"$src/$id: chunk $chunk at offset $offset")
        offset += copies * nTok
      }
    }
  }

  test("LSH-banded curate twin: superset-of-exact survivors, equal when recall holds") {
    // the banded twin's near-dup edges are band-candidates → exact verify
    // at the SAME J ≥ 0.5 threshold, so its edge set is a SUBSET of the
    // exact pipeline's. CC over a sub-edge-set only splits components,
    // and a doc dropped by the LSH chain (non-min in an LSH component)
    // is non-min in the enclosing exact component too — hence
    // kept_exact ⊆ kept_lsh ALWAYS, and on the harness corpus (planted
    // near-dups share most shingles; banding catches them w.h.p., recall
    // itself gated by dedup_minhash_recall) the survivor sets are equal.
    val exact = Pipeline.curate(spark, sf0001).collect().map(_.toString).toSeq
    val lsh = Pipeline.curateLsh(spark, sf0001).collect().map(_.toString).toSeq
    assert(exact.nonEmpty && lsh.nonEmpty)
    assert(exact.toSet.subsetOf(lsh.toSet),
      "an exact-curate survivor vanished under the banded stage — " +
        "impossible unless the verify threshold diverged")
    assert(exact == lsh,
      "banding missed a qualifying pair on the harness corpus — " +
        "expected identical survivor sets at this scale")

    // and the full training-set build rides the same survivor set: the
    // banded twin must emit row-identical artifacts here
    val ts = Pipeline.trainingSet(spark, sf0001).collect().map(_.toString).toSeq
    val tsLsh = Pipeline.trainingSetLsh(spark, sf0001).collect().map(_.toString).toSeq
    assert(ts.nonEmpty && ts == tsLsh,
      "training-set artifacts diverged between the exact and banded chains")
  }

  test("LSH-banded funnel twin: same chain the banded pipelines run, row 5 = curateLsh count") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val exact = rows(Pipeline.funnelReport(spark, sf0001))
    val lsh = rows(Pipeline.funnelReportLsh(spark, sf0001))
    assert(lsh.map(_._2) == Seq("raw", "exact_dedup", "near_dedup", "repetition", "decontaminated"))
    // stages 1-2 precede the pair generator: identical by construction
    assert(lsh.take(2) == exact.take(2))
    // counts are cumulative-drop monotone
    assert(lsh.map(_._3).sliding(2).forall(w => w(1) <= w(0)))
    // the banded funnel's final row reports the banded pipeline's actual
    // survivor count — the report and the pipeline cannot disagree
    assert(lsh.last._3 == Pipeline.curateLsh(spark, sf0001).count(),
      "funnelReportLsh row 5 diverged from the curateLsh survivor set")
  }

  test("incremental curate: one decision per batch doc, each stage verified against its standalone operator") {
    val out = Pipeline.curateIncremental(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001)
    val batchIds = docs
      .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // the decision table partitions the batch: every batch doc exactly once
    val outIds = out.map(_.getLong(0))
    assert(outIds.toSet == batchIds, "decisions must cover the batch exactly")
    assert(outIds.distinct.length == outIds.length, "one decision per doc")
    val allowed = Set("exact_base", "exact_batch", "near_base", "near_batch",
      "repetition", "contaminated", "admitted")
    assert(out.map(_.getString(1)).toSet.subsetOf(allowed))

    val text = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.filter(_.getString(1) == "exact_base").foreach { r =>
      val ref = r.getLong(2)
      assert(text(r.getLong(0)) == text(ref), "exact_base must be byte-identical")
      assert(ref % 7 != 0, "exact_base ref must be a standing base doc")
    }
    out.filter(_.getString(1) == "exact_batch").foreach { r =>
      val ref = r.getLong(2)
      assert(text(r.getLong(0)) == text(ref) && ref < r.getLong(0) &&
        batchIds.contains(ref), "exact_batch keeps the lowest batch id")
    }
    out.filter(_.getString(1) == "near_base").foreach { r =>
      assert(!r.isNullAt(3) && r.getDouble(3) >= 0.5, "near_base carries its verified jac")
      assert(r.getLong(2) % 7 != 0, "near_base ref must be a standing base doc")
    }
    out.filter(_.getString(1) == "near_batch").foreach { r =>
      assert(batchIds.contains(r.getLong(2)) && r.getLong(2) < r.getLong(0),
        "near_batch ref is its component's minimum batch id")
    }

    // the per-doc quality gates must agree with the standalone operators
    val rep = QualityFilters.repetitionFilter(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val dec = QualityFilters.decontaminate(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    out.filter(_.getString(1) == "repetition")
      .foreach(r => assert(rep.contains(r.getLong(0))))
    out.filter(_.getString(1) == "contaminated")
      .foreach(r => assert(dec.contains(r.getLong(0))))

    // admitted survivors: valid split, unflagged by every gate
    val admitted = out.filter(_.getString(1) == "admitted")
    assert(admitted.nonEmpty, "the batch must admit some docs")
    admitted.foreach { r =>
      assert(Set("train", "valid", "test").contains(r.getString(4)))
      assert(!rep.contains(r.getLong(0)) && !dec.contains(r.getLong(0)))
    }
    // dropped rows never carry a split; the probe fires on the harness
    // corpus (planted twins straddle the % 7 boundary)
    out.filter(_.getString(1) != "admitted").foreach(r => assert(r.isNullAt(4)))
    assert(admitted.length < out.length, "expected at least one dup/quality drop in the batch")
  }

  test("leakage audit: corpus stage shows cross-split near-dups, curated stage none") {
    val rows = Pipeline.splitLeakageAudit(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getBoolean(5)))
    val (corpus, curated) = rows.partition(_._1 == "corpus")
    assert(corpus.exists(r => r._5 && r._4 > 0),
      "the raw corpus must carry cross-split near-dup pairs (planted twins)")
    assert(curated.isEmpty,
      s"curation must close every J>=0.3 pair among survivors, got: ${curated.toSeq}")
  }

  test("data card: coherent datasheet invariants (fractions, entropy bound, token identities)") {
    val card = Pipeline.dataCard(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val splitSum = Seq("split_train_frac", "split_valid_frac", "split_test_frac")
      .map(card).sum
    assert(math.abs(splitSum - 1.0) < 1e-5, s"split fractions sum to $splitSum")
    assert(card("lang_entropy_bits") >= 0 &&
           card("lang_entropy_bits") <= math.log(card("n_langs")) / math.log(2) + 1e-9,
      "entropy within [0, log2(n_langs)]")
    assert(card("exact_dup_fraction") >= 0 && card("exact_dup_fraction") < 1)
    assert(card("type_token_ratio") > 0 && card("type_token_ratio") <= 1)
    assert(math.abs(card("mean_doc_tokens") * card("n_docs") - card("total_tokens"))
      < card("n_docs") * 1e-5, "mean * count recovers total token mass")
    // card values agree with independent recomputation over the raw table
    val docs = graft.Tables.documents(spark, sf0001).select("text").collect().map(_.getString(0))
    assert(card("n_docs").toLong == docs.length)
    assert(card("total_tokens").toLong == docs.map(_.split(" ", -1).length.toLong).sum)
    assert(card("exact_dup_fraction") ==
      BigDecimal(1.0 - docs.distinct.length.toDouble / docs.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("curriculum: phases partition the corpus, balanced, scores monotone across phases") {
    val phases = Pipeline.curriculum(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(phases.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    assert(phases.map(_._2).sum == nDocs, "phases partition the corpus")
    assert(phases.map(_._2).max - phases.map(_._2).min <= 1, "ntile balance within 1")
    // phase k's worst score >= phase k+1's best score (sorted desc)
    phases.sliding(2).foreach {
      case Array((_, _, _, minK, _), (_, _, _, _, maxK1)) =>
        assert(minK >= maxK1, "score envelopes ordered across phases")
      case _ =>
    }
    // mean scores non-increasing
    assert(phases.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("forget audit: partitions add up and content-survival matches a driver replay") {
    val m = Pipeline.forgetAudit(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(m("n_deleted") + m("n_retained") == m("n_corpus"))
    assert(m("n_content_surviving") + m("n_content_erased") == m("n_deleted"))
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (del, ret) = docs.partition(_._1 % 41 == 3)
    val retTexts = ret.map(_._2).toSet
    assert(m("n_deleted") == del.length)
    assert(m("n_content_surviving") == del.count(d => retTexts.contains(d._2)))
  }

  test("corpus fingerprint: layout-invariant, content-sensitive") {
    import org.apache.spark.sql.functions._
    val base = Pipeline.corpusFingerprint(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(base.nonEmpty)
    // same content, radically different layout → identical fingerprint
    val docs = Tables.documents(spark, sf0001)
    val reshuffled = docs.repartition(13, col("lang")).sortWithinPartitions("n_chars")
    def fpOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        conv(substring(md5(concat_ws(":", col("doc_id"), md5(col("text")))), 1, 8), 16, 10)
          .cast("long").as("sig"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        sum(col("sig")).as("checksum"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(fpOf(reshuffled).sameElements(base), "fingerprint must ignore layout")
    // one flipped character in one doc → that source's checksum moves
    val tampered = docs.withColumn("text",
      when(col("doc_id") === 1L, concat(col("text"), lit("x"))).otherwise(col("text")))
    val t = fpOf(tampered)
    val victim = docs.filter(col("doc_id") === 1L).select("source").collect()(0).getString(0)
    assert(t.find(_._1 == victim).get._4 != base.find(_._1 == victim).get._4,
      "fingerprint must catch a single-character content change")
    assert(t.filter(_._1 != victim).sameElements(base.filter(_._1 != victim)),
      "untouched sources keep their checksums")
  }

  test("drop-set anti-join broadcasts only under the corpus-size guard") {
    // under the guard (default 10M): a forced broadcast anti-join
    val key = "spark.graft.dropSetBroadcast.maxCorpusRows"
    spark.conf.unset(key)
    val hinted = Pipeline.curate(spark, sf0001).queryExecution.sparkPlan.toString
    assert(hinted.contains("BroadcastHashJoin") && hinted.contains("LeftAnti"),
      s"small corpus should broadcast the drop set:\n$hinted")

    // past the guard: no broadcast HINT — the initial (pre-AQE) plan must
    // fall back to a shuffled anti-join; at runtime AQE may still convert
    // when actual sizes allow, which is exactly the desired degradation
    try {
      spark.conf.set(key, "0")
      // also pin autoBroadcastJoinThreshold off so the *planner* can't
      // re-introduce a broadcast from its own stats — we are asserting the
      // hint is gone, not fighting the optimizer's legitimate choice
      val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val unhinted = Pipeline.curate(spark, sf0001).queryExecution.sparkPlan.toString
        val antiLines = unhinted.linesIterator.filter(_.contains("LeftAnti")).mkString("\n")
        assert(antiLines.nonEmpty && !antiLines.contains("BroadcastHashJoin"),
          s"guarded-off corpus must not force a broadcast anti-join:\n$unhinted")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)

      // and the guarded-off path still computes the identical answer
      val a = Pipeline.curate(spark, sf0001).collect().map(_.toString).toSeq
      spark.conf.unset(key)
      val b = Pipeline.curate(spark, sf0001).collect().map(_.toString).toSeq
      assert(a == b, "broadcast guard changed the curate result")
    } finally spark.conf.unset(key)
  }

  test("a malformed drop-set broadcast guard fails naming the key and the value") {
    val key = "spark.graft.dropSetBroadcast.maxCorpusRows"
    spark.conf.set(key, "10M")
    try {
      // the pipelines' drop-set anti-join and both decontamination bench
      // sides read the one guard (the scope drops what curate pinned
      // before the guard threw)
      Seq[() => Any](() => Pins.scope(Pipeline.curate(spark, sf0001)),
          () => QualityFilters.decontaminate(spark, sf0001),
          () => QualityFilters.decontaminate13gram(spark, sf0001)).foreach { mk =>
        val ex = intercept[IllegalArgumentException](mk())
        assert(ex.getMessage.contains(key) && ex.getMessage.contains("'10M'"), ex.getMessage)
      }
    } finally spark.conf.unset(key)
  }

  test("exact composed forms refuse past the corpus tripwire, naming their banded twins") {
    // the exact Σ df² pair stage measured 6.3–6.7× cost at 10× data
    // (SCALE.md run E) — a config mistake must not quietly schedule it
    // over a huge corpus when a gated banded twin exists; the guard is
    // the same footer-metadata convention as the ANN exact baselines
    val key = "spark.graft.exactBaseline.maxRows"
    spark.conf.set(key, "10")
    try {
      val e1 = intercept[IllegalArgumentException](Pipeline.curate(spark, sf0001))
      assert(e1.getMessage.contains("pipeline_curate_lsh"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](Pipeline.trainingSet(spark, sf0001))
      assert(e2.getMessage.contains("pipeline_training_set_lsh"), e2.getMessage)
      val e3 = intercept[IllegalArgumentException](Pipeline.funnelReport(spark, sf0001))
      assert(e3.getMessage.contains("pipeline_funnel_report_lsh"), e3.getMessage)
      // the banded twins and the (banded-build) incremental form stay
      // runnable under the same tightened bound
      assert(Pipeline.curateLsh(spark, sf0001).count() > 0)
    } finally spark.conf.unset(key)
    // under the default bound the harness corpus runs fine
    assert(Pipeline.funnelReport(spark, sf0001).count() == 5)
  }
}
