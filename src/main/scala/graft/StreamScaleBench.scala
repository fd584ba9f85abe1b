package graft

import org.apache.spark.sql.functions.col

/** Streaming scale rehearsal — the continuous-topology counterpart of
  * [[ScaleBench]]: drives the growing-index curation stream and the
  * standing-index dedup probe over each corpus at a FIXED batch size, so
  * per-batch cost as a function of STREAM AGE (the growing kept index,
  * the accumulating state) is measured directly rather than argued. The
  * batch rehearsal caught two latent scale bugs plan-shape arguments had
  * missed; this one watches for the streaming analogues: per-batch cost
  * creeping with index size (a corpus-sized reshuffle hiding in a probe)
  * or with batch count (plan/statistics lineage, partition accumulation).
  *
  * Usage: StreamScaleBench <dir1> [<dir2> ...]. Prints one JSON line per
  * (dir, topology) with docs/s, batch p50/p95, and the mean of the first
  * vs last 5 batches — flat means age-independent. */
object StreamScaleBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StreamScaleBench <sfDir> [<sfDir> ...]")
    val spark = Session.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.streaming.{StreamingCurate, StreamingDedup}
    import StreamingDedup.DocEvent
    def r2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def pctl(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted; s(math.round(p * (s.length - 1)).toInt)
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val batchSize = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCH_DOCS", "750").toInt
    // compaction cadence for the durable topologies (default matches the
    // gate runs; the round-18 V2 A/B varies it to attribute the banded
    // stream's age slope: file-count growth vs band-table row growth)
    val compactEvery = sys.env.getOrElse("SPARK_GRAFT_STREAM_COMPACT_EVERY", "8").toInt
    // optional topology subset (comma-separated names) — the sf10
    // rehearsal drives the durable standing-table topologies without
    // paying the 600-batch growing-index sweep each time; unknown names
    // fail loudly (the ONLY-filter convention, commit 4f059a1)
    val KnownTopologies =
      Set("curate_banded", "curate", "curate_indexed", "curate_indexed_banded",
        "dedup", "semantic")
    val onlyTopos = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    onlyTopos.foreach(ts => ts.foreach(t =>
      require(KnownTopologies(t), s"unknown topology in SPARK_GRAFT_STREAM_ONLY: $t")))
    def wantTopo(name: String): Boolean = onlyTopos.forall(_.contains(name))
    var msId = 4200
    def drive[T: org.apache.spark.sql.Encoder](dir: String, name: String, items: Seq[T])
        (mk: org.apache.spark.sql.Dataset[T] => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
      // an empty slice (a filter matching nothing) would make total=0 and
      // pctl() throw on an empty seq — fail loudly instead of NaN JSON
      require(items.nonEmpty, s"drive($name) got an empty item list for $dir")
      msId += 1
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T](msId, spark, None)
      val ckpt = java.nio.file.Files.createTempDirectory(s"sscale_$name").toString
      val secs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val q = mk(ms.toDS()).option("checkpointLocation", ckpt).start()
      try items.grouped(batchSize).foreach { c =>
        val t0 = System.nanoTime()
        ms.addData(c: _*); q.processAllAvailable()
        secs += (System.nanoTime() - t0) / 1e9
      } finally q.stop()
      val total = secs.sum
      val head5 = secs.take(5); val tail5 = secs.takeRight(5)
      println(s"""{"dir":"$dir","topology":"$name","n_docs":${items.length},""" +
        s""""n_batches":${secs.length},"batch_docs":$batchSize,""" +
        s""""docs_per_sec":${r2(items.length / total)},""" +
        s""""batch_p50":${r2(pctl(secs.toSeq, 0.5))},"batch_p95":${r2(pctl(secs.toSeq, 0.95))},""" +
        s""""first5_mean":${r2(head5.sum / head5.length)},""" +
        s""""last5_mean":${r2(tail5.sum / tail5.length)}}""")
      System.out.flush()
    }
    for (dir <- args) {
      val docRows = Tables.documents(spark, dir)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      // 1. growing-index curation chain over the non-benchmark corpus.
      // BENCHED DEFAULT is the BANDED near-candidate form — the topology
      // whose per-batch cost stays flat as the kept index grows (the
      // exact lex-prefix probe measured 2.53 → 19.6 s/batch over 60 sf1
      // batches — SCALE.md). Set SPARK_GRAFT_STREAM_EXACT=1 to also
      // drive the exact form for the A/B curve.
      lazy val benchSh = StreamingCurate.benchmarkShingles(
        Tables.documents(spark, dir).filter(col("doc_id") % 10 === 0))
      val curateDocs = docRows.filter(_._1 % 10 != 0).map(d => DocEvent(d._1, d._2))
      if (wantTopo("curate_banded"))
        drive(dir, "curate_banded", curateDocs) { ds =>
          StreamingCurate.curateStream(ds, benchSh, banded = true) { (_, _) => () }
        }
      // the exact form is opt-in (SPARK_GRAFT_STREAM_EXACT=1 for the A/B
      // curve) — but naming it EXPLICITLY in SPARK_GRAFT_STREAM_ONLY is
      // the same opt-in: an explicitly requested topology must run, not
      // silently no-op behind a second flag
      val wantExact = sys.env.get("SPARK_GRAFT_STREAM_EXACT").contains("1") ||
        onlyTopos.exists(_.contains("curate"))
      if (wantExact && wantTopo("curate"))
        drive(dir, "curate", curateDocs) { ds =>
          StreamingCurate.curateStream(ds, benchSh) { (_, _) => () }
        }
      // 1b. DURABLE-STATE curation stream (round 16): micro-batches of
      // the daily sliver probed through the standing cur* tables with
      // admitted appends between batches — the day-2 production
      // topology. The standing build is untimed setup (paid once); the
      // per-batch curve is what a deployment pays continuously. Probe
      // cost must track the batch; appends fragment files, which the
      // in-stream compaction cadence (every 8 appends) bounds.
      if (wantTopo("curate_indexed")) {
        val curTag = s"sscale_cur_${System.nanoTime()}"
        graft.operators.StandingIndex.buildCurationFor(spark, dir, curTag)
        drive(dir, "curate_indexed",
          docRows.filter(d => d._1 % 10 != 0 && d._1 % 7 == 0)
            .map(d => DocEvent(d._1, d._2))) { ds =>
          StreamingCurate.curateIndexedStream(ds, curTag, compactEvery = compactEvery) {
            (_, _) => ()
          }
        }
      }
      // 1c. the same durable topology through the BANDED probe (round 16)
      // — the adversarial-vocabulary stream; own standing tag so the
      // prefix run's appends don't seed this one's state
      if (wantTopo("curate_indexed_banded")) {
        val curTagB = s"sscale_curb_${System.nanoTime()}"
        graft.operators.StandingIndex.buildCurationFor(spark, dir, curTagB)
        drive(dir, "curate_indexed_banded",
          docRows.filter(d => d._1 % 10 != 0 && d._1 % 7 == 0)
            .map(d => DocEvent(d._1, d._2))) { ds =>
          StreamingCurate.curateIndexedStream(ds, curTagB, compactEvery = compactEvery,
            banded = true) { (_, _) => () }
        }
      }
      // 2. standing-index dedup probe (index = 6/7 of the corpus, untimed)
      if (wantTopo("dedup")) {
        val idx = StreamingDedup.buildStandingIndex(
          Tables.documents(spark, dir).filter(col("doc_id") % 7 =!= 0))
        drive(dir, "dedup",
          docRows.filter(_._1 % 7 == 0).map(d => DocEvent(d._1, d._2))) { ds =>
          StreamingDedup.incrementalDedupStream(ds, idx) { (df, _) => df.count(); () }
        }
        idx.release()
      }
      // 3. standing semantic-dedup stream (round 19): frozen semc/sema
      // built on the embedding base (untimed), the delta sliver streamed
      // through the probe-then-append-kept topology — per-batch cost must
      // track the batch (broadcast centroids + bucketed cell joins), not
      // the growing base lists.
      if (wantTopo("semantic")) {
        import graft.streaming.StreamingServe
        val semTag = s"sscale_sem_${System.nanoTime()}"
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        graft.operators.Similarity.buildSemDedupFor(
          emb.filter(col("vec_id") % 7 =!= 0), semTag)
        val deltaVecs = emb.filter(col("vec_id") % 7 === 0)
          .collect().map(r =>
            StreamingServe.VecQuery(r.getLong(0), r.getSeq[Double](1)))
          .sortBy(_.q_id).toSeq
        drive(dir, "semantic", deltaVecs) { ds =>
          StreamingServe.semanticDedupStream(ds, semTag) { (_, _) => () }
        }
      }
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
