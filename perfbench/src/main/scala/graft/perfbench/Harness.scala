package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.{GraftExtensions, SparkEntry, Tables}
import graft.operators.{Dedup, Pipeline, Ranks, Similarity}
import graft.streaming.StreamingCurate
import graft.streaming.StreamingDedup.DocEvent
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark harness: runs one workload over generated inputs in one
  * JVM and writes the raw measurements (`result.json`) that run.py turns
  * into metrics.
  *
  * Usage: Harness <workload> <inputDir> <outDir> <seconds> <trace 0|1> <streamRate>
  *
  * `streamRate` is the arrival rate in docs/s (gen.py STREAM_RATE) of the
  * open-loop probe stream a traced run drives.
  *
  * Every op is materialized with the `noop` sink. An op that throws counts
  * as a failure, never as a timing. Between ops the harness reads the
  * pinned-RDD count, then clears the cache and releases the persisted
  * global sorts, outside the timed interval (the `graft.Bench` hygiene).
  *
  * With trace 1 every op kind alternates between untraced and traced
  * (spans, the listener and plan counts), and then the layer probes run on
  * the workload's own inputs. */
object Harness {
  val Cores = 4
  val SetupReps = 5
  // whole passes every run makes; the end-to-end metrics cover exactly
  // these (metrics.py MEASURED_PASSES)
  val MinPasses = 2
  val WarmDocs = 20 // docs of the pool's tail the untimed warm-up stream takes
  val DedupQueries = Seq("neardup_minhash_md5", "neardup_clusters",
    "pipeline_curate_lsh", "semantic_dedup_ivf")

  def main(args: Array[String]): Unit = {
    val Array(workload, input, out, seconds, trace, rate) = args
    Files.createDirectories(Paths.get(out))
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", GraftExtensions.ExcludedOptimizerRules)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val h = new Harness(spark, workload, input, out, seconds.toDouble, trace == "1",
      rate.toInt)
    try h.run()
    catch { case e: Throwable => h.failures += s"harness: $e"; e.printStackTrace() }
    Files.writeString(Paths.get(s"$out/result.json"), h.resultJson)
    spark.stop()
  }
}

final class Harness(base: SparkSession, workload: String, input: String,
                    out: String, seconds: Double, trace: Boolean, streamRate: Int) {
  import Harness._

  private val sc = base.sparkContext
  private var spark = base
  val failures = ArrayBuffer.empty[String]
  private var attempted = 0
  private val setupS = ArrayBuffer.empty[Double]
  private val tablesS = ArrayBuffer.empty[Double]
  private val heapMb = ArrayBuffer.empty[Map[String, Any]]
  private val ops = ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val streams = ArrayBuffer.empty[Map[String, Any]]
  private val probe = mutable.LinkedHashMap.empty[String, Any]
  private val info = mutable.LinkedHashMap.empty[String, Any]

  private val listener = new LayerListener
  private val spans = new Spans(sc, trace)
  // executed query plans of the current op, for the plan-shape counts
  private val plans = new ConcurrentLinkedQueue[SparkPlan]
  private val planListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The listener is registered only around traced sections, so the
    * untraced ops of a traced run pay none of its cost. */
  private def startTracing(): Unit = sc.addSparkListener(listener)

  private def stopTracing(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  private def withTracing[T](body: => T): T = {
    startTracing()
    try body finally stopTracing()
  }

  def run(): Unit = workload match {
    case "interactive_mix" => interactiveMix()
    case "dedup_batch" => dedupBatch()
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Wall time of a run phase, to the log and result.json (run cost). */
  private def phase[T](name: String)(body: => T): T = {
    val t0 = now()
    try body
    finally {
      info(s"phase_$name") = secs(t0, now())
      System.err.println(f"[perfbench] phase $name ${secs(t0, now())}%.2f s")
    }
  }

  // ------------------------------------------------------------ op protocol
  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Post-full-GC old-generation use in MB, taken outside timed intervals.
    * The ContextCleaner releases shuffle and broadcast state only after a
    * GC has found it unreachable, so collections repeat (up to five) until
    * the figure stops falling. `at` names the point: setup, pass, stream. */
  private def sampleHeap(at: String): Unit = {
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    def used(): Long = {
      System.gc()
      old.map(_.getUsage.getUsed)
        .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    var prev = Long.MaxValue
    var cur = used()
    var n = 1
    while (n < 5 && cur < prev - (1L << 20)) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      n += 1
    }
    heapMb += Map("at" -> at, "mb" -> math.min(prev, cur) / 1048576.0)
  }

  private def hygiene(): Unit = {
    spark.catalog.clearCache()
    Ranks.releaseAll()
  }

  /** One timed op: build the frame and materialize it with the noop sink.
    * Traced, the build plus physical planning is the `planner` span and
    * the execution the `spark` span. */
  private def runOp(name: String, pass: Int, traced: Boolean)
                   (build: SparkSession => DataFrame): Unit = {
    val id = ops.size
    val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "name" -> name,
      "pass" -> pass, "traced" -> traced)
    sc.setLocalProperty(Spans.OpKey, id.toString)
    spans.op = id
    // the plan listener only around traced ops: plans left in the queue
    // stay live, and the probes need no plan counts
    if (traced) { startTracing(); spark.listenerManager.register(planListener) }
    val startMs = System.currentTimeMillis()
    val t0 = now()
    val ok = try {
      if (traced) spans("op") {
        val df = spans("planner") { val d = build(spark); d.queryExecution.executedPlan; d }
        spans("spark") { df.write.format("noop").mode("overwrite").save() }
      } else build(spark).write.format("noop").mode("overwrite").save()
      true
    } catch { case e: Throwable => failures += s"$name: $e"; false }
    val wall = secs(t0, now())
    rec ++= Seq("wall_s" -> wall, "ok" -> ok, "start_ms" -> startMs,
      "end_ms" -> System.currentTimeMillis())
    sc.setLocalProperty(Spans.OpKey, null)
    spans.op = -1
    attempted += 1
    // ---- outside the timed interval
    if (traced) {
      stopTracing() // drains the bus: every plan of the op has arrived
      spark.listenerManager.unregister(planListener)
      val ps = plans.asScala.toSeq
      plans.clear()
      rec ++= Seq("exchanges" -> count(ps) { case _: ShuffleExchangeLike => },
        "sorts" -> count(ps) { case _: SortExec => },
        "broadcasts" -> count(ps) { case _: BroadcastExchangeLike => })
    }
    rec("persisted") = sc.getPersistentRDDs.size
    hygiene()
    ops += rec
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper
  private def count(ps: Seq[SparkPlan])(pf: PartialFunction[SparkPlan, Unit]): Int =
    ps.map(p => PlanWalk.collectWithSubqueries(p)(pf).size).sum

  /** Set-up, done SetupReps times in a fresh session; the last is kept.
    * The first also pays the JVM's cold start; setup_s is the median. */
  private def setup(body: SparkSession => Unit): Unit = {
    for (_ <- 1 to SetupReps) {
      val t0 = now()
      val s = base.newSession()
      body(s)
      setupS += secs(t0, now())
      spark = s
      hygiene()
    }
    sampleHeap("setup")
  }

  /** Register the input tables through `graft.Tables` (schema inference
    * and footer reads, the `tables` layer); records its time. No data is
    * scanned: nothing the loaders return is cached, so every query reads
    * its files again and a scan here would only warm the JVM. */
  private def loadTables(s: SparkSession, names: Seq[String]): Unit = {
    val t0 = now()
    spans("tables") {
      names.foreach { t =>
        val df = t match {
          case "orders" => Tables.orders(s, input)
          case "lineitem" => Tables.lineitem(s, input)
          case "events" => Tables.events(s, input)
          case "documents" => Tables.documents(s, input)
          case "embeddings" => Tables.embeddings(s, input)
          case other => Tables.table(s, input, other)
        }
        df.createOrReplaceTempView(t)
        Tables.footerRowCount(s, input, t)
      }
    }
    tablesS += secs(t0, now())
  }

  /** Write each query's result once (the correctness outputs run.py checks
    * against DuckDB) and apply the pinned no-oracle floors, outside any
    * timed interval. The queries run on Cores client threads at once: this
    * pass is also the JIT warm-up, and it is the largest fixed cost of a
    * run. The cache is cleared once all have finished. */
  private def checkPass(names: Seq[String]): Unit = {
    val dir = s"$out/check"
    Files.createDirectories(Paths.get(dir))
    val fns = SparkEntry.queries
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Cores)
    val bad = new ConcurrentLinkedQueue[String]
    val tasks = names.map { name => pool.submit(new Runnable { def run(): Unit = {
      val t0 = now()
      try {
        val df = fns(name)(spark, input)
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        SparkEntry.noOracleExpectations.get(name).foreach { case (minRows, ddl) =>
          val got = df.schema.fields.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ")
          val n = spark.read.parquet(s"$dir/$name").count()
          if (got != ddl) bad.add(s"$name: schema '$got' differs from pinned '$ddl'")
          if (n < minRows) bad.add(s"$name: $n rows, pinned minimum $minRows")
        }
      } catch { case e: Throwable => bad.add(s"$name (check): $e") }
      System.err.println(f"[perfbench] check $name ${secs(t0, now())}%.3f s")
    }})}
    tasks.foreach(_.get())
    pool.shutdown()
    attempted += names.size
    failures ++= bad.asScala
    hygiene()
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json(oracles))
  }

  /** Ops in pass order until `seconds` of wall time are used: the first
    * MinPasses passes always complete, so every op kind is sampled; after
    * them the loop stops at the first op that ends past the budget. A heap
    * sample follows each whole pass. In a traced run each op kind
    * alternates between untraced and traced (half the kinds start traced),
    * so every kind has traced and untraced samples that share warm-up
    * state; their difference is the tracing overhead. */
  private def measured(passOps: Int => Seq[String]): Unit = {
    val fns = SparkEntry.queries
    val kindIdx = mutable.HashMap.empty[String, Int]
    val seen = mutable.HashMap.empty[String, Int]
    val t0 = now()
    var p = 0
    do {
      val it = passOps(p).iterator
      while (it.hasNext && (p < MinPasses || secs(t0, now()) < seconds)) {
        val name = it.next()
        val k = kindIdx.getOrElseUpdate(name, kindIdx.size)
        val n = seen.getOrElse(name, 0)
        seen(name) = n + 1
        runOp(name, p, traced = trace && (k + n) % 2 == 1)(s => fns(name)(s, input))
      }
      // after whole passes only, so the samples do not depend on where
      // the last, partial pass stopped
      if (!it.hasNext) sampleHeap("pass")
      p += 1
    } while (p < MinPasses || secs(t0, now()) < seconds)
  }

  // -------------------------------------------------------------- workloads
  private val mixTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def interactiveMix(): Unit = {
    val order = scala.io.Source.fromFile(s"$input/order.txt").getLines()
      .map(_.split(" ").toSeq).toIndexedSeq
    phase("setup")(setup(s => loadTables(s, mixTables)))
    phase("check")(checkPass(order.head.sorted))
    phase("measure")(measured(p => order(p % order.size)))
    if (trace) phase("probes")(withTracing(layerProbes()))
  }

  private def dedupBatch(): Unit = {
    phase("setup")(setup(s => loadTables(s, Seq("documents", "embeddings"))))
    phase("check")(checkPass(DedupQueries))
    phase("measure")(measured(_ => DedupQueries))
    if (trace) phase("probes")(withTracing(layerProbes()))
  }

  // ----------------------------------------------------------------- stream
  private var streamId = 7000
  private var activeQuery: org.apache.spark.sql.streaming.StreamingQuery = null

  private def warmStream(s: SparkSession, warm: Seq[DocEvent], bench: DataFrame): Unit = {
    import s.implicits._
    streamId += 1
    val ms = MemoryStream[DocEvent](streamId, s, None)
    val q = StreamingCurate.curateStream(ms.toDS(), bench) { (_, _) => () }
      .option("checkpointLocation", s"$out/stream-ckpt-$streamId").start()
    try warm.grouped(WarmDocs / 2).foreach { c => ms.addData(c: _*); q.processAllAvailable() }
    finally q.stop()
  }

  /** One open-loop run: a generator thread adds docs to a MemoryStream on
    * their due times (the fixed-rate schedule from gen.py) for `runSecs`
    * seconds; the sink stamps each verdict's emission. Then drains, checks
    * the verdicts and returns the raw per-doc and per-batch records. */
  private def runStream(docs: IndexedSeq[(Long, String, Long)], bench: DataFrame,
                        runSecs: Double): Map[String, Any] = {
    val s = spark
    import s.implicits._
    streamId += 1
    val offered = docs.filter(_._3 < runSecs * 1000).toIndexedSeq
    require(offered.nonEmpty, "the stream schedule offers no documents")
    val ms = MemoryStream[DocEvent](streamId, s, None)
    // (doc_id, verdict, keeper_id, batch_id, emit ns)
    val verdicts = new ConcurrentLinkedQueue[(Long, String, Long, Long, Long)]
    val q = StreamingCurate.curateStream(ms.toDS(), bench) { (vs, bid) =>
      val t = System.nanoTime()
      vs.foreach(v => verdicts.add((v.doc_id, v.verdict, v.keeper_id, bid, t)))
    }.option("checkpointLocation", s"$out/stream-ckpt-$streamId").start()
    activeQuery = q
    val startMs = System.currentTimeMillis()
    val n = offered.size
    val addNs = new Array[Long](n)
    val t0 = System.nanoTime() + 100000000L // first doc due 100 ms from now
    val t0Ms = System.currentTimeMillis() + 100L
    def dueNs(i: Int): Long = t0 + offered(i)._3 * 1000000L
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        val wait = dueNs(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val tNow = System.nanoTime()
        var j = i
        while (j < n && dueNs(j) <= tNow) j += 1
        ms.addData(offered.slice(i, j).map(d => DocEvent(d._1, d._2)): _*)
        val tAdd = System.nanoTime()
        while (i < j) { addNs(i) = tAdd; i += 1 }
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    val backlog = n - verdicts.size
    q.processAllAvailable()
    val endMs = System.currentTimeMillis()
    sampleHeap("stream") // the greedy index is still live here
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    q.stop()
    activeQuery = null
    val persisted = sc.getPersistentRDDs.size
    hygiene()
    val vs = verdicts.asScala.toIndexedSeq
    failures ++= StreamCheck(offered.map(d => d._1 -> d._2), vs.map(v => (v._1, v._2, v._3, v._4)))
      .map(f => s"stream verdicts: $f")
    attempted += n
    val emit = vs.map(v => v._1 -> v._5).toMap
    val batchStart = progress.map(p => p.batchId ->
      java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
    val batchOf = vs.map(v => v._1 -> v._4).toMap
    val idx = offered.indices
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    Map("offered" -> n, "seconds" -> runSecs, "persisted" -> persisted,
      "start_ms" -> startMs, "end_ms" -> endMs, "backlog_end" -> backlog,
      "latency_s" -> idx.flatMap(i => emit.get(offered(i)._1).map(e => (e - dueNs(i)) / 1e9)),
      "gen_late_s" -> idx.map(i => (addNs(i) - dueNs(i)) / 1e9),
      "queue_wait_s" -> idx.flatMap(i => batchOf.get(offered(i)._1).flatMap(batchStart.get)
        .map(b => (b - (t0Ms + offered(i)._3)) / 1e3)),
      "verdicts" -> vs.groupBy(_._2).map { case (k, g) => k -> g.size },
      "batches" -> progress.map(p => Map("id" -> p.batchId, "rows" -> p.numInputRows,
        "start_ms" -> batchStart(p.batchId),
        "add_batch_ms" -> dur(p, "addBatch"),
        "trigger_ms" -> dur(p, "triggerExecution"))).toSeq)
  }

  // ------------------------------------------------------------ layer probes
  private def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = now()
    val r = spans(name)(body)
    (r, secs(t0, now()))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Layer probes on this workload's own inputs (traced runs only): the
    * near-dup stages one at a time, each on a checkpointed input; the Lloyd
    * slope; the semantic dedup and banded near-pair stages; and a short
    * open-loop curate stream over its documents. */
  private def layerProbes(): Unit = {
    val s = spark
    val docs = Tables.documents(s, input).select("doc_id", "text").localCheckpoint()
    val (arr, shingleS) = timed("dedup.shingle")(Dedup.shingleArrays(docs).localCheckpoint())
    val (rows, sigS) = timed("dedup.signature")(Dedup.mdBandRows(arr).localCheckpoint())
    val (cand, candS) = timed("dedup.candidates")(
      Dedup.bucketCandidates(rows, "band", "bucket").localCheckpoint())
    val (ver, verS) = timed("dedup.verify")(Dedup.verifyPairs(cand, arr, 0.5).localCheckpoint())
    val (lbl, ccS) = timed("dedup.cc")(Dedup.ccLabels(ver.select("a_id", "b_id")).localCheckpoint())
    val nCand = cand.count()
    val nVer = ver.count()
    probe ++= Seq("dedup.shingle_s" -> shingleS, "dedup.signature_s" -> sigS,
      "dedup.candidates_s" -> candS, "dedup.verify_s" -> verS, "dedup.cc_s" -> ccS,
      "dedup.band_rows" -> rows.count(), "dedup.candidates" -> nCand,
      "dedup.verified" -> nVer,
      "dedup.verify_yield" -> (if (nCand == 0) 0.0 else nVer.toDouble / nCand),
      "dedup.cc_edges" -> nVer,
      "dedup.components" -> lbl.select("lbl").distinct().count())
    hygiene()

    noop(Similarity.kmeansFitIters(s, input, 1)) // warm the Lloyd plan
    hygiene()
    val (_, k1) = timed("similarity.kmeans_1")(noop(Similarity.kmeansFitIters(s, input, 1)))
    hygiene()
    val (_, k4) = timed("similarity.kmeans_4")(noop(Similarity.kmeansFitIters(s, input, 4)))
    hygiene()
    val (_, semS) = timed("similarity.semdedup")(noop(Similarity.semanticDedupIvf(s, input)))
    hygiene()
    val (_, npS) = timed("pipeline.near_pairs")(Pipeline.bandedNearPairs(docs))
    hygiene()
    probe ++= Seq("similarity.kmeans_s_per_iter" -> (k4 - k1) / 3.0,
      "similarity.semdedup_s" -> semS, "pipeline.near_pairs_s" -> npS)
    // the dedup_batch jobs themselves, once each on this workload's inputs
    Seq("dedup.minhash_job_s" -> "neardup_minhash_md5",
      "dedup.clusters_job_s" -> "neardup_clusters",
      "pipeline.curate_job_s" -> "pipeline_curate_lsh").foreach { case (m, q) =>
      val (_, t) = timed(m)(noop(SparkEntry.queries(q)(s, input)))
      hygiene()
      probe(m) = t
    }

    val ds = Tables.documents(s, input).select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val pool = ds.zipWithIndex.map { case ((id, t), i) => (id, t, i * 1000L / streamRate) }
    val bench = StreamingCurate.benchmarkShingles(
      Tables.documents(s, input).filter(col("doc_id") % 50 === 0))
    warmStream(s, pool.takeRight(WarmDocs).map(d => DocEvent(d._1, d._2)), bench)
    streams += runStream(pool, bench,
      math.min(seconds / 2, (pool.size - WarmDocs) / streamRate.toDouble))
  }

  // ----------------------------------------------------------------- output
  def resultJson: String = {
    if (activeQuery != null) scala.util.Try(activeQuery.stop())
    val lj = listener.synchronized {
      (listener.jobs.toList, listener.tasks.toList, listener.stagesRun.toList)
    }
    Json(mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seconds" -> seconds, "trace" -> trace,
      "cores" -> Cores, "attempted" -> attempted, "failures" -> failures,
      "setup_s" -> setupS, "tables_scan_s" -> tablesS, "heap_mb" -> heapMb,
      "info" -> info, "ops" -> ops, "streams" -> streams, "probe" -> probe,
      "spans" -> spans.all.map(sp => Map("id" -> sp.id, "parent" -> sp.parent,
        "op" -> sp.op, "name" -> sp.name, "start_ns" -> sp.startNs, "end_ns" -> sp.endNs)),
      "jobs" -> lj._1, "tasks" -> lj._2, "stage_jobs" -> lj._3))
  }
}

/** The stream verdict invariants. Each offered doc has exactly one
  * verdict; the dedup survivors (every verdict but exact/near) are
  * pairwise below J 0.5 on the 3-shingle sets; every exact/near drop names
  * a keeper that survived and came earlier (batch, then doc_id order), an
  * exact drop's keeper has the same text and a near drop's keeper J ≥ 0.5.
  * Returns the violations. */
object StreamCheck {
  val T = 0.5

  def shingles(text: String): Set[String] = {
    val tk = text.split(" ", -1)
    if (tk.length < 3) Set.empty else tk.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else { val c = (a intersect b).size; c.toDouble / (a.size + b.size - c) }

  def apply(offered: Seq[(Long, String)],
            verdicts: Seq[(Long, String, Long, Long)]): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    val text = offered.toMap
    val byDoc = verdicts.groupBy(_._1)
    val missing = text.keySet -- byDoc.keySet
    if (missing.nonEmpty) bad += s"${missing.size} offered docs got no verdict"
    byDoc.foreach { case (d, vs) =>
      if (vs.size != 1) bad += s"doc $d got ${vs.size} verdicts"
      if (!text.contains(d)) bad += s"verdict for doc $d that was never offered"
    }
    val one = byDoc.map { case (d, vs) => d -> vs.head }
    val drops = Set("exact", "near")
    val survivors = one.values.filterNot(v => drops(v._2)).map(_._1).toSeq.sorted
    val sh = survivors.map(d => d -> shingles(text.getOrElse(d, ""))).toMap
    // pairs sharing a shingle, through an inverted index
    val postings = mutable.HashMap.empty[String, ArrayBuffer[Long]]
    survivors.foreach(d => sh(d).foreach(x => postings.getOrElseUpdate(x, ArrayBuffer.empty) += d))
    val seen = mutable.HashSet.empty[(Long, Long)]
    postings.valuesIterator.foreach { ds =>
      for (i <- ds.indices; j <- i + 1 until ds.size) {
        val p = (ds(i), ds(j))
        if (seen.add(p) && jaccard(sh(p._1), sh(p._2)) >= T)
          bad += s"kept docs ${p._1} and ${p._2} have J >= $T"
      }
    }
    one.values.filter(v => drops(v._2)).foreach { case (d, kind, keeper, batch) =>
      one.get(keeper) match {
        case None => bad += s"$kind drop $d names keeper $keeper with no verdict"
        case Some((_, kk, _, kb)) =>
          if (drops(kk)) bad += s"$kind drop $d names keeper $keeper, itself dropped"
          if (Ordering[(Long, Long)].gteq((kb, keeper), (batch, d)))
            bad += s"$kind drop $d names a later keeper $keeper"
          val (a, b) = (text.getOrElse(d, ""), text.getOrElse(keeper, ""))
          if (kind == "exact" && a != b) bad += s"exact drop $d differs from keeper $keeper"
          if (kind == "near" && jaccard(shingles(a), shingles(b)) < T)
            bad += s"near drop $d has J < $T to keeper $keeper"
      }
    }
    bad.take(20).toSeq
  }
}
