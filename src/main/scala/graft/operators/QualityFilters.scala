package graft.operators

import graft.Pins
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus quality-filtering operators (SURVEY.md §2c extension scope;
  * reference analogue: ABSENT) — the filter stages a training pipeline
  * runs between raw text and tokenization:
  *
  *  - boilerplate scrub: pattern-based token removal (the URL/PII-scrub
  *    mechanic, targeting the corpus's stop tokens so the op is
  *    non-trivial on harness data) with before/after accounting;
  *  - repetition filter: C4/Gopher-style flagging of documents dominated
  *    by one repeated n-gram;
  *  - decontamination: flag training documents whose shingle set is
  *    largely contained in a benchmark set — the train/test-overlap
  *    check every published model card reports.
  *
  * All three are deterministic (integer ratios in double, regex engines
  * agree on these patterns) → hash-compared against the DuckDB oracle.
  */
object QualityFilters {

  /** Stop-token scrub with before/after accounting. Token accounting uses
    * `array_remove` (codegen'd, no lambda); the text rewrite itself is the
    * regexp_replace chain a URL/email scrub uses — word-boundary pattern,
    * then whitespace collapse — all per-row expressions, zero shuffles
    * before the final ORDER BY. */
  def scrubStopTokens(s: SparkSession, dir: String): DataFrame = {
    val tk = split(col("text"), " ")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        // long, matching DuckDB's BIGINT len()/length() widths for the hash
        (size(tk) - size(array_remove(array_remove(tk, "a"), "the")))
          .cast("long").as("n_removed"),
        length(trim(regexp_replace(
          regexp_replace(col("text"), "\\b(a|the)\\b", ""), " +", " ")))
          .cast("long").as("n_chars_after"))
      .orderBy("doc_id")
  }

  val scrubStopTokensSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '), x -> x NOT IN ('a', 'the'))) AS n_removed,
      |  length(trim(regexp_replace(regexp_replace(text, '\b(a|the)\b', '', 'g'), ' +', ' ', 'g'))) AS n_chars_after
      |FROM documents ORDER BY doc_id""".stripMargin

  private val RepMinCount = 2
  private val RepRatio    = 0.05

  /** Repetition filter: documents where the single most frequent bigram
    * carries ≥ [[RepRatio]] of all bigram occurrences (and repeats at
    * least [[RepMinCount]] times — a 10-token document's every bigram is
    * 1/9th of mass without being repetitive). Two partial-agg shuffles:
    * (doc, bigram) counts, then per-doc max/total — the same
    * count-then-reaggregate shape at any corpus size; no arrays ever
    * leave the row they were built in. */
  def repetitionFilter(s: SparkSession, dir: String): DataFrame =
    repetitionFlagsOf(Tables.documents(s, dir)).orderBy("doc_id")

  /** [[repetitionFilter]] parametrized by the document set — the decision
    * is per-doc, so flags over a subset equal the global flags restricted
    * to it; the indexed incremental-curation probe scores only its delta
    * sliver through this. */
  private[graft] def repetitionFlagsOf(docs: DataFrame): DataFrame = {
    // Deliberately the exploded two-level groupBy, NOT a row-local
    // sort+fold: the per-row form (array_sort + an `aggregate` HOF
    // tracking the longest equal-run) is value-identical and shuffle-free
    // but ArrayAggregate is CodegenFallback — measured 0.91 s → 1.75 s at
    // sf0.1 when tried (r19 optimization round), so the two partial-agg
    // shuffles of skinny (doc_id, bigram) rows stay.
    val bg = Dedup.ngrams(docs, 2)
      .withColumnRenamed("s", "bigram")
    bg.groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("total"))
      .withColumn("rep_ratio",
        col("top_c").cast("double") / col("total").cast("double"))
      .filter(col("top_c") >= RepMinCount && col("rep_ratio") >= RepRatio)
      .select("doc_id", "top_c", "total", "rep_ratio")
      // UNORDERED (r20): the flag set feeds drop-set joins in the composed
      // pipelines, where the old tail sort survived as a rangepartitioning
      // Exchange; the declared query sorts at its own tail
  }

  val repetitionFilterSql: String =
    s"""WITH bg AS (
       |  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bigram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g
       |  WHERE len(tk) >= 2
       |),
       |cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
       |agg AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS total FROM cnt GROUP BY 1)
       |SELECT doc_id, top_c, total,
       |       CAST(top_c AS DOUBLE) / CAST(total AS DOUBLE) AS rep_ratio
       |FROM agg
       |WHERE top_c >= $RepMinCount
       |  AND CAST(top_c AS DOUBLE) / CAST(total AS DOUBLE) >= $RepRatio
       |ORDER BY doc_id""".stripMargin

  private val DeconThreshold = 0.5

  /** Benchmark decontamination: training documents whose distinct
    * 3-shingle set is ≥ [[DeconThreshold]] contained in the benchmark
    * shingle set (here: every 10th document stands in for the benchmark).
    * The containment check is a LEFT join of corpus shingles against the
    * DISTINCT benchmark shingles — each corpus shingle matches at most
    * one benchmark row, so the join never expands; at real scale the
    * benchmark side (actual eval sets — MBs, not TBs) is a broadcast and
    * the whole check is one scan over the corpus shingles. Catches the
    * planted harness near-dups whose partner landed in the benchmark. */
  def decontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminateFlags(s, dir).orderBy("doc_id")

  /** [[decontaminate]] minus the presentation sort — what the composed
    * pipelines consume (their drop-set joins are order-indifferent; the
    * sort survived into their plans as a rangepartitioning Exchange before
    * r20). */
  private[graft] def decontaminateFlags(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingles(Tables.documents(s, dir))
    val bench = sh.filter(col("doc_id") % 10 === 0).select("s").distinct()
      .withColumn("hit", lit(1))
    // the harness benchmark is corpus-DERIVED (every 10th doc), so unlike
    // a real eval suite its shingle set grows with the corpus — hint the
    // broadcast only under the drop-set guard, and let AQE pick from
    // runtime sizes past it
    deconScoredOf(sh.filter(col("doc_id") % 10 =!= 0),
      Pipeline.broadcastIfSmallCorpus(s, dir, bench))
  }

  /** [[decontaminate]]'s scoring stage parametrized by the doc-shingle
    * frame and the (possibly broadcast) benchmark shingle side — per-doc
    * decisions, so scoring a delta sliver against a STANDING benchmark
    * shingle table gives the global flags restricted to the sliver. The
    * bench side must carry a `hit` marker column alongside `s`. */
  private[graft] def deconScoredOf(docSh: DataFrame, benchHit: DataFrame): DataFrame =
    docSh.join(benchHit, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
      .withColumn("overlap", col("n_hit").cast("double") / col("n_sh").cast("double"))
      .filter(col("overlap") >= DeconThreshold)

  val decontaminateSql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
       |  WHERE len(tk) >= 3
       |),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
       |scored AS (
       |  SELECT sh.doc_id, count(*) AS n_sh, count(b.s) AS n_hit
       |  FROM sh LEFT JOIN bench b USING (s)
       |  WHERE sh.doc_id % 10 <> 0
       |  GROUP BY 1
       |)
       |SELECT doc_id, n_sh, n_hit,
       |       CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) AS overlap
       |FROM scored
       |WHERE CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) >= $DeconThreshold
       |ORDER BY doc_id""".stripMargin

  /** [[scrubStopTokens]] with an `Observation` attached — the Spark
    * metrics API that piggybacks aggregates onto the job the caller was
    * already running (accumulator-backed, exactly-once per action), so a
    * pipeline reports rows-in/rows-scrubbed without a second scan. The
    * driver-contract query surface stays a plain DataFrame; this wrapper
    * is the observability-enabled form a production caller would use. */
  def scrubObserved(s: SparkSession, dir: String): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("scrub_metrics")
    val df = scrubStopTokens(s, dir).observe(obs,
      count(lit(1)).as("n_docs"),
      sum(col("n_removed")).as("total_removed"),
      max(col("n_chars_after")).as("max_chars_after"))
    (df, obs)
  }

  // ------------------------------------------------- perplexity filter
  /** CCNet-style perplexity scoring: a bigram language model with add-1
    * smoothing fit ON the corpus itself, then every document scored by
    * its average negative log-likelihood (and ppl = e^nll). High-ppl
    * documents are the LM-unlikely outliers a web-scale recipe drops;
    * low-ppl ones are boilerplate. One shuffle by doc builds in-doc
    * bigrams via `lag` (no positional self-join); the model — bigram and
    * context counts — is vocabulary²-bounded, broadcast back onto the
    * corpus-sized bigram stream. Smoothing keeps every probability
    * strictly inside (0,1), so ln/exp stay finite; engine ulp drift
    * sits far below the round(6) output grid. */
  def perplexityScore(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val bi = toks
      .withColumn("w1", lag(col("tok"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), col("w1"), col("tok").as("w2"))
    val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cu = bi.groupBy("w1").agg(count(lit(1)).as("cu"))
    val v = toks.agg(countDistinct(col("tok")).cast("double").as("v"))
    bi.join(broadcast(cb), Seq("w1", "w2")).join(broadcast(cu), Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("nll", -log((col("cb") + lit(1.0)) / (col("cu") + col("v"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
           round(avg(col("nll")), 6).as("avg_nll"),
           round(exp(avg(col("nll"))), 6).as("ppl"))
      .orderBy("doc_id")
  }

  val perplexityScoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents
      |), seq AS (
      |  SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, tok AS w2
      |  FROM toks
      |), bi AS (
      |  SELECT doc_id, w1, w2 FROM seq WHERE w1 IS NOT NULL
      |), cb AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bi GROUP BY 1, 2
      |), cu AS (
      |  SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM bi GROUP BY 1
      |), v AS (
      |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM toks
      |)
      |SELECT bi.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       round(avg(-ln((cb.cb + 1.0) / (cu.cu + v.v))), 6) AS avg_nll,
      |       round(exp(avg(-ln((cb.cb + 1.0) / (cu.cu + v.v)))), 6) AS ppl
      |FROM bi
      |JOIN cb ON bi.w1 = cb.w1 AND bi.w2 = cb.w2
      |JOIN cu ON bi.w1 = cu.w1, v
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------- compression-ratio signal
  /** Gopher-style compressibility signal: DEFLATE(level 6) output bytes
    * over raw UTF-8 bytes, per document. Repetitive/boilerplate text
    * compresses far below natural text, so a low ratio is a drop signal
    * complementary to [[repetitionFilter]] (which only sees one dominant
    * bigram) and [[perplexityScore]] (which needs a fitted model). Codec
    * work is `mapPartitions` — the same justification as the multimodal
    * decode path: byte-stream compression is not expressible as a
    * Catalyst expression tree, and the partition iterator lets ONE
    * `Deflater` instance (native zlib state) serve every row instead of
    * an allocation per row. DEFLATE output is fully determined by input
    * + level (RFC 1951 via zlib's fixed heuristics — same bytes on every
    * JVM), but no oracle engine exposes it ⇒ rows-only gate; the spec
    * pins determinism and the planted repetitive-vs-random ordering. */
  def compressRatio(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val in = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("raw_len", LongType, nullable = false),
      StructField("comp_len", LongType, nullable = false),
      StructField("ratio", DoubleType, nullable = false)))
    val out = in.sparkSession.createDataFrame(
      in.rdd.mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(6)
        // Deflater holds native zlib buffers that GC finalization frees
        // only eventually — across a many-partition corpus scan that is a
        // native-memory leak. Release deterministically at task end.
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        rows.map { r =>
          val bytes = r.getString(1).getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          val ratio = n.toDouble / math.max(1, bytes.length)
          Row(r.getLong(0), bytes.length.toLong, n,
            math.rint(ratio * 1e6) / 1e6)
        }
      }, schema)
    out.orderBy("doc_id")
  }

  // ------------------------------------------- signal rank agreement
  /** Do the engine's two independent quality signals agree? Spearman's
    * rho between the heuristic quality score (TTR/stopword/length mix)
    * and bigram perplexity, computed as Pearson over rank columns —
    * plus top-decile overlap, the operational question ("would the two
    * filters keep the same documents?"). Running this calibration is
    * how a data recipe decides whether a second signal adds information
    * or redundancy; both inputs are already oracle-checked queries, so
    * the composition is too. Ranks come from total (value, doc_id)
    * orders — deterministic on both engines. */
  def qualitySignalAgreement(s: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityScore(s, dir).select(col("doc_id"), col("quality"))
    val p = perplexityScore(s, dir).select(col("doc_id"), col("avg_nll"))
    // global ranks via distributed sort + zipWithIndex (Ranks scaladoc):
    // a no-partition row_number window would funnel the whole corpus
    // through ONE task
    val joined = q.join(p, "doc_id")
    val ranked = Ranks.globalRowNumber(
        Ranks.globalRowNumber(joined, "rq_l", col("quality").desc, col("doc_id")),
        "rp_l", col("avg_nll").asc, col("doc_id"))
      .withColumn("rq", col("rq_l").cast("double"))
      .withColumn("rp", col("rp_l").cast("double"))
      .drop("rq_l", "rp_l")
    // decile cutoff as a broadcast 1-row scalar (the graph_pagerank `nn`
    // pattern) instead of a driver-side ranked.count(): the old form fired
    // an extra ACTION per build that re-ran both global sorts just to get
    // n; this rides the one real action. Counted over the RANKED frame
    // (same row count as the join, one row per doc) rather than the raw
    // join: ranked reads the sort's persisted rows, so the cutoff subtree
    // costs a count over cached rows — the joined-side form re-ran the
    // whole quality+perplexity upstream a second time (r19 optimization).
    val decileDf = broadcast(ranked.agg(
      greatest(lit(1L), floor(count(lit(1)) / 10)).as("decile")))
    val topQ = ranked.crossJoin(decileDf)
      .filter(col("rq") <= col("decile")).select("doc_id")
    val topP = ranked.crossJoin(decileDf)
      .filter(col("rp") <= col("decile")).select("doc_id")
    val overlap = topQ.intersect(topP).agg(count(lit(1)).as("top_decile_overlap"))
    ranked.agg(count(lit(1)).as("n_docs"),
        round(corr(col("rq"), col("rp")), 6).as("spearman_rho"))
      .crossJoin(overlap)
  }

  val qualitySignalAgreementSql: String =
    """WITH qt AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents
      |), q AS (
      |  SELECT doc_id,
      |         round((len(list_distinct(tk)) * 1.0 / len(tk)) * 0.5 +
      |               (len(list_filter(tk, x -> x IN ('the','a','of','to','and','in','or','is'))) * 1.0
      |                  / len(tk)) * 0.3 +
      |               least(len(tk) / 100.0, 1.0) * 0.2, 6) AS quality
      |  FROM qt
      |), toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents
      |), seq AS (
      |  SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, tok AS w2
      |  FROM toks
      |), bi AS (
      |  SELECT doc_id, w1, w2 FROM seq WHERE w1 IS NOT NULL
      |), cb AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bi GROUP BY 1, 2
      |), cu AS (
      |  SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM bi GROUP BY 1
      |), v AS (
      |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM toks
      |), p AS (
      |  SELECT bi.doc_id, round(avg(-ln((cb.cb + 1.0) / (cu.cu + v.v))), 6) AS avg_nll
      |  FROM bi
      |  JOIN cb ON bi.w1 = cb.w1 AND bi.w2 = cb.w2
      |  JOIN cu ON bi.w1 = cu.w1, v
      |  GROUP BY 1
      |), ranked AS (
      |  SELECT q.doc_id,
      |         CAST(row_number() OVER (ORDER BY q.quality DESC, q.doc_id) AS DOUBLE) AS rq,
      |         CAST(row_number() OVER (ORDER BY p.avg_nll ASC, p.doc_id) AS DOUBLE) AS rp
      |  FROM q JOIN p ON q.doc_id = p.doc_id
      |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
      |ov AS (
      |  SELECT CAST(count(*) AS BIGINT) AS top_decile_overlap FROM (
      |    SELECT doc_id FROM ranked WHERE rq <= greatest(1, (SELECT n FROM nn) // 10)
      |    INTERSECT
      |    SELECT doc_id FROM ranked WHERE rp <= greatest(1, (SELECT n FROM nn) // 10)
      |  )
      |)
      |SELECT (SELECT n FROM nn) AS n_docs,
      |       (SELECT round(corr(rq, rp), 6) FROM ranked) AS spearman_rho,
      |       (SELECT top_decile_overlap FROM ov) AS top_decile_overlap""".stripMargin

  // ------------------------------------------- 13-gram decontamination
  /** GPT-3-style exact-collision decontamination (public practice: Brown
    * et al. 2020, appendix C — a training doc is "dirty" if it shares ANY
    * 13-gram with an eval set; the canonical rule most later corpora
    * reused). Complements [[decontaminate]]'s containment-ratio rule: a
    * long document quoting one benchmark sentence passes a 0.5
    * containment check but fails this one. Same join shape — distinct
    * per-doc 13-grams semi-joined against the (broadcast at real scale)
    * benchmark gram set; one scan + one partial agg. */
  def decontaminate13gram(s: SparkSession, dir: String): DataFrame = {
    val g = Dedup.shingles(Tables.documents(s, dir), 13)
    val bench = g.filter(col("doc_id") % 10 === 0).select("s").distinct()
    g.filter(col("doc_id") % 10 =!= 0)
      .join(Pipeline.broadcastIfSmallCorpus(s, dir, bench), Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_colliding_13grams"))
      .orderBy("doc_id")
  }

  val decontaminate13gramSql: String =
    """WITH g AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+12], ' ') AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |       LATERAL (SELECT unnest(generate_series(1, len(tk) - 12)) AS i) gg
      |  WHERE len(tk) >= 13
      |),
      |bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 10 = 0)
      |SELECT doc_id, count(*) AS n_colliding_13grams
      |FROM g JOIN bench USING (s)
      |WHERE doc_id % 10 <> 0
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------- multi-n repetition profile
  // Gopher (Rae et al. 2021, table A1) thresholds: fraction of tokens in
  // the most frequent n-gram, per n
  private val RepNgramThresholds = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)

  /** The full Gopher-style repetition profile: for n ∈ {2,3,4}, the
    * fraction of n-gram occurrences carried by the doc's single most
    * frequent n-gram, with the published per-n thresholds deciding a
    * combined flag. Each n is one explode + two partial aggs (the
    * [[repetitionFilter]] shape), joined back on doc_id; docs too short
    * for an n-gram score 0 for that n (LEFT join + coalesce — no row is
    * dropped, every doc gets a verdict). */
  def repetitionNgramProfile(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    def ratioFor(n: Int): DataFrame =
      Dedup.ngrams(docs, n)
        .groupBy("doc_id", "s").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg((max(col("c")).cast("double") / sum(col("c")).cast("double")).as(s"r$n"))
    val joined = RepNgramThresholds.foldLeft(docs.select("doc_id")) {
      case (acc, (n, _)) => acc.join(ratioFor(n), Seq("doc_id"), "left")
    }
    val flag = RepNgramThresholds
      .map { case (n, t) => coalesce(col(s"r$n"), lit(0.0)) >= t }
      .reduce(_ || _)
    joined.select(
        col("doc_id") +:
        RepNgramThresholds.map { case (n, _) =>
          round(coalesce(col(s"r$n"), lit(0.0)), 6).as(s"top_${n}gram_frac") } :+
        flag.as("repetition_flagged"): _*)
      .orderBy("doc_id")
  }

  val repetitionNgramProfileSql: String = {
    val grams = RepNgramThresholds.map { case (n, _) =>
      s"""r$n AS (
         |  SELECT doc_id, max(c) * 1.0 / sum(c) AS r$n FROM (
         |    SELECT doc_id, array_to_string(tk[i:i+${n - 1}], ' ') AS s, count(*) AS c
         |    FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |         LATERAL (SELECT unnest(generate_series(1, len(tk) - ${n - 1})) AS i) g
         |    WHERE len(tk) >= $n
         |    GROUP BY 1, 2)
         |  GROUP BY doc_id
         |)""".stripMargin
    }.mkString(",\n")
    val cols = RepNgramThresholds.map { case (n, _) =>
      s"round(coalesce(r$n, 0), 6) AS top_${n}gram_frac" }.mkString(", ")
    val flag = RepNgramThresholds.map { case (n, t) =>
      s"coalesce(r$n, 0) >= $t" }.mkString(" OR ")
    s"""WITH $grams
       |SELECT d.doc_id, $cols, ($flag) AS repetition_flagged
       |FROM documents d
       |LEFT JOIN r2 ON d.doc_id = r2.doc_id
       |LEFT JOIN r3 ON d.doc_id = r3.doc_id
       |LEFT JOIN r4 ON d.doc_id = r4.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------ CCNet perplexity buckets
  /** CCNet's head/middle/tail selection (Wenzek et al., LREC 2020):
    * rank documents by LM negative log-likelihood, cut into terciles,
    * keep the head outright, keep a content-stable 50% sample of the
    * middle, drop the tail. Composes the gated [[perplexityScore]] with
    * an `ntile` tercile (ordered by (avg_nll, doc_id) — the tiebreak
    * makes tercile membership deterministic) and the md5-bucket sampling
    * discipline of [[DataPrep]] (digest chars 9–12, DISJOINT from the
    * split and mix bucket ranges, so a doc's perplexity fate never
    * correlates with its other placement decisions). Per-doc verdict
    * table, hash-gated.
    *
    * Scale note: the tercile is a GLOBAL ntile — a single-task sort by
    * construction, acceptable here because the ranked input is one row
    * per document of three scalars (not corpus text). At 100 TB the
    * production form replaces it with fixed nll cutoffs fit on a sample
    * (exactly what CCNet does — per-language cutoff tables), turning the
    * window into a stateless per-row CASE; the bucket/keep semantics
    * downstream are unchanged. */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    val t = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_nll"), col("doc_id"))
    perplexityScore(s, dir)
      .withColumn("tercile", ntile(3).over(t))
      .withColumn("bucket",
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle").otherwise("tail"))
      .withColumn("samp",
        conv(substring(md5(col("doc_id").cast("string")), 9, 4), 16, 10)
          .cast("int") % 2)
      .withColumn("kept",
        col("bucket") === "head" || (col("bucket") === "middle" && col("samp") === 0))
      .select(col("doc_id"), col("ppl"), col("bucket"), col("kept"))
      .orderBy("doc_id")
  }

  val pplBucketsSql: String = {
    // the gated perplexity query as a CTE body — strip ONLY its trailing
    // result sort (window-internal ORDER BYs must survive)
    val ppl = perplexityScoreSql.replace("GROUP BY 1 ORDER BY 1", "GROUP BY 1")
    s"""WITH ppl_q AS ($ppl)
       |SELECT doc_id, ppl,
       |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       |       (t = 1 OR (t = 2 AND CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 9, 4) AS INTEGER) % 2 = 0)) AS kept
       |FROM (SELECT doc_id, ppl, avg_nll,
       |             ntile(3) OVER (ORDER BY avg_nll, doc_id) AS t
       |      FROM ppl_q)
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------- in-engine LR classifier
  /** Gradient-descent steps and learning rate for [[qualityLrFit]]. */
  val LrSteps = 5
  val LrRate = 0.5

  /** Train a logistic-regression language/quality classifier IN the
    * engine — the miniature of the fastText-style quality filters every
    * published curation pipeline trains (CCNet, LLaMA's Wikipedia-ref
    * classifier): features are cheap per-doc statistics (token count,
    * average word length, stopword ratio, bias), the label is is-English,
    * and the fit is [[LrSteps]] full-batch gradient-descent steps
    * unrolled — the same fixed-iteration gating template as the k-means
    * fit. Emits the learned weights and the training accuracy.
    *
    * Cross-engine bit-exactness needs one trick beyond the k-means
    * recipe: the sigmoid's `exp` may differ by an ulp between libm and
    * the JVM, and iterated steps would COMPOUND that. So each step (a)
    * sums its gradient terms in DECIMAL(38,20) (order-exact, absorbing
    * the per-term ulp into digits far below the quantum) and (b) ROUNDS
    * the updated weights to 9 decimals in both engines — re-synchronizing
    * the trajectories every step, so divergence can never accumulate.
    * Verified bit-identical against an independent fsum reference and
    * the DuckDB twin at both scales. Scale: each step is one
    * broadcast-join (the 1-row weight table) + one partial-agg shuffle of
    * 4 decimals — T passes over the corpus, embarrassingly parallel. */
  /** (doc_id, x1..x3, y) feature frame shared by the fit and the scorer. */
  private def lrFeatures(s: SparkSession, dir: String): DataFrame =
    lrFeaturesOf(Tables.documents(s, dir))

  /** Feature columns over an arbitrary (doc_id, text, lang, …) frame —
    * the form the continuous scorer feeds micro-batches through. */
  private[graft] def lrFeaturesOf(docs: DataFrame): DataFrame = {
    val nTok = size(split(col("text"), " "))
    docs.select(
      col("doc_id"),
      (nTok.cast("double") / 100).as("x1"),
      ((length(col("text")) - (nTok - 1)).cast("double") / nTok / 10).as("x2"),
      expr("CAST(size(filter(split(text, ' '), t -> t IN ('the','a','of'))) AS DOUBLE)" +
        " / size(split(text, ' '))").as("x3"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
  }

  /** The linear score w·x against the current 1-row weight columns. */
  private[graft] def lrScore: org.apache.spark.sql.Column =
    col("x1") * col("w1") + col("x2") * col("w2") +
      col("x3") * col("w3") + col("w4")

  /** Run the [[LrSteps]] descent over `f`, returning the 1-row final
    * weight frame — shared by [[qualityLrFit]] and [[qualityLrScores]].
    *
    * Each round's 1-row weight frame is localCheckpoint'ed under the
    * sanctioned eager-job tag (the [[DataPrep.bpeTrainFrom]] /
    * [[Dedup.ccLabels]] pattern). The earlier lazy formulation referenced
    * the previous weight frame TWICE per step (inside the gradient agg and
    * in the update), so the logical plan doubled every round — at
    * [[LrSteps]] = 5 the final plan carried 2^5 copies of the feature
    * subtree (measured: 4,385 plan lines / 440 Exchange nodes, 5.1 s of
    * analysis on first build, ~2.5 s warm per run; the per-step
    * materialization collapses it to one gradient agg per round over the
    * cached feature frame — same expressions, same per-step round(_, 9)
    * grid, bit-identical weights). The checkpoint jobs are round-count
    * bounded (exactly [[LrSteps]]), each over a 1-row frame. */
  private[graft] def lrWeights(s: SparkSession, f: DataFrame): DataFrame = {
    val sc = s.sparkContext
    val prevTag = sc.getLocalProperty(Dedup.CcFixpointTag)
    sc.setLocalProperty(Dedup.CcFixpointTag, "1")
    try {
      var w = Pins.checkpoint(s.range(1).select(lit(0.0).as("w1"), lit(0.0).as("w2"),
        lit(0.0).as("w3"), lit(0.0).as("w4")))
      for (_ <- 1 to LrSteps) {
        val sig = lit(1.0) / (lit(1.0) + exp(-lrScore))
        def grad(xj: org.apache.spark.sql.Column, as: String) =
          (sum(((sig - col("y")) * xj).cast("decimal(38,20)")).cast("double") /
            count(lit(1))).as(as)
        val g = f.crossJoin(broadcast(w))
          .agg(grad(col("x1"), "g1"), grad(col("x2"), "g2"),
               grad(col("x3"), "g3"), grad(lit(1.0), "g4"))
        val prev = w
        w = Pins.checkpoint(prev.crossJoin(g).select(
          round(col("w1") - lit(LrRate) * col("g1"), 9).as("w1"),
          round(col("w2") - lit(LrRate) * col("g2"), 9).as("w2"),
          round(col("w3") - lit(LrRate) * col("g3"), 9).as("w3"),
          round(col("w4") - lit(LrRate) * col("g4"), 9).as("w4")))
        Pins.release(prev)
      }
      w
    } finally sc.setLocalProperty(Dedup.CcFixpointTag, prevTag)
  }

  def qualityLrFit(s: SparkSession, dir: String): DataFrame = {
    val f = Pins.cache(lrFeatures(s, dir))
    val w = lrWeights(s, f)
    val acc = f.crossJoin(broadcast(w))
      .agg(count(when((lrScore >= 0) === (col("y") === 1.0), 1)).cast("double").as("value"))
      .select(lit("train_acc").as("metric"), col("value"))
    val weights = w.select(expr(
      "stack(4, 'w1', w1, 'w2', w2, 'w3', w3, 'w4', w4) AS (metric, value)"))
    weights.unionByName(acc).orderBy("metric")
  }

  /** Apply the trained classifier as a per-document FILTER — the stage a
    * curation pipeline actually runs with the fastText-style model: score
    * every doc with the fitted weights, keep at σ(w·x) ≥ 0.5 ⟺ w·x ≥ 0
    * (the keep decision is a sign test on exact arithmetic — the sigmoid
    * value itself, rounded at 6, is emitted for thresholding downstream;
    * its single un-iterated exp sits ~10 orders below that grid). One
    * broadcast join of the 1-row weight table against the feature scan. */
  def qualityLrScores(s: SparkSession, dir: String): DataFrame = {
    val f = Pins.cache(lrFeatures(s, dir))
    f.crossJoin(broadcast(lrWeights(s, f)))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-lrScore)), 6).as("score"),
        (lrScore >= 0).as("kept"))
      .orderBy("doc_id")
  }

  /** The descent WITH chain ending in `w{LrSteps}` — shared by the fit
    * and scorer oracles so both gates prove the SAME training run. */
  private val lrCtes: String = {
    val feat =
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS DOUBLE) / 100 AS x1,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) / 10 AS x2,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of'))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS x3,
        |  CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y
        |FROM documents""".stripMargin
    def step(i: Int): String = {
      val z = "(f.x1*w.w1 + f.x2*w.w2 + f.x3*w.w3 + w.w4)"
      val sig = s"(1.0/(1.0+exp(-$z)))"
      val gs = Seq("f.x1", "f.x2", "f.x3", "CAST(1 AS DOUBLE)").zipWithIndex.map {
        case (xj, j) =>
          s"CAST(sum(CAST(($sig - f.y) * $xj AS DECIMAL(38,20))) AS DOUBLE)" +
            s" / (SELECT count(*) FROM f) AS g${j + 1}"
      }.mkString(",\n       ")
      s"""g$i AS (SELECT $gs FROM f CROSS JOIN w${i - 1} w),
         |w$i AS (
         |  SELECT round(w.w1 - $LrRate*g.g1, 9) AS w1, round(w.w2 - $LrRate*g.g2, 9) AS w2,
         |         round(w.w3 - $LrRate*g.g3, 9) AS w3, round(w.w4 - $LrRate*g.g4, 9) AS w4
         |  FROM w${i - 1} w CROSS JOIN g$i g
         |)""".stripMargin
    }
    s"""WITH f AS MATERIALIZED ($feat),
       |w0 AS (SELECT CAST(0 AS DOUBLE) AS w1, CAST(0 AS DOUBLE) AS w2,
       |              CAST(0 AS DOUBLE) AS w3, CAST(0 AS DOUBLE) AS w4),
       |${(1 to LrSteps).map(step).mkString(",\n")}""".stripMargin
  }

  val qualityLrFitSql: String =
    s"""$lrCtes
       |SELECT metric, value FROM (
       |  SELECT 'w1' AS metric, w1 AS value FROM w$LrSteps
       |  UNION ALL SELECT 'w2', w2 FROM w$LrSteps
       |  UNION ALL SELECT 'w3', w3 FROM w$LrSteps
       |  UNION ALL SELECT 'w4', w4 FROM w$LrSteps
       |  UNION ALL SELECT 'train_acc',
       |    CAST((SELECT count(*) FROM f, w$LrSteps w
       |          WHERE (f.x1*w.w1 + f.x2*w.w2 + f.x3*w.w3 + w.w4 >= 0) = (f.y = 1.0))
       |         AS DOUBLE)
       |) ORDER BY metric""".stripMargin

  val qualityLrScoresSql: String =
    s"""$lrCtes
       |SELECT f.doc_id,
       |       round(1.0/(1.0+exp(-(f.x1*w.w1 + f.x2*w.w2 + f.x3*w.w3 + w.w4))), 6) AS score,
       |       (f.x1*w.w1 + f.x2*w.w2 + f.x3*w.w3 + w.w4 >= 0) AS kept
       |FROM f CROSS JOIN w$LrSteps w
       |ORDER BY f.doc_id""".stripMargin

  /** The classifier's evaluation card — confusion counts and
    * precision/recall/F1/accuracy of [[qualityLrFit]]'s weights on their
    * training set (the in-engine version of the table every model card
    * prints; a held-out variant is the same query over a split filter).
    * All metrics are ratios of exact integer counts computed in double,
    * rounded at 6 — fully hash-gated through the shared descent chain. */
  def qualityLrEval(s: SparkSession, dir: String): DataFrame = {
    val f = Pins.cache(lrFeatures(s, dir))
    f.crossJoin(broadcast(lrWeights(s, f)))
      .select(col("y"), (lrScore >= 0).as("pred"))
      .agg(
        sum(when(col("pred") && col("y") === 1.0, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && col("y") === 0.0, 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("y") === 1.0, 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && col("y") === 0.0, 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        // the fitted filter can be all-negative on a corpus (it is on the
        // harness: 5 GD steps from zero push every score below 0), making
        // precision 0/0 — an explicit NULL in BOTH engines, not an ANSI
        // divide error on one of them
        when(col("tp") + col("fp") === 0, lit(null).cast("double"))
          .otherwise(round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
          .as("prec"),
        round(col("tp").cast("double") / (col("tp") + col("fn")), 6).as("recall"),
        round(lit(2.0) * col("tp") / (lit(2.0) * col("tp") + col("fp") + col("fn")), 6).as("f1"),
        round((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("fn") + col("tn")), 6).as("accuracy"))
  }

  val qualityLrEvalSql: String =
    s"""$lrCtes,
       |pred AS (
       |  SELECT f.y, (f.x1*w.w1 + f.x2*w.w2 + f.x3*w.w3 + w.w4 >= 0) AS pred
       |  FROM f CROSS JOIN w$LrSteps w
       |),
       |cm AS (
       |  SELECT CAST(sum(CASE WHEN pred AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(sum(CASE WHEN pred AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |         CAST(sum(CASE WHEN NOT pred AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |         CAST(sum(CASE WHEN NOT pred AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM pred
       |)
       |SELECT tp, fp, fn, tn,
       |       CASE WHEN tp + fp = 0 THEN NULL
       |            ELSE round(tp * 1.0 / (tp + fp), 6) END AS prec,
       |       round(tp * 1.0 / (tp + fn), 6) AS recall,
       |       round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
       |       round((tp + tn) * 1.0 / (tp + fp + fn + tn), 6) AS accuracy
       |FROM cm""".stripMargin


  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_lr_fit"       -> (qualityLrFit _),
    "quality_ppl_buckets"  -> (pplBuckets _),
    "quality_lr_scores"    -> (qualityLrScores _),
    "quality_lr_eval"      -> (qualityLrEval _),
    "text_scrub_stoptokens" -> (scrubStopTokens _),
    "text_repetition"       -> (repetitionFilter _),
    "text_repetition_ngrams" -> (repetitionNgramProfile _),
    "text_perplexity"       -> (perplexityScore _),
    "quality_signal_agreement" -> (qualitySignalAgreement _),
    "text_compress_ratio"   -> (compressRatio _),
    "decontaminate"         -> (decontaminate _),
    "decontaminate_13gram"  -> (decontaminate13gram _)
  )

  def oracles: Map[String, String] = Map(
    "quality_lr_fit"       -> qualityLrFitSql,
    "quality_ppl_buckets"  -> pplBucketsSql,
    "quality_lr_scores"    -> qualityLrScoresSql,
    "quality_lr_eval"      -> qualityLrEvalSql,
    "text_scrub_stoptokens" -> scrubStopTokensSql,
    "text_repetition"       -> repetitionFilterSql,
    "text_repetition_ngrams" -> repetitionNgramProfileSql,
    "text_perplexity"       -> perplexityScoreSql,
    "quality_signal_agreement" -> qualitySignalAgreementSql,
    "decontaminate"         -> decontaminateSql,
    "decontaminate_13gram"  -> decontaminate13gramSql
  )
}
