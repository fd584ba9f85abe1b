package graft.operators

import graft.Pins
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond the score/dedup families — the
  * rule-gate, reweighting, budgeting, privacy-audit, and versioning steps a
  * production training-data pipeline runs between "raw crawl" and "training
  * set" (SURVEY.md §2c extension scope; reference scope is the token
  * analytics of tweet-streamer/src/main/scala/main.scala, which none of
  * this file touches — these are the rebuild-mandated additions).
  *
  * Scale notes per operator are inline; the common theme: every decision is
  * a pure function of row content or of a small broadcast aggregate (vocab
  * stats, totals), so each query is scan → narrow codegen'd expressions →
  * one hash aggregate, with no all-pairs joins and no driver-side loops.
  * Determinism: integer arithmetic or single-rounded doubles everywhere, so
  * each query is hash-gated against the DuckDB oracle.
  */
object Curation {

  private def toks(c: Column): Column = filter(split(c, " "), t => t =!= "")

  // ----------------------------------------------------- Gopher rule gate
  /** Gopher-style quality rule bundle (Rae et al. 2021, "Scaling Language
    * Models", table A1): hard threshold rules rather than a blended score —
    * word-count bounds, mean-word-length bounds, minimum alphabetic-word
    * fraction, minimum stop-word count. Emits per-document rule flags as a
    * bitmask (bit set = rule passed) plus the overall verdict, which is the
    * form a downstream filter consumes (and the form that lets a data card
    * report per-rule rejection rates from one aggregate).
    *
    * Scale: one scan, all row-local HOF/regex expressions inside codegen,
    * no shuffle at all (the ORDER BY is the driver-contract presentation
    * sort). The rule thresholds are corpus-calibrated constants; at 100 TB
    * they ride along as literals — nothing here depends on corpus size. */
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRulesOf(Tables.documents(s, dir)).orderBy("doc_id")

  val gopherRulesSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents
      |), m AS (
      |  SELECT doc_id,
      |    CAST(len(tk) AS BIGINT) AS n_words,
      |    list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk) AS mean_wl,
      |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk) AS frac_alpha,
      |    CAST(len(list_filter(tk, x -> x IN ('the','a','of','to','and','in','or','is'))) AS BIGINT) AS stop_count
      |  FROM t
      |), r AS (
      |  SELECT *,
      |    CAST(n_words BETWEEN 30 AND 100000 AS INT) AS r1,
      |    CAST(mean_wl BETWEEN 3.0 AND 10.0 AS INT) AS r2,
      |    CAST(frac_alpha >= 0.8 AS INT) AS r3,
      |    CAST(stop_count >= 2 AS INT) AS r4
      |  FROM m
      |)
      |SELECT doc_id, n_words, round(mean_wl, 6) AS mean_word_len,
      |       round(frac_alpha, 6) AS frac_alpha, stop_count,
      |       r1 + r2 * 2 + r3 * 4 + r4 * 8 AS rule_flags,
      |       CAST(r1 = 1 AND r2 = 1 AND r3 = 1 AND r4 = 1 AS INT) AS pass
      |FROM r ORDER BY doc_id""".stripMargin

  /** [[gopherRules]] parametrized by the document set — the column-shared
    * form the continuous gate ([[graft.streaming.StreamingCurate]]) runs
    * per micro-batch, so the stream twin can never drift from the batch
    * query. */
  private[graft] def gopherRulesOf(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and", "in", "or", "is")
    val t = toks(col("text"))
    val nw = size(t).cast("long")
    // two-step projection: each signal expression is instantiated ONCE and
    // the rule predicates reference the named columns, keeping the analyzed
    // tree linear in the signal count instead of duplicating the HOF folds
    // into every rule
    val signals = docs
      .select(col("doc_id"),
        nw.as("n_words"),
        (aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / nw)
          .as("mwl"),
        (size(filter(t, x => x.rlike("[A-Za-z]"))).cast("double") / nw)
          .as("fa"),
        size(filter(t, x => x.isin(stop.map(lit): _*))).cast("long")
          .as("stop_count"))
    val r1 = (col("n_words") >= 30L) && (col("n_words") <= 100000L)
    val r2 = (col("mwl") >= 3.0) && (col("mwl") <= 10.0)
    val r3 = col("fa") >= 0.8
    val r4 = col("stop_count") >= 2L
    signals
      .select(col("doc_id"), col("n_words"),
        round(col("mwl"), 6).as("mean_word_len"),
        round(col("fa"), 6).as("frac_alpha"),
        col("stop_count"),
        (r1.cast("int") + r2.cast("int") * 2 +
         r3.cast("int") * 4 + r4.cast("int") * 8).as("rule_flags"),
        (r1 && r2 && r3 && r4).cast("int").as("pass"))
  }

  // --------------------------------------------------- gopher rule report
  /** Per-rule rejection rates — the data-card row the rule gate feeds:
    * for each of the four rules, how many documents fail it (bit unset in
    * [[gopherRules]]' bitmask) and the failure share; plus the overall
    * verdict row. One aggregate over the flags, expanded to rule rows by a
    * constant generator — the report is 5 rows at any corpus size. */
  def gopherReport(s: SparkSession, dir: String): DataFrame = {
    val flags = gopherRulesOf(Tables.documents(s, dir))
      .select(col("rule_flags"), col("pass"))
    val agg = flags.agg(
      count(lit(1)).as("n_docs"),
      sum(when((col("rule_flags").bitwiseAND(1)) === 0, 1L).otherwise(0L)).as("f1"),
      sum(when((col("rule_flags").bitwiseAND(2)) === 0, 1L).otherwise(0L)).as("f2"),
      sum(when((col("rule_flags").bitwiseAND(4)) === 0, 1L).otherwise(0L)).as("f3"),
      sum(when((col("rule_flags").bitwiseAND(8)) === 0, 1L).otherwise(0L)).as("f4"),
      sum(when(col("pass") === 0, 1L).otherwise(0L)).as("f0"))
    agg.select(explode(array(
        struct(lit("word_count").as("rule"), col("f1").as("n_failed")),
        struct(lit("mean_word_len").as("rule"), col("f2").as("n_failed")),
        struct(lit("alpha_fraction").as("rule"), col("f3").as("n_failed")),
        struct(lit("stopword_count").as("rule"), col("f4").as("n_failed")),
        struct(lit("any_rule").as("rule"), col("f0").as("n_failed"))))
        .as("r"), col("n_docs"))
      .select(col("r.rule").as("rule"), col("r.n_failed").as("n_failed"),
        col("n_docs"),
        round(col("r.n_failed").cast("double") / col("n_docs"), 6)
          .as("reject_rate"))
      .orderBy("rule")
  }

  val gopherReportSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents
      |), m AS (
      |  SELECT
      |    CAST(len(tk) BETWEEN 30 AND 100000 AS INT) AS r1,
      |    CAST(list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk) BETWEEN 3.0 AND 10.0 AS INT) AS r2,
      |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk) >= 0.8 AS INT) AS r3,
      |    CAST(len(list_filter(tk, x -> x IN ('the','a','of','to','and','in','or','is'))) >= 2 AS INT) AS r4
      |  FROM t
      |), agg AS (
      |  SELECT count(*) AS n_docs,
      |    sum(1 - r1) AS f1, sum(1 - r2) AS f2, sum(1 - r3) AS f3, sum(1 - r4) AS f4,
      |    sum(CASE WHEN r1 = 1 AND r2 = 1 AND r3 = 1 AND r4 = 1 THEN 0 ELSE 1 END) AS f0
      |  FROM m
      |)
      |SELECT rule, CAST(n_failed AS BIGINT) AS n_failed,
      |       CAST(n_docs AS BIGINT) AS n_docs,
      |       round(n_failed * 1.0 / n_docs, 6) AS reject_rate
      |FROM agg, LATERAL (
      |  SELECT unnest(['word_count', 'mean_word_len', 'alpha_fraction',
      |                 'stopword_count', 'any_rule']) AS rule,
      |         unnest([f1, f2, f3, f4, f0]) AS n_failed) u
      |ORDER BY rule""".stripMargin

  // ------------------------------------------------- DSIR importance weights
  /** DSIR importance weights (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every raw document by the
    * average per-token log-likelihood ratio between a target-domain unigram
    * model and the raw-corpus unigram model (add-1 smoothed over the shared
    * vocabulary). The harness target domain is the `src0` slice; a real run
    * points the target model at a curated seed corpus. Docs that look like
    * the target get positive log-weights and are upsampled by the mixing
    * stage; DSIR's hashed-n-gram variant replaces `tok` with a hashed
    * feature id and changes nothing else in this dataflow.
    *
    * Scale: the vocabulary model is a token-level aggregate (vocab-sized,
    * tiny — BROADCAST), and scoring is explode → broadcast-join → per-doc
    * re-aggregate: one shuffle keyed by doc_id, partial aggregation
    * map-side. Per-doc sums are ~100 doubles of magnitude ~1; round(6)
    * absorbs merge-order noise exactly as `kl_lang_drift` does. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val tok = docTokens(Tables.documents(s, dir))
    dsirScoreOf(tok, dsirModelOf(tok)).orderBy("doc_id")
  }

  /** (doc_id, source, tok) exploded tokens — the shared input shape of the
    * DSIR model fit and scorer (and of [[graft.streaming.StreamingCurate]]'s
    * online scorer, which must use these SAME column expressions so the
    * stream twin can never drift from the batch query). */
  private[graft] def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), explode(toks(col("text"))).as("tok"))

  /** The frozen unigram log-likelihood-ratio model: (tok, llr), vocab-sized.
    * Vocabulary = raw-corpus tokens. Raw and target counts come out of ONE
    * conditional aggregation over the exploded tokens (ct is a count-if on
    * the source) — not a raw-agg + target-agg + join, which costs two extra
    * exchanges and a second corpus scan for identical counts. */
  private[graft] def dsirModelOf(tok: DataFrame): DataFrame = {
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cr"),
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"))
    val totals = vocab.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"),
      count(lit(1)).as("v"))
    vocab.crossJoin(broadcast(totals))
      .select(col("tok"),
        (log((col("ct") + 1.0) / (col("tt") + col("v"))) -
         log((col("cr") + 1.0) / (col("tr") + col("v")))).as("llr"))
  }

  /** Score exploded tokens against a (frozen) model: per-doc token count +
    * mean log-likelihood ratio. Tokens outside the model vocabulary drop at
    * the join — a stream-time novelty contributes nothing until the model
    * is refit (documented in the streaming twin). */
  private[graft] def dsirScoreOf(tok: DataFrame, model: DataFrame): DataFrame =
    tok.join(broadcast(model), "tok")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_toks"),
           round(avg(col("llr")), 6).as("dsir_logweight"))

  val dsirWeightsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents
      |), raw AS (
      |  SELECT tok, count(*) AS cr FROM tok GROUP BY 1
      |), tgt AS (
      |  SELECT tok, count(*) AS ct FROM tok WHERE source = 'src0' GROUP BY 1
      |), vocab AS (
      |  SELECT raw.tok, cr, coalesce(ct, 0) AS ct
      |  FROM raw LEFT JOIN tgt ON raw.tok = tgt.tok
      |), totals AS (
      |  SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM vocab
      |), model AS (
      |  SELECT tok,
      |         ln((ct + 1.0) / (tt + v)) - ln((cr + 1.0) / (tr + v)) AS llr
      |  FROM vocab, totals
      |)
      |SELECT doc_id, source, count(*) AS n_toks,
      |       round(avg(llr), 6) AS dsir_logweight
      |FROM tok JOIN model ON tok.tok = model.tok
      |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- token-budget select
  /** Quality-ranked token-budget selection: keep the best documents (by
    * rounded type-token ratio, doc_id tie-break) whose cumulative token
    * count fits a budget of 60% of the corpus — the "we can only afford N
    * training tokens" cut every compute-bound run makes. The budget is
    * integer arithmetic (`total * 6 div 10`), the rank key is the
    * gate-rounded score, and the cut is a running-sum prefix — all exactly
    * reproducible.
    *
    * Scale: the global ORDER BY is a range-exchange sort (Spark samples
    * boundaries; no single-reducer stage) and the cumulative window over
    * that order is the one genuinely global dependency; at 100 TB the
    * standard form is per-range-partition prefix sums + a driver-side
    * boundary scan (partition count additions), same result. The harness
    * keeps the declarative window — Catalyst already range-partitions the
    * sort; only the window's unbounded frame is single-partition, and the
    * payload is (doc_id, 3 longs), not the text. */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(t).cast("long").as("n_toks"),
        round(size(array_distinct(t)).cast("double") / size(t), 6).as("ttr"))
    val budget = scored.agg(expr("sum(n_toks) * 6 div 10").as("budget"))
    val w = Window.orderBy(col("ttr").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("n_toks")).over(w))
      .crossJoin(broadcast(budget))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("n_toks"), col("ttr"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  val tokenBudgetSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_toks,
      |    round(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) * 1.0
      |          / len(list_filter(string_split(text, ' '), x -> x <> '')), 6) AS ttr
      |  FROM documents
      |), b AS (
      |  SELECT CAST(sum(n_toks) * 6 // 10 AS BIGINT) AS budget FROM s
      |), c AS (
      |  SELECT doc_id, n_toks, ttr,
      |         CAST(sum(n_toks) OVER (ORDER BY ttr DESC, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM s
      |)
      |SELECT doc_id, n_toks, ttr, cum_tokens
      |FROM c, b WHERE cum_tokens <= budget ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- k-anonymity
  /** k-anonymity audit over quasi-identifiers (Sweeney 2002): group the
    * corpus by the attribute combination an adversary could re-identify on
    * — here (lang, source, length-bucket) — and report each group's size k
    * plus an at-risk flag for k below the conventional threshold of 5. The
    * release decision a privacy review makes from this table is "suppress
    * or generalize the at-risk cells".
    *
    * Scale: one hash aggregate on a low-cardinality composite key —
    * map-side partials collapse it to (|lang|·|source|·|buckets|) rows
    * regardless of corpus size. */
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"),
        expr("n_chars div 50").as("len_bucket"))
      .agg(count(lit(1)).as("k"))
      .select(col("lang"), col("source"), col("len_bucket"), col("k"),
        (col("k") < 5L).cast("int").as("at_risk"))
      .orderBy("lang", "source", "len_bucket")

  val kAnonymitySql: String =
    """SELECT lang, source, n_chars // 50 AS len_bucket,
      |       count(*) AS k,
      |       CAST(count(*) < 5 AS INT) AS at_risk
      |FROM documents
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------- l-diversity
  /** l-diversity audit (Machanavajjhala et al. 2006 — the k-anonymity
    * refinement): a quasi-identifier cell can be large (k-anonymous) yet
    * still leak if everyone in it shares the SENSITIVE value. Here the
    * quasi-identifiers are (lang, length-bucket) and the sensitive
    * attribute is `source`: report each cell's size k, its distinct
    * sensitive count l, and flag cells below l = 3 — the cells a release
    * must generalize even though k-anonymity passed them. Same
    * cell-count-sized aggregate shape as [[kAnonymity]]. */
  def lDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"), expr("n_chars div 50").as("len_bucket"))
      .agg(count(lit(1)).as("k"),
           count_distinct(col("source")).as("l_distinct"))
      .select(col("lang"), col("len_bucket"), col("k"), col("l_distinct"),
        (col("l_distinct") < 3L).cast("int").as("at_risk"))
      .orderBy("lang", "len_bucket")

  val lDiversitySql: String =
    """SELECT lang, n_chars // 50 AS len_bucket,
      |       count(*) AS k,
      |       count(DISTINCT source) AS l_distinct,
      |       CAST(count(DISTINCT source) < 3 AS INT) AS at_risk
      |FROM documents
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------- corpus diff
  /** Snapshot diff between two corpus versions — the audit step behind
    * every dataset release note ("v2: +N docs, -M docs, K edited"). The
    * second version is derived deterministically from the first inside the
    * query (md5-bucket of doc_id: drop buckets 0-1, edit 2-5, clone 96-99
    * under offset ids) so both engines build byte-identical snapshots; a
    * real run reads two parquet roots instead. The diff itself is a full
    * outer join on doc_id comparing content digests, rolled up to
    * per-status counts with a commutative id-checksum — the same
    * order-free-checksum trick as `corpus_fingerprint`, so two engines (or
    * two cluster layouts) agree without any global sort.
    *
    * Scale: the join is doc_id-keyed (co-partitioned scans if both
    * snapshots are id-bucketed on disk — the standing-index layout), and
    * the rollup is 4 rows. Nothing is driver-side. */
  def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        expr("conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) % 100")
          .cast("int").as("b"))
    val v2 = v1.filter(col("b") >= 2)
      .select(col("doc_id"),
        when(col("b") < 6, concat(col("text"), lit(" rev")))
          .otherwise(col("text")).as("text"))
      .unionAll(v1.filter(col("b") >= 96)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
    val d1 = v1.select(col("doc_id"), md5(col("text")).as("h1"))
    val d2 = v2.select(col("doc_id"), md5(col("text")).as("h2"))
    d1.join(d2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"))
          // cast each 32-bit term BEFORE the sum: summing the conv STRING
          // would promote to DOUBLE, exact only below 2^53 — the long sum
          // keeps the commutative checksum exact at any corpus size
          .as("id_checksum"))
      .orderBy("status")
  }

  val corpusDiffSql: String =
    """WITH v1 AS (
      |  SELECT doc_id, text,
      |         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS b
      |  FROM documents
      |), v2 AS (
      |  SELECT doc_id,
      |         CASE WHEN b < 6 THEN text || ' rev' ELSE text END AS text
      |  FROM v1 WHERE b >= 2
      |  UNION ALL
      |  SELECT doc_id + 10000000, text FROM v1 WHERE b >= 96
      |), d AS (
      |  SELECT coalesce(d1.doc_id, d2.doc_id) AS doc_id,
      |         CASE WHEN d1.doc_id IS NULL THEN 'added'
      |              WHEN d2.doc_id IS NULL THEN 'removed'
      |              WHEN md5(d1.text) <> md5(d2.text) THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM v1 d1 FULL OUTER JOIN v2 d2 ON d1.doc_id = d2.doc_id
      |)
      |SELECT status, count(*) AS n_docs,
      |       CAST(sum(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)) AS BIGINT) AS id_checksum
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------- distinct-n
  /** Distinct-n diversity (Li et al. 2016's distinct-1/2 generalized to
    * n ∈ {1,2,3} over a corpus): per source, the ratio of unique n-grams to
    * total n-grams — the standard dataset-diversity row of a data card, and
    * the fastest tell for a source that is template spam (ratio collapses
    * as n grows slower than it should). Long format (source, n) so the card
    * reads it with one pivot.
    *
    * Scale: explode → hash agg twice (count + count-distinct per key); the
    * distinct is the expensive half and is exactly Spark's two-phase
    * partial-distinct aggregate. At 100 TB the count-distinct swaps to the
    * HLL sketch twin (`approx_distinct`) with a documented error bar. */
  def distinctN(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), split(col("text"), " ").as("tk"))
    val grams = (1 to 3).map { n =>
      docs.filter(size(col("tk")) >= n)
        .select(col("source"), lit(n).as("n"),
          explode(expr(s"transform(sequence(0, size(tk) - $n), i -> concat_ws(' ', slice(tk, i + 1, $n)))"))
            .as("g"))
    }.reduce(_ unionAll _)
    grams.groupBy("source", "n")
      .agg(count(lit(1)).as("total_ngrams"),
           count_distinct(col("g")).as("uniq_ngrams"))
      .select(col("source"), col("n"), col("total_ngrams"), col("uniq_ngrams"),
        round(col("uniq_ngrams").cast("double") / col("total_ngrams"), 6)
          .as("distinct_ratio"))
      .orderBy("source", "n")
  }

  val distinctNSql: String =
    """WITH toks AS (
      |  SELECT source, string_split(text, ' ') AS tk FROM documents
      |), grams AS (
      |  SELECT source, 1 AS n, unnest(tk) AS g FROM toks
      |  UNION ALL
      |  SELECT source, 2 AS n, array_to_string(tk[i:i+1], ' ') AS g
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g2
      |  WHERE len(tk) >= 2
      |  UNION ALL
      |  SELECT source, 3 AS n, array_to_string(tk[i:i+2], ' ') AS g
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g3
      |  WHERE len(tk) >= 3
      |)
      |SELECT source, n, count(*) AS total_ngrams,
      |       count(DISTINCT g) AS uniq_ngrams,
      |       round(count(DISTINCT g) * 1.0 / count(*), 6) AS distinct_ratio
      |FROM grams GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------- gated training-set capstone
  /** The wrap-6 operators as ONE dataflow — the full selection recipe a
    * target-domain training run uses: Gopher rule gate → exact dedup →
    * DSIR importance ranking → token-budget cut (50% of surviving tokens)
    * → per-source report. Every stage reuses the standalone operator's
    * column expressions ([[gopherRules]]' rule predicates, [[dsirModelOf]]/
    * [[dsirScoreOf]], the budget-window idiom of [[tokenBudget]]), so the
    * composition can't drift from the pieces; the DuckDB oracle recomputes
    * the same chain as CTEs from first principles.
    *
    * Scale shape: gate is narrow codegen; dedup shuffles 16-byte digests;
    * the DSIR model is a vocab-sized broadcast; the budget sort is a
    * range exchange over (weight, id) pairs — the text never moves after
    * the scan. The final report is sources-sized with a commutative id
    * checksum, so two layouts agree without a global sort. */
  def gatedTrainingSet(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and", "in", "or", "is")
    val t = toks(col("text"))
    val nw = size(t).cast("long")
    val meanWl = aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / nw
    val fracAlpha = size(filter(t, x => x.rlike("[A-Za-z]"))).cast("double") / nw
    val stopCnt = size(filter(t, x => x.isin(stop.map(lit): _*))).cast("long")
    val gated = Tables.documents(s, dir)
      .filter((nw >= 30L) && (nw <= 100000L) &&
              (meanWl >= 3.0) && (meanWl <= 10.0) &&
              (fracAlpha >= 0.8) && (stopCnt >= 2L))
    // cache: the survivor set feeds BOTH the model fit and the scoring pass
    // (and through them four aggregate subtrees) — without it every stage
    // re-runs the gate + dedup window from the scan
    val deduped = Pins.cache(Dedup.exactSurvivors(gated).select("doc_id", "text", "source"))
    val scored = dsirScoreOf(docTokens(deduped), dsirModelOf(docTokens(deduped)))
    val budget = scored.agg(expr("sum(n_toks) div 2").as("budget"))
    val cum = Window.orderBy(col("dsir_logweight").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("n_toks")).over(cum))
      .crossJoin(broadcast(budget))
      .filter(col("cum_tokens") <= col("budget"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_toks")).as("n_tokens"),
           sum(expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"))
             // per-term bigint cast keeps the checksum exact past 2^53
             .as("id_checksum"))
      .orderBy("source")
  }

  val gatedTrainingSetSql: String =
    """WITH t AS (
      |  SELECT doc_id, text, source,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents
      |), gated AS (
      |  SELECT doc_id, text, source FROM t
      |  WHERE len(tk) BETWEEN 30 AND 100000
      |    AND list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk) BETWEEN 3.0 AND 10.0
      |    AND len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk) >= 0.8
      |    AND len(list_filter(tk, x -> x IN ('the','a','of','to','and','in','or','is'))) >= 2
      |), deduped AS (
      |  SELECT doc_id, text, source FROM gated
      |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
      |), tok AS (
      |  SELECT doc_id, source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM deduped
      |), raw AS (SELECT tok, count(*) AS cr FROM tok GROUP BY 1),
      |tgt AS (SELECT tok, count(*) AS ct FROM tok WHERE source = 'src0' GROUP BY 1),
      |vocab AS (
      |  SELECT raw.tok, cr, coalesce(ct, 0) AS ct
      |  FROM raw LEFT JOIN tgt ON raw.tok = tgt.tok
      |), totals AS (SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM vocab),
      |model AS (
      |  SELECT tok, ln((ct + 1.0) / (tt + v)) - ln((cr + 1.0) / (tr + v)) AS llr
      |  FROM vocab, totals
      |), scored AS (
      |  SELECT doc_id, source, count(*) AS n_toks, round(avg(llr), 6) AS w
      |  FROM tok JOIN model ON tok.tok = model.tok GROUP BY 1, 2
      |), b AS (SELECT CAST(sum(n_toks) // 2 AS BIGINT) AS budget FROM scored),
      |cum AS (
      |  SELECT doc_id, source, n_toks,
      |         CAST(sum(n_toks) OVER (ORDER BY w DESC, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM scored
      |)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |       CAST(sum(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)) AS BIGINT) AS id_checksum
      |FROM cum, b WHERE cum_tokens <= budget
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------- DSIR resampling
  /** The "resampling" half of DSIR: turn the importance log-weights into
    * content-stable acceptance decisions — accept doc iff its md5 bucket
    * (chars 13–16, disjoint from the split/mix/ppl ranges) falls under an
    * acceptance permille derived from the GATE-ROUNDED weight by pure
    * arithmetic (`500 + floor(w·1000)`, clamped to [0,1000]) — no
    * transcendentals past the already-rounded weight, no RNG, so a doc's
    * fate is a pure function of its content and never changes across
    * reruns, engines, or partitionings (the same contract as
    * `prep_mix_weighted`). Emits the full per-doc decision table; the
    * mixing stage consumes `kept`.
    *
    * Scale: the scoring dataflow of [[dsirWeights]] plus three narrow
    * row-local columns — nothing new shuffles. */
  def dsirResample(s: SparkSession, dir: String): DataFrame = {
    val tok = docTokens(Tables.documents(s, dir))
    dsirScoreOf(tok, dsirModelOf(tok))
      .withColumn("accept_permille",
        least(lit(1000L), greatest(lit(0L),
          lit(500L) + floor(col("dsir_logweight") * 1000).cast("long"))))
      .withColumn("bucket",
        expr("conv(substring(md5(cast(doc_id as string)), 13, 4), 16, 10)")
          .cast("long") % 1000)
      .select(col("doc_id"), col("source"), col("n_toks"),
        col("dsir_logweight"), col("accept_permille"),
        (col("bucket") < col("accept_permille")).cast("int").as("kept"))
      .orderBy("doc_id")
  }

  val dsirResampleSql: String =
    """WITH tok AS (
      |  SELECT doc_id, source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents
      |), raw AS (
      |  SELECT tok, count(*) AS cr FROM tok GROUP BY 1
      |), tgt AS (
      |  SELECT tok, count(*) AS ct FROM tok WHERE source = 'src0' GROUP BY 1
      |), vocab AS (
      |  SELECT raw.tok, cr, coalesce(ct, 0) AS ct
      |  FROM raw LEFT JOIN tgt ON raw.tok = tgt.tok
      |), totals AS (
      |  SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM vocab
      |), model AS (
      |  SELECT tok,
      |         ln((ct + 1.0) / (tt + v)) - ln((cr + 1.0) / (tr + v)) AS llr
      |  FROM vocab, totals
      |), scored AS (
      |  SELECT doc_id, source, count(*) AS n_toks,
      |         round(avg(llr), 6) AS dsir_logweight
      |  FROM tok JOIN model ON tok.tok = model.tok
      |  GROUP BY 1, 2
      |)
      |SELECT doc_id, source, n_toks, dsir_logweight,
      |  CAST(least(1000, greatest(0, 500 + floor(dsir_logweight * 1000))) AS BIGINT) AS accept_permille,
      |  CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 13, 4) AS INTEGER) % 1000
      |       < least(1000, greatest(0, 500 + floor(dsir_logweight * 1000))) AS INT) AS kept
      |FROM scored ORDER BY doc_id""".stripMargin

  // ------------------------------------------- quality × duplication x-tab
  /** Quality–duplication interaction report: the diagnostic a curator runs
    * to learn whether duplicates CONCENTRATE in the low-quality slice (the
    * usual web-crawl pathology — boilerplate is both duplicated and junk):
    * cross-tabulate the Gopher verdict against exact-duplicate membership,
    * with doc and token mass per cell. Composes the rule gate and the
    * dedup window in one dataflow; the oracle recomputes both from first
    * principles.
    *
    * Scale: the dedup window shuffles 16-byte digests (the `dedup_exact`
    * discipline); the gate is row-local; the x-tab is a 4-row aggregate. */
  def qualityDupXtab(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and", "in", "or", "is")
    val t = toks(col("text"))
    val nw = size(t).cast("long")
    val meanWl = aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / nw
    val fracAlpha = size(filter(t, x => x.rlike("[A-Za-z]"))).cast("double") / nw
    val stopCnt = size(filter(t, x => x.isin(stop.map(lit): _*))).cast("long")
    val pass = ((nw >= 30L) && (nw <= 100000L) &&
                (meanWl >= 3.0) && (meanWl <= 10.0) &&
                (fracAlpha >= 0.8) && (stopCnt >= 2L)).cast("int")
    Tables.documents(s, dir)
      .withColumn("pass", pass)
      .withColumn("n_toks", nw)
      .withColumn("dup", (count(lit(1)).over(Dedup.sameText) > 1L).cast("int"))
      .groupBy("pass", "dup")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy("pass", "dup")
  }

  val qualityDupXtabSql: String =
    """WITH m AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, text, CAST(len(tk) AS BIGINT) AS n_toks,
      |    CAST(len(tk) BETWEEN 30 AND 100000
      |     AND list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk) BETWEEN 3.0 AND 10.0
      |     AND len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk) >= 0.8
      |     AND len(list_filter(tk, x -> x IN ('the','a','of','to','and','in','or','is'))) >= 2
      |     AS INT) AS pass
      |  FROM m
      |), d AS (
      |  SELECT pass, n_toks,
      |         CAST(count(*) OVER (PARTITION BY text) > 1 AS INT) AS dup
      |  FROM g
      |)
      |SELECT pass, dup, count(*) AS n_docs,
      |       CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------- water-fill budget
  /** Max-min-fair token budget allocation across sources (water-filling —
    * the classic fair-division rule, cf. Bertsekas & Gallager's network
    * fair allocation): given a global budget of 60% of corpus tokens,
    * every source gets min(its supply, waterline L), L chosen so the
    * allocations sum exactly to the budget. Small sources keep everything;
    * big sources are clipped to the same level — the budgeted counterpart
    * of temperature mixing (no source starves, no source dominates).
    *
    * All integer: sort sources by supply ascending; a source is CAPPED
    * (kept whole) iff its supply ≤ the running level
    * `(budget − smaller-supplies-sum) div remaining-count` — the standard
    * prefix argument makes that predicate monotone over the sort order —
    * and the uncapped rest split the leftover evenly, with the mod-
    * remainder going to the alphabetically first uncapped sources (a
    * deterministic tie rule both engines replay). Σ alloc = budget
    * exactly; spec-pinned. Scale: the whole computation happens on a
    * sources-sized aggregate (20 rows here; thousands at worst) — the
    * corpus contributes one token-count scan. */
  def waterfillBudget(s: SparkSession, dir: String): DataFrame =
    waterfillOf(Tables.documents(s, dir)
      .select(col("source"), size(toks(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum(col("n")).as("supply")))

  /** The allocation algebra over a (source, supply) table — factored so the
    * property spec can drive random supply vectors through the SAME plan. */
  private[graft] def waterfillOf(supply: DataFrame): DataFrame = {
    val tot = supply.agg(expr("sum(supply) * 6 div 10").as("budget"),
      count(lit(1)).as("m"))
    val w = Window.orderBy(col("supply"), col("source"))
    val ranked = supply.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(w))
      .withColumn("smaller", coalesce(sum(col("supply"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("capped",
        (col("supply") <= (col("budget") - col("smaller"))
          / (col("m") - col("rk") + 1)).cast("int"))
    val caps = ranked.agg(
      sum(when(col("capped") === 1, col("supply")).otherwise(0L)).as("cap_sum"),
      sum(col("capped")).as("n_capped"))
    val wu = Window.orderBy(col("source"))
    ranked.crossJoin(broadcast(caps))
      .withColumn("n_uncapped", col("m") - col("n_capped"))
      .withColumn("leftover", col("budget") - col("cap_sum"))
      .withColumn("urk", row_number().over(
        Window.partitionBy(col("capped")).orderBy(col("source"))))
      .select(col("source"), col("supply"),
        when(col("capped") === 1, col("supply"))
          .otherwise(expr("leftover div n_uncapped") +
            when(col("urk") <= col("leftover") % col("n_uncapped"), 1L)
              .otherwise(0L)).as("alloc"),
        col("capped"))
      .orderBy("source")
  }

  val waterfillBudgetSql: String =
    """WITH supply AS (
      |  SELECT source,
      |    CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS supply
      |  FROM documents GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(supply) * 6 // 10 AS BIGINT) AS budget, count(*) AS m FROM supply
      |), ranked AS (
      |  SELECT source, supply, budget, m,
      |    row_number() OVER (ORDER BY supply, source) AS rk,
      |    coalesce(sum(supply) OVER (ORDER BY supply, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS smaller
      |  FROM supply, tot
      |), flagged AS (
      |  SELECT *, CAST(supply <= (budget - smaller) // (m - rk + 1) AS INT) AS capped
      |  FROM ranked
      |), caps AS (
      |  SELECT sum(CASE WHEN capped = 1 THEN supply ELSE 0 END) AS cap_sum,
      |         sum(capped) AS n_capped
      |  FROM flagged
      |), u AS (
      |  SELECT f.*, cap_sum, n_capped, m - n_capped AS n_uncapped,
      |         budget - cap_sum AS leftover,
      |         row_number() OVER (PARTITION BY capped ORDER BY source) AS urk
      |  FROM flagged f, caps
      |)
      |SELECT source, supply,
      |       CAST(CASE WHEN capped = 1 THEN supply
      |            ELSE leftover // n_uncapped +
      |                 CASE WHEN urk <= leftover % n_uncapped THEN 1 ELSE 0 END
      |            END AS BIGINT) AS alloc,
      |       capped
      |FROM u ORDER BY source""".stripMargin

  // ------------------------------------------------- vocabulary growth
  /** Heaps'-law vocabulary growth curve (Heaps 1978: V(n) ≈ K·n^β): at ten
    * deterministic corpus prefixes (docs whose md5 permille bucket ≤ 100·k,
    * the content-stable analogue of "the first k·10% of the crawl"), the
    * token mass and distinct-token count. The curve is the data-scaling
    * panel of a corpus report — vocabulary saturating early is the
    * template-spam tell `text_distinct_n` sees per source, here measured
    * corpus-wide as scale grows.
    *
    * Shape: ONE aggregate computes all ten points via conditional
    * count-distincts (count DISTINCT CASE WHEN bucket ≤ t THEN tok END) —
    * no per-prefix rescan, no cumulative-distinct window (which no engine
    * does distributed). Long format via a constant generator. */
  def heapsCurve(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(explode(toks(col("text"))).as("tok"),
        (expr("conv(substring(md5(cast(doc_id as string)), 5, 4), 16, 10)")
          .cast("long") % 1000).as("b"))
    val cuts = (1 to 10).map(_ * 100)
    val aggs = cuts.flatMap { t => Seq(
      sum(when(col("b") < t, 1L).otherwise(0L)).as(s"n_$t"),
      count_distinct(when(col("b") < t, col("tok"))).as(s"v_$t"))
    }
    val rows = cuts.map { t =>
      struct(lit(t / 10).as("pct"), col(s"n_$t").as("n_tokens"),
        col(s"v_$t").as("n_vocab"))
    }
    tok.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.pct").as("pct"), col("r.n_tokens").as("n_tokens"),
        col("r.n_vocab").as("n_vocab"),
        round(col("r.n_vocab").cast("double") / col("r.n_tokens"), 6)
          .as("vocab_ratio"))
      .orderBy("pct")
  }

  val heapsCurveSql: String = {
    val cuts = (1 to 10).map(_ * 100)
    val aggs = cuts.map { t =>
      s"sum(CASE WHEN b < $t THEN 1 ELSE 0 END)::BIGINT AS n_$t, " +
      s"count(DISTINCT CASE WHEN b < $t THEN tok END) AS v_$t"
    }.mkString(",\n    ")
    val unions = cuts.map { t =>
      s"SELECT ${t / 10} AS pct, n_$t AS n_tokens, v_$t AS n_vocab FROM agg"
    }.mkString("\n  UNION ALL ")
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok,
       |         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 5, 4) AS INTEGER) % 1000 AS b
       |  FROM documents
       |), agg AS (
       |  SELECT
       |    $aggs
       |  FROM tok
       |)
       |SELECT pct, n_tokens, n_vocab,
       |       round(n_vocab * 1.0 / n_tokens, 6) AS vocab_ratio
       |FROM ($unions) ORDER BY pct""".stripMargin
  }

  // ---------------------------------------------------- data profiling
  /** One-pass column profiler over `lineitem` — the ANALYZE-style report a
    * DQ dashboard and the CBO both feed on: per column, null count,
    * distinct count, and (for numeric/date columns) min/max. ONE wide
    * aggregate computes every statistic in a single scan (count-if +
    * count-distinct + min/max per column, all map-side partial), then a
    * constant generator unpivots to the row-per-column report — the
    * opposite of profilers that run one query per column and re-scan the
    * table N times. Timestamps profile as epoch-days so the min/max are
    * exact integers on both engines; string columns carry NULL bounds.
    *
    * Scale: the aggregate state is columns-sized; the scan is the whole
    * cost, paid once. The count-distincts expand the aggregate to one
    * extra shuffle each in Spark's planning — at a width where that
    * matters the HLL sketch twin (`approx_distinct`) takes over per the
    * usual trade. */
  def dqProfileLineitem(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val numeric = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val strings = Seq("l_returnflag", "l_linestatus")
    val dayCol = expr("unix_timestamp(l_shipdate) div 86400")
    val aggs =
      Seq(count(lit(1)).as("n_rows")) ++
      numeric.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        count_distinct(col(c)).as(s"nd_$c"),
        round(min(col(c)).cast("double"), 6).as(s"mn_$c"),
        round(max(col(c)).cast("double"), 6).as(s"mx_$c"))
      } ++
      strings.flatMap { c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        count_distinct(col(c)).as(s"nd_$c"))
      } ++ Seq(
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("nn_l_shipdate"),
        count_distinct(col("l_shipdate")).as("nd_l_shipdate"),
        min(dayCol).cast("double").as("mn_l_shipdate"),
        max(dayCol).cast("double").as("mx_l_shipdate"))
    val agg = li.agg(aggs.head, aggs.tail: _*)
    val rows = (numeric :+ "l_shipdate").map { c =>
      struct(lit(c).as("column_name"), col(s"nn_$c").as("n_nulls"),
        col(s"nd_$c").as("n_distinct"), col(s"mn_$c").as("min_val"),
        col(s"mx_$c").as("max_val"))
    } ++ strings.map { c =>
      struct(lit(c).as("column_name"), col(s"nn_$c").as("n_nulls"),
        col(s"nd_$c").as("n_distinct"),
        lit(null).cast("double").as("min_val"),
        lit(null).cast("double").as("max_val"))
    }
    agg.select(explode(array(rows: _*)).as("r"), col("n_rows"))
      .select(col("r.column_name").as("column_name"), col("n_rows"),
        col("r.n_nulls").as("n_nulls"), col("r.n_distinct").as("n_distinct"),
        col("r.min_val").as("min_val"), col("r.max_val").as("max_val"))
      .orderBy("column_name")
  }

  val dqProfileLineitemSql: String = {
    val numeric = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val strings = Seq("l_returnflag", "l_linestatus")
    val numSel = numeric.map(c =>
      s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS nn_$c, " +
      s"count(DISTINCT $c) AS nd_$c, round(min($c), 6)::DOUBLE AS mn_$c, " +
      s"round(max($c), 6)::DOUBLE AS mx_$c").mkString(",\n    ")
    val strSel = strings.map(c =>
      s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS nn_$c, " +
      s"count(DISTINCT $c) AS nd_$c").mkString(",\n    ")
    val unions = ((numeric :+ "l_shipdate").map(c =>
      s"SELECT '$c' AS column_name, n_rows, nn_$c::BIGINT AS n_nulls, nd_$c AS n_distinct, mn_$c AS min_val, mx_$c AS max_val FROM agg") ++
      strings.map(c =>
        s"SELECT '$c', n_rows, nn_$c::BIGINT, nd_$c, NULL::DOUBLE, NULL::DOUBLE FROM agg"))
      .mkString("\n  UNION ALL ")
    s"""WITH agg AS (
       |  SELECT count(*) AS n_rows,
       |    $numSel,
       |    $strSel,
       |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS nn_l_shipdate,
       |    count(DISTINCT l_shipdate) AS nd_l_shipdate,
       |    (CAST(floor(epoch(min(l_shipdate)) / 86400) AS BIGINT))::DOUBLE AS mn_l_shipdate,
       |    (CAST(floor(epoch(max(l_shipdate)) / 86400) AS BIGINT))::DOUBLE AS mx_l_shipdate
       |  FROM lineitem
       |)
       |SELECT * FROM (
       |  $unions
       |) ORDER BY column_name""".stripMargin
  }

  // ------------------------------------------------------------- registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_gopher_rules" -> (gopherRules _),
    "quality_gopher_report" -> (gopherReport _),
    "mix_dsir_weights"     -> (dsirWeights _),
    "prep_token_budget"    -> (tokenBudget _),
    "pii_k_anonymity"      -> (kAnonymity _),
    "pii_l_diversity"      -> (lDiversity _),
    "dq_profile_lineitem"  -> (dqProfileLineitem _),
    "text_heaps_curve"     -> (heapsCurve _),
    "corpus_diff"          -> (corpusDiff _),
    "pipeline_gated_set"   -> (gatedTrainingSet _),
    "mix_waterfill_budget" -> (waterfillBudget _),
    "mix_dsir_resample"    -> (dsirResample _),
    "curate_quality_dup_xtab" -> (qualityDupXtab _),
    "text_distinct_n"      -> (distinctN _))

  val oracles: Map[String, String] = Map(
    "quality_gopher_rules" -> gopherRulesSql,
    "quality_gopher_report" -> gopherReportSql,
    "mix_dsir_weights"     -> dsirWeightsSql,
    "prep_token_budget"    -> tokenBudgetSql,
    "pii_k_anonymity"      -> kAnonymitySql,
    "pii_l_diversity"      -> lDiversitySql,
    "dq_profile_lineitem"  -> dqProfileLineitemSql,
    "text_heaps_curve"     -> heapsCurveSql,
    "corpus_diff"          -> corpusDiffSql,
    "pipeline_gated_set"   -> gatedTrainingSetSql,
    "mix_waterfill_budget" -> waterfillBudgetSql,
    "mix_dsir_resample"    -> dsirResampleSql,
    "curate_quality_dup_xtab" -> qualityDupXtabSql,
    "text_distinct_n"      -> distinctNSql)
}
