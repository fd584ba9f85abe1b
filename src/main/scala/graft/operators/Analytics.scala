package graft.operators

import graft.Pins
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus/behavior analytics a training-data platform runs beside the
  * curation pipeline (SURVEY.md §2c extension scope; reference analogue:
  * ABSENT — the reference computes one hashtag count,
  * `tweet-streamer/src/main/scala/main.scala:47`). All six queries are
  * deterministic and hash-compared against the DuckDB oracle:
  *
  *  - event funnel: ordered-stage conversion (click → view → purchase);
  *  - SCD2 history: slowly-changing-dimension rows from an event log;
  *  - TF-IDF top terms: the classic corpus-relevance score, per doc;
  *  - domain mixing weights: per-source sampling weights to a uniform
  *    token mixture — the knob LLM data recipes tune;
  *  - per-lang KL divergence vs the global token distribution — drift /
  *    contamination detection between corpus slices;
  *  - MAD robust outliers: median/MAD z-scores, the quality-filter for
  *    numeric columns that survives the heavy tails stddev dies on.
  */
object Analytics {

  // ------------------------------------------------------------- funnel
  /** Ordered-stage funnel over the event log: users whose first `click`
    * precedes a later `view` precedes a later `purchase`. Each stage is a
    * per-user min-timestamp aggregate shuffled by `user_id`, then an
    * equi-join to the previous stage with a strict time predicate — no
    * window over the full log, no per-user sort; state per user is one
    * timestamp per stage, so the plan is three partial+final aggregates
    * and two shuffle joins regardless of log depth (at 100 TB the event
    * scan dominates, as it must). */
  def funnelStages(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val t1 = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "view").join(t1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase").join(t2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    t1.agg(count(lit(1)).as("n_users")).select(lit("1_click").as("stage"), col("n_users"))
      .unionByName(t2.agg(count(lit(1)).as("n_users"))
        .select(lit("2_view_after_click").as("stage"), col("n_users")))
      .unionByName(t3.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase_after_view").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  val funnelStagesSql: String =
    """WITH t1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'click' GROUP BY 1
      |), t2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN t1 ON e.user_id = t1.user_id
      |  WHERE e.event_type = 'view' AND e.ts > t1.t1 GROUP BY 1
      |), t3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN t2 ON e.user_id = t2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1
      |)
      |SELECT '1_click' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM t1
      |UNION ALL SELECT '2_view_after_click', CAST(count(*) AS BIGINT) FROM t2
      |UNION ALL SELECT '3_purchase_after_view', CAST(count(*) AS BIGINT) FROM t3
      |ORDER BY stage""".stripMargin

  // ------------------------------------------------------------- SCD2
  /** Slowly-changing-dimension type-2 history from the event log: one row
    * per (user, event_type) RUN, valid from its first second until the
    * next change (NULL = still current). Ordering is (epoch-second,
    * event_id) on BOTH engines — second granularity sidesteps the
    * micro-vs-nano timestamp precision split between Spark and DuckDB,
    * and `event_id` breaks same-second ties identically. Two windows over
    * one `user_id` partitioning → a single shuffle + per-user sort; the
    * change filter drops run-continuation rows BETWEEN the windows, so
    * the expensive full-log sort happens exactly once. */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val runs = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    runs
      .withColumn("valid_to", lead(col("sec"), 1).over(byUser))
      .select(col("user_id"), col("event_type"), col("sec").as("valid_from"),
        col("valid_to"))
      .orderBy("user_id", "valid_from", "event_type")
  }

  val scd2HistorySql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_type, event_id,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev
      |  FROM events
      |), runs AS (
      |  SELECT user_id, event_type, event_id, sec FROM ordered
      |  WHERE prev IS NULL OR prev <> event_type
      |)
      |SELECT user_id, event_type, sec AS valid_from,
      |       lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS valid_to
      |FROM runs ORDER BY user_id, valid_from, event_type""".stripMargin

  // ------------------------------------------------------------- TF-IDF
  /** Per-document top-3 TF-IDF terms. tf = in-doc occurrences, idf =
    * ln(N/df) with df = docs containing the term; score rounded to 6
    * decimals (ln magnitudes here are ≤ ln(N), so engine ulp differences
    * sit ~9 orders below the rounding grid). The doc-frequency table is
    * distinct-tokens-sized (vocabulary, not corpus) → broadcast to the
    * per-doc tf aggregate; N is one scalar. The only full-corpus shuffle
    * is the tf groupBy — the same cost profile as the flagship token
    * count. Top-3 via a per-doc window with a total (score, tok) order. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    // cached: both the scoring join and the doc-frequency aggregate read
    // tf — without the cache the corpus-wide tokenize+aggregate runs twice
    val tf = Pins.cache(toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, dir).agg(countDistinct(col("doc_id")).as("n"))
    val scored = tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n").cast("double") / col("df")), 6))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("tok"), col("score"))
      .orderBy("doc_id", "rk")
  }

  val tfidfTopTermsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), tf AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
      |), dfreq AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
      |), scored AS (
      |  SELECT tf.doc_id, tf.tok,
      |         round(tf.tf * ln((SELECT count(DISTINCT doc_id) FROM documents) * 1.0 / dfreq.df), 6) AS score
      |  FROM tf JOIN dfreq ON tf.tok = dfreq.tok
      |), ranked AS (
      |  SELECT doc_id, tok, score,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rk
      |  FROM scored
      |)
      |SELECT doc_id, CAST(rk AS INT) AS rk, tok, score FROM ranked
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // --------------------------------------------------------------- BM25
  /** Fixed query-term set for the BM25 ranking query — drawn from the
    * corpus vocabulary so document frequencies are non-degenerate. */
  val Bm25Terms: Seq[String] = Seq("spark", "shuffle", "window")
  /** Okapi BM25 free parameters (the standard defaults from Robertson &
    * Zaragoza 2009, "The Probabilistic Relevance Framework: BM25 and
    * Beyond"). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Top-20 documents by Okapi BM25 against [[Bm25Terms]] — the ranking
    * function behind quality-aware retrieval over a training corpus
    * (surfacing docs about a topic, scoring query overlap for curation).
    * idf uses the +1-inside-the-log form (`ln((N−df+0.5)/(df+0.5) + 1)`,
    * Lucene's variant) so scores stay positive for common terms. Cost
    * profile at 100 TB: one corpus-wide tf groupBy (the same shuffle as
    * the flagship token count); the query-term df table is |terms| rows
    * and the corpus stats one row — both broadcast; only docs containing
    * ≥ 1 query term survive the semi-selective tf⋈terms join, so the
    * scoring aggregate is output-sized, not corpus-sized. Scores are
    * rounded to 6 decimals (tfidf precedent: engine ulp differences in
    * `ln` sit ~9 orders below the rounding grid) → hash-gated. Top-20 is
    * a fused sort+limit (`TakeOrderedAndProject`), never a global sort. */
  def bm25Search(s: SparkSession, dir: String): DataFrame =
    bm25From(s, Tables.documents(s, dir))

  /** [[bm25Search]] parametrized by the document set. */
  private[graft] def bm25From(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    // cached: doc lengths, query-term dfs and the scoring join all read tf
    val tf = Pins.cache(toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).cast("double").as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n"))
    val terms = Bm25Terms.toDF("term")
    val dfreq = tf.join(broadcast(terms), col("tok") === col("term"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("part",
        col("idf") * col("tf") * lit(Bm25K1 + 1.0) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(round(sum(col("part")), 6).as("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(20)
  }

  val bm25SearchSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
       |q AS (SELECT unnest([${Bm25Terms.map("'" + _ + "'").mkString(", ")}]) AS term),
       |dfreq AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf
       |  WHERE tok IN (SELECT term FROM q) GROUP BY tok
       |)
       |SELECT tf.doc_id,
       |       round(sum(ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
       |         * tf.tf * ${Bm25K1 + 1.0}
       |         / (tf.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl.dl / stats.avgdl))), 6) AS score
       |FROM tf JOIN dfreq ON tf.tok = dfreq.tok
       |JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
       |GROUP BY tf.doc_id
       |ORDER BY score DESC, tf.doc_id LIMIT 20""".stripMargin

  // ------------------------------------------------- domain mixing weights
  /** Per-source sampling weights to reach a UNIFORM token mixture — the
    * data-recipe computation behind "upweight small domains": weight =
    * target share / actual share, where actual = source tokens / corpus
    * tokens. A source at exactly target share gets 1.0; a 2×-overweight
    * source gets 0.5. One corpus scan → per-source token-count aggregate;
    * the totals are a two-row broadcast. */
  /** Per-source (source, n_docs, n_tokens, weight) with the weight
    * UNROUNDED — the shared model side for [[mixDomainWeights]] (reports
    * it) and [[mixResample]] (applies it). */
  private def sourceWeights(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val totals = perSource.agg(
      sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).cast("long").as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("total_tokens").cast("double") /
          (col("n_sources") * col("n_tokens"))).as("weight"))
  }

  def mixDomainWeights(s: SparkSession, dir: String): DataFrame =
    sourceWeights(s, dir)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("weight"), 6).as("weight"))
      .orderBy("source")

  val mixDomainWeightsSql: String =
    """WITH per_source AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1
      |), totals AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |         CAST(count(*) AS BIGINT) AS n_sources
      |  FROM per_source
      |)
      |SELECT source, n_docs, n_tokens,
      |       round(total_tokens * 1.0 / (n_sources * n_tokens), 6) AS weight
      |FROM per_source, totals ORDER BY source""".stripMargin

  // --------------------------------------------- temperature-scaled mix
  /** Temperature-scaled source sampling shares — the α-smoothed rule
    * multilingual/multi-source training mixes actually use (w_s ∝ n_s^α;
    * α = 0.5 here, the mBERT/XLM exponent): big sources are damped, small
    * sources boosted, but never to uniformity (α = 0) nor proportionality
    * (α = 1). Output per source: token mass, its natural share, the
    * temperature share, and the boost factor (temperature ÷ natural — the
    * up/down-sampling multiplier a writer applies). Cross-engine float
    * discipline: n^0.5 is one correctly-rounded IEEE sqrt per source, the
    * share is one division against a sources-count-sized sum, and every
    * published value rounds at 6 dp — the [[klLangDrift]] Σ-then-round
    * precedent. One aggregate + a broadcast of the sources-sized frame. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy("source").agg(sum(col("n_toks")).as("n_tokens"))
      .withColumn("w_raw", sqrt(col("n_tokens").cast("double")))
    val totals = perSource.agg(sum(col("n_tokens")).as("total_tokens"),
      sum(col("w_raw")).as("w_sum"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"),
        round(col("n_tokens") / col("total_tokens"), 6).as("natural_share"),
        round(col("w_raw") / col("w_sum"), 6).as("temp_share"),
        round((col("w_raw") / col("w_sum")) /
              (col("n_tokens") / col("total_tokens")), 6).as("boost"))
      .orderBy("source")
  }

  val mixTemperatureSql: String =
    """WITH per_source AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |),
      |w AS (SELECT source, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS w_raw FROM per_source),
      |totals AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens, sum(w_raw) AS w_sum FROM w
      |)
      |SELECT source, n_tokens,
      |       round(n_tokens * 1.0 / total_tokens, 6) AS natural_share,
      |       round(w_raw / w_sum, 6) AS temp_share,
      |       round((w_raw / w_sum) / (n_tokens * 1.0 / total_tokens), 6) AS boost
      |FROM w, totals ORDER BY source""".stripMargin

  // ------------------------------------------------- weighted resampling
  /** Applies [[sourceWeights]] as an actual downsampling pass — the
    * recipe step that FOLLOWS the weight computation: each document keeps
    * iff md5(doc_id)'s first 24 bits (mod 10⁶) fall under
    * min(1, weight)·10⁶. Content-keyed acceptance (same discipline as the
    * md5 train/valid/test split): no RNG, no seed, stable across reruns,
    * engines, and corpus growth — and exactly reproducible by the oracle.
    * Overweight (small) sources saturate at keep-all; at a real 100 TB
    * mixing step those would instead repeat-sample with weight > 1, a
    * writer-side concern this accounting view deliberately excludes. The
    * acceptance threshold is floored to an INTEGER before the compare, so
    * no float comparison sits on the keep/drop boundary. */
  def mixResample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    docs.join(broadcast(sourceWeights(s, dir)), "source")
      .withColumn("u",
        conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long") % 1000000L)
      .withColumn("thresh", floor(least(lit(1.0), col("weight")) * 1000000).cast("long"))
      .withColumn("keep", col("u") < col("thresh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L)).as("kept_tokens"),
        round(max(col("weight")), 6).as("weight"))
      .orderBy("source")
  }

  val mixResampleSql: String =
    """WITH per_source AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1
      |), totals AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |         CAST(count(*) AS BIGINT) AS n_sources
      |  FROM per_source
      |), weights AS (
      |  -- CAST, not *1.0: the DECIMAL route could differ in the last ulp,
      |  -- and this weight feeds an integer floor threshold
      |  SELECT source, CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens) AS weight
      |  FROM per_source, totals
      |), scored AS (
      |  SELECT d.source, len(string_split(d.text, ' ')) AS n_toks,
      |         CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 1000000 AS u,
      |         CAST(floor(least(1.0, w.weight) * 1000000) AS BIGINT) AS thresh,
      |         w.weight
      |  FROM documents d JOIN weights w ON d.source = w.source
      |)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN u < thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(sum(CASE WHEN u < thresh THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens,
      |       round(max(weight), 6) AS weight
      |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------- per-lang KL drift
  /** KL(lang ‖ corpus) over token distributions — how far each language
    * slice drifts from the global unigram mix (the same statistic used to
    * detect contamination between corpus shards). Every lang token exists
    * globally (subset), so q > 0 and the sum is well-defined. Both
    * distributions come from ONE tokenize + one (lang, tok) aggregate;
    * the global marginal is re-aggregated from the per-lang counts (no
    * second corpus scan) and broadcast — vocabulary-sized, not
    * corpus-sized. */
  def klLangDrift(s: SparkSession, dir: String): DataFrame = {
    val langTok = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
    val langTotals = langTok.groupBy("lang").agg(sum(col("cnt")).as("lang_total"))
    val global = langTok.groupBy("tok").agg(sum(col("cnt")).as("gcnt"))
    val grand = global.agg(sum(col("gcnt")).as("grand"))
    langTok.join(langTotals, "lang").join(broadcast(global), "tok")
      .crossJoin(broadcast(grand))
      .withColumn("term",
        (col("cnt") / col("lang_total")) *
          log((col("cnt").cast("double") * col("grand")) /
              (col("lang_total") * col("gcnt"))))
      .groupBy("lang")
      .agg(round(sum(col("term")), 6).as("kl"),
           max(col("lang_total")).as("lang_tokens"))
      .orderBy("lang")
  }

  val klLangDriftSql: String =
    """WITH lt AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
      |), langtok AS (
      |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt FROM lt GROUP BY 1, 2
      |), lang_totals AS (
      |  SELECT lang, CAST(sum(cnt) AS BIGINT) AS lang_total FROM langtok GROUP BY 1
      |), global AS (
      |  SELECT tok, CAST(sum(cnt) AS BIGINT) AS gcnt FROM langtok GROUP BY 1
      |), grand AS (
      |  SELECT CAST(sum(gcnt) AS BIGINT) AS grand FROM global
      |)
      |SELECT langtok.lang,
      |       round(sum((cnt * 1.0 / lang_total) *
      |                 ln((cnt * 1.0 * grand) / (lang_total * 1.0 * gcnt))), 6) AS kl,
      |       CAST(max(lang_total) AS BIGINT) AS lang_tokens
      |FROM langtok
      |JOIN lang_totals ON langtok.lang = lang_totals.lang
      |JOIN global ON langtok.tok = global.tok, grand
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------- MAD outliers
  /** Robust outlier counts per order status: median + MAD (median
    * absolute deviation), then |x − med| > 3.5·MAD — the modified-z rule.
    * Unlike mean/stddev this survives the heavy tail it is trying to
    * detect (one 10⁹ value shifts a mean arbitrarily, a median not at
    * all). Two exact-median passes (med, then MAD over |x − med|) — each
    * an interpolated `percentile` needing a per-group sort, the price of
    * exactness the percentile query already documents; groups are 3-ary
    * so the joins broadcast. */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderstatus"), col("o_totalprice"))
    val med = o.groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
    val mad = o.join(broadcast(med), "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(expr("percentile(abs(o_totalprice - med), 0.5)").as("mad"))
    o.join(broadcast(med), "o_orderstatus").join(broadcast(mad), "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(max(col("med")), 6).as("med"),
        round(max(col("mad")), 6).as("mad"),
        sum(when(abs(col("o_totalprice") - col("med")) > col("mad") * 3.5, 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("o_orderstatus")
  }

  val madOutliersSql: String =
    """WITH med AS (
      |  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
      |  FROM orders GROUP BY 1
      |), mad AS (
      |  SELECT o.o_orderstatus, quantile_cont(abs(o.o_totalprice - med.med), 0.5) AS mad
      |  FROM orders o JOIN med ON o.o_orderstatus = med.o_orderstatus GROUP BY 1
      |)
      |SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |       round(max(med.med), 6) AS med, round(max(mad.mad), 6) AS mad,
      |       CAST(sum(CASE WHEN abs(o.o_totalprice - med.med) > mad.mad * 3.5
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM orders o
      |JOIN med ON o.o_orderstatus = med.o_orderstatus
      |JOIN mad ON o.o_orderstatus = mad.o_orderstatus
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ cohort retention
  /** Weekly cohort-retention matrix: users bucketed by first-seen week,
    * then the share of each cohort active in every later week. Two
    * aggregates over one event scan — per-user first week (shuffle by
    * user), then distinct (cohort, user, week) → cell counts; the cohort
    * sizes re-aggregate from the first pass and broadcast back. Weeks are
    * epoch-aligned integer division — identical bucketing in both
    * engines, no calendar/locale dependence. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val weeks = Tables.events(s, dir)
      .select(col("user_id"), (unix_timestamp(col("ts")) / 604800L).cast("long").as("week"))
    val firstWeek = weeks.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val cohortSize = firstWeek.groupBy("cohort_week")
      .agg(countDistinct(col("user_id")).as("cohort_n"))
    weeks.join(firstWeek, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(cohortSize), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        round(col("n_active") / col("cohort_n"), 6).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  // ------------------------------------------------ rolling z-score anomaly
  /** Trailing-window z-score anomaly detection over the event stream — the
    * ops-dashboard query behind every "traffic looks weird today" page: per
    * event type, each day's count is scored against the mean/stddev of the
    * 7 preceding OBSERVED days (ROWS frame — calendar gaps collapse, which
    * is the right call for sparse types; a RANGE-frame calendar variant
    * differs only in the frame spec). Rows without a full 7-day history or
    * with zero variance are withheld rather than scored against garbage.
    * |z| ≥ 2 flags the anomaly; the unrounded z decides the flag in both
    * engines, so the boundary is IEEE-identical.
    *
    * Scale: one day-grain pre-aggregate (map-side combined), then a window
    * over (type, day) — thousands of rows per year regardless of event
    * volume; the corpus contributes a single scan. */
  def tsAnomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"),
        (unix_timestamp(col("ts")) / 86400L).cast("long").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
    val f = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("n_prev", count(lit(1)).over(f))
      .withColumn("mean7", avg(col("n_events")).over(f))
      .withColumn("sd7", stddev_samp(col("n_events").cast("double")).over(f))
      .filter(col("n_prev") === 7 && col("sd7") > 0)
      .select(col("event_type"), col("day"), col("n_events"),
        round(col("mean7"), 6).as("mean7"),
        round(col("sd7"), 6).as("sd7"),
        round((col("n_events") - col("mean7")) / col("sd7"), 6).as("z"),
        (abs((col("n_events") - col("mean7")) / col("sd7")) >= 2.0)
          .cast("int").as("anomaly"))
      .orderBy("event_type", "day")
  }

  val tsAnomalyZscoreSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |         count(*) AS n_events
      |  FROM events GROUP BY 1, 2
      |), w AS (
      |  SELECT event_type, day, n_events,
      |    count(*) OVER f AS n_prev,
      |    avg(n_events) OVER f AS mean7,
      |    stddev_samp(n_events) OVER f AS sd7
      |  FROM daily
      |  WINDOW f AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |)
      |SELECT event_type, day, n_events,
      |       round(mean7, 6) AS mean7, round(sd7, 6) AS sd7,
      |       round((n_events - mean7) / sd7, 6) AS z,
      |       CAST(abs((n_events - mean7) / sd7) >= 2.0 AS INT) AS anomaly
      |FROM w WHERE n_prev = 7 AND sd7 > 0
      |ORDER BY event_type, day""".stripMargin

  val cohortRetentionSql: String =
    """WITH weeks AS (
      |  SELECT user_id, CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week FROM events
      |), first_week AS (
      |  SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1
      |), cohort_size AS (
      |  SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_n
      |  FROM first_week GROUP BY 1
      |)
      |SELECT f.cohort_week, w.week - f.cohort_week AS week_offset,
      |       CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_active,
      |       round(count(DISTINCT w.user_id) * 1.0 / max(c.cohort_n), 6) AS retention
      |FROM weeks w
      |JOIN first_week f ON w.user_id = f.user_id
      |JOIN cohort_size c ON f.cohort_week = c.cohort_week
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------- skew profile
  /** Key-skew diagnosis for the fact table's join key: per-key row counts
    * bucketed into power-of-two bands via explicit CASE ranges (NOT
    * floating log2, whose exact-power values differ by 1 ulp between
    * engines and would flip bucket edges). This is the profile you run
    * BEFORE choosing salted-join factors — the heavy tail it reveals is
    * what join_salted then handles. */
  def skewProfile(s: SparkSession, dir: String): DataFrame = {
    val perKey = Tables.lineitem(s, dir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("c"))
    perKey
      .withColumn("band",
        when(col("c") === 1, "1: 1")
          .when(col("c") <= 3, "2: 2-3")
          .when(col("c") <= 7, "3: 4-7")
          .when(col("c") <= 15, "4: 8-15")
          .otherwise("5: 16+"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
           max(col("c")).as("max_per_key"))
      .orderBy("band")
  }

  val skewProfileSql: String =
    """WITH per_key AS (
      |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1
      |)
      |SELECT CASE WHEN c = 1 THEN '1: 1' WHEN c <= 3 THEN '2: 2-3'
      |            WHEN c <= 7 THEN '3: 4-7' WHEN c <= 15 THEN '4: 8-15'
      |            ELSE '5: 16+' END AS band,
      |       CAST(count(*) AS BIGINT) AS n_keys,
      |       CAST(sum(c) AS BIGINT) AS n_rows,
      |       CAST(max(c) AS BIGINT) AS max_per_key
      |FROM per_key GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------- PageRank
  private val PrIters = 3
  private val PrDamp = 0.85

  /** PageRank (3 fixed iterations, d=0.85) over the supplier
    * co-fulfillment graph: suppliers adjacent when they ship lines of the
    * same ORDER. The grouping key matters at scale: orders carry ~4
    * suppliers each (pair fan-out ~n·4), where parts carry ~30
    * (fan-out ~n·30, measured 10× the intermediate volume) — pick the
    * sparsest co-occurrence key that still encodes the relation. Edges
    * are symmetric, so no dangling-mass correction is needed. Each
    * iteration is one shuffle join (rank/degree along edges) + one
    * aggregate; the loop is STATIC (fixed depth, no driver-side
    * convergence count), so the whole thing stays one lazy Catalyst
    * plan. Scores round(6) — float summation-order drift across engines
    * sits ~9 orders below that. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    // pair generation: ONE shuffle by order key into per-order supplier
    // SETS (bounded, ~4 members), pairs exploded row-locally — a
    // two-sided self-join would shuffle the fact projection twice and
    // meet skew at hot keys; collect_set keeps the heavy stage narrow.
    // The unrolled plan references the edge list 2x per iteration — cache
    // it (and the degree table) so pair generation runs once, not 7
    // times; the node count rides along as a broadcast scalar column
    // instead of a driver-side count() job, keeping the whole operator
    // one lazy plan
    val perOrder = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(collect_set(col("l_suppkey")).as("sks"))
    val edges = Pins.cache(perOrder
      .select(explode(col("sks")).as("src"), col("sks"))
      .select(col("src"), explode(col("sks")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      // the per-iteration contribution join hashes edges by src; distinct
      // leaves the cache partitioned by (src, dst), so every iteration
      // re-exchanged the edge table. One repartition at cache time aligns
      // the cached layout with the join key — the cache's partitioning is
      // what the joins reuse, so all PrIters edge-side exchanges disappear
      // (r19 optimization, guide §2.4: two operations keyed the same way
      // share one exchange). Skew note: a hot src hashes to one partition
      // either way — this moves the exchange, it cannot add skew.
      .repartition(col("src")))
    val deg = Pins.cache(edges.groupBy("src").agg(count(lit(1)).as("deg")))
    val nn = deg.agg(count(lit(1)).cast("double").as("nn"))
    var pr = deg.select(col("src").as("node")).crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("nn")).as("pr"), col("nn"))
    for (_ <- 1 to PrIters) {
      val contrib = edges.join(pr.select(col("node").as("src"), col("pr")), "src")
        .join(deg, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("deg")).as("inflow"))
      pr = pr.select(col("node"), col("nn")).join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(1 - PrDamp) / col("nn") +
            lit(PrDamp) * coalesce(col("inflow"), lit(0.0))).as("pr"), col("nn"))
    }
    pr.select(col("node").as("s_suppkey"), round(col("pr"), 6).as("pagerank"))
      .orderBy("s_suppkey")
  }

  val graphPagerankSql: String = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT n.node, (1 - $PrDamp) / (SELECT n FROM nn) + $PrDamp * coalesce(sum(p.pr / d.deg), 0) AS pr
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN $prev p ON p.node = e.src
         |  LEFT JOIN deg d ON d.src = e.src
         |  GROUP BY n.node
         |)""".stripMargin
    s"""WITH ps AS (SELECT DISTINCT l_orderkey AS p, l_suppkey AS sk FROM lineitem),
       |edges AS (
       |  SELECT DISTINCT a.sk AS src, b.sk AS dst
       |  FROM ps a JOIN ps b ON a.p = b.p AND a.sk <> b.sk
       |),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
       |nodes AS (SELECT src AS node FROM deg),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       |pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
       |${iter("pr0", "pr1")},
       |${iter("pr1", "pr2")},
       |${iter("pr2", "pr3")}
       |SELECT node AS s_suppkey, round(pr, 6) AS pagerank
       |FROM pr3 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------- correlation matrix
  /** Pearson correlation matrix between event types over their daily
    * count series — `corr`/`covar_samp` as first-class aggregates, with
    * the statistical care that makes the numbers meaningful: the series
    * are ZERO-FILLED over the full (day × type) grid before correlating
    * (an inner join on observed days silently conditions on joint
    * activity and inflates correlations). The grid is days × types —
    * trivially small at any corpus scale; the one real scan is the daily
    * count aggregate. Output includes the diagonal (corr = 1) as a
    * built-in self-check. */
  def typeCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select((unix_timestamp(col("ts")) / 86400L).cast("long").as("day"),
        col("event_type"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("cnt"))
    val days = daily.select("day").distinct()
    val types = daily.select("event_type").distinct()
    val grid = days.crossJoin(broadcast(types))
    val dense = grid.join(daily, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).cast("double").as("c"))
    val a = dense.select(col("day"), col("event_type").as("ta"), col("c").as("ca"))
    val b = dense.select(col("day"), col("event_type").as("tb"), col("c").as("cb"))
    a.join(b, "day")
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("n_days"),
        round(corr(col("ca"), col("cb")), 6).as("pearson"),
        round(covar_samp(col("ca"), col("cb")), 6).as("covar"))
      .orderBy("ta", "tb")
  }

  val typeCorrMatrixSql: String =
    """WITH daily AS (
      |  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, event_type,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2
      |), grid AS (
      |  SELECT d.day, t.event_type
      |  FROM (SELECT DISTINCT day FROM daily) d
      |  CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
      |), dense AS (
      |  SELECT g.day, g.event_type, CAST(coalesce(dd.cnt, 0) AS DOUBLE) AS c
      |  FROM grid g LEFT JOIN daily dd ON g.day = dd.day AND g.event_type = dd.event_type
      |)
      |SELECT a.event_type AS ta, b.event_type AS tb,
      |       CAST(count(*) AS BIGINT) AS n_days,
      |       round(corr(a.c, b.c), 6) AS pearson,
      |       round(covar_samp(a.c, b.c), 6) AS covar
      |FROM dense a JOIN dense b ON a.day = b.day
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------- regression aggregates
  /** Per-type activity TREND via the SQL:2016 regression aggregates
    * (`regr_slope`/`regr_intercept`/`regr_r2` — closed-form OLS as a
    * one-pass aggregate, no iterative fitting): daily counts regressed
    * on day index, zero-filled over the day grid like the correlation
    * matrix (missing days are real zeros, not missing observations).
    * This is the drift detector for ingest monitoring — a source whose
    * slope turns negative is drying up. One scan → one tiny aggregate. */
  def typeTrendRegr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select((unix_timestamp(col("ts")) / 86400L).cast("long").as("day"),
        col("event_type"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("cnt"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val days = daily.select("day").distinct()
    val types = daily.select("event_type").distinct()
    days.crossJoin(broadcast(types))
      .join(daily, Seq("day", "event_type"), "left")
      .crossJoin(broadcast(d0))
      .select(col("event_type"), (col("day") - col("d0")).cast("double").as("x"),
        coalesce(col("cnt"), lit(0L)).cast("double").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        round(expr("regr_slope(y, x)"), 6).as("slope"),
        round(expr("regr_intercept(y, x)"), 6).as("intercept"),
        round(expr("regr_r2(y, x)"), 6).as("r2"))
      .orderBy("event_type")
  }

  val typeTrendRegrSql: String =
    """WITH daily AS (
      |  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, event_type,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2
      |), dense AS (
      |  SELECT g.event_type,
      |         CAST(g.day - (SELECT min(day) FROM daily) AS DOUBLE) AS x,
      |         CAST(coalesce(dd.cnt, 0) AS DOUBLE) AS y
      |  FROM (SELECT d.day, t.event_type
      |        FROM (SELECT DISTINCT day FROM daily) d
      |        CROSS JOIN (SELECT DISTINCT event_type FROM daily) t) g
      |  LEFT JOIN daily dd ON g.day = dd.day AND g.event_type = dd.event_type
      |)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |       round(regr_slope(y, x), 6) AS slope,
      |       round(regr_intercept(y, x), 6) AS intercept,
      |       round(regr_r2(y, x), 6) AS r2
      |FROM dense GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ winsorized aggregates
  /** Winsorized mean/stddev per order priority: values clipped to the
    * group's [p05, p95] before aggregating — the robust-moments
    * complement to [[madOutliers]] (which counts outliers; this bounds
    * their influence on the statistics a recipe actually consumes). Two
    * passes: exact percentile bounds per group (tiny, broadcast back),
    * then one clipped aggregate over the fact scan. round(6) keeps both
    * engines' float summation drift below the output grid. */
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderpriority"), col("o_totalprice"))
    val bounds = o.groupBy("o_orderpriority")
      .agg(expr("percentile(o_totalprice, 0.05)").as("lo"),
           expr("percentile(o_totalprice, 0.95)").as("hi"))
    o.join(broadcast(bounds), "o_orderpriority")
      .withColumn("w", least(greatest(col("o_totalprice"), col("lo")), col("hi")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
           round(avg(col("w")), 6).as("wmean"),
           round(stddev_samp(col("w")), 6).as("wstd"),
           round(max(col("lo")), 6).as("lo"),
           round(max(col("hi")), 6).as("hi"))
      .orderBy("o_orderpriority")
  }

  val winsorizedStatsSql: String =
    """WITH bounds AS (
      |  SELECT o_orderpriority,
      |         quantile_cont(o_totalprice, 0.05) AS lo,
      |         quantile_cont(o_totalprice, 0.95) AS hi
      |  FROM orders GROUP BY 1
      |)
      |SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |       round(avg(least(greatest(o.o_totalprice, b.lo), b.hi)), 6) AS wmean,
      |       round(stddev_samp(least(greatest(o.o_totalprice, b.lo), b.hi)), 6) AS wstd,
      |       round(max(b.lo), 6) AS lo, round(max(b.hi), 6) AS hi
      |FROM orders o JOIN bounds b ON o.o_orderpriority = b.o_orderpriority
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ session funnel
  /** The funnel scoped to gap-sessions: conversion only counts when the
    * whole click → view → purchase progression happens INSIDE one
    * 1800 s-gap session — `sessionize`'s session-id construction (same
    * window, same gap rule, oracle-checked there) composed with
    * [[funnelStages]]'s min-timestamp cascade, now keyed by
    * (user, session). One full-log window pass assigns session ids; the
    * three stage aggregates and joins all share that (user, session)
    * shuffle key. Output is the four funnel counters in one row. */
  def sessionFunnel(s: SparkSession, dir: String): DataFrame = {
    // every window orders by (epoch-second, event_id) — engine-agnostic
    // (the micro-vs-nano precision split cannot reorder rows) and
    // tie-free (event_id is unique), so the cumulative session ids are
    // identical on both sides
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("prev_sec", lag(col("sec"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(byUser))
      .select(col("user_id"), col("session_id"), col("event_type"), col("sec"))
    val key = Seq("user_id", "session_id")
    val t1 = sess.filter(col("event_type") === "click")
      .groupBy(key.head, key.tail: _*).agg(min(col("sec")).as("t1"))
    val t2 = sess.filter(col("event_type") === "view").join(t1, key)
      .filter(col("sec") > col("t1"))
      .groupBy(key.head, key.tail: _*).agg(min(col("sec")).as("t2"))
    val t3 = sess.filter(col("event_type") === "purchase").join(t2, key)
      .filter(col("sec") > col("t2"))
      .groupBy(key.head, key.tail: _*).agg(min(col("sec")).as("t3"))
    sess.select(col("user_id"), col("session_id")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
      .crossJoin(broadcast(t1.agg(count(lit(1)).as("n_click"))))
      .crossJoin(broadcast(t2.agg(count(lit(1)).as("n_click_view"))))
      .crossJoin(broadcast(t3.agg(count(lit(1)).as("n_full_funnel"))))
  }

  val sessionFunnelSql: String =
    """WITH base AS (
      |  SELECT user_id, event_id, event_type,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events
      |), marked AS (
      |  SELECT user_id, event_id, event_type, sec,
      |         CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM base
      |  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
      |), sess AS (
      |  SELECT user_id, event_type, sec,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS session_id
      |  FROM marked
      |), t1 AS (
      |  SELECT user_id, session_id, min(sec) AS t1 FROM sess
      |  WHERE event_type = 'click' GROUP BY 1, 2
      |), t2 AS (
      |  SELECT s.user_id, s.session_id, min(s.sec) AS t2
      |  FROM sess s JOIN t1 ON s.user_id = t1.user_id AND s.session_id = t1.session_id
      |  WHERE s.event_type = 'view' AND s.sec > t1.t1 GROUP BY 1, 2
      |), t3 AS (
      |  SELECT s.user_id, s.session_id, min(s.sec) AS t3
      |  FROM sess s JOIN t2 ON s.user_id = t2.user_id AND s.session_id = t2.session_id
      |  WHERE s.event_type = 'purchase' AND s.sec > t2.t2 GROUP BY 1, 2
      |)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT user_id, session_id FROM sess)) AS n_sessions,
      |       (SELECT CAST(count(*) AS BIGINT) FROM t1) AS n_click,
      |       (SELECT CAST(count(*) AS BIGINT) FROM t2) AS n_click_view,
      |       (SELECT CAST(count(*) AS BIGINT) FROM t3) AS n_full_funnel""".stripMargin

  // ------------------------------------------------- data-quality audit
  /** Expectation-suite audit (the dbt-tests / DLT-expectations operator):
    * each rule is a predicate counted over its table in ONE pass per
    * table — violations are `sum(when(...))` conditional aggregates, so
    * adding a rule adds a column, never a scan. The two non-row-local
    * rules cost what they must: referential integrity is a broadcast-dim
    * anti-join count, key uniqueness one groupBy on the key. Emitting
    * (rule, checked, violations) rather than failing fast is the
    * 100 TB-friendly contract: one job surfaces the full damage report
    * instead of dying at the first bad row. */
  def dqExpectations(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val orderRules = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("price_pos"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("status_enum"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("cust_notnull"))
    val liRules = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L)).as("discount_range"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("shipdate_notnull"))
    val orphans = li.join(broadcast(o.select(col("o_orderkey"))),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    val dupKeys = o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).agg(count(lit(1)).as("v"))
    val liN = li.agg(count(lit(1)).as("n"))
    val oN = o.agg(count(lit(1)).as("n"))
    def rule(id: String, checked: Column, violations: Column,
             from: DataFrame): DataFrame =
      from.select(lit(id).as("rule"), checked.cast("long").as("n_checked"),
        violations.cast("long").as("n_violations"))
    rule("orders.custkey_not_null", col("n"), col("cust_notnull"), orderRules)
      .unionByName(rule("orders.orderkey_unique", col("n"), col("v"),
        dupKeys.crossJoin(oN)))
      .unionByName(rule("orders.status_in_enum", col("n"), col("status_enum"), orderRules))
      .unionByName(rule("orders.totalprice_positive", col("n"), col("price_pos"), orderRules))
      .unionByName(rule("lineitem.discount_in_0_1", col("n"), col("discount_range"), liRules))
      .unionByName(rule("lineitem.orderkey_referential", col("n"), col("v"),
        orphans.crossJoin(liN)))
      .unionByName(rule("lineitem.shipdate_not_null", col("n"), col("shipdate_notnull"), liRules))
      .orderBy("rule")
  }

  val dqExpectationsSql: String =
    """WITH o_agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS price_pos,
      |         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS status_enum,
      |         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS cust_notnull
      |  FROM orders
      |), li_agg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS discount_range,
      |         CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_notnull
      |  FROM lineitem
      |), orphans AS (
      |  SELECT CAST(count(*) AS BIGINT) AS v FROM lineitem
      |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      |), dup_keys AS (
      |  SELECT CAST(count(*) AS BIGINT) AS v FROM (
      |    SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1
      |  )
      |)
      |SELECT 'orders.custkey_not_null' AS rule, n AS n_checked, cust_notnull AS n_violations FROM o_agg
      |UNION ALL SELECT 'orders.orderkey_unique', (SELECT n FROM o_agg), v FROM dup_keys
      |UNION ALL SELECT 'orders.status_in_enum', n, status_enum FROM o_agg
      |UNION ALL SELECT 'orders.totalprice_positive', n, price_pos FROM o_agg
      |UNION ALL SELECT 'lineitem.discount_in_0_1', n, discount_range FROM li_agg
      |UNION ALL SELECT 'lineitem.orderkey_referential', (SELECT n FROM li_agg), v FROM orphans
      |UNION ALL SELECT 'lineitem.shipdate_not_null', n, shipdate_notnull FROM li_agg
      |ORDER BY rule""".stripMargin

  // ------------------------------------------------- triangle counting
  /** Triangle count + global clustering coefficient over the near-dup
    * pair graph — the cohesion profile of a dedup graph (dense triangles
    * = boilerplate families that cluster-collapse will fold; a high
    * wedge-to-triangle ratio = chains where greedy and CC semantics
    * diverge most). The ORDERED-edge algorithm: edges carry a < b, a
    * wedge (a<b<c) comes from joining e(a,b)⋈e(b,c), and a semi-join
    * against e(a,c) closes it — each triangle counted exactly once, all
    * equi joins. At 100 TB the standard refinement is ordering by DEGREE
    * instead of id (the join fan-out on a hub node is deg², and
    * degree-ordering bounds every node's out-edges by √|E|); id-order
    * keeps the oracle trivially reproducible here and the join shape is
    * identical. Wedges come from per-node degree aggregates (one tiny
    * agg), never a join. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val e = Pins.cache(Dedup.jaccardPairsFrom(Tables.documents(s, dir))
      .select(col("a_id").as("a"), col("b_id").as("b")))
    val wedgeJoin = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    val triangles = wedgeJoin
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val degrees = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // integral div end to end: the `/` operator promotes to double, and
    // past 2^53 total wedges the rounded double silently diverges from
    // the oracle's exact integer arithmetic — real at the 100 TB corpus
    // sizes this targets, invisible at test SFs
    val stats = degrees.agg(
      expr("sum(d) div 2").as("n_edges"),
      expr("sum((d * (d - 1)) div 2)").as("n_wedges"))
    stats.join(triangles, lit(true))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(col("n_triangles") * 3.0 / greatest(col("n_wedges"), lit(1L)), 6)
          .as("clustering_coef"))
  }

  val graphTrianglesSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
      |  WHERE len(tk) >= 3
      |),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |),
      |e AS (
      |  SELECT a_id AS a, b_id AS b FROM common
      |  JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
      |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
      |),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)
      |),
      |deg AS (
      |  SELECT v, count(*) AS d FROM (
      |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v
      |),
      |st AS (
      |  SELECT (sum(d) // 2)::BIGINT AS n_edges,
      |         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      |  FROM deg
      |)
      |SELECT n_edges, n_wedges, n_triangles,
      |       round(n_triangles * 3.0 / greatest(n_wedges, 1), 6) AS clustering_coef
      |FROM st, tri""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_triangles"    -> (graphTriangles _),
    "funnel_stages"      -> (funnelStages _),
    "scd2_history"       -> (scd2History _),
    "tfidf_top_terms"    -> (tfidfTopTerms _),
    "text_bm25_search"   -> (bm25Search _),
    "mix_domain_weights" -> (mixDomainWeights _),
    "mix_temperature"    -> (mixTemperature _),
    "kl_lang_drift"      -> (klLangDrift _),
    "mad_outliers"       -> (madOutliers _),
    "cohort_retention"   -> (cohortRetention _),
    "ts_anomaly_zscore"  -> (tsAnomalyZscore _),
    "skew_profile"       -> (skewProfile _),
    "graph_pagerank"     -> (graphPagerank _),
    "mix_resample"       -> (mixResample _),
    "dq_expectations"    -> (dqExpectations _),
    "session_funnel"     -> (sessionFunnel _),
    "winsorized_stats"   -> (winsorizedStats _),
    "type_corr_matrix"   -> (typeCorrMatrix _),
    "type_trend_regr"    -> (typeTrendRegr _))

  val oracles: Map[String, String] = Map(
    "graph_triangles"    -> graphTrianglesSql,
    "funnel_stages"      -> funnelStagesSql,
    "scd2_history"       -> scd2HistorySql,
    "tfidf_top_terms"    -> tfidfTopTermsSql,
    "text_bm25_search"   -> bm25SearchSql,
    "mix_domain_weights" -> mixDomainWeightsSql,
    "mix_temperature"    -> mixTemperatureSql,
    "kl_lang_drift"      -> klLangDriftSql,
    "mad_outliers"       -> madOutliersSql,
    "cohort_retention"   -> cohortRetentionSql,
    "ts_anomaly_zscore"  -> tsAnomalyZscoreSql,
    "skew_profile"       -> skewProfileSql,
    "graph_pagerank"     -> graphPagerankSql,
    "mix_resample"       -> mixResampleSql,
    "dq_expectations"    -> dqExpectationsSql,
    "session_funnel"     -> sessionFunnelSql,
    "winsorized_stats"   -> winsorizedStatsSql,
    "type_corr_matrix"   -> typeCorrMatrixSql,
    "type_trend_regr"    -> typeTrendRegrSql)
}
