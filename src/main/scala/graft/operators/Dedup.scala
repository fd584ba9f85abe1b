package graft.operators

import graft.Pins
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the LLM-training-pipeline
  * extension scope (SURVEY.md §2c). The reference has no dedup of any kind;
  * these are designed Spark-first for 100 TB corpora:
  *
  *  - exact dedup: one hash-shuffle on the text (at scale: on a digest of
  *    the text so the shuffle carries 16 bytes, not documents);
  *  - n-gram Jaccard: inverted-index candidate generation (explode shingles,
  *    self-join on shingle) — the classic all-pairs similarity join; never
  *    materializes the O(n²) cross product;
  *  - MinHash + LSH: fixed-size signatures (k hash functions over the
  *    shingle set), banded into buckets so only same-bucket pairs are
  *    compared — the 100 TB-scale path, with exact-Jaccard verification of
  *    candidates so false positives never escape;
  *  - SimHash: 64-bit fingerprint whose Hamming distance tracks cosine
  *    similarity of the token multiset; near-dup pairs found by
  *    pigeonhole-blocking on 8-bit sub-blocks.
  *
  * Jaccard scores are ratios of integers computed in double — bit-identical
  * across engines regardless of platform, so they are safe in hash-compared
  * oracle output. MinHash/SimHash depend on xxhash64 internals, which the
  * DuckDB oracle cannot reproduce → rows-only gate + scalatest recall checks
  * against the exact-Jaccard result.
  */
object Dedup {

  /** All n-token grams per document as (doc_id, s) rows, WITH multiplicity
    * (map-side only: split + transform + explode, no shuffle). The single
    * home of the 1-based-slice window expression — [[shingles]] and the
    * repetition filter both build on it. */
  private[graft] def ngrams(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(0, size(tk) - $n), i -> concat_ws(' ', slice(tk, i + 1, $n)))"))
          .as("s"))

  /** Distinct n-token shingles per document, deduplicated ROW-LOCALLY
    * (explode of [[shingleArrays]]'s per-row `array_distinct`) — the
    * earlier `ngrams(...).distinct()` paid a corpus-wide shuffle to group
    * by (doc_id, shingle) for a dedup that never crosses rows (r19
    * optimization; guide §2.4 "remove shuffles outright"). Same
    * (doc_id, s) row set — distinctness is per document either way. */
  private[graft] def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingleArrays(docs, n).select(col("doc_id"), explode(col("sh")).as("s"))

  // ------------------------------------------------------------ exact dedup
  /** Exact dedup: keep the lowest doc_id of each identical text, with the
    * group size. Implemented as a window over the text hash: at 100 TB the
    * shuffle key is a 128-bit digest (16 bytes/row), not the document text;
    * the full text never leaves the scan except for the single survivor.
    * (Collision risk of md5 on equality grouping is ~2^-64 at corpus scale —
    * the standard trade; a paranoid variant adds length to the key.) */
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text")), length(col("text")))
    Tables.documents(s, dir)
      .withColumn("rn", row_number().over(w.orderBy(col("doc_id"))))
      .withColumn("n_copies", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "n_copies", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val exactDedupSql: String =
    """SELECT doc_id, count(*) OVER (PARTITION BY text) AS n_copies,
      |       lang, source, n_chars
      |FROM documents
      |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- n-gram Jaccard near-dup join
  /** All-pairs 3-shingle Jaccard ≥ 0.5 via inverted index: explode distinct
    * shingles, self-join on shingle (only docs sharing ≥1 shingle ever
    * meet), count the intersection, derive the union by
    * |A∪B| = |A| + |B| − |A∩B|. The score is an integer ratio in double —
    * exact on both engines. At 100 TB the one refinement this needs is a
    * document-frequency cap on shingles (drop shingles appearing in > d
    * docs — they generate quadratic candidates and never decide a ≥0.5
    * pair on their own); semantics here keep every shingle so the DuckDB
    * oracle is exact. */
  /** Σ df² tripwire — the dedup/pipeline analogue of [[Similarity]]'s
    * exact-baseline guard (SAME conf key, same footer-metadata row
    * count): the exact shingle pair join's candidate space is Σ df²
    * over the shingle document frequencies — quadratic on a dense
    * vocabulary (measured 6.3–6.7× cost at 10× data, SCALE.md run E) —
    * so every query that rides it refuses corpora past the tripwire
    * and NAMES its gated banded twin, instead of quietly scheduling
    * the wrong plan over a 100 TB corpus. The row count reads parquet
    * footer metadata driver-side ([[Tables.footerRowCount]], cached) —
    * zero Spark jobs, so guarded builders keep the one-action-per-query
    * contract. Default sits above every harness/rehearsal corpus
    * (sf0.1 = 5 k docs, the sf1 rehearsal = 50 k) and below the
    * second-decade corpus (~500 k), where only the banded forms run. */
  private[graft] val MaxExactRowsKey = "spark.graft.exactBaseline.maxRows"
  /** A numeric `spark.graft.*` setting; a malformed value fails naming
    * the key and the value instead of a bare NumberFormatException. */
  private def numConf[T](s: SparkSession, key: String, default: T, what: String)
                        (parse: String => Option[T]): T =
    s.conf.getOption(key).map(v => parse(v.trim).getOrElse(
      throw new IllegalArgumentException(s"$key must be $what, got '$v'")))
      .getOrElse(default)
  private[operators] def longConf(s: SparkSession, key: String, default: Long): Long =
    numConf(s, key, default, "a whole number")(_.toLongOption)
  private[operators] def doubleConf(s: SparkSession, key: String, default: Double): Double =
    numConf(s, key, default, "a number")(_.toDoubleOption.filterNot(_.isNaN))

  private[operators] def guardExactPairs(s: SparkSession, dir: String,
                                         what: String, scaleAlt: String): Unit = {
    val max = longConf(s, MaxExactRowsKey, 100000L)
    val n = Tables.footerRowCount(s, dir, "documents")
    require(n <= max,
      s"$what rides the exact shingle pair join (candidate space sum df^2, " +
      s"quadratic on hot shingles) guarded at $max documents; the corpus has $n. " +
      s"Use $scaleAlt at scale, or raise $MaxExactRowsKey deliberately.")
  }

  def jaccardNearDup(s: SparkSession, dir: String): DataFrame = {
    guardExactPairs(s, dir, "neardup_jaccard", "neardup_minhash_md5")
    jaccardPairsFrom(Tables.documents(s, dir)).orderBy("a_id", "b_id")
  }

  /** [[jaccardNearDup]] parametrized by the document set — the reusable
    * form the curation pipeline composes over exact-dedup survivors.
    * Emits the pair set UNORDERED: every composed consumer (CC collapse,
    * recall/sweep aggregates, the wedge join) is order-indifferent, and
    * the orderBy this helper used to carry survived into their plans as a
    * rangepartitioning Exchange + Sort (sampling pass included) that the
    * cache/analysis boundary kept EliminateSorts from removing (r20
    * optimization, guide §2.4: "an orderBy used only to make output
    * deterministic"). Query-level callers that declare ordered output
    * sort at their own tail. */
  private[graft] def jaccardPairsFrom(docs: DataFrame, t: Double = 0.5): DataFrame =
    jaccardPairsFromArrays(Pins.cache(shingleArrays(docs)), t)

  /** [[jaccardPairsFrom]] over an ALREADY-BUILT (doc_id, sh) shingle-array
    * frame (callers that hold one cached — the incremental batch stages —
    * skip re-tokenizing the same documents; r20, guide §5 reuse). The
    * array column must be [[shingleArrays]]' row-local distinct form. */
  private[graft] def jaccardPairsFromArrays(docsArr0: DataFrame, t: Double = 0.5): DataFrame = {
    // per-row distinct shingle ARRAYS (no shuffle), exploded for the
    // inverted index — same distinct-shingle semantics as an
    // explode+distinct, minus its (doc_id, shingle) shuffle; per-doc set
    // sizes are a row-local size() on the same cache instead of a
    // count-aggregate shuffle
    val docsArr = docsArr0.select("doc_id", "sh")
    val sh = docsArr.select(col("doc_id"), explode(col("sh")).as("s"))
    val sizes = docsArr.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val a = sh.select(col("doc_id").as("a_id"), col("s"))
    val b = sh.select(col("doc_id").as("b_id"), col("s"))
    val common = a.join(b, "s")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= t)
      .select("a_id", "b_id", "jac")
  }

  val jaccardNearDupSql: String =
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
      |)
      |SELECT a_id, b_id, c * 1.0 / (sa.n + sb.n - c) AS jac
      |FROM common JOIN sizes sa ON a_id = sa.doc_id
      |            JOIN sizes sb ON b_id = sb.doc_id
      |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------------- threshold sweep report
  /** Dedup-threshold sweep: the knob-tuning report a curator reads before
    * picking the near-dup cutoff — for each candidate threshold t ∈
    * {0.30 … 0.90}, how many pairs would match and how many documents they
    * touch. One pair-scoring pass at the loosest threshold (reusing
    * [[jaccardPairsFrom]], the same inverted-index join every other Jaccard
    * query uses), then a broadcast threshold expansion and two rollups —
    * the whole curve costs one extra narrow stage over the single-threshold
    * query, instead of seven reruns.
    *
    * Thresholds are integer percent (`t_pct`) and the comparison is
    * `jac >= t_pct / 100.0` — one IEEE division on each engine, so the
    * boundary cases hash-match. Scale: the pair table at t=0.3 is the
    * expensive part (same cost class as `split_leakage_audit`, which uses
    * the same loose threshold); the sweep itself touches only (pair,
    * threshold) rows. */
  def thresholdSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    guardExactPairs(s, dir, "neardup_threshold_sweep",
      "neardup_minhash_md5 (re-banded per threshold)")
    val pairs = jaccardPairsFrom(Tables.documents(s, dir), 0.3)
    val th = (30 to 90 by 10).toDF("t_pct")
    val j = pairs.crossJoin(broadcast(th))
      .filter(col("jac") >= col("t_pct").cast("double") / 100.0)
    val pairCounts = j.groupBy("t_pct").agg(count(lit(1)).as("n_pairs"))
    val docCounts = j
      .select(col("t_pct"), explode(array(col("a_id"), col("b_id"))).as("d"))
      .groupBy("t_pct").agg(count_distinct(col("d")).as("n_docs_affected"))
    th.join(pairCounts, Seq("t_pct"), "left")
      .join(docCounts, Seq("t_pct"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs_affected"))
      .orderBy("t_pct")
  }

  val thresholdSweepSql: String =
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
      |pairs AS (
      |  SELECT a_id, b_id, c * 1.0 / (sa.n + sb.n - c) AS jac
      |  FROM common JOIN sizes sa ON a_id = sa.doc_id
      |              JOIN sizes sb ON b_id = sb.doc_id
      |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.3
      |),
      |th AS (SELECT unnest(generate_series(30, 90, 10)) AS t_pct),
      |j AS (SELECT t_pct, a_id, b_id FROM pairs, th WHERE jac >= t_pct / 100.0),
      |pc AS (SELECT t_pct, count(*) AS n_pairs FROM j GROUP BY 1),
      |dc AS (
      |  SELECT t_pct, count(DISTINCT d) AS n_docs_affected
      |  FROM (SELECT t_pct, a_id AS d FROM j UNION ALL SELECT t_pct, b_id FROM j)
      |  GROUP BY 1
      |)
      |SELECT th.t_pct,
      |       coalesce(n_pairs, 0) AS n_pairs,
      |       coalesce(n_docs_affected, 0) AS n_docs_affected
      |FROM th LEFT JOIN pc ON th.t_pct = pc.t_pct
      |        LEFT JOIN dc ON th.t_pct = dc.t_pct
      |ORDER BY th.t_pct""".stripMargin

  /** PPJoin-style prefix-filtered Jaccard join — same result set as
    * [[jaccardNearDup]] (the oracle hash-gate verifies equality at both
    * scales), but the inverted index holds only each document's PREFIX
    * under a global shingle order instead of every shingle.
    *
    * Theory (public literature: Chaudhuri et al., "A Primitive Operator
    * for Similarity Joins", ICDE 2006; Xiao et al., "Efficient Similarity
    * Joins for Near Duplicate Detection", WWW 2008): sort every document's
    * shingle set by one global total order; if J(x,y) ≥ t then the first
    * |x| − ⌈t·|x|⌉ + 1 shingles of x and the first |y| − ⌈t·|y|⌉ + 1 of y
    * must share an element — so indexing only prefixes loses no pair. With
    * t = 0.5 the index halves, and because the global order is ASCENDING
    * DOCUMENT FREQUENCY, what remains are each document's rarest shingles:
    * the per-shingle join fan-out (the Σ df² term that dominates an
    * all-pairs similarity join at 100 TB) collapses, since high-df
    * boilerplate shingles sort to the suffix and never enter the index.
    * A symmetric length filter (t·|x| ≤ |y| ≤ |x|/t, implied by J ≥ t)
    * prunes candidates before the exact verify.
    *
    * Vs [[jaccardNearDupDfCap]]: the df-cap drops hot shingles lossily
    * (a pair sharing only capped shingles is missed); the prefix filter
    * is LOSSLESS for the fixed threshold — the scale trade is the extra
    * per-doc re-sort shuffle (the global df count WINDOWS over the
    * exploded rows' own hash partitioning, costing no join-back) bought
    * back in candidate-join fan-out. Exact verification joins candidates back to
    * the full shingle arrays, so emitted scores are full-set Jaccard,
    * bit-identical to the baseline's. */
  def jaccardPrefixNearDup(s: SparkSession, dir: String): DataFrame =
    jaccardPairsPrefixFrom(Tables.documents(s, dir), 0.5)

  /** Prefix-filtered EXACT Jaccard pairs — [[jaccardPairsFrom]]'s output
    * (bit-identical pair set and scores, PPJoin prefix + positional
    * filters are lossless) at a fraction of the candidate volume.
    *
    * Deliberately NOT swapped into the composed consumers (pipelines, ER,
    * clusters, sweep/recall reports): an r19 A/B measured the swap
    * SLOWER across all ten at the harness scale (e.g. neardup_clusters
    * 2.0 → 6.3 s, pipeline_curate 4.9 → 7.2 s) — on this low-mean-df
    * corpus (Σ df² small) the all-pairs common-count join is cheap,
    * while the prefix form pays dfreq + per-doc (df, s) sort +
    * posexplode + full-array verify regardless. The candidate-volume win
    * only dominates on saturated vocabularies — exactly where the exact
    * forms REFUSE via [[guardExactPairs]] and route to the banded twins,
    * so the composed paths keep the form that is faster where they
    * actually run. */
  private[graft] def jaccardPairsPrefixFrom(docs: DataFrame, t: Double): DataFrame = {
    val docsArr = Pins.cache(shingleArrays(docs))
    val sh = docsArr.select(col("doc_id"), explode(col("sh")).as("s"))
    // global order key: (document frequency asc, shingle asc) — a total
    // order (s is distinct per doc), identical for every document.
    // df deliberately via groupBy + join-back, NOT the dfcap `rare`
    // window: the window's win there came from its s-partitioning being
    // REUSED by the following self-join on s; here the next operator
    // groups by doc_id, so a window would only add a full-width sort of
    // every exploded row (measured A/B warm at sf0.1: 3.2 s this form vs
    // 4.8 s windowed). The extra dfreq exchange is a partial-agg of
    // DISTINCT shingles — small — and the join-back reuses sh's shuffle.
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val ordered = sh.join(dfreq, "s")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("os"))
    val pref = ordered.select(
      col("doc_id"), size(col("os")).cast("long").as("n"),
      prefixSlice(t).as("pf"))
    val idx = pref.select(col("doc_id"), col("n"), posexplode(col("pf")).as(Seq("p", "e")))
      .select(col("doc_id"), col("n"), col("p").cast("long").as("p"), col("e.s").as("s"))
    // PPJoin positional filter on each occurrence row (lossless — see
    // [[incrementalNearCandidates]]): a match at sorted positions (px, py)
    // bounds the overlap at 1 + min(nx−px−1, ny−py−1); true pairs keep
    // their first common prefix shingle, only verification-doomed pairs
    // drop (r19 optimization — measured 2.5× fewer candidate pairs on the
    // R-S form at sf0.1, same mechanism here).
    // overlap bound vs required overlap compared without a division —
    // bound * (1+t) >= t * (nx+ny) — instead of bound >= ceil(t*(nx+ny)/(1+t)),
    // which adds a rounded quotient and a ceil. Both sides are still
    // rounded doubles, so only the shipped t = 0.5 is provably exact
    // (1.5 and 0.5 are dyadic: every product of them with a long up to
    // 2^52 is exact); every call site passes 0.5. Another t needs an
    // integer comparison (t = p/q, long products) to be exact.
    val candidates = idx.as("x").join(idx.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id") &&
          col("y.n") * t <= col("x.n") && col("x.n") * t <= col("y.n") &&
          (lit(1L) + least(col("x.n") - col("x.p") - 1L, col("y.n") - col("y.p") - 1L))
            * lit(1 + t) >= lit(t) * (col("x.n") + col("y.n")))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    verifyPairs(candidates, docsArr, t).orderBy("a_id", "b_id")
  }

  /** Exact full-set Jaccard verification of (a_id, b_id) candidate pairs:
    * join both sides back to the shingle arrays, score |a∩b| / |a∪b|, keep
    * ≥ t. This is THE semantics-critical expression every near-dup oracle
    * hash-match rests on — one copy for the self-join pair sets, shared by
    * the prefix, df-cap, and MinHash-LSH paths so a threshold or cast
    * change cannot desynchronize them. Its batch→corpus twin (same score,
    * plus the best-match pick) is [[bestCorpusMatch]]. */
  private[graft] def verifyPairs(candidates: DataFrame, docsArr: DataFrame,
                                 t: Double): DataFrame =
    candidates
      .join(docsArr.select(col("doc_id").as("a_id"), col("sh").as("sa"),
        size(col("sh")).cast("long").as("na")), "a_id")
      .join(docsArr.select(col("doc_id").as("b_id"), col("sh").as("sb"),
        size(col("sh")).cast("long").as("nb")), "b_id")
      .withColumn("c", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jac",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= t)
      .select("a_id", "b_id", "jac")

  // ------------------------------------ incremental near-dup probe stages
  // The batch, standing-index, banded and stream twins of the incremental
  // probe (`dedup_incremental*`, `pipeline_curate_incremental*`, the
  // continuous `decideBatch`) must agree decision for decision; each stage
  // they share is defined once here and composed by all of them.

  /** The PPJoin prefix-length rule: the first n − ⌈t·n⌉ + 1 elements of
    * the order-sorted array `sorted`, n = size(`set`) (the same set,
    * possibly unsorted). Only those elements of a document can witness a
    * J ≥ t pair under the shared order. */
  private[graft] def prefixSlice(t: Double, sorted: String = "os",
                                 set: String = "os"): Column =
    expr(s"slice($sorted, 1, cast(size($set) - ceil($t * size($set)) + 1 as int))")

  /** Frozen-order prefix rows of an `(id, sh)` array frame: each
    * document's shingles ranked by a stored `dfreq (s, df)` — df 0 for a
    * shingle `dfreq` has never seen, so it sorts first — and cut by
    * [[prefixSlice]], one `(id, n, s)` row per prefix shingle, `n` the
    * document's shingle count. The PPJoin lemma holds for any total order
    * both sides share, so this one stage builds a standing index's prefix
    * table, its appends and every probe's batch side. */
  private[graft] def prefixRows(arr: DataFrame, id: String, n: String,
                                dfreq: DataFrame, t: Double): DataFrame =
    arr.select(col(id), explode(col("sh")).as("s"))
      .join(dfreq, Seq("s"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy(id)
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("os"))
      .select(col(id), size(col("os")).cast("long").as(n), prefixSlice(t).as("pf"))
      .select(col(id), col(n), explode(col("pf")).as("e"))
      .select(col(id), col(n), col("e.s").as("s"))

  /** Prefix candidates: batch prefix rows `(batch_id, bn, s)` joined on
    * the shingle to standing prefix rows `(corpus_id, cn, s)` (`bn`/`cn`
    * name the size columns), pruned by the symmetric length filter
    * t·|b| ≤ |c| ∧ t·|c| ≤ |b| that J ≥ t implies; distinct
    * `(batch_id, corpus_id)` pairs for [[bestCorpusMatch]]. */
  private[graft] def prefixCandidates(bPrefix: DataFrame, bn: String,
                                      cPrefix: DataFrame, cn: String,
                                      t: Double): DataFrame =
    bPrefix.join(cPrefix, "s")
      .filter(col(bn) * t <= col(cn) && col(cn) * t <= col(bn))
      .select("batch_id", "corpus_id").distinct()

  /** Best corpus match per batch document: `(batch_id, corpus_id)`
    * candidates joined back to the `(batch_id, sh, nb)` and
    * `(corpus_id, sh, nc)` shingle arrays, scored by exact full-set
    * Jaccard, kept at J ≥ t; the highest J wins, ties to the lowest
    * `corpus_id`. Output `(batch_id, corpus_id, jac)`, at most one row per
    * batch document. */
  private[graft] def bestCorpusMatch(cand: DataFrame, bArr: DataFrame,
                                     cArr: DataFrame, t: Double): DataFrame =
    cand
      .join(bArr.select(col("batch_id"), col("sh").as("sb"), col("nb")), "batch_id")
      .join(cArr.select(col("corpus_id"), col("sh").as("sc"), col("nc")), "corpus_id")
      .withColumn("c", size(array_intersect(col("sb"), col("sc"))).cast("long"))
      .withColumn("jac",
        col("c").cast("double") / (col("nb") + col("nc") - col("c")))
      .filter(col("jac") >= t)
      .withColumn("rn", row_number().over(
        Window.partitionBy("batch_id").orderBy(col("jac").desc, col("corpus_id"))))
      .filter(col("rn") === 1)
      .select("batch_id", "corpus_id", "jac")

  /** Default document-frequency cap for [[jaccardNearDupDfCap]]. */
  private val DfCap = 128

  /** Jaccard near-dup with a shingle document-frequency cap — the web-scale
    * refinement [[jaccardNearDup]]'s comment names: shingles appearing in
    * more than `cap` documents ("stop-shingles": boilerplate, templates)
    * are excluded from candidate GENERATION, bounding the inverted index's
    * per-shingle join fan-out at cap² instead of (corpus df)² — on a skewed
    * corpus the difference between linear and quadratic candidates.
    * Emitted scores are exact FULL-set Jaccard; the only semantic delta vs
    * the uncapped query is that a pair whose every shared shingle is a
    * stop-shingle is never considered — by construction such pairs sit in
    * dense boilerplate clusters a df-capped dedup is designed to skip.
    * Execution is count-first: rare-common counts come from one cheap
    * aggregation, and the bracket c_rare ≤ c_full ≤ c_rare + min(stop_a,
    * stop_b) decides almost every pair without touching shingle arrays
    * (measured: the naive candidates→array-intersect form spent 25 s at
    * sf0.1 verifying 1.1 M candidates; the bounded form decides all but a
    * residual band from counts). Fully deterministic (no hash functions)
    * → oracle-checked. */
  def jaccardNearDupDfCap(s: SparkSession, dir: String): DataFrame = {
    val docsArr = Pins.cache(shingleArrays(Tables.documents(s, dir)))
    val sh = docsArr.select(col("doc_id"), explode(col("sh")).as("s"))
    // document frequency via a WINDOW over the shingle, not groupBy +
    // join-back: one shuffle hash-partitions the exploded rows by s, the
    // df filter rides it, and — because the cache preserves the window's
    // output partitioning — the all-pairs self-join on s below zips the
    // two cached sides with NO further exchange (measured: the groupBy +
    // join-back form paid two extra full-width shuffles of the exploded
    // rows, 8.8 s → 3.7 s standalone-warm at sf0.1)
    val rare = Pins.cache(sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= DfCap).drop("df"))
    // per-pair RARE-common counts via one partial-agg shuffle — the same
    // cheap aggregation shape as the uncapped query, never a materialized
    // candidate×array join for the bulk of pairs
    val cRare = rare.select(col("doc_id").as("a_id"), col("s"))
      .join(rare.select(col("doc_id").as("b_id"), col("s")), "s")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("cr"))
    // per-doc shingle count and STOP-shingle count (shingles over the cap):
    // c_rare ≤ c_full ≤ c_rare + min(stop_a, stop_b) brackets the full
    // intersection, so most pairs are decided exactly from counts alone —
    // docs with zero stop-shingles have c_full = c_rare (exact score), and
    // pairs whose UPPER bound misses the threshold are dropped; only the
    // narrow undecided band (both docs contain stop-shingles and the bound
    // straddles 0.5) pays the array-intersect verification
    val rareN = rare.groupBy("doc_id").agg(count(lit(1)).as("rn"))
    val stats = docsArr.select(col("doc_id"), size(col("sh")).as("n"))
      .join(rareN, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n"), (col("n") - coalesce(col("rn"), lit(0L))).as("stopn"))
    val withBounds = cRare
      .join(stats.select(col("doc_id").as("a_id"), col("n").as("na"), col("stopn").as("sa_n")), "a_id")
      .join(stats.select(col("doc_id").as("b_id"), col("n").as("nb"), col("stopn").as("sb_n")), "b_id")
      .withColumn("s_ab", least(col("sa_n"), col("sb_n")))
      .withColumn("cub", col("cr") + col("s_ab"))
      .withColumn("jlb", col("cr").cast("double") / (col("na") + col("nb") - col("cr")))
      .withColumn("jub", col("cub").cast("double") / (col("na") + col("nb") - col("cub")))
    val decided = withBounds
      .filter(col("s_ab") === 0 && col("jlb") >= 0.5)
      .select(col("a_id"), col("b_id"), col("jlb").as("jac"))
    val band = withBounds
      .filter(col("s_ab") > 0 && col("jub") >= 0.5)
      .select("a_id", "b_id")
    val verifiedBand = verifyPairs(band, docsArr, 0.5)
    decided.union(verifiedBand).orderBy("a_id", "b_id")
  }

  val jaccardNearDupDfCapSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
       |  WHERE len(tk) >= 3
       |),
       |rare AS (
       |  SELECT sh.doc_id, sh.s FROM sh
       |  JOIN (SELECT s FROM sh GROUP BY s HAVING count(*) <= $DfCap) r USING (s)
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
       |),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT c.a_id, c.b_id, count(*) AS c
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.a_id
       |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.s = sa.s
       |  GROUP BY 1, 2
       |)
       |SELECT a_id, b_id, c * 1.0 / (sa.n + sb.n - c) AS jac
       |FROM common JOIN sizes sa ON a_id = sa.doc_id
       |            JOIN sizes sb ON b_id = sb.doc_id
       |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin

  /** Distinct 3-shingle ARRAY per document, computed entirely per-row
    * (`array_distinct` over a `transform` — no shuffle, unlike
    * [[shingles]]' explode+distinct). The array form is what the LSH paths
    * verify against: a candidate pair's exact Jaccard is
    * `size(array_intersect(sa, sb))` over the two joined arrays — one
    * codegen'd expression instead of a per-shingle re-join + re-aggregate.
    * Documents are bounded (KBs), so a shingle array is a small row payload
    * even at 100 TB corpus scale. */
  private[graft] def shingleArrays(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), shingleSet(n).as("sh"))

  /** The distinct n-word shingles of the token-array column `tk` — empty
    * for a row of fewer than n tokens. The IF makes the expression TOTAL:
    * `sequence(0, size - n)` flips to a descending sequence (0, -1, …) on a
    * sub-n-token row, and the optimizer may constant-fold the projection
    * over a local relation BEFORE a token filter prunes such rows (seen
    * with streaming micro-batches) — the guard must live in the expression
    * itself. The one shingle definition: [[shingleArrays]] and the growing
    * stream index both compile from it. */
  private[graft] def shingleSet(n: Int = 3): Column =
    array_distinct(expr(s"IF(size(tk) >= $n, " +
      s"transform(sequence(0, size(tk) - $n), i -> concat_ws(' ', slice(tk, i + 1, $n))), " +
      "array())"))

  // ------------------------------------------------------------ MinHash LSH
  private[graft] val NumHashes = 16
  private[graft] val BandRows  = 2  // rows per band → 8 bands; catches J≥0.5 w.p. ~0.9

  /** Candidate-generation bucket cap. A band bucket with more members than
    * this is either hash degeneracy (low-entropy corpus, e.g. the harness's
    * ~31-word vocabulary) or a giant duplicate cluster; in both cases its
    * quadratic all-pairs expansion is the thing that cannot run at 100 TB.
    * Buckets ≤ cap expand to all pairs as usual. Oversized buckets are NOT
    * dropped (a true cluster of > cap near-identical docs lands in the same
    * oversized bucket in EVERY band — dropping would deterministically lose
    * it, with 0% recall for exactly the clusters dedup cares most about).
    * Instead they contribute STAR candidates — each member paired with the
    * bucket's minimum doc_id — which is linear in bucket size and keeps
    * every member of a dense cluster connected to its representative;
    * exact verification then scores each spoke. Degenerate buckets cost
    * O(size) false candidates (killed by verification); true giant clusters
    * stay fully recoverable via connected components over the output. */
  private[graft] val MaxBucket = 64

  /** Same-key candidate pairs with the oversized-bucket star fallback.
    * Input must have columns (doc_id, k1, k2); output (a_id, b_id) distinct.
    * Bucket stats come from a partial-agg `groupBy` — one skinny row per
    * bucket, pre-filtered to buckets with ≥ 2 members (singleton buckets,
    * the vast majority, never rejoin) — then joined back onto the block
    * rows. AQE broadcasts the stats side while it is small; at corpus
    * scales where even multi-member bucket stats outgrow a broadcast it
    * degrades to a shuffled hash join on the bucket key, which the
    * all-pairs self-join below then reuses. (A window over the bucket key
    * computes the same stats in one shuffle, but each *use* of the result
    * re-executes it — the self-join's two sides plus the star branch cost
    * three window shuffles; the groupBy form is computed once.) */
  private[graft] def bucketCandidates(rows: DataFrame, k1: String, k2: String): DataFrame = {
    val bstats = rows.groupBy(k1, k2)
      .agg(count(lit(1)).as("bsz"), min(col("doc_id")).as("bmin"))
      .filter(col("bsz") >= 2)
    // cached: the self-join's two sides and the star branch all read this
    // diamond — uncached, each re-executes the stats aggregation and join
    // (measured 3× the shuffles; exchange reuse does not fire across the
    // aliased branches). Rows here are (doc_id, bucket key, two longs) in
    // multi-member buckets only — a sliver of the corpus at any scale.
    val joined = Pins.cache(rows.join(bstats, Seq(k1, k2)))
    val small = joined.filter(col("bsz") <= MaxBucket).select("doc_id", k1, k2)
    val smallPairs = small.as("x").join(small.as("y"),
        col(s"x.$k1") === col(s"y.$k1") && col(s"x.$k2") === col(s"y.$k2") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    val starPairs = joined
      .filter(col("bsz") > MaxBucket && col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("a_id"), col("doc_id").as("b_id"))
    smallPairs.union(starPairs).distinct()
  }

  /** Single-key form of [[bucketCandidates]] — for candidate generators
    * whose bucket is one column (winnowing fingerprints) rather than a
    * (band, bucket) pair. A constant band column routes it through the
    * same star-capped path so EVERY candidate generator in the dedup
    * family bounds per-key fan-out: a viral boilerplate fingerprint is a
    * hot shuffle key at corpus scale, and without the cap its bucket
    * self-join is quadratic in the bucket size. */
  private[graft] def bucketCandidates(rows: DataFrame, key: String): DataFrame =
    bucketCandidates(rows.withColumn("__band", lit(0)), "__band", key)

  /** MinHash + LSH near-dup pairs, exact-verified.
    * Pipeline: per-row shingle arrays → k minhashes (explode + one
    * partial-agg shuffle of k longs per doc) → band buckets (band id = hash
    * of the band's minhash subsequence) → same-bucket candidates (star
    * fallback for oversized buckets, see [[MaxBucket]]) → join the two
    * shingle arrays back (AQE broadcasts the doc-array side when small; a
    * shuffled hash join on doc_id at scale) → exact Jaccard ≥ 0.5 via
    * `array_intersect`. Candidates scale with the number of truly similar
    * pairs, not n² — this is the 100 TB dedup path, in 4 shuffles end to
    * end. No SQL oracle (xxhash64 internals) → rows-only gate; scalatest
    * checks recall vs the exact-Jaccard query. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val docsArr = Pins.cache(shingleArrays(Tables.documents(s, dir)))
    val cand = bucketCandidates(xxhashBandBuckets(docsArr), "band", "bucket")
    verifyPairs(cand, docsArr, 0.5).orderBy("a_id", "b_id")
  }

  /** The xxhash64 banding stage of [[minhashLsh]], factored: per-row
    * shingle arrays → k seeded-xxhash64 minhashes (explode + ONE
    * partial-agg shuffle of k wide columns) → (doc_id, band, bucket) rows,
    * bucket = xxhash64 over the band's minhash subsequence. Shared with
    * the streaming growing index ([[graft.streaming.StreamingDedup]]'s
    * banded mode) so batch and continuous near-dup probe the SAME band
    * family — a doc's signature depends on its content only, which is
    * what lets a growing index keep old band rows valid forever. */
  private[graft] def xxhashBandBuckets(docsArr: DataFrame): DataFrame = {
    // k permutations simulated as xxhash64(seed_i, shingle), min per
    // (doc, i) — computed ROW-LOCALLY as k × array_min(transform(sh, ...))
    // instead of explode + k wide min aggregates: the shingle set never
    // leaves its row, so the signature's partial-agg shuffle disappears
    // outright (r20 optimization, guide §2.4; A/B'd on the md5 twin:
    // 0.51 → 0.38 s warm at sf0.1 despite HOFs being interpreted — the
    // per-shingle hash work dominates and the explode/agg machinery is
    // pure overhead). min over the identical per-shingle values → the
    // same signature bit-for-bit (exceptAll-checked both directions).
    val mins = (0 until NumHashes).map(i =>
      expr(s"array_min(transform(sh, x -> xxhash64($i, x)))").as(s"mh$i"))
    // filter(size >= 1) mirrors the explode form exactly: a no-shingle doc
    // produced no signature row there (all current inputs are already
    // non-empty by [[shingleArrays]]' token filter — this is belt)
    val sig = docsArr.filter(size(col("sh")) >= 1)
      .select((col("doc_id") +: mins): _*)
    val bandCols = (0 until NumHashes / BandRows).map { b =>
      struct(lit(b).as("band"),
        xxhash64((lit(b) +: (0 until BandRows).map(r => col(s"mh${b * BandRows + r}"))): _*)
          .as("bucket"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** MinHash + LSH with a CROSS-ENGINE-REPRODUCIBLE hash — the oracle-proof
    * twin of [[minhashLsh]]. The k "permutations" are
    * `bigint(first 15 hex chars of md5(shingle || '#' || seed))` — both
    * Spark (`conv(substring(md5(s), 1, 15), 16, 10)`) and DuckDB
    * (`('0x' || substring(md5(s), 1, 15))::BIGINT`) compute the identical
    * value (15 hex digits < 2⁶⁰ fits signed 64-bit in both), so the ENTIRE
    * pipeline — signatures, band buckets, the [[MaxBucket]] star fallback,
    * exact verification — is expressed in the DuckDB oracle and
    * hash-gated, star-capping semantics included. [[minhashLsh]] stays the
    * production hot path (xxhash64 is one codegen'd mix vs a digest call
    * here; same shuffle shape, ~10× cheaper per shingle); this twin
    * exists to PROVE the banding/candidate/verify machinery end-to-end
    * against an independent engine rather than against our own spec.
    * Same 4-shuffle, candidates-not-n² scale story as [[minhashLsh]]. */
  def minhashMd5(s: SparkSession, dir: String): DataFrame = {
    val docsArr = Pins.cache(shingleArrays(Tables.documents(s, dir)))
    verifyPairs(minhashMd5CandidatesFrom(docsArr), docsArr, 0.5)
      .orderBy("a_id", "b_id")
  }

  /** The candidate stage of [[minhashMd5]] — factored so the recall report
    * ([[minhashRecall]]) measures EXACTLY the pair set the production query
    * verifies, not a reimplementation. */
  private[graft] def minhashMd5CandidatesFrom(docsArr: DataFrame): DataFrame =
    bucketCandidates(mdBandRows(docsArr), "band", "bucket")

  /** The md5-minhash banding stage of [[minhashMd5CandidatesFrom]],
    * factored to (doc_id, band, bucket) rows so the standing curation
    * index can MATERIALIZE the kept side's band rows (`curbands`) and the
    * banded incremental probe can compute the batch side's rows per
    * delta — both sides of an R-S band join then come from this one
    * generator, and a doc's rows depend on its content only (the same
    * property [[xxhashBandBuckets]] leans on for the growing index). */
  private[graft] def mdBandRows(docsArr: DataFrame): DataFrame = {
    // min over shingles of the seeded md5-derived long, computed
    // ROW-LOCALLY (k × array_min over a transform of the per-row shingle
    // array) — the explode + k-wide-min-aggregate form paid a partial-agg
    // shuffle and the exploded-row machinery for values that never need
    // to leave their row (r20 optimization, guide §2.4 "remove shuffles
    // outright"; measured 0.51 → 0.38 s warm on the signature stage at
    // sf0.1, and bit-identical signatures — exceptAll zero both ways —
    // since min commutes over the identical per-shingle hash values; the
    // oracle-pinned hash definition md5(s || '#i') is untouched).
    val mins = (0 until NumHashes).map(i =>
      expr("array_min(transform(sh, x -> " +
        s"cast(conv(substring(md5(concat(x, '#$i')), 1, 15), 16, 10) as bigint)))")
        .as(s"mh$i"))
    // filter(size >= 1) mirrors the explode form exactly (see
    // [[xxhashBandBuckets]]): a no-shingle doc produced no signature row
    val sig = docsArr.filter(size(col("sh")) >= 1)
      .select((col("doc_id") +: mins): _*)
    // band bucket key = comma-joined minhash subsequence as a STRING —
    // trivially identical across engines (no second-level hash to match)
    val bandCols = (0 until NumHashes / BandRows).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until BandRows)
          .map(r => col(s"mh${b * BandRows + r}").cast("string")): _*).as("bucket"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** In-engine candidate-recall report for the minhash-LSH path (the dedup
    * counterpart of `ann_recall_report`): the exact J ≥ 0.5 pair set vs the
    * banded md5-minhash CANDIDATE set — recall says what fraction of true
    * pairs LSH ever sees (the verify stage can only lose the rest), and
    * candidate precision says how much exact-verification work the bands
    * buy per true pair. Both sides are deterministic (md5 signatures, the
    * star-capped candidate rule) so the whole evaluation is hash-gated —
    * the report IS reproducible evidence, not a sampled estimate.
    *
    * Scale: the two pair sets are near-dup-sized (tiny vs the corpus); the
    * expensive stages are the same inverted-index join and signature
    * aggregation the standalone queries already run. */
  def minhashRecall(s: SparkSession, dir: String): DataFrame = {
    val docsArr = Pins.cache(shingleArrays(Tables.documents(s, dir)))
    val cand = minhashMd5CandidatesFrom(docsArr)
    val exact = jaccardPairsFrom(Tables.documents(s, dir))
      .select(col("a_id"), col("b_id"), lit(1L).as("t"))
    exact
      .join(cand.withColumn("c", lit(1L)), Seq("a_id", "b_id"), "full_outer")
      .agg(sum(coalesce(col("t"), lit(0L))).as("n_exact"),
           sum(coalesce(col("c"), lit(0L))).as("n_candidates"),
           sum(when(col("t") === 1L && col("c") === 1L, 1L).otherwise(0L))
             .as("n_true_candidates"))
      .select(col("n_exact"), col("n_candidates"), col("n_true_candidates"),
        round(col("n_true_candidates").cast("double") / col("n_exact"), 6)
          .as("recall"),
        round(col("n_true_candidates").cast("double") / col("n_candidates"), 6)
          .as("cand_precision"))
  }

  /** DuckDB mirror of [[minhashMd5]] — reproduces the md5-derived minhash
    * signatures, the band buckets, the [[MaxBucket]] star fallback
    * (bsz > cap → pairs only against the bucket's min doc_id), and the
    * exact-Jaccard verification, so the scale guard itself is
    * hash-compared, not just the happy path. */
  val minhashMd5Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
      |  WHERE len(tk) >= 3
      |),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |hashes AS (
      |  SELECT doc_id, i,
      |         min(('0x' || substring(md5(s || '#' || i), 1, 15))::BIGINT) AS mh
      |  FROM sh, LATERAL (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS i) seeds
      |  GROUP BY doc_id, i
      |),
      |bands AS (
      |  SELECT doc_id, i // $BandRows AS band,
      |         string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
      |  FROM hashes GROUP BY doc_id, i // $BandRows
      |),
      |bstats AS (
      |  SELECT band, bucket, count(*) AS bsz, min(doc_id) AS bmin
      |  FROM bands GROUP BY 1, 2 HAVING count(*) >= 2
      |),
      |joined AS (SELECT b.doc_id, b.band, b.bucket, s.bsz, s.bmin
      |           FROM bands b JOIN bstats s USING (band, bucket)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM joined a JOIN joined b
      |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      |  WHERE a.bsz <= $MaxBucket
      |  UNION
      |  SELECT DISTINCT bmin AS a_id, doc_id AS b_id
      |  FROM joined WHERE bsz > $MaxBucket AND doc_id <> bmin
      |),
      |common AS (
      |  SELECT c.a_id, c.b_id, count(*) AS c
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.a_id
      |  JOIN sh y ON y.doc_id = c.b_id AND y.s = x.s
      |  GROUP BY 1, 2
      |)
      |SELECT a_id, b_id, c * 1.0 / (sa.n + sb.n - c) AS jac
      |FROM common JOIN sizes sa ON a_id = sa.doc_id
      |            JOIN sizes sb ON b_id = sb.doc_id
      |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  /** Oracle for [[minhashRecall]]: splices [[minhashMd5Sql]]'s CTE chain up
    * to its `cand` set (so the measured candidate semantics — signatures,
    * bands, star cap — can never drift from the gated query), adds the
    * exact-pair chain over the same `sh`/`sizes` CTEs, and aggregates the
    * full outer join. */
  val minhashRecallSql: String = {
    val candChain = minhashMd5Sql.substring(0, minhashMd5Sql.indexOf(",\ncommon AS ("))
    s"""$candChain,
       |ecommon AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), exact AS (
       |  SELECT a_id, b_id FROM ecommon
       |  JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
       |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
       |), j AS (
       |  SELECT CASE WHEN e.a_id IS NOT NULL THEN 1 ELSE 0 END AS t,
       |         CASE WHEN c2.a_id IS NOT NULL THEN 1 ELSE 0 END AS c
       |  FROM exact e FULL OUTER JOIN cand c2
       |    ON e.a_id = c2.a_id AND e.b_id = c2.b_id
       |)
       |SELECT CAST(sum(t) AS BIGINT) AS n_exact,
       |       CAST(sum(c) AS BIGINT) AS n_candidates,
       |       CAST(sum(t * c) AS BIGINT) AS n_true_candidates,
       |       round(sum(t * c) * 1.0 / sum(t), 6) AS recall,
       |       round(sum(t * c) * 1.0 / sum(c), 6) AS cand_precision
       |FROM j""".stripMargin
  }

  // ------------------------------------------------------------- Winnowing
  private val WinnowK = 3 // k-gram size (tokens)
  private val WinnowW = 4 // window: every w consecutive hashes yield >=1 pick

  /** Winnowing-fingerprint near-dup pairs (public literature: Schleimer,
    * Wilkerson, Aiken — "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD 2003; the MOSS algorithm): hash every
    * k-gram, slide a w-hash window, select each window's RIGHTMOST
    * minimal hash — the guarantee is any shared run of w + k − 1 tokens
    * yields at least one shared fingerprint, while storing only
    * ~2/(w+1) of the hashes. The inverted index is built on the
    * SELECTED fingerprints only — a w+1/2-fold smaller index than the
    * all-shingles join for the same detection guarantee on long
    * matches, which is the whole winnowing trade.
    *
    * Engine shape: hashing AND selection are row-local array ops (one
    * `transform` over positions, a slice-argmin per window — no shuffle
    * until the fingerprint explode), and the hash is the md5-derived
    * 60-bit value of [[minhashMd5]], so the ENTIRE pipeline — selection
    * tie-breaks included — is reproduced by the DuckDB oracle and
    * hash-gated. Candidates sharing a fingerprint are exact-verified on
    * full shingle sets (scores are true Jaccard, same join as
    * [[verifyPairs]]).
    *
    * Fingerprint buckets go through the star-capped [[bucketCandidates]]
    * path — the same [[MaxBucket]] fallback every other candidate
    * generator uses — because a low-entropy corpus (boilerplate runs)
    * concentrates documents on a handful of fingerprints, and an
    * uncapped self-join on such a key is quadratic in the hottest
    * bucket. Spokes to the bucket's min doc_id keep dense clusters
    * recoverable via connected components; the DuckDB oracle reproduces
    * the cap so the capped semantics themselves are hash-gated.
    *
    * Verification scores Jaccard over the DISTINCT HASHED k-grams —
    * the very values the fingerprint stage already computed — rather
    * than re-shingling to strings: one cached md5 pass feeds both
    * selection and verification, and the verify join shuffles long
    * arrays instead of string arrays. Identical to string-shingle
    * Jaccard up to 60-bit-hash collisions, and since the oracle
    * computes the SAME hashes both engines agree bit-for-bit even if a
    * collision ever occurred. */
  def winnowNearDup(s: SparkSession, dir: String): DataFrame = {
    val hashed = Pins.cache(winnowHashes(Tables.documents(s, dir)))
    val docsArr = hashed.select(col("doc_id"), array_distinct(col("hs")).as("sh"))
    val fp = winnowSelect(hashed)
    val cand = bucketCandidates(fp, "fp")
    verifyPairs(cand, docsArr, 0.5).orderBy("a_id", "b_id")
  }

  /** Ordered k-gram hash array per doc (NOT distinct — positions matter
    * for the window selection). One md5 pass; [[winnowNearDup]] caches
    * it and reuses the distinct values for exact verification. */
  private[graft] def winnowHashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= WinnowK)
      .select(col("doc_id"),
        expr(s"""transform(sequence(1, size(tk) - ${WinnowK - 1}),
                |  i -> cast(conv(substring(md5(concat_ws(' ', slice(tk, i, $WinnowK))), 1, 15), 16, 10) as bigint))"""
          .stripMargin.replaceAll("\n", " ")).as("hs"))

  /** Rightmost-min selection per w-window over [[winnowHashes]];
    * (doc_id, fp) distinct selected hashes.
    *
    * The selected VALUE is always the window MINIMUM — "rightmost" only
    * disambiguates which POSITION is recorded, and positions are never
    * kept here (fingerprints are value-distinct per doc). So the
    * selection is a plain sliding `least` over [[WinnowW]] scalar
    * lookups: no per-window slice materialization, no reverse /
    * array_position scans — value-identical output to the literal
    * rightmost-min formulation (r19 optimization: the slice form
    * allocated w-element arrays ×3 per window under codegen; measured
    * 3.1 s warm at sf0.1 vs ~1 s for this shape, same candidate set,
    * hash-gate unchanged). Docs with fewer than w hashes yield their
    * single whole-array minimum, exactly as slice(hs, i, w) degraded
    * at the boundary. */
  private[graft] def winnowSelect(hashed: DataFrame): DataFrame = {
    val win = (0 until WinnowW)
      .map(o => s"element_at(hs, cast(i + $o as int))")
      .mkString("least(", ", ", ")")
    hashed
      .select(col("doc_id"),
        explode(expr(
          s"""array_distinct(CASE WHEN size(hs) <= $WinnowW THEN array(array_min(hs))
             |  ELSE transform(sequence(1, size(hs) - ${WinnowW - 1}), i -> $win)
             |END)""".stripMargin.replaceAll("\n", " "))).as("fp"))
  }

  /** The winnowing selection end to end: (doc_id, fp) — distinct
    * selected k-gram hashes per doc. Row-local array arithmetic;
    * exposed within the package so the property spec can drive the
    * w+k−1 guarantee on random corpora. */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame =
    winnowSelect(winnowHashes(docs))

  val winnowNearDupSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |hashed AS (
      |  SELECT doc_id,
      |         list_transform(generate_series(1, len(tk) - ${WinnowK - 1}),
      |           i -> ('0x' || substring(md5(array_to_string(tk[i:i+${WinnowK - 1}], ' ')), 1, 15))::BIGINT) AS hs
      |  FROM toks WHERE len(tk) >= $WinnowK
      |),
      |fp AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_distinct(list_transform(generate_series(1, greatest(len(hs) - ${WinnowW - 1}, 1)),
      |           i -> hs[i:i+${WinnowW - 1}][len(hs[i:i+${WinnowW - 1}])
      |                  - list_position(list_reverse(hs[i:i+${WinnowW - 1}]), list_min(hs[i:i+${WinnowW - 1}])) + 1]))) AS fp
      |  FROM hashed
      |),
      |bstats AS (
      |  SELECT fp, count(*) AS bsz, min(doc_id) AS bmin
      |  FROM fp GROUP BY 1 HAVING count(*) >= 2
      |),
      |joined AS (SELECT f.doc_id, f.fp, s.bsz, s.bmin
      |           FROM fp f JOIN bstats s USING (fp)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM joined a JOIN joined b
      |    ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  WHERE a.bsz <= $MaxBucket
      |  UNION
      |  SELECT DISTINCT bmin AS a_id, doc_id AS b_id
      |  FROM joined WHERE bsz > $MaxBucket AND doc_id <> bmin
      |),
      |sh AS (
      |  SELECT DISTINCT doc_id, unnest(list_distinct(hs)) AS s FROM hashed
      |),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT c.a_id, c.b_id, count(*) AS c
      |  FROM cand c
      |  JOIN sh x ON x.doc_id = c.a_id
      |  JOIN sh y ON y.doc_id = c.b_id AND y.s = x.s
      |  GROUP BY 1, 2
      |)
      |SELECT a_id, b_id, c * 1.0 / (sa.n + sb.n - c) AS jac
      |FROM common JOIN sizes sa ON a_id = sa.doc_id
      |            JOIN sizes sb ON b_id = sb.doc_id
      |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------------------- SimHash
  private val SimBits   = 64
  private val SimBlocks = 8   // 8 blocks × 8 bits; pigeonhole catches hamming ≤ 7

  /** 64-bit SimHash per document over distinct 3-shingles: bit k is the
    * sign of Σ_shingles (bit k of xxhash64(shingle) ? +1 : −1). Shingles,
    * not unigrams: the harness corpus has a ~31-word vocabulary, so unigram
    * sets collapse (measured: 1M pairs at hamming ≤ 7 at sf0.1); 3-shingle
    * SimHash separates cleanly (planted near-dups ≤ 10 bits apart, random
    * pairs p1 = 22, median 32).
    *
    * The 64 per-bit majority votes run inside ONE
    * [[graft.functions.SimHashAgg]] aggregate column (a
    * `TypedImperativeAggregate` over a flat `long[65]` buffer). An earlier
    * formulation packed the counts into 22 three-lane sum columns plus a
    * 64-term `bitwiseOR` reduce — semantically identical, but its
    * analyzer/codegen unit cost ~6.8 s of plan construction per run (20%
    * of the bench suite). The aggregate keeps the same single
    * explode → partial-agg-shuffle shape with a tiny plan, and partial
    * (map-side) aggregation still applies — the shuffle carries one
    * 520-byte buffer per doc per partition. */
  private[operators] def simhash(docs: DataFrame): DataFrame = {
    // per-row distinct shingle arrays (no shuffle) → explode → one
    // partial-agg shuffle; the old explode+distinct pre-pass cost a second
    // full-width shuffle of every (doc_id, shingle) row
    val toks = shingleArrays(docs)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .withColumn("h", xxhash64(col("s")))
    toks.groupBy("doc_id")
      .agg(graft.functions.SimHashAggregate.simhashAgg(col("h")).as("simhash"))
  }

  /** SimHash near-dup pairs: Hamming(simhash_a, simhash_b) ≤ 12, found by
    * blocking on the 8 8-bit sub-blocks (pigeonhole guarantees recall for
    * distance ≤ 7; distances 8–12 still share a clean block w.p. ≳ 93%),
    * then verifying with bit_count. The candidate join key is (block index,
    * block value) — n² never materializes. Rows-only gate
    * (hash-function-dependent); scalatest checks the planted near-dups are
    * found. */
  def simhashNearDup(s: SparkSession, dir: String): DataFrame =
    simhashPairs(simhash(Tables.documents(s, dir)))

  /** Block-bucket candidate generation + hamming verification over a
    * (doc_id, simhash) fingerprint table — shared by the xxhash hot path
    * ([[simhashNearDup]]) and the md5 oracle twin ([[simhashMd5]]).
    *
    * The fingerprint RIDES the block rows (8 bytes × 8 rows/doc), so the
    * pair generation below emits (a_id, b_id, ha, hb) directly and the
    * old two verify joins back to the signature table disappear. Bucket
    * stats come from ONE window over (blk, blkval) instead of a groupBy +
    * join-back, and — the dfcap pattern — the cache preserves the
    * window's hash partitioning, so the same-keys self-join underneath
    * zips the two cached sides with no further exchange. Net: the
    * candidate stage runs in one shuffle where the earlier form paid
    * four (stats agg, join-back, self-join re-shuffle ×2) plus two
    * verify-join stages — measured A/B before/after in BASELINE.md. */
  private def simhashPairs(sims: DataFrame): DataFrame = {
    val blocks = sims
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(SimBlocks - 1))).as("blk"))
      .withColumn("blkval",
        expr(s"shiftrightunsigned(simhash, blk * ${SimBits / SimBlocks})")
          .bitwiseAND(lit((1L << (SimBits / SimBlocks)) - 1)))
    val w = Window.partitionBy(col("blk"), col("blkval"))
    // min(struct) picks the bucket's lowest doc_id AND its fingerprint in
    // the same pass (struct ordering is lexicographic, doc_id first)
    val annotated = Pins.cache(blocks
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("bm", min(struct(col("doc_id"), col("simhash"))).over(w))
      .filter(col("bsz") >= 2))
    val small = annotated.filter(col("bsz") <= MaxBucket)
      .select(col("doc_id"), col("simhash"), col("blk"), col("blkval"))
    val smallPairs = small.as("x").join(small.as("y"),
        col("x.blk") === col("y.blk") && col("x.blkval") === col("y.blkval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
    // oversized blocks fall back to star candidates (see MaxBucket) — a
    // > cap cluster of near-identical fingerprints stays fully linked to
    // its min-doc_id representative instead of being dropped
    val starPairs = annotated
      .filter(col("bsz") > MaxBucket && col("doc_id") =!= col("bm.doc_id"))
      .select(col("bm.doc_id").as("a_id"), col("doc_id").as("b_id"),
        col("bm.simhash").as("ha"), col("simhash").as("hb"))
    smallPairs.union(starPairs)
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= 12)
      .select("a_id", "b_id", "hamming")
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** SimHash with the CROSS-ENGINE-REPRODUCIBLE hash — the oracle-proof
    * twin of [[simhashNearDup]], completing the md5-twin program
    * ([[minhashMd5]], [[winnowNearDup]]): per-shingle hashes are the
    * md5-derived 60-bit longs both engines compute identically, so the
    * per-bit majority votes (strict majority: ties clear the bit, the
    * [[graft.functions.SimHashAggregate]] rule), the 8×8-bit block
    * buckets, the [[MaxBucket]] star fallback AND the hamming ≤ 12
    * verification are ALL reproduced in the DuckDB oracle and hash-gated.
    * Bits 60–63 of every hash are 0, so their majority votes are
    * deterministically 0 — the fingerprint is effectively 60-bit and the
    * blocking is unchanged (the top block simply carries 4 fewer live
    * bits). xxhash64 stays the hot path (~10× cheaper per shingle, same
    * plan shape); this twin exists to PROVE the voting/blocking/verify
    * machinery against an independent engine. */
  def simhashMd5(s: SparkSession, dir: String): DataFrame = {
    val toks = shingleArrays(Tables.documents(s, dir))
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .withColumn("h",
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long"))
    simhashPairs(toks.groupBy("doc_id")
      .agg(graft.functions.SimHashAggregate.simhashAgg(col("h")).as("simhash")))
  }

  /** DuckDB mirror of [[simhashMd5]]: 60 per-bit strict-majority votes as
    * wide aggregate CASEs (sum of ±1 per bit — the exact
    * [[graft.functions.SimHashAggregate]] tie rule), block explode, the
    * [[MaxBucket]] star fallback, hamming via bit_count(xor). */
  val simhashMd5Sql: String = {
    val bits = (0 until 60).map { k =>
      s"(CASE WHEN sum(CASE WHEN (h >> $k) & 1 = 1 THEN 1 ELSE -1 END) > 0" +
        s" THEN (1::BIGINT << $k) ELSE 0::BIGINT END)"
    }.mkString("\n      |         + ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
      |  WHERE len(tk) >= 3
      |),
      |h AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM sh),
      |sim AS (
      |  SELECT doc_id,
      |         $bits AS sim
      |  FROM h GROUP BY doc_id
      |),
      |blocks AS (
      |  SELECT doc_id, sim, blk, (sim >> (blk * 8)) & 255 AS blkval
      |  FROM sim, LATERAL (SELECT unnest(generate_series(0, 7)) AS blk) g
      |),
      |bstats AS (
      |  SELECT blk, blkval, count(*) AS bsz, min(doc_id) AS bmin,
      |         arg_min(sim, doc_id) AS bminsim
      |  FROM blocks GROUP BY 1, 2 HAVING count(*) >= 2
      |),
      |joined AS (SELECT b.doc_id, b.sim, b.blk, b.blkval, s.bsz, s.bmin, s.bminsim
      |           FROM blocks b JOIN bstats s USING (blk, blkval)),
      |cand AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sim AS ha, b.sim AS hb
      |  FROM joined a JOIN joined b
      |    ON a.blk = b.blk AND a.blkval = b.blkval AND a.doc_id < b.doc_id
      |  WHERE a.bsz <= $MaxBucket
      |  UNION ALL
      |  SELECT bmin, doc_id, bminsim, sim
      |  FROM joined WHERE bsz > $MaxBucket AND doc_id <> bmin
      |)
      |SELECT DISTINCT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 12
      |ORDER BY a_id, b_id""".stripMargin
  }

  // ----------------------------------------------- near-dup cluster collapse
  /** Connected components over the near-dup pair graph — the step that
    * turns pairwise matches into dedup decisions (keep one representative
    * per CLUSTER; pairwise output alone over-keeps on transitive chains
    * A~B~C where A~C is below threshold). Iterative min-label propagation:
    * each node adopts the smallest label among itself and its neighbors
    * until fixpoint — each round is one join + one aggregate on the edge
    * list, and rounds are bounded by the cluster diameter (near-dup
    * clusters are dense, so a handful; the classic large-star/small-star
    * variant gets O(log n) on adversarial graphs). The driver loop holds
    * only a changed-row COUNT, never data. Deterministic (min over ids) →
    * oracle-checked against a DuckDB recursive-CTE reachability closure. */
  def nearDupClusters(s: SparkSession, dir: String): DataFrame = {
    guardExactPairs(s, dir, "neardup_clusters",
      "connectedComponents over neardup_minhash_md5 pairs")
    connectedComponents(jaccardNearDup(s, dir).select("a_id", "b_id"))
  }

  // --------------------------------------------- cluster canonicalization
  /** Quality-aware canonical selection per near-dup cluster — the step
    * between "clusters found" and "training set written": production
    * dedup keeps the BEST member of each cluster, not the first-crawled
    * (lowest-id) one. The keep rule is (rounded type-token ratio DESC,
    * doc_id ASC) over the cluster's members — the same gate-rounded score
    * [[graft.operators.Curation]] budgets on, so rank ties are decided
    * identically on both engines. Emits one row per cluster: the CC rep
    * (stable cluster identity), the canonical keeper, its score, and how
    * many docs the choice discards.
    *
    * Scale: CC labels are near-dup-sized; the member score join touches
    * only clustered docs, and the keep rule is one rank-1 window per
    * cluster. */
  def nearDupCanonical(s: SparkSession, dir: String): DataFrame = {
    guardExactPairs(s, dir, "neardup_canonical",
      "the same keep rule over ccLabels(neardup_minhash_md5 pairs)")
    val t = filter(split(col("text"), " "), x => x =!= "")
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"),
        round(size(array_distinct(t)).cast("double") / size(t), 6).as("ttr"))
    val labels = ccLabels(jaccardNearDup(s, dir).select("a_id", "b_id"))
      .withColumnRenamed("id", "doc_id")
    val w = Window.partitionBy(col("lbl"))
      .orderBy(col("ttr").desc, col("doc_id"))
    labels.join(scored, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("lbl"))))
      .filter(col("rn") === 1)
      .select(col("lbl").as("cluster_rep"), col("doc_id").as("canonical_id"),
        col("ttr").as("canonical_ttr"), (col("n_members") - 1L).as("n_discarded"))
      .orderBy("cluster_rep")
  }

  val nearDupCanonicalSql: String =
    """WITH RECURSIVE pairs AS (
      |  WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |  sh AS (
      |    SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
      |    WHERE len(tk) >= 3
      |  ),
      |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |  common AS (
      |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2
      |  )
      |  SELECT a_id, b_id FROM common
      |  JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
      |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
      |),
      |edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION SELECT b_id, a_id FROM pairs
      |),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      |),
      |lbl AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS lbl
      |  FROM reach GROUP BY src
      |),
      |scored AS (
      |  SELECT doc_id,
      |    round(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) * 1.0
      |          / len(list_filter(string_split(text, ' '), x -> x <> '')), 6) AS ttr
      |  FROM documents
      |),
      |ranked AS (
      |  SELECT lbl, l.doc_id, ttr,
      |    row_number() OVER (PARTITION BY lbl ORDER BY ttr DESC, l.doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lbl) AS n_members
      |  FROM lbl l JOIN scored s ON l.doc_id = s.doc_id
      |)
      |SELECT lbl AS cluster_rep, doc_id AS canonical_id,
      |       ttr AS canonical_ttr,
      |       CAST(n_members - 1 AS BIGINT) AS n_discarded
      |FROM ranked WHERE rn = 1 ORDER BY cluster_rep""".stripMargin

  /** Min-label propagation with pointer doubling over an (a_id, b_id) pair
    * list; see [[nearDupClusters]]. Isolated docs (no pairs) are their own
    * cluster and are excluded — output covers clustered docs only.
    *
    * Each round does (1) propagate: every node takes the min label among
    * itself and its neighbors, then (2) compress: `lbl ← lbl(lbl)` — the
    * pointer-doubling step that halves the remaining hop distance to each
    * component's minimum, giving O(log diameter) rounds where one-hop
    * propagation alone needs O(diameter) (a CDC-style chain of 10^4 docs
    * would need 10^4 one-hop rounds but ~14 doubling rounds). Every round
    * `localCheckpoint`s the label table: the label lineage would otherwise
    * grow by one join-tree per round and the driver would re-analyze the
    * whole accumulated plan each iteration — the classic iterative-DataFrame
    * trap. (On a real cluster use `checkpoint` to reliable storage instead;
    * localCheckpoint keeps blocks on executors, which is exactly right for
    * local[n].) Superseded label tables are released as soon as the next
    * round is materialized, so the loop holds at most two label snapshots —
    * not one per round. The driver holds only counts, never rows. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val out = ccLabels(pairs).groupBy("lbl")
      .agg(count(lit(1)).as("cluster_size"),
           sort_array(collect_list(col("id"))).as("members"))
      .select(col("lbl").as("cluster_rep"), col("cluster_size"),
              concat_ws(",", col("members").cast("array<string>")).as("member_ids"))
      .orderBy("cluster_rep")
    out
  }

  /** The label table behind [[connectedComponents]]: one (id, lbl) row
    * per clustered doc, lbl = the component's minimum id. The curation
    * pipeline consumes this directly (drop every id ≠ lbl). */
  private[graft] def ccLabels(pairs: DataFrame): DataFrame = {
    // The fixpoint loop below is the ONE place a query builder legitimately
    // runs eager jobs (localCheckpoint materialization + convergence
    // counts): iterative CC needs a data-dependent number of rounds, so it
    // cannot ride a single lazy plan. Tag those jobs with a local property
    // so the one-action-per-query spec (PipelineSpec) can verify that
    // every OTHER build-time job is a bug, not hide this one.
    val sc = pairs.sparkSession.sparkContext
    val prevTag = sc.getLocalProperty(CcFixpointTag)
    sc.setLocalProperty(CcFixpointTag, "1")
    try ccLabelsInner(pairs)
    finally sc.setLocalProperty(CcFixpointTag, prevTag)
  }

  private[graft] val CcFixpointTag = "graft.cc.fixpoint"

  /** Directed-edge-count ceiling for [[ccLabelsInner]]'s driver union-find
    * fast path (16 B/row → the default is ~3 MB collected, orders of
    * magnitude under maxResultSize); above it the distributed
    * pointer-doubling fixpoint runs unchanged. */
  private[graft] val CcDriverMaxEdgesKey = "spark.graft.cc.driverMaxEdges"

  private def ccLabelsInner(pairs: DataFrame): DataFrame = {
    // Every snapshot below is localCheckpoint + repinStats: the checkpoint
    // truncates DATA lineage, the re-pin truncates STATISTICS lineage.
    // Without the re-pin, each round's carried size estimate is the
    // product-of-children score of a plan that references the previous
    // snapshot three times, so the estimate's bit length ~triples per
    // round — the sf1 scale rehearsal measured the driver burning
    // 0.5 → 33 s/round in BigInteger multiplies before dying on
    // "BigInteger would overflow" at ~round 20 (see GraftShims.repinStats).
    // The counts feeding the re-pin are on already-materialized snapshots
    // (cheap), and node count is round-invariant so it is counted once.
    var nEdges = 0L
    val edges = {
      // ids cast to long here, so every path below (the driver collect's
      // getLong included) holds for any integral id type
      val e = pairs.select(col("a_id").cast("long").as("src"), col("b_id").cast("long").as("dst"))
      val e0 = Pins.checkpoint(e.union(e.select(col("dst").as("src"), col("src").as("dst"))))
      nEdges = e0.count()
      GraftShims.repinStats(e0, nEdges, 16L)
    }
    // SMALL-GRAPH FAST PATH (r20 optimization, guide §1.2 "the distributed
    // algorithm"): the fixpoint below costs 2-4 driver round-trips (plan
    // compile + checkpoint + convergence count per round) REGARDLESS of
    // edge count — measured 1.0-1.6 s per CC call at sf0.1 over a few
    // hundred edges, repeated in ~12 composed queries. A dedup/ER edge set
    // is near-dup-pair-sized; when it fits comfortably on the driver
    // (≤ [[CcDriverMaxEdges]] directed rows ≈ 16 B each — megabytes, far
    // under maxResultSize, threshold conf-overridable), collect the
    // already-materialized checkpoint once and run union-find with
    // min-label semantics there: the SAME (id, component-min) table, in
    // one job instead of ~10. Past the threshold — a 100 TB corpus's edge
    // set — the distributed pointer-doubling loop below runs exactly as
    // before. This is the bounded-collect class the streaming decisions
    // already use (batch-sized, size-guarded), not a corpus-sized pull:
    // the guard reads the count the stats re-pin pays for anyway.
    val maxDriverEdges = longConf(pairs.sparkSession, CcDriverMaxEdgesKey, 200000L)
    if (nEdges <= maxDriverEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by MIN root: the root is always the component's minimum
        // seen so far, so the final find(x) IS the component minimum
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      Pins.release(edges)
      val spark = pairs.sparkSession
      import spark.implicits._
      return rows.toDF("id", "lbl")
    }
    var nNodes = 0L
    // round 0 for free: label = min(id, min neighbor)
    var labels = {
      val l0 = Pins.checkpoint(edges.groupBy(col("src").as("id"))
        .agg(least(min(col("dst")), col("src")).as("lbl")))
      nNodes = l0.count()
      GraftShims.repinStats(l0, nNodes, 16L)
    }
    var labelsPin = labels // the snapshot `labels` projects
    var changed = 1L
    var rounds = 0
    // with doubling, 50 rounds covers diameters up to ~2^50 — but if the
    // loop ever exits non-converged the result is silently wrong (split
    // clusters), so that exit FAILS LOUDLY instead of returning
    while (changed > 0 && rounds < 50) {
      rounds += 1
      val prev = labels
      // propagate: min over neighbor labels (and own)
      val prop = edges.join(prev.withColumnRenamed("id", "dst")
                                .withColumnRenamed("lbl", "nlbl"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nlbl")).as("minNbr"))
        .join(prev, "id")
        .select(col("id"), least(col("lbl"), col("minNbr")).as("lbl"),
                col("lbl").as("old"))
      // compress: lbl ← lbl(lbl); a label that is itself a component min
      // maps to itself (left join keeps it). Carrying `old` through lets
      // the changed-count run on the materialized snapshot — one extra
      // narrow column instead of a second join-against-previous job.
      val next = GraftShims.repinStats(
        Pins.checkpoint(prop.join(
          prev.select(col("id").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"), "left")
        .select(col("id"), coalesce(col("lbl2"), col("lbl")).as("lbl"), col("old"))),
        nNodes, 24L) // one row per node at every round — no recount needed
      changed = next.filter(col("lbl") =!= col("old")).count()
      Pins.release(labelsPin)
      labelsPin = next
      labels = next.drop("old")
    }
    Pins.release(edges)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $rounds rounds ($changed labels still changing)")
    // the final `labels` snapshot stays pinned — the returned (lazy)
    // DataFrame reads it, so it moves to the caller's scope
    labels
  }

  val nearDupClustersSql: String =
    """WITH RECURSIVE pairs AS (
      |  WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |  sh AS (
      |    SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
      |    WHERE len(tk) >= 3
      |  ),
      |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |  common AS (
      |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
      |    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |    GROUP BY 1, 2
      |  )
      |  SELECT a_id, b_id FROM common
      |  JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
      |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
      |),
      |edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION SELECT b_id, a_id FROM pairs
      |),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      |),
      |lbl AS (
      |  SELECT src AS id, least(src, min(dst)) AS cluster_rep
      |  FROM reach GROUP BY src
      |)
      |SELECT cluster_rep, count(*) AS cluster_size,
      |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS member_ids
      |FROM lbl GROUP BY cluster_rep ORDER BY cluster_rep""".stripMargin

  // ------------------------------------------------- entity resolution
  /** Multi-signal entity resolution: one entity table from THREE match
    * signals — exact content (digest groups), near-duplicate text
    * (Jaccard ≥ 0.7, tighter than the dedup threshold because ER asserts
    * identity, not redundancy), and perceptual image similarity (aHash
    * hamming ≤ 3 via [[Multimodal.imageNearDup]]'s banded join) — unioned
    * into an edge set and collapsed by the shared connected-components
    * fixpoint. The classic record-linkage shape (Fellegi–Sunter blocking +
    * multi-evidence clustering) over this engine's own primitives.
    *
    * Scale notes: exact-match edges are STAR edges (group-min → member),
    * linear in the group size where naive same-digest pairing is quadratic
    * in a hot group — same CC result, viral-duplicate-proof; the other two
    * signals arrive through their own star-capped candidate machinery. The
    * oracle splices the image query's own CTE chain (as the recall report
    * does) so the third signal can never drift from the gated query. */
  def entityResolution(s: SparkSession, dir: String): DataFrame = {
    guardExactPairs(s, dir, "entity_resolution", "entity_resolution_lsh")
    connectedComponents(entityPairsOf(Tables.documents(s, dir)))
      .select(col("cluster_rep").as("entity_rep"),
        col("cluster_size").as("entity_size"), col("member_ids"))
      .orderBy("entity_rep")
  }

  /** The three-signal edge set behind [[entityResolution]], parametrized by
    * the document set — also the per-batch pair source of the CONTINUOUS
    * resolver ([[graft.streaming.StreamingCurate.EntityResolveSession]]),
    * which must use these exact signals so the stream can never drift from
    * the batch query. */
  private[graft] def entityPairsOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text")), length(col("text")))
    val exact = docs
      .withColumn("bmin", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("a_id"), col("doc_id").as("b_id"))
    val near = jaccardPairsFrom(docs, 0.7).select(col("a_id"), col("b_id"))
    // corpus-faithful media signal: ER asserts identity over REAL docs;
    // the sentinel fixture is confined to the mm_* gate registrations
    val media = Multimodal.imageNearDupOf(docs, sentinels = false)
      .select(col("a_id"), col("b_id"))
    exact.unionAll(near).unionAll(media).distinct()
  }

  val entityResolutionSql: String = {
    // faithful (non-mirrored) media chain — matches entityPairsOf's
    // sentinels = false; natural exact/Jaccard dups keep the gate non-empty
    val mediaChain = Multimodal.imageNearDupSqlOf(mirrored = false).stripPrefix("WITH ")
    val cut = mediaChain.lastIndexOf("SELECT a_id, b_id,")
    val mediaCtes = mediaChain.substring(0, cut).trim
    s"""WITH RECURSIVE $mediaCtes,
       |mpairs AS (
       |  SELECT a_id, b_id
       |  FROM cand JOIN hashes a ON a_id = a.doc_id JOIN hashes b ON b_id = b.doc_id
       |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
       |),
       |jtoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |jsh AS (
       |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
       |  FROM jtoks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
       |  WHERE len(tk) >= 3
       |),
       |jsizes AS (SELECT doc_id, count(*) AS n FROM jsh GROUP BY doc_id),
       |jcommon AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
       |  FROM jsh a JOIN jsh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |npairs AS (
       |  SELECT a_id, b_id FROM jcommon
       |  JOIN jsizes sa ON a_id = sa.doc_id JOIN jsizes sb ON b_id = sb.doc_id
       |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
       |),
       |epairs AS (
       |  SELECT bmin AS a_id, doc_id AS b_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS bmin FROM documents)
       |  WHERE doc_id <> bmin
       |),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM mpairs
       |  UNION SELECT b_id, a_id FROM mpairs
       |  UNION SELECT a_id, b_id FROM npairs
       |  UNION SELECT b_id, a_id FROM npairs
       |  UNION SELECT a_id, b_id FROM epairs
       |  UNION SELECT b_id, a_id FROM epairs
       |),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |),
       |lbl AS (
       |  SELECT src AS id, least(src, min(dst)) AS entity_rep
       |  FROM reach GROUP BY src
       |)
       |SELECT entity_rep, count(*) AS entity_size,
       |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS member_ids
       |FROM lbl GROUP BY entity_rep ORDER BY entity_rep""".stripMargin
  }

  /** [[entityResolution]]'s LSH-banded scale twin — the SAME three-signal
    * composition, but the near-text signal arrives through the md5-minhash
    * BAND candidates ([[minhashMd5CandidatesFrom]]) with exact J ≥ 0.7
    * verification instead of the full inverted-index pair join. Why it
    * exists as a gated query and not just an argument: the round-13 scale
    * rehearsal (SCALE.md) measured the exact pair join stepping ~3.2× per
    * corpus doubling on a dense-vocabulary corpus (Σ df² ∝ n²) while the
    * banded path held ~2.0× — this twin is the production ER shape at
    * 100 TB, and its oracle reproduces the banding, star cap, and verify
    * end-to-end so the swap's semantics are hash-checked, not assumed.
    * Recall of the banded candidate set vs the exact pair set is itself a
    * gated number (`dedup_minhash_recall`); at J ≥ 0.7 with 8 bands × 2
    * rows a qualifying pair is missed w.p. (1 − 0.7²)⁸ ≈ 0.5%. */
  def entityResolutionLsh(s: SparkSession, dir: String): DataFrame =
    connectedComponents(entityPairsLshOf(Tables.documents(s, dir)))
      .select(col("cluster_rep").as("entity_rep"),
        col("cluster_size").as("entity_size"), col("member_ids"))
      .orderBy("entity_rep")

  /** The banded-candidate edge set behind [[entityResolutionLsh]] — exact
    * and media signals identical to [[entityPairsOf]]; only the near-text
    * candidate generator differs. */
  private[graft] def entityPairsLshOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text")), length(col("text")))
    val exact = docs
      .withColumn("bmin", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("a_id"), col("doc_id").as("b_id"))
    val docsArr = Pins.cache(shingleArrays(docs))
    val near = verifyPairs(minhashMd5CandidatesFrom(docsArr), docsArr, 0.7)
      .select(col("a_id"), col("b_id"))
    val media = Multimodal.imageNearDupOf(docs, sentinels = false)
      .select(col("a_id"), col("b_id"))
    exact.unionAll(near).unionAll(media).distinct()
  }

  /** DuckDB mirror of [[entityResolutionLsh]]: the faithful media chain +
    * the md5-minhash band chain (signatures, string band buckets, the
    * [[MaxBucket]] star fallback) at the ER threshold + the exact-content
    * star edges + the recursive closure — the full scale-path capstone
    * under one hash gate. */
  val entityResolutionLshSql: String = {
    val mediaChain = Multimodal.imageNearDupSqlOf(mirrored = false).stripPrefix("WITH ")
    val cut = mediaChain.lastIndexOf("SELECT a_id, b_id,")
    val mediaCtes = mediaChain.substring(0, cut).trim
    s"""WITH RECURSIVE $mediaCtes,
       |mpairs AS (
       |  SELECT a_id, b_id
       |  FROM cand JOIN hashes a ON a_id = a.doc_id JOIN hashes b ON b_id = b.doc_id
       |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
       |),
       |jtoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |jsh AS (
       |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
       |  FROM jtoks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
       |  WHERE len(tk) >= 3
       |),
       |jsizes AS (SELECT doc_id, count(*) AS n FROM jsh GROUP BY doc_id),
       |jhashes AS (
       |  SELECT doc_id, i,
       |         min(('0x' || substring(md5(s || '#' || i), 1, 15))::BIGINT) AS mh
       |  FROM jsh, LATERAL (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS i) seeds
       |  GROUP BY doc_id, i
       |),
       |jbands AS (
       |  SELECT doc_id, i // $BandRows AS band,
       |         string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
       |  FROM jhashes GROUP BY doc_id, i // $BandRows
       |),
       |jbstats AS (
       |  SELECT band, bucket, count(*) AS bsz, min(doc_id) AS bmin
       |  FROM jbands GROUP BY 1, 2 HAVING count(*) >= 2
       |),
       |jjoined AS (SELECT b.doc_id, b.band, b.bucket, s.bsz, s.bmin
       |            FROM jbands b JOIN jbstats s USING (band, bucket)),
       |jcand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM jjoined a JOIN jjoined b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  WHERE a.bsz <= $MaxBucket
       |  UNION
       |  SELECT DISTINCT bmin AS a_id, doc_id AS b_id
       |  FROM jjoined WHERE bsz > $MaxBucket AND doc_id <> bmin
       |),
       |jcommon AS (
       |  SELECT c.a_id, c.b_id, count(*) AS c
       |  FROM jcand c
       |  JOIN jsh x ON x.doc_id = c.a_id
       |  JOIN jsh y ON y.doc_id = c.b_id AND y.s = x.s
       |  GROUP BY 1, 2
       |),
       |npairs AS (
       |  SELECT a_id, b_id FROM jcommon
       |  JOIN jsizes sa ON a_id = sa.doc_id JOIN jsizes sb ON b_id = sb.doc_id
       |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
       |),
       |epairs AS (
       |  SELECT bmin AS a_id, doc_id AS b_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS bmin FROM documents)
       |  WHERE doc_id <> bmin
       |),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM mpairs
       |  UNION SELECT b_id, a_id FROM mpairs
       |  UNION SELECT a_id, b_id FROM npairs
       |  UNION SELECT b_id, a_id FROM npairs
       |  UNION SELECT a_id, b_id FROM epairs
       |  UNION SELECT b_id, a_id FROM epairs
       |),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |),
       |lbl AS (
       |  SELECT src AS id, least(src, min(dst)) AS entity_rep
       |  FROM reach GROUP BY src
       |)
       |SELECT entity_rep, count(*) AS entity_size,
       |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS member_ids
       |FROM lbl GROUP BY entity_rep ORDER BY entity_rep""".stripMargin
  }

  /** Incremental dedup probe — the shape continuous ingestion actually
    * runs: a small NEW BATCH (here doc_id % 7 == 0, ~14% of the corpus,
    * standing in for a day's crawl) is probed against the EXISTING corpus
    * instead of re-deduplicating everything. Two stages, mirroring the
    * batch operators they reuse:
    *
    *  1. exact probe — join on (md5(text), length): the shuffle carries a
    *     16-byte digest per row, never the documents. A matched batch doc
    *     reports its lowest-id corpus twin.
    *  2. near probe — only batch docs that survived stage 1 explode their
    *     shingles against the corpus inverted index; best corpus match
    *     (highest full-set Jaccard ≥ 0.5, ties to lowest corpus_id) wins.
    *
    * At 100 TB the asymmetry is the whole point: the corpus side is scanned
    * once and shuffled on the shingle key while the batch side is a sliver
    * of it (AQE broadcasts the batch index when it fits); a production
    * deployment materializes the corpus shingle index once (bucketed by
    * shingle) and probes it daily without reshuffling the corpus. The
    * candidate stage COMPOSES the [[jaccardPrefixNearDup]] prefix filter
    * (see [[incrementalNearCandidates]]): both sides index only their
    * PREFIX under the shared global (df asc, shingle) order, so the
    * standing corpus index is half-size and holds each document's rarest
    * shingles — the Σ df² join fan-out collapses exactly as in the
    * self-join case, and the filter is lossless at t = 0.5, which the
    * unchanged oracle hash-gate proves end-to-end. Output: one row per
    * duplicated batch doc (batch_id, corpus_id, kind ∈ exact|near, jac),
    * fully oracle-checked. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = Pins.scope {
    val docs = Tables.documents(s, dir)
    val batch  = docs.filter(col("doc_id") % 7 === 0)
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    def keyed(d: DataFrame, as: String): DataFrame = d.select(
      col("doc_id").as(as), md5(col("text")).as("h"),
      length(col("text")).as("len"))
    // each re-referenced frame is cached once (the in-file pattern): exact
    // feeds both the output union and the left_anti, and each shingle-array
    // side is read twice (prefix-index explode + exact verify join) —
    // without the caches one action re-runs the full-corpus digest join
    // three times
    val exact = Pins.cache(keyed(batch, "batch_id").join(keyed(corpus, "corpus_id"), Seq("h", "len"))
      .groupBy("batch_id").agg(min("corpus_id").as("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        lit("exact").as("kind"), lit(1.0).as("jac")))
    val rest = batch.join(
      exact.select(col("batch_id").as("doc_id")), Seq("doc_id"), "left_anti")
    val bArr = Pins.cache(shingleArrays(rest).select(
      col("doc_id").as("batch_id"), col("sh"), size(col("sh")).cast("long").as("nb")))
    val cArr = Pins.cache(shingleArrays(corpus).select(
      col("doc_id").as("corpus_id"), col("sh"), size(col("sh")).cast("long").as("nc")))
    // exact full-set verification of the prefix-filtered candidates, best
    // corpus match per batch doc
    val nearCand = incrementalNearCandidates(bArr, cArr, 0.5,
        "dedup_incremental", "dedup_incremental_banded (the banded standing probe)")
    val best = bestCorpusMatch(nearCand, bArr, cArr, 0.5)
      .select(col("batch_id"), col("corpus_id"), lit("near").as("kind"), col("jac"))
    // the output is sliver-sized (≤1 row per duplicated batch doc) —
    // materialize eagerly; the scope releases every other pin of this run
    Pins.checkpoint(exact.unionByName(best).orderBy("batch_id"))
  }

  /** Prefix-filtered batch→corpus candidate pairs — the R-S–join form of
    * [[jaccardPrefixNearDup]]'s self-join prefix filter. Both sides'
    * shingle sets are sorted by ONE global total order — (document
    * frequency asc, shingle asc), df counted over the UNION of the two
    * sides so the order is defined and identical for every shingle either
    * side contains — and only the first |x| − ⌈t·|x|⌉ + 1 shingles enter
    * each side's inverted index. The PPJoin prefix lemma applies to any
    * pair, so an R-S join loses nothing: J(b, c) ≥ t ⇒ prefix(b) ∩
    * prefix(c) ≠ ∅ under the shared order. The symmetric length filter
    * (t·|b| ≤ |c| ∧ t·|c| ≤ |b|) prunes before the distinct. Inputs are
    * (id, sh array, size) frames; output (batch_id, corpus_id) pairs for
    * exact verification.
    *
    * SATURATION GUARD (round 18 — the last unguarded Σ df²-class path):
    * the per-run rebuild forms compute their dfreq in-run, so the
    * standing-index footer guard cannot see them — on a saturated
    * vocabulary at 100× rows they scheduled the measured 70+ GB
    * disk-filling spill (SCALE.md run M/U) that every standing sibling
    * already refuses. Before committing to the candidate join (the
    * quadratic stage), this computes the SAME statistic the footer guard
    * reads — corpus-side prefix rows over distinct shingles — from the
    * two frames the prefix path materializes anyway (the cached prefix
    * index and the cached dfreq), and refuses over the shared threshold
    * naming `alt` (the banded twin, which RUNS on the refused corpus —
    * spec-pinned). Cost: the two counts materialize caches the join
    * would fill one job later; the statistic itself is free. */
  private[graft] def incrementalNearCandidates(bArr: DataFrame, cArr: DataFrame,
                                               t: Double,
                                               what: String = "incremental near candidates",
                                               alt: String = "the banded standing probe")
      : DataFrame = {
    // ONE side-tagged union builds both prefix indexes in a single df-join
    // + groupBy pipeline (two per-side pipelines would pay the df join and
    // the per-doc re-sort twice); the cached exploded index is then split
    // by the tag for the candidate join. At deployment scale the corpus
    // half of this index is the precomputed, shingle-bucketed standing
    // index — only the batch sliver is built per run.
    val sh = bArr.select(col("batch_id").as("id"), lit(true).as("isB"),
        explode(col("sh")).as("s"))
      .unionByName(cArr.select(col("corpus_id").as("id"), lit(false).as("isB"),
        explode(col("sh")).as("s")))
    // dfreq cached: the guard below counts it (CORPUS-side distinct
    // shingles — dfc carries the per-side split) and the prefix-index
    // join reads it — one computation. The prefix ORDER stays the union
    // df: both sides must share one total order; the split is guard-only.
    val dfreq = Pins.cache(sh.groupBy("s")
      .agg(count(lit(1)).as("df"),
        count(when(!col("isB"), lit(1))).as("dfc")))
    val idx = Pins.cache(sh.join(dfreq, "s")
      .groupBy("id", "isB")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("os"))
      .select(col("id"), col("isB"), size(col("os")).cast("long").as("n"),
        prefixSlice(t).as("pf"))
      // posexplode: each prefix row carries its 0-based position in the
      // doc's (df, s)-sorted order, feeding the PPJoin positional filter
      // in the candidate join below
      .select(col("id"), col("isB"), col("n"), posexplode(col("pf")).as(Seq("p", "e")))
      .select(col("id"), col("isB"), col("n"), col("p").cast("long").as("p"),
        col("e.s").as("s")))
    // in-run saturation guard — computing dfreq is linear in total
    // shingle rows (safe at any vocabulary shape); the CANDIDATE JOIN
    // below is the Σ dfB·dfC stage the guard exists to stop. The
    // numerator (corpus-side prefix rows) is ANALYTIC — each doc with
    // n ≥ 1 shingles contributes exactly n − ⌈t·n⌉ + 1 prefix rows — and
    // the denominator counts CORPUS-side distinct shingles only (round
    // 19, advisor: a batch sliver with many novel shingles inflated the
    // union denominator and made the in-run guard more permissive than
    // the standing one; both terms now match the footer statistic's
    // definition exactly), so a refusal pays one agg over the cached
    // size column plus the dfreq count (which fills the cache the prefix
    // join reads on pass), never the index materialization. Measured on
    // the real corpora (ProbeSaturationStat, round 18, union
    // denominator): harness sf0.1 = 4.2, sf1 = 39.6, heaps sf10 = 0.6,
    // adversarial sf10 = 396 — the corpus-only denominator can only
    // nudge these UP (≤ 7/6 on the harness split), preserving the 3×
    // margins on the shared 128 threshold.
    // ONE action for both guard statistics (r20: they ran as two driver
    // round-trips; a tagged union of the two single-row aggregates costs
    // one job and still fills the dfreq cache the prefix join reads)
    val guardStats = cArr
      .select(size(col("sh")).cast("long").as("n"))
      .select(when(col("n") > 0,
        col("n") - ceil(lit(t) * col("n")).cast("long") + 1L)
        .otherwise(lit(0L)).as("p"))
      .agg(coalesce(sum("p"), lit(0L)).as("v"))
      .select(lit(0).as("tag"), col("v"))
      .unionByName(dfreq.filter(col("dfc") > 0)
        .agg(count(lit(1)).as("v"))
        .select(lit(1).as("tag"), col("v")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val prefixRows = guardStats(0)
    val dfreqRows = guardStats(1).max(1L)
    StandingIndex.guardMeanPrefixDf(bArr.sparkSession,
      prefixRows.toDouble / dfreqRows,
      "computed in-run before the candidate join", what, alt)
    // PPJoin positional filter (Xiao et al., WWW 2008 — lossless): a
    // common prefix shingle found at 0-based sorted positions (pb, pc)
    // bounds the pair's possible overlap at 1 + min(bn−pb−1, cn−pc−1);
    // J ≥ t requires overlap ≥ ⌈t·(bn+cn)/(1+t)⌉, and a true pair's
    // FIRST common shingle always satisfies the bound (all of its overlap
    // lies at or after that position on both sides), so filtering each
    // occurrence row before the pair-distinct drops only pairs the exact
    // verification would reject anyway — measured ~2× fewer candidate
    // pairs into the verify join at sf0.1 (r19 optimization, guide §3.2
    // family: prune before the expensive stage).
    idx.filter(col("isB"))
      .select(col("id").as("batch_id"), col("n").as("bn"), col("p").as("pb"), col("s"))
      .join(idx.filter(!col("isB"))
        .select(col("id").as("corpus_id"), col("n").as("cn"), col("p").as("pc"), col("s")), "s")
      .filter(col("bn") * t <= col("cn") && col("cn") * t <= col("bn"))
      // overlap bound without a division (see [[jaccardPairsPrefixFrom]]):
      // provably exact at the shipped t = 0.5 only — both sides are
      // rounded doubles
      .filter((lit(1L) + least(col("bn") - col("pb") - 1L, col("cn") - col("pc") - 1L))
        * lit(1 + t) >= lit(t) * (col("bn") + col("cn")))
      .select("batch_id", "corpus_id").distinct()
  }

  val incrementalDedupSql: String =
    """WITH batch AS (SELECT * FROM documents WHERE doc_id % 7 = 0),
      |corpus AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
      |ex AS (
      |  SELECT b.doc_id AS batch_id, min(c.doc_id) AS corpus_id
      |  FROM batch b JOIN corpus c
      |    ON md5(b.text) = md5(c.text) AND length(b.text) = length(c.text)
      |  GROUP BY 1
      |),
      |bsh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM batch
      |        WHERE doc_id NOT IN (SELECT batch_id FROM ex)),
      |       LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
      |  WHERE len(tk) >= 3
      |),
      |csh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
      |       LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
      |  WHERE len(tk) >= 3
      |),
      |bsz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY 1),
      |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
      |common AS (
      |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, count(*) AS c
      |  FROM bsh b JOIN csh c ON b.s = c.s GROUP BY 1, 2
      |),
      |near AS (
      |  SELECT batch_id, corpus_id, 'near' AS kind,
      |         c * 1.0 / (bn.n + cn.n - c) AS jac
      |  FROM common JOIN bsz bn ON batch_id = bn.doc_id
      |              JOIN csz cn ON corpus_id = cn.doc_id
      |  WHERE c * 1.0 / (bn.n + cn.n - c) >= 0.5
      |  QUALIFY row_number() OVER (PARTITION BY batch_id
      |                             ORDER BY c * 1.0 / (bn.n + cn.n - c) DESC,
      |                                      corpus_id) = 1
      |)
      |SELECT batch_id, corpus_id, 'exact' AS kind, CAST(1.0 AS DOUBLE) AS jac
      |FROM ex
      |UNION ALL SELECT batch_id, corpus_id, kind, jac FROM near
      |ORDER BY batch_id""".stripMargin

  /** [[graft.operators.StandingIndex.incrementalDedupBanded]]'s oracle:
    * the exact digest stage verbatim, the near stage through the
    * md5-minhash band family — probe- and corpus-side band rows from the
    * same signature chain as every banded oracle, hot CORPUS buckets
    * (> [[MaxBucket]] members) star-collapsed to their minimum corpus
    * id, then the exact-verify + best-match tail. Mid-chain CTEs pinned
    * MATERIALIZED (cbands feeds cbstats AND the candidate join; DuckDB
    * re-inlines per reference otherwise). */
  val incrementalDedupBandedSql: String =
    s"""WITH batch AS (SELECT * FROM documents WHERE doc_id % 7 = 0),
      |corpus AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
      |ex AS (
      |  SELECT b.doc_id AS batch_id, min(c.doc_id) AS corpus_id
      |  FROM batch b JOIN corpus c
      |    ON md5(b.text) = md5(c.text) AND length(b.text) = length(c.text)
      |  GROUP BY 1
      |),
      |bsh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM batch
      |        WHERE doc_id NOT IN (SELECT batch_id FROM ex)),
      |       LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
      |  WHERE len(tk) >= 3
      |),
      |csh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
      |       LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
      |  WHERE len(tk) >= 3
      |),
      |bsz AS (SELECT doc_id, count(*) AS n FROM bsh GROUP BY 1),
      |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
      |bmh AS (
      |  SELECT doc_id, i,
      |         min(('0x' || substring(md5(s || '#' || i), 1, 15))::BIGINT) AS mh
      |  FROM bsh, LATERAL (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS i) seeds
      |  GROUP BY doc_id, i
      |),
      |bbands AS MATERIALIZED (
      |  SELECT doc_id, i // $BandRows AS band,
      |         string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
      |  FROM bmh GROUP BY doc_id, i // $BandRows
      |),
      |cmh AS (
      |  SELECT doc_id, i,
      |         min(('0x' || substring(md5(s || '#' || i), 1, 15))::BIGINT) AS mh
      |  FROM csh, LATERAL (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS i) seeds
      |  GROUP BY doc_id, i
      |),
      |cbands AS MATERIALIZED (
      |  SELECT doc_id, i // $BandRows AS band,
      |         string_agg(mh::VARCHAR, ',' ORDER BY i) AS bucket
      |  FROM cmh GROUP BY doc_id, i // $BandRows
      |),
      |cbstats AS MATERIALIZED (
      |  SELECT band, bucket, count(*) AS ksz, min(doc_id) AS kmin
      |  FROM cbands GROUP BY 1, 2
      |),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
      |  FROM bbands b JOIN cbstats s USING (band, bucket)
      |                JOIN cbands c ON c.band = s.band AND c.bucket = s.bucket
      |  WHERE s.ksz <= $MaxBucket
      |  UNION
      |  SELECT DISTINCT b.doc_id, s.kmin
      |  FROM bbands b JOIN cbstats s USING (band, bucket)
      |  WHERE s.ksz > $MaxBucket
      |),
      |common AS (
      |  SELECT d.batch_id, d.corpus_id, count(*) AS c
      |  FROM cand d JOIN bsh b ON b.doc_id = d.batch_id
      |              JOIN csh c ON c.doc_id = d.corpus_id AND c.s = b.s
      |  GROUP BY 1, 2
      |),
      |near AS (
      |  SELECT batch_id, corpus_id, 'near' AS kind,
      |         c * 1.0 / (bn.n + cn.n - c) AS jac
      |  FROM common JOIN bsz bn ON batch_id = bn.doc_id
      |              JOIN csz cn ON corpus_id = cn.doc_id
      |  WHERE c * 1.0 / (bn.n + cn.n - c) >= 0.5
      |  QUALIFY row_number() OVER (PARTITION BY batch_id
      |                             ORDER BY c * 1.0 / (bn.n + cn.n - c) DESC,
      |                                      corpus_id) = 1
      |)
      |SELECT batch_id, corpus_id, 'exact' AS kind, CAST(1.0 AS DOUBLE) AS jac
      |FROM ex
      |UNION ALL SELECT batch_id, corpus_id, kind, jac FROM near
      |ORDER BY batch_id""".stripMargin

  // --------------------------------------------------- bloom prefilter
  /** Bloom-filter bits (2^16) — at sf0.1's ~4.3k-doc corpus × k=4 the fill
    * is ~24% → FPR ≈ 0.3%; at 100 TB m scales to ~10 bits/key as usual. */
  val BloomBits = 65536
  /** Bloom hash count. */
  val BloomHashes = 4

  /** k md5-derived bit positions for one key — hash i is the first 8 hex
    * chars of md5("i:" || text) mod [[BloomBits]] (the established
    * cross-engine md5 idiom, cf. [[DataPrep.md5Bucket]]). */
  private def bloomPositions(text: Column): Column =
    array((1 to BloomHashes).map(i =>
      conv(substring(md5(concat(lit(s"$i:"), text)), 1, 8), 16, 10)
        .cast("long") % BloomBits): _*)

  /** Bloom-filter membership prefilter — the stage that runs BEFORE
    * [[incrementalDedup]]'s digest join at deployment scale: a bit array
    * built once over the standing corpus answers "definitely new" for most
    * of each incoming batch, so only the maybe-dup slice (bounded by the
    * true-dup rate + FPR) ever pays the corpus-sized shuffle join.
    *
    * Cross-engine form: k=[[BloomHashes]] positions per key via md5 (above),
    * so the filter's exact bit pattern — hence every maybe/no verdict AND
    * every false positive — is hash-gated, which Spark's native bloom
    * sketch (`DataFrameStatFunctions.bloomFilter`, xxhash-based, opaque
    * layout) can't be; the spec proves the native twin agrees on the only
    * property Bloom guarantees, no false negatives. The built filter is one sorted distinct-position
    * array (≤ [[BloomBits]] longs) broadcast as a single column; the probe
    * is plan-constant per row — no join, no shuffle before the final sort.
    * `is_dup` (the exact verdict, via a broadcast digest join over the
    * whole batch) rides along so the output itself certifies zero false
    * negatives and exhibits the FPR; in production that join takes only
    * the `maybe_dup` survivors. Same batch/corpus split as
    * [[incrementalDedup]] (doc_id % 7). */
  def bloomPrefilter(s: SparkSession, dir: String): DataFrame =
    bloomPrefilterFrom(Tables.documents(s, dir))

  /** [[bloomPrefilter]] parametrized by the document set — the form the
    * randomized property spec drives. */
  private[graft] def bloomPrefilterFrom(docs: DataFrame): DataFrame = {
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val batch  = docs.filter(col("doc_id") % 7 === 0)
    bloomProbe(batch, bloomBitsOf(corpus), bloomDigestsOf(corpus))
      .orderBy("doc_id")
  }

  /** The built filter: ONE row holding the sorted distinct bit positions. */
  private[graft] def bloomBitsOf(corpus: DataFrame): DataFrame =
    corpus.select(explode(bloomPositions(col("text"))).as("pos"))
      .agg(array_sort(collect_set(col("pos"))).as("bits"))

  /** The exact side: distinct corpus digests (broadcast at probe time). */
  private[graft] def bloomDigestsOf(corpus: DataFrame): DataFrame =
    corpus.select(md5(col("text")).as("h")).distinct()

  /** Probe `batch` against a built filter + digest set — per-row
    * plan-constant on the bloom side; shared by the batch query and the
    * continuous twin ([[graft.streaming.StreamingDedup.bloomProbeStream]]). */
  private[graft] def bloomProbe(batch: DataFrame, bits: DataFrame,
                                digests: DataFrame): DataFrame =
    batch
      .crossJoin(broadcast(bits))
      .withColumn("ps", bloomPositions(col("text")))
      .withColumn("maybe_dup", expr("forall(ps, p -> array_contains(bits, p))"))
      .join(broadcast(digests), md5(col("text")) === col("h"), "left")
      .select(col("doc_id"), col("maybe_dup"), col("h").isNotNull.as("is_dup"))

  val bloomPrefilterSql: String = {
    def poss(t: String): String =
      (1 to BloomHashes).map(i =>
        s"CAST('0x' || substring(md5('$i:' || $t), 1, 8) AS BIGINT) % $BloomBits")
        .mkString("[", ", ", "]")
    s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
       |batch  AS (SELECT * FROM documents WHERE doc_id % 7 = 0),
       |bloom AS (
       |  SELECT list_sort(list(DISTINCT pos)) AS bits
       |  FROM (SELECT unnest(${poss("text")}) AS pos FROM corpus)
       |),
       |hs AS (SELECT DISTINCT md5(text) AS h FROM corpus)
       |SELECT b.doc_id,
       |       list_has_all(bloom.bits, ${poss("b.text")}) AS maybe_dup,
       |       (hs.h IS NOT NULL) AS is_dup
       |FROM batch b CROSS JOIN bloom LEFT JOIN hs ON md5(b.text) = hs.h
       |ORDER BY doc_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"           -> (exactDedup _),
    "dedup_bloom_prefilter" -> (bloomPrefilter _),
    "neardup_jaccard"       -> (jaccardNearDup _),
    "neardup_threshold_sweep" -> (thresholdSweep _),
    "neardup_jaccard_dfcap" -> (jaccardNearDupDfCap _),
    "neardup_jaccard_prefix" -> (jaccardPrefixNearDup _),
    "neardup_minhash_lsh"   -> (minhashLsh _),
    "neardup_minhash_md5"   -> (minhashMd5 _),
    "dedup_minhash_recall"  -> (minhashRecall _),
    "neardup_winnow"        -> (winnowNearDup _),
    "neardup_simhash"       -> (simhashNearDup _),
    "neardup_simhash_md5"   -> (simhashMd5 _),
    "neardup_clusters"      -> (nearDupClusters _),
    "entity_resolution"     -> (entityResolution _),
    "entity_resolution_lsh" -> (entityResolutionLsh _),
    "neardup_canonical"     -> (nearDupCanonical _),
    "dedup_incremental"     -> (incrementalDedup _)
  )

  def oracles: Map[String, String] = Map(
    "dedup_exact"           -> exactDedupSql,
    "dedup_bloom_prefilter" -> bloomPrefilterSql,
    "neardup_jaccard"       -> jaccardNearDupSql,
    "neardup_threshold_sweep" -> thresholdSweepSql,
    "neardup_jaccard_dfcap" -> jaccardNearDupDfCapSql,
    // lossless by construction: the prefix filter must reproduce the
    // all-shingle baseline's result EXACTLY — same oracle, hash-compared
    "neardup_jaccard_prefix" -> jaccardNearDupSql,
    "neardup_clusters"      -> nearDupClustersSql,
    "entity_resolution"     -> entityResolutionSql,
    "entity_resolution_lsh" -> entityResolutionLshSql,
    "neardup_canonical"     -> nearDupCanonicalSql,
    "dedup_incremental"     -> incrementalDedupSql,
    // the md5 twin makes the full LSH pipeline (signatures, bands, star
    // cap, verify) cross-engine reproducible → hash-gated
    "neardup_minhash_md5"   -> minhashMd5Sql,
    "dedup_minhash_recall"  -> minhashRecallSql,
    "neardup_simhash_md5"   -> simhashMd5Sql,
    "neardup_winnow"        -> winnowNearDupSql
    // xxhash64 minhash / simhash: hash-internal-dependent → rows-only gate
  )
}
