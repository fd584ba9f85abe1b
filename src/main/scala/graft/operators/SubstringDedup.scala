package graft.operators

import graft.Pins
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Substring-level deduplication — the missing granularity between the
  * document-level near-dup family ([[Dedup]]) and exact dedup: two
  * documents that share a long VERBATIM token run are near-dups even when
  * their overall shingle-set Jaccard is low (a boilerplate header pasted
  * into otherwise-different pages, a quoted paragraph, a mirrored lead
  * section). The published treatment (Lee et al., ACL 2022, "Deduplicating
  * Training Data Makes Language Models Better") builds one suffix array
  * over the concatenated corpus and reports duplicated substrings ≥ 50
  * tokens; a monolithic suffix array does not distribute, so the
  * Spark-first shape here is the classic k-gram anchor + diagonal
  * run-merge from sequence alignment (the seed-and-extend idea behind
  * BLAST, and the same diagonal bookkeeping MOSS-style winnowing uses):
  *
  *   1. anchor k-grams WITH their token position — a map-side
  *      tokenize + transform + posexplode, no shuffle;
  *   2. occurrence cap: k-grams appearing more than [[SubstringDedup.OccCap]]
  *      times corpus-wide are dropped BEFORE the join (a stop-boilerplate
  *      gram generates O(occ²) anchor matches and carries no locality
  *      information a rarer overlapping gram doesn't also carry —
  *      identical role to the df-cap in [[Dedup.jaccardNearDupDfCap]]);
  *      the cap bounds per-key join fan-out at OccCap² outright, so a
  *      viral boilerplate gram can never become a hot shuffle key at
  *      100 TB;
  *   3. inverted-index self-join on the gram (only position pairs whose
  *      k tokens match verbatim ever meet — never the O(n²) doc cross
  *      product);
  *   4. diagonal gaps-and-islands: a shared run of length s contributes
  *      s−k+1 anchor matches on ONE diagonal d = pos_a − pos_b with
  *      CONSECUTIVE a-positions, so `pos_a − row_number()` over
  *      (pair, diagonal) is constant exactly along each maximal run —
  *      one window + one aggregate turns anchors into maximal spans.
  *
  * Output spans are integer positions/lengths — hash-safe across engines;
  * the DuckDB oracle reproduces every stage including the cap, so the
  * capped semantics (not a weaker uncapped cousin) are what the driver
  * hash-gates. k = [[SubstringDedup.GramK]] = 8 anchors runs ≥
  * [[SubstringDedup.MinSpan]] = 12 tokens (the harness corpus' planted
  * near-dups share multi-line prefixes; production corpora use 50 per the
  * paper — both are the same plan, only constants differ).
  */
object SubstringDedup {

  /** Anchor k-gram width: a span is detected iff it contains at least one
    * verbatim k-token run, so k must be ≤ the minimum interesting span. */
  val GramK = 8

  /** Minimum reported span length, in tokens. */
  val MinSpan = 12

  /** Corpus-wide occurrence cap on anchor grams (step 2 above). */
  val OccCap = 20

  /** (doc_id, pos, g): every k-token gram with its 1-based start position.
    * Map-side only — tokenize, transform to (pos, gram) structs, explode. */
  private[graft] def positionalGrams(docs: DataFrame, k: Int = GramK): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= k)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(0, size(tk) - $k), " +
          s"i -> struct(CAST(i + 1 AS BIGINT) AS pos, concat_ws(' ', slice(tk, i + 1, $k)) AS g))"))
          .as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))

  /** Maximal duplicated token runs ≥ [[MinSpan]] across document pairs:
    * (a_id, b_id, a_start, b_start, span_len), one row per maximal shared
    * run occurrence. See the object scaladoc for the plan shape. */
  def substringSpans(s: SparkSession, dir: String): DataFrame =
    substringSpansFrom(Tables.documents(s, dir))

  /** [[substringSpans]] parametrized by the document set — the reusable
    * form specs drive with planted fixtures. */
  private[graft] def substringSpansFrom(docs: DataFrame): DataFrame = {
    // occurrence cap via a window over the gram, not groupBy + join-back:
    // one shuffle hash-partitions the anchors by g, the cap filter rides
    // it, and the cached result feeds both sides of the self-join with no
    // further exchange — the same measured win as the df-cap Jaccard path
    // (Dedup.jaccardNearDupDfCap)
    val grams = Pins.cache(positionalGrams(docs)
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("occ") <= OccCap).drop("occ"))
    val anchors = grams.select(col("doc_id").as("a_id"), col("pos").as("pa"), col("g"))
      .join(grams.select(col("doc_id").as("b_id"), col("pos").as("pb"), col("g")), "g")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("d"))
    // within one (pair, diagonal), anchor a-positions are distinct and a
    // maximal run is a maximal consecutive block → pos − row_number() is
    // the standard gaps-and-islands group key
    val runs = anchors.withColumn("grp",
      col("pa") - row_number().over(
        Window.partitionBy(col("a_id"), col("b_id"), col("d")).orderBy(col("pa"))))
    runs.groupBy("a_id", "b_id", "d", "grp")
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (max(col("pa")) - min(col("pa")) + lit(GramK.toLong)).as("span_len"))
      .filter(col("span_len") >= MinSpan)
      .select("a_id", "b_id", "a_start", "b_start", "span_len")
      .orderBy("a_id", "b_id", "a_start", "b_start")
  }

  /** Shared WITH-clause body: the span pipeline's stages as named CTEs
    * ending in `spans` — the spans query selects from it directly, and
    * the excision and curation oracles build on it, so one SQL definition
    * serves all (desync between the find and the remove steps is
    * impossible). Parametrized by the source relation so compositions can
    * run it over an upstream survivor CTE instead of the raw table. */
  private def spansCtesFrom(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $src),
       |grams AS (
       |  SELECT doc_id, i AS pos, array_to_string(tk[i:i+${GramK - 1}], ' ') AS g
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - ${GramK - 1})) AS i) s
       |  WHERE len(tk) >= $GramK
       |),
       |keep AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= $OccCap),
       |m AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS pa, b.pos AS pb,
       |         a.pos - b.pos AS d
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
       |  WHERE a.g IN (SELECT g FROM keep)
       |),
       |runs AS (
       |  SELECT a_id, b_id, d, pa, pb,
       |         pa - row_number() OVER (PARTITION BY a_id, b_id, d ORDER BY pa) AS grp
       |  FROM m
       |),
       |spans AS (
       |  SELECT a_id, b_id, min(pa) AS a_start, min(pb) AS b_start,
       |         CAST(max(pa) - min(pa) + $GramK AS BIGINT) AS span_len
       |  FROM runs GROUP BY a_id, b_id, d, grp
       |  HAVING max(pa) - min(pa) + $GramK >= $MinSpan
       |)""".stripMargin

  val substringSpansSql: String =
    s"""WITH ${spansCtesFrom("documents")}
       |SELECT a_id, b_id, a_start, b_start, span_len
       |FROM spans ORDER BY a_id, b_id, a_start, b_start""".stripMargin

  // ------------------------------------------------------- span excision
  /** The curation ACTION on top of [[substringSpans]]: remove each
    * duplicated run from the LATER document of its pair (the `a_id <
    * b_id` orientation makes the earlier doc the canonical copy — the
    * same keep-first convention as [[Dedup.exactDedup]]), per the removal
    * step of Lee et al., ACL 2022 (their ExactSubstr deletes every later
    * repetition of a duplicated substring). Output: only the affected
    * docs, with before/removed token counts and the cleaned text.
    *
    * Overlapping spans need no interval merge: a token is dropped iff ANY
    * span covers its position (`exists` over the doc's interval array),
    * which is order- and overlap-insensitive — so the nondeterministic
    * `collect_list` order never reaches the output. Per-row cost is
    * O(tokens × intervals) with intervals a handful per doc; the interval
    * table is span-output-sized (tiny vs the corpus), so the join adds
    * one broadcast-or-small shuffle beyond the span query itself. A doc
    * can be fully excised (every token covered) — clean_text is then the
    * empty string, a row the curation layer downstream drops as a full
    * duplicate. */
  def spanExcise(s: SparkSession, dir: String): DataFrame =
    spanExciseFrom(Tables.documents(s, dir))

  private[graft] def spanExciseFrom(docs: DataFrame): DataFrame = {
    val ivs = substringSpansFrom(docs)
      .select(col("b_id").as("doc_id"), col("b_start").as("s"),
        (col("b_start") + col("span_len") - 1).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .join(ivs, "doc_id")
      .withColumn("kept", expr(
        """filter(transform(tk, (t, i) -> struct(t AS t, CAST(i + 1 AS BIGINT) AS p)),
          |       x -> NOT exists(ivs, iv -> iv.s <= x.p AND x.p <= iv.e))""".stripMargin))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_before"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", expr("transform(kept, x -> x.t)")).as("clean_text"))
      .orderBy("doc_id")
  }

  val spanExciseSql: String =
    s"""WITH ${spansCtesFrom("documents")},
       |ivs AS (SELECT b_id AS doc_id, b_start AS s, b_start + span_len - 1 AS e FROM spans),
       |iva AS (SELECT doc_id, list({'s': s, 'e': e}) AS ivs FROM ivs GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(tk) AS BIGINT) AS n_before,
       |       CAST(len(tk) - len(kept) AS BIGINT) AS n_removed,
       |       coalesce(array_to_string(kept, ' '), '') AS clean_text
       |FROM (SELECT doc_id, tk FROM toks) d JOIN iva ON d.doc_id = iva.doc_id,
       |LATERAL (SELECT list_transform(
       |           list_filter(list_transform(generate_series(1, len(tk)), i -> {'t': tk[i], 'p': i}),
       |             x -> len(list_filter(ivs, iv -> iv.s <= x.p AND x.p <= iv.e)) = 0),
       |           x -> x.t) AS kept) k
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------ corpus-level stats
  /** The headline number substring dedup reports (Lee et al.'s Table 1
    * shape): what FRACTION of corpus tokens sits inside a duplicated run,
    * plus affected-document counts. Token coverage is counted on the
    * b-side (the copies excision would remove) via the same
    * any-span-covers position filter as [[spanExcise]], so this metric
    * and the removal act on byte-identical sets. Integer counts and one
    * exact ratio → hash-gated. */
  def spanStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ivs = substringSpansFrom(docs)
      .select(col("b_id").as("doc_id"), col("b_start").as("s"),
        (col("b_start") + col("span_len") - 1).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
    val covered = toks.join(ivs, "doc_id")
      .select(size(col("tk")).cast("long").as("n_tok"),
        expr(
          """size(filter(sequence(CAST(1 AS BIGINT), CAST(size(tk) AS BIGINT)),
            |            p -> exists(ivs, iv -> iv.s <= p AND p <= iv.e)))""".stripMargin)
          .cast("long").as("n_dup"))
    val totals = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("tk")).cast("long")).as("n_tokens"))
    covered.agg(count(lit(1)).as("n_dup_docs"), sum(col("n_dup")).as("n_dup_tokens"))
      .crossJoin(totals)
      .select(col("n_docs"), col("n_tokens"), col("n_dup_docs"), col("n_dup_tokens"),
        (col("n_dup_tokens").cast("double") / col("n_tokens")).as("dup_token_frac"))
  }

  val spanStatsSql: String =
    s"""WITH ${spansCtesFrom("documents")},
       |ivs AS (SELECT b_id AS doc_id, b_start AS s, b_start + span_len - 1 AS e FROM spans),
       |iva AS (SELECT doc_id, list({'s': s, 'e': e}) AS ivs FROM ivs GROUP BY doc_id),
       |cov AS (
       |  SELECT len(tk) AS n_tok,
       |         len(list_filter(generate_series(1, len(tk)),
       |             p -> len(list_filter(ivs, iv -> iv.s <= p AND p <= iv.e)) > 0)) AS n_dup
       |  FROM toks JOIN iva USING (doc_id)
       |),
       |tot AS (SELECT count(*) AS n_docs, CAST(sum(len(tk)) AS BIGINT) AS n_tokens FROM toks)
       |SELECT tot.n_docs, tot.n_tokens,
       |       (SELECT count(*) FROM cov) AS n_dup_docs,
       |       (SELECT CAST(sum(n_dup) AS BIGINT) FROM cov) AS n_dup_tokens,
       |       (SELECT CAST(sum(n_dup) AS BIGINT) FROM cov) * 1.0 / tot.n_tokens AS dup_token_frac
       |FROM tot""".stripMargin

  // -------------------------------------------------- curation composition
  /** Minimum tokens a doc must retain after excision to stay in the set. */
  val MinKeepTokens = 10

  /** The substring-curation chain as ONE dataflow: exact dedup (keep
    * lowest doc_id per identical text) → span excision among the
    * survivors ([[spanExcise]]'s any-span-covers rule, docs without spans
    * pass through whole) → drop docs left with fewer than
    * [[MinKeepTokens]] tokens (a husk that was mostly duplicated content
    * carries no training value — the length gate every published curation
    * recipe applies after dedup). One row per surviving doc: token counts
    * before/removed and the md5 of the cleaned text — the digest makes
    * the whole chain's OUTPUT BYTES hash-gated, not just its counts, so a
    * single token dropped or kept wrongly anywhere in the three stages
    * breaks the driver compare. Scale shape: stage 1 is one
    * digest-keyed window, stage 2 the span machinery (capped, see object
    * scaladoc), stage 3 row-local — no new shuffles beyond the standalone
    * operators'. */
  def substringCurate(s: SparkSession, dir: String): DataFrame = {
    val exact = Dedup.exactSurvivors(Tables.documents(s, dir))
    val ivs = substringSpansFrom(exact)
      .select(col("b_id").as("doc_id"), col("b_start").as("s"),
        (col("b_start") + col("span_len") - 1).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    exact.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .join(ivs, Seq("doc_id"), "left")
      .withColumn("ivs", coalesce(col("ivs"),
        expr("CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)")))
      .withColumn("kept", expr(
        """filter(transform(tk, (t, i) -> struct(t AS t, CAST(i + 1 AS BIGINT) AS p)),
          |       x -> NOT exists(ivs, iv -> iv.s <= x.p AND x.p <= iv.e))""".stripMargin))
      .filter(size(col("kept")) >= MinKeepTokens)
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_before"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", expr("transform(kept, x -> x.t)"))).as("clean_md5"))
      .orderBy("doc_id")
  }

  val substringCurateSql: String =
    s"""WITH exact AS (
       |  SELECT * FROM documents
       |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
       |),
       |${spansCtesFrom("exact")},
       |ivs AS (SELECT b_id AS doc_id, b_start AS s, b_start + span_len - 1 AS e FROM spans),
       |iva AS (SELECT doc_id, list({'s': s, 'e': e}) AS ivs FROM ivs GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(tk) AS BIGINT) AS n_before,
       |       CAST(len(tk) - len(kept) AS BIGINT) AS n_removed,
       |       md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
       |FROM (SELECT doc_id, tk FROM toks) d
       |LEFT JOIN iva ON d.doc_id = iva.doc_id,
       |LATERAL (SELECT coalesce(iva.ivs, []) AS civs) c,
       |LATERAL (SELECT list_transform(
       |           list_filter(list_transform(generate_series(1, len(tk)), i -> {'t': tk[i], 'p': i}),
       |             x -> len(list_filter(civs, iv -> iv.s <= x.p AND x.p <= iv.e)) = 0),
       |           x -> x.t) AS kept) k
       |WHERE len(kept) >= $MinKeepTokens
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------- incremental probe + standing index
  /** Anchors → maximal spans between two positional-gram sides — the
    * shared tail of the batch-vs-corpus probes (the self-join family
    * above inlines the same window+aggregate with `a_id < b_id`). */
  private def spansBetween(bg: DataFrame, cg: DataFrame): DataFrame = {
    val anchors = bg.join(cg, "g")
      .select(col("batch_id"), col("corpus_id"), col("pb"), col("pc"),
        (col("pb") - col("pc")).as("d"))
    val runs = anchors.withColumn("grp",
      col("pb") - row_number().over(
        Window.partitionBy(col("batch_id"), col("corpus_id"), col("d")).orderBy(col("pb"))))
    runs.groupBy("batch_id", "corpus_id", "d", "grp")
      .agg(min(col("pb")).as("b_start"), min(col("pc")).as("c_start"),
        (max(col("pb")) - min(col("pb")) + lit(GramK.toLong)).as("span_len"))
      .filter(col("span_len") >= MinSpan)
      .select("batch_id", "corpus_id", "b_start", "c_start", "span_len")
      .orderBy("batch_id", "corpus_id", "b_start", "c_start")
  }

  /** Batch-vs-corpus substring probe (the [[Dedup.incrementalDedup]]
    * split: doc_id % 7 == 0 is today's batch, the rest the standing
    * corpus): every duplicated run ≥ [[MinSpan]] between a batch doc and
    * a corpus doc. The occurrence cap counts CORPUS occurrences only —
    * the stop-gram set is a property of the corpus, so the indexed form
    * below can freeze it at build time without a daily batch reordering
    * anything (the same frozen-global-order discipline as
    * [[StandingIndex]]'s dfreq table). Per-run rebuild form; hash-gated
    * against the same oracle as the indexed probe. */
  def incrementalSubstring(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cg0 = positionalGrams(docs.filter(col("doc_id") % 7 =!= 0))
    val cg = cg0
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("occ") <= OccCap)
      .select(col("doc_id").as("corpus_id"), col("pos").as("pc"), col("g"))
    val bg = positionalGrams(docs.filter(col("doc_id") % 7 === 0))
      .select(col("doc_id").as("batch_id"), col("pos").as("pb"), col("g"))
    spansBetween(bg, cg)
  }

  /** Gram-index builds done this session, keyed by (session, corpus dir)
    * — same memo discipline as [[StandingIndex.ensureBuilt]]. */
  private val gramBuilt =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]

  private def gramTableNames(tag: String): Seq[String] =
    Seq("grams", "gstop").map(n => s"graft_idx_${n}_$tag")

  /** Build (once per session+dir) the standing gram index, or adopt one
    * an earlier session left in the catalog. Two bucketed tables:
    *
    *   grams (corpus_id, pos, g)  bucketed by g — PRE-CAPPED: stop grams
    *         (corpus occurrence > [[OccCap]]) are excluded at build, so
    *         probes need no occurrence filter at all and a viral
    *         boilerplate gram is simply absent from the index;
    *   gstop (g)                  bucketed by g — the FROZEN stop set,
    *         read only by [[appendGrams]] so appended docs drop exactly
    *         the grams the original build dropped (re-counting over the
    *         grown corpus would grow the stop set and silently delete
    *         index entries a rebuild would keep — the same reason
    *         [[StandingIndex]] never appends to dfreq).
    */
  def ensureGramIndex(s: SparkSession, dir: String): String = gramBuilt.synchronized {
    val k = (s, dir)
    val existing = gramBuilt.get(k)
    if (existing != null) existing
    else {
      val tag = StandingIndex.tagOf(dir)
      if (!gramTableNames(tag).forall(s.catalog.tableExists)) {
        buildGramsFor(s, Tables.documents(s, dir).filter(col("doc_id") % 7 =!= 0), tag)
      }
      gramBuilt.put(k, tag)
      tag
    }
  }

  /** Write the two gram-index tables for `corpus` under `tag` (overwrite).
    * Package-visible so specs can index arbitrary corpora. */
  private[graft] def buildGramsFor(s: SparkSession, corpus: DataFrame, tag: String): Unit = {
    val g = Pins.cache(positionalGrams(corpus)
      .select(col("doc_id").as("corpus_id"), col("pos"), col("g"))
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("g")))))
    StandingIndex.save(g.filter(col("occ") <= OccCap).drop("occ"),
      tag, "grams", "g", "overwrite")
    StandingIndex.save(g.filter(col("occ") > OccCap).select("g").distinct(),
      tag, "gstop", "g", "overwrite")
  }

  /** Append newly admitted corpus docs to an existing gram index: their
    * grams minus the FROZEN stop set, as new bucketed files in the same
    * table (bucket spec matches → probe joins stay exchange-free). The
    * probe over the appended index equals a fresh build over the unioned
    * corpus UNDER THE ORIGINAL STOP SET — the exact analogue of the
    * frozen-dfreq contract, and what the spec asserts. */
  private[graft] def appendGrams(s: SparkSession, tag: String, docs: DataFrame): Unit =
    gramBuilt.synchronized {
      StandingIndex.save(
        positionalGrams(docs)
          .select(col("doc_id").as("corpus_id"), col("pos"), col("g"))
          .join(s.table(s"graft_idx_gstop_$tag"), Seq("g"), "left_anti"),
        tag, "grams", "g", "append")
    }

  /** [[incrementalSubstring]] answered from the standing gram index: the
    * corpus side is never rescanned, re-exploded or reshuffled — the
    * probe's one join lands on the bucketed gram table's own key, so only
    * the batch sliver moves. Output hash-identical to the per-run rebuild
    * (same DuckDB oracle, driver-compared) — the [[StandingIndex]]
    * pattern applied to the substring family. At 100 TB the gram table is
    * large (one row per kept gram occurrence) but append-only and
    * bucketed; the alternative the rebuild form pays — re-exploding the
    * corpus into that same row count EVERY batch — is the cost this
    * module deletes. */
  def incrementalSubstringIndexed(s: SparkSession, dir: String): DataFrame =
    probeGrams(s, ensureGramIndex(s, dir),
      Tables.documents(s, dir).filter(col("doc_id") % 7 === 0))

  /** Probe an already-built gram index with an arbitrary batch — the
    * reusable form [[incrementalSubstringIndexed]] and the append spec
    * drive. */
  private[graft] def probeGrams(s: SparkSession, tag: String, batch: DataFrame): DataFrame =
    probeGramsWith(batch,
      s.table(s"graft_idx_grams_$tag").select(col("corpus_id"), col("pos"), col("g")))

  /** Probe with the gram index supplied as a (corpus_id, pos, g) frame —
    * bucketed table or cached plan interchangeably; the continuous twin
    * ([[graft.streaming.StreamingDedup.substringSpanStream]]) feeds
    * micro-batches through this. */
  private[graft] def probeGramsWith(batch: DataFrame, gramIndex: DataFrame): DataFrame = {
    val bg = positionalGrams(batch)
      .select(col("doc_id").as("batch_id"), col("pos").as("pb"), col("g"))
    spansBetween(bg, gramIndex.select(col("corpus_id"), col("pos").as("pc"), col("g")))
  }

  val incrementalSubstringSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |pg AS (
       |  SELECT doc_id, i AS pos, array_to_string(tk[i:i+${GramK - 1}], ' ') AS g
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - ${GramK - 1})) AS i) s
       |  WHERE len(tk) >= $GramK
       |),
       |cg AS (SELECT doc_id AS corpus_id, pos, g FROM pg WHERE doc_id % 7 <> 0),
       |bg AS (SELECT doc_id AS batch_id, pos, g FROM pg WHERE doc_id % 7 = 0),
       |keep AS (SELECT g FROM cg GROUP BY g HAVING count(*) <= $OccCap),
       |m AS (
       |  SELECT b.batch_id, c.corpus_id, b.pos AS pb, c.pos AS pc, b.pos - c.pos AS d
       |  FROM bg b JOIN cg c ON b.g = c.g
       |  WHERE b.g IN (SELECT g FROM keep)
       |),
       |runs AS (
       |  SELECT batch_id, corpus_id, d, pb, pc,
       |         pb - row_number() OVER (PARTITION BY batch_id, corpus_id, d ORDER BY pb) AS grp
       |  FROM m
       |)
       |SELECT batch_id, corpus_id, min(pb) AS b_start, min(pc) AS c_start,
       |       CAST(max(pb) - min(pb) + $GramK AS BIGINT) AS span_len
       |FROM runs GROUP BY batch_id, corpus_id, d, grp
       |HAVING max(pb) - min(pb) + $GramK >= $MinSpan
       |ORDER BY batch_id, corpus_id, b_start, c_start""".stripMargin

  // ----------------------------------------------------------- containment
  /** Containment threshold — pairs with |A∩B| / min(|A|,|B|) at or above
    * this are reported. */
  val ContainmentT = 0.6

  /** Asymmetric near-dup: shingle-set CONTAINMENT |A∩B| / min(|A|,|B|)
    * (Broder 1997's second resemblance measure, "On the resemblance and
    * containment of documents"). Jaccard is blind to doc-inside-doc
    * duplication — a 40-shingle page pasted verbatim into a 400-shingle
    * page scores jac ≈ 0.1 but containment = 1.0; a curation pipeline that
    * drops only symmetric near-dups keeps every such embedded copy.
    * Same inverted-index candidate generation as [[Dedup.jaccardNearDup]]
    * (only docs sharing ≥ 1 shingle ever meet; one partial-agg shuffle
    * counts intersections), same exact-integer-ratio scoring discipline —
    * both the containment and the companion Jaccard column are ratios of
    * longs in double, bit-identical across engines, so the pair is
    * hash-gated. At 100 TB this inherits the family's df-cap refinement
    * verbatim (a capped variant composes exactly as jaccardNearDupDfCap
    * does; kept uncapped here so the oracle is the exact definition). */
  def containmentNearDup(s: SparkSession, dir: String): DataFrame =
    containmentFrom(Tables.documents(s, dir))

  /** [[containmentNearDup]] parametrized by the document set. */
  private[graft] def containmentFrom(docs: DataFrame): DataFrame = {
    val docsArr = Pins.cache(Dedup.shingleArrays(docs))
    val sh = docsArr.select(col("doc_id"), explode(col("sh")).as("s"))
    val sizes = docsArr.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    val common = sh.select(col("doc_id").as("a_id"), col("s"))
      .join(sh.select(col("doc_id").as("b_id"), col("s")), "s")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("containment", col("c").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= ContainmentT)
      .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .select("a_id", "b_id", "containment", "jac")
      .orderBy("a_id", "b_id")
  }

  val containmentNearDupSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
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
       |SELECT a_id, b_id,
       |       c * 1.0 / least(sa.n, sb.n) AS containment,
       |       c * 1.0 / (sa.n + sb.n - c) AS jac
       |FROM common JOIN sizes sa ON sa.doc_id = a_id
       |            JOIN sizes sb ON sb.doc_id = b_id
       |WHERE c * 1.0 / least(sa.n, sb.n) >= $ContainmentT
       |ORDER BY a_id, b_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "neardup_substring_spans" -> (substringSpans _),
    "dedup_span_stats"        -> (spanStats _),
    "dedup_span_excise"       -> (spanExcise _),
    "pipeline_substring_curate" -> (substringCurate _),
    "dedup_incremental_substring" -> (incrementalSubstring _),
    "dedup_incremental_substring_indexed" -> (incrementalSubstringIndexed _),
    "neardup_containment"     -> (containmentNearDup _)
  )

  def oracles: Map[String, String] = Map(
    "neardup_substring_spans" -> substringSpansSql,
    "dedup_span_stats"        -> spanStatsSql,
    "dedup_span_excise"       -> spanExciseSql,
    "pipeline_substring_curate" -> substringCurateSql,
    "dedup_incremental_substring" -> incrementalSubstringSql,
    // the standing-index probe must reproduce the per-run rebuild EXACTLY
    // — same oracle, hash-compared (the StandingIndex pattern)
    "dedup_incremental_substring_indexed" -> incrementalSubstringSql,
    "neardup_containment"     -> containmentNearDupSql
  )
}
