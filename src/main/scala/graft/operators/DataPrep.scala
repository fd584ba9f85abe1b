package graft.operators

import graft.Pins
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-dataset preparation operators over `documents` — the steps
  * between a deduplicated corpus and a tokenized training set (SURVEY.md
  * §2c extension scope; reference analogue: ABSENT). All three are fully
  * deterministic and therefore hash-compared against the DuckDB oracle:
  *
  *  - vocabulary build + encode: frequency-ranked top-k token vocabulary,
  *    documents re-encoded as id sequences with OOV marking — the
  *    word-level stand-in for a tokenizer's vocab-fit + encode pass;
  *  - sequence packing: greedy fixed-budget packing of documents into
  *    training sequences by cumulative token count, per source shard;
  *  - split assignment: content-stable train/valid/test buckets from an
  *    md5 of the document key — reproducible across runs AND engines (no
  *    seed, no RNG; adding documents never reassigns existing ones).
  */
object DataPrep {

  private val VocabSize = 16  // harness vocab is ~31 words; 16 forces real OOV

  /** Frequency top-[[VocabSize]] vocabulary (rank ⇒ id, ties broken by
    * token) and per-document id-sequence encoding. The vocabulary is a
    * token-frequency aggregate — tiny relative to the corpus at any scale
    * (distinct tokens, not occurrences), so its global row_number window
    * and its broadcast to the encode join are both safe at 100 TB; the
    * encode itself is one explode + broadcast join + one partial-agg
    * shuffle by doc_id. Output ids are a comma-joined string (stable to
    * hash-compare; array column equality is engine-fragile), ordered by
    * token position via sort_array over (pos, id) structs. */
  def vocabEncode(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
    // frequency rank via distributed sort + zipWithIndex (Ranks scaladoc)
    // — a real tokenizer vocab is millions of distinct tokens, too big
    // for a no-partition row_number window's single task
    val vocab = Ranks.globalRowNumber(
        toks.groupBy("token").agg(count(lit(1)).as("cnt")),
        "rn", col("cnt").desc, col("token"))
      .withColumn("id", col("rn") - 1)
      .filter(col("id") < VocabSize)
      .select("token", "id")
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        concat_ws(",",
          transform(
            sort_array(collect_list(struct(col("pos"),
              coalesce(col("id"), lit(-1)).as("id")))),
            x => x.getField("id").cast("string"))).as("ids"),
        count(lit(1)).as("n_tokens"),
        count(when(col("id").isNull, 1)).as("n_oov"))
      .orderBy("doc_id")
  }

  val vocabEncodeSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents
       |),
       |vocab AS (
       |  SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) - 1 AS id
       |  FROM toks GROUP BY token
       |  ORDER BY count(*) DESC, token LIMIT $VocabSize
       |)
       |SELECT doc_id,
       |       string_agg(CAST(coalesce(id, -1) AS VARCHAR), ',' ORDER BY pos) AS ids,
       |       count(*) AS n_tokens,
       |       count(CASE WHEN id IS NULL THEN 1 END) AS n_oov
       |FROM toks LEFT JOIN vocab USING (token)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val SeqBudget = 512  // tokens per packed training sequence

  /** Greedy sequence packing: documents are laid out in doc_id order
    * within each source shard and cut into [[SeqBudget]]-token sequences
    * by cumulative token count (a document whose start crosses the
    * boundary begins the next sequence). The running sum is a window
    * partitioned BY SOURCE — each shard packs independently and in
    * parallel, which is how packing must run at 100 TB (a single global
    * ordering would serialize on one partition; cross-shard sequence ids
    * are never needed because training shards are independent files).
    * Output is one row per (source, seq_id) with its document span. */
  def seqPack(s: SparkSession, dir: String): DataFrame = {
    val sized = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    sized
      .withColumn("before_tok", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      // double divide + floor is the identical float op on both engines;
      // magnitudes (token counts) are far below 2^53 so it is exact
      .withColumn("seq_id",
        floor(col("before_tok").cast("double") / SeqBudget).cast("long"))
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "seq_id")
  }

  val seqPackSql: String =
    s"""WITH sized AS (
       |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents
       |),
       |cum AS (
       |  SELECT source, doc_id, n_tok,
       |         CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before_tok
       |  FROM sized
       |)
       |SELECT source, CAST(floor(CAST(before_tok AS DOUBLE) / $SeqBudget) AS BIGINT) AS seq_id,
       |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM cum GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------ shared bucket / weight columns
  // ONE definition of every content-stable placement decision, reused by
  // the batch builds (splitOf / mixWeightedSample / Pipeline.trainingSet)
  // AND the streaming twins (StreamingCurate) — hand-duplicated copies of
  // this arithmetic desynchronize silently, and only some paths are
  // oracle-gated (ADVICE round 9).

  /** Content-stable hash bucket of doc_id: 4 hex chars of md5 starting at
    * `start` (1-based), as an int mod `mod`. */
  private[graft] def md5Bucket(start: Int, mod: Int): Column =
    conv(substring(md5(col("doc_id").cast("string")), start, 4), 16, 10)
      .cast("int") % mod

  /** Split bucket: md5 chars 1-4 mod 100. */
  private[graft] def splitBucketCol: Column = md5Bucket(1, 100)

  /** Mix bucket: md5 chars 5-8 mod 1000 — a digest range DISJOINT from
    * the split bucket, so a doc's sampling fate never correlates with its
    * train/valid/test assignment. */
  private[graft] def mixBucketCol: Column = md5Bucket(5, 1000)

  /** 90/5/5 split label from the chars-1-4 bucket. */
  private[graft] def splitLabelOf(bucket: Column): Column =
    when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")

  /** Harness source id → permille mixture weight (250‰…2000‰: both down-
    * and up-sampling paths exercised). A production run joins a broadcast
    * weights table instead; downstream shape identical. */
  private[graft] def sourceW1000Col: Column =
    (expr("cast(substring(source, 4) as int)") % 8 + 1) * lit(250)

  /** Integer-permille replication count: ⌊w/1000⌋ + [bucket < w mod 1000]. */
  private[graft] def copiesCol(w1000: Column, bucket: Column): Column =
    (w1000 / 1000).cast("long") + when(bucket < w1000 % 1000, 1L).otherwise(0L)

  /** Deterministic 90/5/5 train/valid/test assignment: bucket = the first
    * 16 bits of md5(doc_id) mod 100. Content-keyed hashing (no RNG, no
    * seed) is the split discipline a training pipeline needs — the split
    * of a document never changes when the corpus grows, across reruns, or
    * across engines; md5-hex arithmetic is bit-identical everywhere. The
    * whole query is one narrow projection + one aggregate: no shuffle
    * wider than the 3-row result. */
  /** Per-document assignment (doc_id, n_chars, bucket, split) — the
    * content-stability invariant (same doc ⇒ same split on ANY corpus
    * subset) is asserted per document in DataPrepSpec against this. */
  private[graft] def splitOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        splitBucketCol.as("bucket"))
      .withColumn("split", splitLabelOf(col("bucket")))

  def splitAssign(s: SparkSession, dir: String): DataFrame = {
    splitOf(Tables.documents(s, dir))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("split")
  }

  val splitAssignSql: String =
    """WITH b AS (
      |  SELECT doc_id, n_chars,
      |         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS bucket
      |  FROM documents
      |)
      |SELECT CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split,
      |       count(*) AS n_docs, CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
      |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ data mixing
  /** Source-weighted mixture sampling — the "data mixing" step of a
    * training-set build (public practice: The Pile, Dolma, LLaMA corpus
    * recipes all train on per-source weights, upsampling high-quality
    * sources past 1 epoch and downsampling bulk crawl below 1): each
    * document is replicated `copies = ⌊w⌋ + [hash-bucket < frac(w)]`
    * times, where w is its source's target weight. All integer permille
    * arithmetic — no RNG, no floats — so the realized mixture is
    * content-stable (re-runs and engine changes never resample) and the
    * whole decision table is oracle-checked. Weights here are derived
    * from the source id (0.25×…2.0× across the 20 sources — both down-
    * AND up-sampling paths exercised); a production run would join a
    * tiny broadcast weights table instead, with identical downstream
    * shape. The doc-level hash bucket uses md5 chars 5-8, DISJOINT from
    * [[splitOf]]'s chars 1-4, so mixing decisions are independent of
    * split assignment (a doc's sampling fate must not correlate with its
    * train/valid/test bucket). Per-row projection + one tiny agg: no
    * shuffle a 100 TB corpus would notice. */
  def mixWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("w1000", sourceW1000Col)
      .withColumn("bucket", mixBucketCol)
      .withColumn("copies", copiesCol(col("w1000"), col("bucket")))
    d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        min(col("w1000")).cast("long").as("weight_permille"),
        sum(col("copies")).as("n_sampled"),
        sum(col("copies") * col("n_chars").cast("long")).as("chars_sampled"))
      .orderBy("source")
  }

  val mixWeightedSampleSql: String =
    """WITH w AS (
      |  SELECT source, n_chars,
      |         (substring(source, 4)::INT % 8 + 1) * 250 AS w1000,
      |         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 5, 4) AS INTEGER) % 1000 AS bucket
      |  FROM documents
      |),
      |c AS (
      |  SELECT source, n_chars, w1000,
      |         w1000 // 1000 + CASE WHEN bucket < w1000 % 1000 THEN 1 ELSE 0 END AS copies
      |  FROM w
      |)
      |SELECT source, count(*) AS n_docs,
      |       min(w1000)::BIGINT AS weight_permille,
      |       sum(copies)::BIGINT AS n_sampled,
      |       sum(copies * n_chars::BIGINT)::BIGINT AS chars_sampled
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------- overlapping chunks
  private val ChunkTokens = 32
  private val ChunkStride = 24 // 8-token overlap between adjacent windows

  /** Overlapping-window document chunking — the RAG-indexing /
    * long-context-prep counterpart of [[seqPack]]: packing CONCATENATES
    * short docs into fixed budgets, this SPLITS each document into
    * [[ChunkTokens]]-token windows advancing by [[ChunkStride]] (the
    * 8-token overlap keeps boundary-straddling context retrievable —
    * standard retrieval-chunking practice). Pure row-local work: one
    * `sequence` + `transform` + `explode` per doc, no shuffle but the
    * driver-contract ORDER BY — embarrassingly parallel at any corpus
    * size. Chunk text crosses engines as an md5 digest (the same
    * hash-the-payload convention as the codec and scrub queries). */
  def chunkWindows(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n", size(col("tk")))
    // window starts: 0, stride, 2*stride, … while start < n (every doc
    // gets ≥1 chunk; the last window is allowed to run short)
    d.select(col("doc_id"), col("tk"), col("n"),
        expr(s"sequence(0, greatest(cast(ceil((n - $ChunkTokens) / " +
          s"cast($ChunkStride as double)) as int), 0))").as("idxs"))
      .select(col("doc_id"), col("n"), col("tk"),
        posexplode(col("idxs")).as(Seq("chunk_idx", "i")))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"slice(tk, chunk_idx * $ChunkStride + 1, $ChunkTokens)").as("w"),
        col("n"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("w")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("w"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  val chunkWindowsSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk, len(string_split(text, ' ')) AS n
      |           FROM documents),
      |idx AS (
      |  SELECT doc_id, tk, n,
      |         unnest(generate_series(0,
      |           greatest(CAST(ceil((n - $ChunkTokens) / CAST($ChunkStride AS DOUBLE)) AS INT), 0))) AS chunk_idx
      |  FROM t
      |)
      |SELECT doc_id, chunk_idx,
      |       len(tk[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkTokens])::BIGINT AS n_tokens,
      |       md5(array_to_string(tk[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkTokens], ' ')) AS chunk_md5
      |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin

  // ----------------------------------------------------- first-fit packing
  /** First-fit-decreasing bin packing of documents into [[SeqBudget]]-token
    * training sequences — the padding-minimizing packing production
    * trainers use (Krell et al. 2021, "Efficient Sequence Packing without
    * Cross-contamination" runs exactly this shape) vs [[seqPack]]'s simple
    * running-offset split. Classic FFD: sort docs desc by size, place each
    * into the FIRST bin it fits, open a new bin otherwise (≤ 11/9·OPT +
    * 6/9 bins). Distributable shape: packing is per SOURCE shard — groupBy
    * source, one plan-constant `aggregate` fold per row over the sorted
    * size array (accumulator = bin-load vector, first-fit index via
    * `array_position` over a fit mask, update via the sequence-index idiom
    * both engines share); at 100 TB sources shard finer and the same fold
    * runs per shard, which is how packers actually deploy. Docs larger
    * than the budget would open their own overflow bin (first-fit finds no
    * fit) — the harness corpus has none, the semantics are still total.
    * Output per source: docs, token mass, FFD bin count, the ⌈total/B⌉
    * lower bound (gap = 0 is an optimality certificate), utilization, and
    * an md5 over the full bin-load vector so every bin's mass — hence
    * every placement decision — is hash-pinned. */
  def packFfd(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
        expr("transform(array_sort(collect_list(struct(-n_tok AS neg, doc_id))), x -> -x.neg)")
          .as("sizes"))
    val fitPos = s"array_position(transform(acc, b -> b + n <= $SeqBudget), true)"
    perSource
      .withColumn("loads", expr(
        s"""aggregate(sizes, CAST(array() AS ARRAY<BIGINT>), (acc, n) ->
           |  IF($fitPos = 0,
           |     concat(acc, array(n)),
           |     transform(sequence(1, size(acc)), i ->
           |       IF(i = $fitPos, acc[i-1] + n, acc[i-1]))))""".stripMargin))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        size(col("loads")).cast("long").as("n_bins"),
        ceil(col("total_tokens") / lit(SeqBudget.toDouble)).cast("long").as("lb_bins"),
        (size(col("loads")).cast("long") -
          ceil(col("total_tokens") / lit(SeqBudget.toDouble)).cast("long")).as("gap"),
        round(col("total_tokens") / (size(col("loads")) * lit(SeqBudget.toDouble)), 6)
          .as("utilization"),
        md5(concat_ws(",", expr("transform(loads, b -> CAST(b AS STRING))")))
          .as("loads_md5"))
      .orderBy("source")
  }

  val packFfdSql: String = {
    val fitPos = s"list_position(list_transform(acc, b -> b + x[1] <= $SeqBudget), true)"
    s"""WITH per_source AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |         list(n_tok ORDER BY n_tok DESC, doc_id) AS sizes
       |  FROM (SELECT source, doc_id,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |        FROM documents)
       |  GROUP BY source
       |),
       |packed AS (
       |  SELECT source, n_docs, total_tokens,
       |    list_reduce(
       |      list_concat([CAST([] AS BIGINT[])], list_transform(sizes, t -> [t])),
       |      (acc, x) -> CASE WHEN coalesce($fitPos, 0) = 0
       |        THEN list_append(acc, x[1])
       |        ELSE list_transform(generate_series(1, len(acc)), i ->
       |               CASE WHEN i = $fitPos THEN acc[i] + x[1] ELSE acc[i] END)
       |        END) AS loads
       |  FROM per_source
       |)
       |SELECT source, n_docs, total_tokens,
       |       CAST(len(loads) AS BIGINT) AS n_bins,
       |       CAST(ceil(total_tokens / $SeqBudget.0) AS BIGINT) AS lb_bins,
       |       CAST(len(loads) - ceil(total_tokens / $SeqBudget.0) AS BIGINT) AS gap,
       |       round(total_tokens / (len(loads) * $SeqBudget.0), 6) AS utilization,
       |       md5(array_to_string(list_transform(loads, b -> CAST(b AS VARCHAR)), ',')) AS loads_md5
       |FROM packed ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------- shard manifest
  /** Number of output shards for [[shardManifest]]. */
  val ShardCount = 8

  /** Writer-side shard manifest over [[seqPack]]'s packed sequences — the
    * artifact a training job reads to schedule its data loaders: each
    * sequence is assigned to one of [[ShardCount]] shards by a
    * content-stable md5 of its (source, seq_id) key (no RNG; a sequence
    * never migrates when the corpus grows), and each shard row carries its
    * sequence/doc/token counts plus an ORDER-INSENSITIVE integer checksum
    * (sum of per-sequence md5-derived 32-bit signatures over the full
    * manifest payload — commutative, so partition order can't perturb it,
    * and each term < 2^32 keeps the ANSI sum far from overflow). A loader
    * can re-derive any shard's membership and verify its checksum without
    * reading the others — the manifest IS the integrity contract. Scale:
    * one extra hash + one [[ShardCount]]-key aggregate over the already
    * vocabulary-sized sequence table. */
  def shardManifest(s: SparkSession, dir: String): DataFrame =
    seqPack(s, dir)
      .withColumn("skey", concat_ws(":", col("source"), col("seq_id")))
      .withColumn("shard",
        conv(substring(md5(col("skey")), 1, 4), 16, 10).cast("long") % ShardCount)
      .withColumn("seq_sig",
        conv(substring(md5(concat_ws("|", col("skey"), col("n_docs"),
          col("seq_tokens"), col("first_doc"), col("last_doc"))), 1, 8), 16, 10)
          .cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_seqs"), sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("seq_tokens")).as("n_tokens"), sum(col("seq_sig")).as("checksum"))
      .orderBy("shard")

  val shardManifestSql: String =
    s"""WITH seqs AS ($seqPackSql),
       |keyed AS (
       |  SELECT source || ':' || CAST(seq_id AS VARCHAR) AS skey,
       |         n_docs, seq_tokens, first_doc, last_doc
       |  FROM seqs
       |)
       |SELECT CAST('0x' || substring(md5(skey), 1, 4) AS BIGINT) % $ShardCount AS shard,
       |       CAST(count(*) AS BIGINT) AS n_seqs,
       |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |       CAST(sum(seq_tokens) AS BIGINT) AS n_tokens,
       |       CAST(sum(CAST('0x' || substring(md5(
       |         skey || '|' || CAST(n_docs AS VARCHAR) || '|' || CAST(seq_tokens AS VARCHAR)
       |              || '|' || CAST(first_doc AS VARCHAR) || '|' || CAST(last_doc AS VARCHAR)
       |       ), 1, 8) AS BIGINT)) AS BIGINT) AS checksum
       |FROM keyed GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ BPE train
  /** Number of BPE merge rounds for [[bpeTrain]]. */
  val BpeMerges = 8

  /** Train a byte-pair-encoding merge table IN the engine (Sennrich et
    * al., ACL 2016 — the subword algorithm behind every GPT/LLaMA-family
    * tokenizer): start from characters, repeat "count adjacent symbol
    * pairs weighted by word frequency → merge the most frequent pair
    * everywhere" for [[BpeMerges]] rounds. Output is the ordered merge
    * table (step, left, right, pair count) — the `merges.txt` artifact a
    * tokenizer ships.
    *
    * Entirely integer/string arithmetic — no float anywhere — so the gate
    * needs no rounding discipline at all; ties break lexicographically on
    * (left, right) in both engines. The per-word rewrite is an `aggregate`
    * fold (greedy left-to-right non-overlapping, the reference semantics):
    * plan-constant like the Hilbert fold. The cross-round dependency is
    * the k-center shape — each round re-references the previous word
    * table — so each round's word table (VOCABULARY-sized: distinct words,
    * not corpus-sized — the one big shuffle is the initial word count)
    * is localCheckpoint'ed under the sanctioned eager-job tag. At 100 TB
    * the word-frequency table is token-type-bounded (millions of rows,
    * not billions); every merge round then costs a vocabulary-sized
    * explode + aggregate — exactly how production BPE trainers run. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val sc = s.sparkContext
    val prevTag = sc.getLocalProperty(Dedup.CcFixpointTag)
    sc.setLocalProperty(Dedup.CcFixpointTag, "1")
    try bpeTrainInner(s, dir)
    finally sc.setLocalProperty(Dedup.CcFixpointTag, prevTag)
  }

  private def bpeTrainInner(s: SparkSession, dir: String): DataFrame =
    bpeTrainFrom(Tables.documents(s, dir))

  /** [[bpeTrain]] parametrized by the document set — the form the
    * randomized property spec drives (caller must hold the sanctioned
    * eager-job tag; the public query does). */
  private[graft] def bpeTrainFrom(docs: DataFrame): DataFrame = {
    var words = Pins.checkpoint(docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms")))
    var merges: DataFrame = null
    for (i <- 1 to BpeMerges) {
      val bp = Pins.checkpoint(words
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          // Spark array access is 0-based (the DuckDB twin's is 1-based)
          "transform(sequence(0, size(syms) - 2), j -> struct(syms[j] AS l, syms[j+1] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .select(lit(i.toLong).as("step"), col("l"), col("r"), col("cnt")))
      merges = if (merges == null) bp else merges.unionByName(bp)
      val prev = words
      words = Pins.checkpoint(words.crossJoin(broadcast(bp))
        .select(col("freq"), expr(
          """aggregate(syms, CAST(array() AS ARRAY<STRING>),
            |  (acc, c) -> IF(size(acc) > 0 AND element_at(acc, -1) = l AND c = r,
            |                 concat(slice(acc, 1, size(acc) - 1), array(concat(l, r))),
            |                 concat(acc, array(c))))""".stripMargin).as("syms")))
      Pins.release(prev)
    }
    merges.select(col("step"), col("l").as("left_sym"), col("r").as("right_sym"), col("cnt"))
      .orderBy("step")
  }

  /** Shared WITH-prefix for the BPE twins: the words0 seed plus the
    * per-round pair-count / best-pair / rewrite CTEs, unrolled for
    * [[BpeMerges]] rounds (MATERIALIZED so DuckDB evaluates each round
    * once, mirroring the Spark side's localCheckpoint per round). */
  private val bpeCtes: String = {
    def step(i: Int): String =
      s"""pc$i AS MATERIALIZED (
         |  SELECT p.l, p.r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM words${i - 1} w, LATERAL (
         |    SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
         |      j -> {'l': syms[j], 'r': syms[j+1]})) AS p) x
         |  WHERE len(syms) >= 2
         |  GROUP BY p.l, p.r
         |),
         |bp$i AS MATERIALIZED (
         |  SELECT CAST($i AS BIGINT) AS step, l, r, cnt FROM pc$i
         |  ORDER BY cnt DESC, l, r LIMIT 1
         |),
         |words$i AS MATERIALIZED (
         |  SELECT freq,
         |    list_reduce(list_transform(syms, s -> [s]),
         |      (a, x) -> CASE WHEN len(a) > 0 AND a[-1] = bp.l AND x[1] = bp.r
         |                THEN list_append(a[1:len(a)-1], bp.l || bp.r)
         |                ELSE list_concat(a, x) END) AS syms
         |  FROM words${i - 1} w CROSS JOIN bp$i bp
         |)""".stripMargin
    s"""WITH words0 AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS freq,
       |         list_transform(generate_series(1, length(w)), i -> w[i:i]) AS syms
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0
       |  GROUP BY w
       |),
       |${(1 to BpeMerges).map(step).mkString(",\n")}""".stripMargin
  }

  /** APPLY the trained merges — the encode half of the tokenizer: every
    * word starts as characters and replays the [[BpeMerges]] merge rules
    * in training order (the standard BPE encode; ties/overlaps behave
    * exactly as in training because it is the same fold). Output per doc:
    * symbol counts before/after and an md5 of the full encoded symbol
    * string, so the gate pins every merge application on every word.
    * The merge table rides in as ONE broadcast array column; the whole
    * encode is a per-row triple-nested fold (words → merges → symbols) —
    * plan-constant, no shuffle before the final sort. On the DuckDB side
    * the init-less list_reduce gets its accumulator by PREPENDING the
    * char list to the merge list (both list<varchar>, merges as [l, r]
    * pairs) — the same singleton-wrap family of tricks as the trainer. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val sc = s.sparkContext
    val prevTag = sc.getLocalProperty(Dedup.CcFixpointTag)
    sc.setLocalProperty(Dedup.CcFixpointTag, "1")
    try {
      val ms = bpeTrainFrom(Tables.documents(s, dir))
        .agg(expr("transform(array_sort(collect_list(struct(step, left_sym AS l, right_sym AS r))), " +
          "x -> struct(x.l AS l, x.r AS r))").as("ms"))
      Tables.documents(s, dir)
        .crossJoin(broadcast(ms))
        .withColumn("enc", expr(
          """transform(filter(split(text, ' '), w -> length(w) > 0), w ->
            |  aggregate(ms,
            |    transform(sequence(1, length(w)), i -> substring(w, i, 1)),
            |    (syms, m) -> aggregate(syms, CAST(array() AS ARRAY<STRING>),
            |      (acc, c) -> IF(size(acc) > 0 AND element_at(acc, -1) = m.l AND c = m.r,
            |                     concat(slice(acc, 1, size(acc) - 1), array(concat(m.l, m.r))),
            |                     concat(acc, array(c))))))""".stripMargin))
        .select(col("doc_id"),
          length(regexp_replace(col("text"), " ", "")).cast("long").as("n_sym_before"),
          size(flatten(col("enc"))).cast("long").as("n_sym_after"),
          md5(concat_ws("|", expr("transform(enc, ws -> concat_ws(' ', ws))"))).as("enc_md5"))
        .orderBy("doc_id")
    } finally sc.setLocalProperty(Dedup.CcFixpointTag, prevTag)
  }

  val bpeEncodeSql: String =
    s"""$bpeCtes,
       |ms AS (
       |  SELECT list([l, r] ORDER BY step) AS ms
       |  FROM (${(1 to BpeMerges).map(i => s"SELECT * FROM bp$i").mkString(" UNION ALL ")})
       |)
       |SELECT doc_id,
       |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_sym_before,
       |  CAST(len(flatten(enc)) AS BIGINT) AS n_sym_after,
       |  md5(array_to_string(list_transform(enc, ws -> array_to_string(ws, ' ')), '|')) AS enc_md5
       |FROM (
       |  SELECT doc_id, text,
       |    list_transform(list_filter(string_split(text, ' '), w -> length(w) > 0), w ->
       |      list_reduce(
       |        list_concat([list_transform(generate_series(1, length(w)), i -> w[i:i])],
       |                    list_transform(ms.ms, m -> m)),
       |        (acc, x) -> list_reduce(
       |          list_transform(acc, s -> [s]),
       |          (a, c) -> CASE WHEN len(a) > 0 AND a[-1] = x[1] AND c[1] = x[2]
       |                    THEN list_append(a[1:len(a)-1], x[1] || x[2])
       |                    ELSE list_concat(a, c) END))) AS enc
       |  FROM documents CROSS JOIN ms
       |)
       |ORDER BY doc_id""".stripMargin

  /** [[bpeTrain]]'s twin — rounds unrolled as MATERIALIZED CTEs, the
    * rewrite as a `list_reduce` with a list accumulator (DuckDB's
    * init-less fold over singleton-wrapped symbols). */
  val bpeTrainSql: String =
    s"""$bpeCtes
       |SELECT step, l AS left_sym, r AS right_sym, cnt
       |FROM (${(1 to BpeMerges).map(i => s"SELECT * FROM bp$i").mkString(" UNION ALL ")})
       |ORDER BY step""".stripMargin

  // --------------------------------------------------- epoch shuffling
  /** Deterministic per-epoch training order — the data-loader shuffle that
    * must NOT be an RNG at scale: epoch e's order is `md5(doc_id # e)`,
    * so the permutation is content-stable (resume mid-epoch on any
    * machine, any partitioning, any engine — same order), different per
    * epoch, and requires no materialized permutation table. Emits each
    * epoch's first 10 loader positions plus a POSITION-WEIGHTED checksum
    * over the whole permutation (Σ rank·(idhash mod 1e6) — order-
    * sensitive, unlike the commutative manifest checksums, because here
    * the ORDER is the artifact being certified).
    *
    * Scale: the per-epoch rank is a range-exchange sort on an 8-byte key;
    * the checksum aggregate rides the same sorted exchange. The weighted
    * sum fits a long to ~10^12 docs × 10^6 weight; past that the checksum
    * moves to modular arithmetic per partition (documented swap). */
  def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one scan + a 3-way generator — a per-epoch union re-reads the corpus
    // once per epoch and splits every downstream aggregate into per-branch
    // partials (measured 9 executed exchanges vs 6 for this shape)
    val epochs = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("epoch", explode(array(lit(0), lit(1), lit(2))))
      .withColumn("okey",
        expr("conv(substring(md5(concat(cast(doc_id as string), '#', cast(epoch as string))), 1, 15), 16, 10)")
          .cast("long"))
    val w = Window.partitionBy(col("epoch")).orderBy(col("okey"), col("doc_id"))
    val ranked = epochs
      .withColumn("rank", row_number().over(w))
      .withColumn("idh",
        expr("conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)")
          .cast("long") % 1000000L)
    val checksums = ranked.groupBy("epoch")
      .agg(sum(col("rank") * col("idh")).as("order_checksum"),
           count(lit(1)).as("n_docs"))
    ranked.filter(col("rank") <= 10)
      .join(broadcast(checksums), "epoch")
      .select(col("epoch"), col("rank"), col("doc_id"),
        col("n_docs"), col("order_checksum"))
      .orderBy("epoch", "rank")
  }

  val epochShuffleSql: String =
    """WITH epochs AS (
      |  SELECT doc_id, e AS epoch,
      |    ('0x' || substring(md5(doc_id::VARCHAR || '#' || e), 1, 15))::BIGINT AS okey
      |  FROM documents, LATERAL (SELECT unnest([0, 1, 2]) AS e) g
      |), ranked AS (
      |  SELECT doc_id, epoch,
      |    row_number() OVER (PARTITION BY epoch ORDER BY okey, doc_id) AS rank,
      |    CAST('0x' || substring(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) % 1000000 AS idh
      |  FROM epochs
      |), cs AS (
      |  SELECT epoch, CAST(sum(rank * idh) AS BIGINT) AS order_checksum,
      |         count(*) AS n_docs
      |  FROM ranked GROUP BY 1
      |)
      |SELECT ranked.epoch, rank, doc_id, n_docs, order_checksum
      |FROM ranked JOIN cs ON ranked.epoch = cs.epoch
      |WHERE rank <= 10 ORDER BY 1, 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "prep_epoch_shuffle" -> (epochShuffle _),
    "prep_bpe_train" -> (bpeTrain _),
    "prep_bpe_encode" -> (bpeEncode _),
    "prep_vocab_encode" -> (vocabEncode _),
    "prep_seq_pack"     -> (seqPack _),
    "prep_shard_manifest" -> (shardManifest _),
    "prep_pack_ffd"     -> (packFfd _),
    "prep_split_assign" -> (splitAssign _),
    "prep_mix_weighted" -> (mixWeightedSample _),
    "prep_chunk_windows" -> (chunkWindows _)
  )

  def oracles: Map[String, String] = Map(
    "prep_epoch_shuffle" -> epochShuffleSql,
    "prep_bpe_train" -> bpeTrainSql,
    "prep_bpe_encode" -> bpeEncodeSql,
    "prep_vocab_encode" -> vocabEncodeSql,
    "prep_seq_pack"     -> seqPackSql,
    "prep_shard_manifest" -> shardManifestSql,
    "prep_pack_ffd"     -> packFfdSql,
    "prep_split_assign" -> splitAssignSql,
    "prep_mix_weighted" -> mixWeightedSampleSql,
    "prep_chunk_windows" -> chunkWindowsSql
  )
}
