package graft.operators

import graft.Pins
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over `embeddings` (64-dim float vectors) —
  * LLM-pipeline extension scope (SURVEY.md §2c).
  *
  *  - Brute-force cosine top-k: the exactness baseline. Queries are a tiny
  *    filtered subset → broadcast against the full corpus; the per-pair dot
  *    product is built-in `zip_with` + `aggregate` (codegen'd, no UDF); the
  *    top-k is a per-query rank window — never a global sort.
  *  - SRP-LSH bucketed ANN: random-hyperplane sign bits (hyperplanes
  *    derived from a hash of (plane, dim) — deterministic, no stored model)
  *    → bucket id; search only the query's bucket (+ 1-bit probes). This is
  *    the 100 TB shape: the index is a single extra column, candidates per
  *    query shrink by ~2^planes/ε, and the bucket join is a plain shuffle
  *    join on the bucket id.
  *
  * Determinism: dot products are computed in double with a fixed
  * left-to-right `aggregate` fold; scores in oracle-checked output are
  * additionally rounded to 6 dp, and ranks tie-break on vec_id.
  */
object Similarity {

  private val K = 5

  /** Cosine similarity of two array<double> columns: Σ a·b / (√Σa² · √Σb²),
    * strict left-to-right folds in double — the same element order DuckDB's
    * `list_dot_product` uses, so oracle hashes match bit-for-bit. The dot is
    * the codegen'd `graft.functions.DotProduct` (the interpreted
    * `aggregate(zip_with(...))` fold measured ~166 µs/pair and dominated the
    * bench; the codegen loop is ~100× faster with identical results). */
  private[graft] def cosine(a: Column, b: Column): Column = {
    import graft.functions.VectorFunctions.dot
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  private[graft] def embeddings(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))

  /** The exact all-pairs/all-queries baselines ([[bruteForceTopK]],
    * [[cosineNearDup]]) are quadratic BY DESIGN — they are the
    * correctness/recall oracles the ANN paths are measured against — and
    * the FIXED-bucket-universe generators (sign-grid: 2⁸ cells; SRP: 2⁴
    * buckets) are quadratic PAST SATURATION: cell occupancy is n/cells,
    * so candidates grow ∝ n²/cells once every cell is populated — the
    * round-16 second-decade rehearsal measured `semantic_dedup` spilling
    * 45+ GB at 200 k vectors before dying. This guard refuses to run any
    * of them past a corpus-size tripwire so a config mistake cannot
    * quietly schedule an n² join over a 100 TB corpus: fail loudly, name
    * the scale counterpart (the standing IVF machinery — cell count
    * GROWS with the corpus via kmeans, the property a fixed grid lacks),
    * and leave a deliberate override
    * (`spark.graft.exactBaseline.maxRows`). The row count reads
    * parquet footer metadata driver-side ([[Tables.footerRowCount]],
    * cached) — zero Spark jobs, so guarded builders keep the one-action-
    * per-query contract. */
  private def guardExactBaseline(s: SparkSession, dir: String,
                                 what: String, annAlt: String): Unit = {
    val max = Dedup.longConf(s, Dedup.MaxExactRowsKey, 100000L)
    val n = Tables.footerRowCount(s, dir, "embeddings")
    require(n <= max,
      s"$what is an exact baseline (quadratic pair space) guarded at $max rows; " +
      s"the corpus has $n. Use $annAlt at scale, or raise ${Dedup.MaxExactRowsKey} deliberately.")
  }

  // ---------------------------------------------------- brute-force top-k
  /** Exact top-5 cosine neighbors for query vectors (vec_id % 100 == 0, so
    * the query set scales with the corpus). Query side is broadcast; the
    * corpus is scanned once; per-query top-k via rank window partitioned by
    * query — the shuffle carries (query, candidate, score), and at 100 TB
    * a TypedImperativeAggregate bounded heap would replace the window (same
    * result, no sort) — see graft.functions if bench demands it. */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    guardExactBaseline(s, dir, "ann_brute_topk", "ann_ivf_topk/ann_ivfpq_topk")
    val e = embeddings(s, dir)
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"),
              round(col("score"), 6).as("score_r"))
      .orderBy("q_id", "rnk")
  }

  val bruteForceTopKSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 100 = 0),
       |s AS (
       |  SELECT q.q_id, e.vec_id AS n_id,
       |    list_dot_product(q.qv, e.v) /
       |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
       |      AS score
       |  FROM q JOIN e ON e.vec_id <> q.q_id
       |), r AS (
       |  SELECT q_id, n_id, score,
       |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rnk
       |  FROM s
       |)
       |SELECT q_id, n_id, rnk, round(score, 6) AS score_r
       |FROM r WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin

  // ------------------------------------------------------------- SRP-LSH
  /** 4 planes → 16 buckets. The harness embeddings are near-orthogonal
    * random vectors (max pairwise cosine ≈ 0.5), so per-plane sign-agreement
    * for a true neighbor is only ~0.67 — recall falls as 0.67^planes, and 8
    * planes measured 4% recall. 4 planes + single-bit multi-probe ≈ 0.6
    * recall at 5/16 of the corpus scanned. At 100 TB (and on *clustered*
    * real embeddings, where per-plane agreement is ≫ 0.67) you'd raise
    * planes with corpus size to keep per-bucket occupancy constant. */
  private val Planes = 4

  /** Deterministic pseudorandom hyperplane coefficient for (plane, dim):
    * xxhash64 scaled to [-1, 1). No stored model — any executor recomputes
    * the same planes, so the "index" ships as code, not data. */
  private def planeCoef(plane: Int, dim: Column): Column =
    (xxhash64(lit(plane), dim).cast("double") / lit(Long.MaxValue.toDouble))

  /** Sign-random-projection bucket id: bit p = [Σ_d coef(p,d)·v_d ≥ 0]. */
  private[operators] def srpBucket(v: Column): Column =
    (0 until Planes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), lit(63)), (x, d) => x * planeCoef(p, d)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** md5 twin of [[srpBucket]] — CROSS-ENGINE-REPRODUCIBLE random
    * hyperplanes: coefficient (p, d) is ±1 by the first md5 hex digit of
    * "p,d" (< 8 → +1). ±1 multiplication and the left-to-right fold are
    * EXACT double ops, and DuckDB's `list_dot_product` against the same
    * ±1 plane vector walks the identical order — so both engines compute
    * bit-identical projections and therefore identical sign bits. Rademacher
    * (±1) hyperplanes are themselves standard for SRP (Achlioptas'01
    * database-friendly random projections), not a test-only concession. */
  private def srpMd5Bucket(v: Column): Column =
    (0 until Planes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), lit(63)), (x, d) =>
          x * when(conv(substring(md5(concat_ws(",", lit(p), d)), 1, 1), 16, 10)
                     .cast("int") < 8, lit(1.0)).otherwise(lit(-1.0))),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** ANN top-k: candidates restricted to the query's SRP bucket, with
    * single-bit multi-probe (the query also probes the 8 buckets one
    * hyperplane-flip away — near-boundary neighbors land there). Recall is
    * probabilistic, so no SQL oracle — rows-only gate; scalatest measures
    * recall vs brute force. Probing is query-side only: the corpus keeps
    * one bucket id per vector, queries explode ×(Planes+1). */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Pins.cache(embeddings(s, dir).withColumn("bucket", srpBucket(col("v"))))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
      .withColumn("bucket",
        explode(array(col("bucket") +:
          (0 until Planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)))
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("qv"), col("vec_id"), col("v")).distinct()
      .withColumn("score", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"),
              round(col("score"), 6).as("score_r"))
      .orderBy("q_id", "rnk")
  }

  /** [[lshTopK]]'s md5 twin — the ANN SEARCH path itself under the hash
    * gate: [[srpMd5Bucket]] planes make bucketing, single-bit multi-probe
    * AND the exact-cosine re-rank cross-engine reproducible, so the
    * driver pins the search's every candidate and rank (the near-dup twin
    * `emb_neardup_srp_md5` proved the PAIR path; this proves per-query
    * retrieval with its top-k tie-breaks). xxhash [[lshTopK]] stays the
    * hot path. */
  def lshMd5TopK(s: SparkSession, dir: String): DataFrame = {
    val e = Pins.cache(embeddings(s, dir).withColumn("bucket", srpMd5Bucket(col("v"))))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
      .withColumn("bucket",
        explode(array(col("bucket") +:
          (0 until Planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)))
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("qv"), col("vec_id"), col("v")).distinct()
      .withColumn("score", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"),
              round(col("score"), 6).as("score_r"))
      .orderBy("q_id", "rnk")
  }

  val lshMd5TopKSql: String = {
    val probeList = (Seq("bucket") ++
      (0 until Planes).map(p => s"xor(bucket, ${1L << p})")).mkString(", ")
    def cos(a: String, b: String): String =
      s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pv AS (
       |  SELECT p, array_agg(CASE WHEN ('0x' || substring(md5(p::VARCHAR || ',' || d::VARCHAR), 1, 1))::INT < 8
       |                           THEN 1.0 ELSE -1.0 END ORDER BY d) AS pvec
       |  FROM (SELECT unnest(generate_series(0, ${Planes - 1})) AS p),
       |       (SELECT unnest(generate_series(0, 63)) AS d)
       |  GROUP BY p
       |),
       |buckets AS (
       |  SELECT e.vec_id, e.v,
       |         CAST(sum(CASE WHEN list_dot_product(e.v, pv.pvec) >= 0
       |                       THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e CROSS JOIN pv GROUP BY e.vec_id, e.v
       |),
       |probes AS (
       |  SELECT vec_id AS q_id, v AS qv, unnest([$probeList]) AS bucket
       |  FROM buckets WHERE vec_id % 100 = 0
       |),
       |cand AS (
       |  SELECT DISTINCT p.q_id, p.qv, b.vec_id AS n_id, b.v
       |  FROM probes p JOIN buckets b USING (bucket)
       |  WHERE b.vec_id <> p.q_id
       |),
       |ranked AS (
       |  SELECT q_id, n_id, ${cos("qv", "v")} AS score,
       |         row_number() OVER (PARTITION BY q_id
       |           ORDER BY ${cos("qv", "v")} DESC, n_id) AS rnk
       |  FROM cand
       |)
       |SELECT q_id, n_id, CAST(rnk AS INT) AS rnk, round(score, 6) AS score_r
       |FROM ranked WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
  }

  /** Brute-force top-k via the bounded-heap `TopKByScore`
    * TypedImperativeAggregate instead of a rank window. Result-identical to
    * `bruteForceTopK` (same score, same tie-break) and shares its oracle —
    * but the shuffle carries at most k pairs per partition per query
    * (map-side partial merge) instead of every scored candidate, and
    * nothing is ever sorted beyond 2k elements. This is the plan shape that
    * survives 100 TB; the window variant exists as the readable baseline. */
  def heapTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKAggregate
    val e = embeddings(s, dir)
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
      .groupBy("q_id")
      .agg(TopKAggregate.topK(col("score"), col("vec_id"), K).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("n_id"), col("t.rnk").as("rnk"),
              round(col("t.score"), 6).as("score_r"))
      .orderBy("q_id", "rnk")
  }

  /** Embedding-cosine near-duplicate pairs: all pairs with cosine ≥ 0.4
    * (the harness corpus max is ~0.51, so the threshold is meaningful but
    * non-empty). Implemented as the exact nested-loop join — correctness
    * baseline with the codegen'd dot keeping the pair scoring cheap. At
    * 100 TB this exact form is O(n²); the scale path is the SRP-bucketed
    * candidates of `lshTopK` with this same verify-filter (recall < 1, so
    * the exact form is the one under oracle). */
  def cosineNearDup(s: SparkSession, dir: String): DataFrame = {
    guardExactBaseline(s, dir, "emb_neardup_cosine", "emb_neardup_cosine_lsh")
    val e = embeddings(s, dir)
    val a = e.select(col("vec_id").as("a_id"), col("v").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("score", cosine(col("va"), col("vb")))
      .filter(col("score") >= 0.4)
      .select(col("a_id"), col("b_id"), round(col("score"), 6).as("score_r"))
      .orderBy("a_id", "b_id")
  }

  val cosineNearDupSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |       round(list_dot_product(a.v, b.v) /
      |             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
      |         AS score_r
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
      |ORDER BY a_id, b_id""".stripMargin

  /** SRP-bucketed cosine near-duplicate pairs — the 100 TB path that
    * [[cosineNearDup]]'s comment names: candidates are pairs meeting in the
    * same SRP bucket (with single-bit multi-probe on the lower-id side —
    * near-boundary pairs differ by one hyperplane sign, and a one-bit flip
    * is symmetric, so probing one side finds them), then exact cosine ≥ 0.4
    * verification over the joined vectors. Every join is an equi join on
    * bucket id or vec_id — no nested loop anywhere in the plan; candidates
    * scale with bucket occupancy, not n². Recall is probabilistic
    * (hash-dependent bucketing) → rows-only gate; scalatest checks the
    * output is a subset of the exact query with bounded recall. */
  def cosineNearDupLsh(s: SparkSession, dir: String): DataFrame = {
    guardExactBaseline(s, dir, "emb_neardup_cosine_lsh",
      "the standing IVF machinery (ann_ivf_indexed; semantic_dedup_ivf for near-dup pairs)")
    srpNearDupPairs(embeddings(s, dir).withColumn("bucket", srpBucket(col("v"))))
  }

  /** Multi-probe candidate generation + exact verification over a frame
    * carrying (vec_id, v, bucket) — shared by the xxhash hot path and the
    * md5 oracle twin. */
  private def srpNearDupPairs(withBuckets: DataFrame): DataFrame = {
    val e = Pins.cache(withBuckets)
    val probes = e.select(col("vec_id").as("a_id"), col("bucket"))
      .withColumn("bucket",
        explode(array(col("bucket") +:
          (0 until Planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)))
    val cand = probes
      .join(e.select(col("vec_id").as("b_id"), col("bucket")), Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(e.select(col("vec_id").as("a_id"), col("v").as("va")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("v").as("vb")), "b_id")
      .withColumn("score", cosine(col("va"), col("vb")))
      .filter(col("score") >= 0.4)
      .select(col("a_id"), col("b_id"), round(col("score"), 6).as("score_r"))
      .orderBy("a_id", "b_id")
  }

  /** [[cosineNearDupLsh]] with the md5 Rademacher planes — the
    * oracle-proof twin that puts the SRP machinery itself (±-weighted
    * projections, sign-bit buckets, single-bit multi-probe, exact
    * verification) under the DuckDB hash gate, the way the sign-grid
    * query gates the axis-aligned case. The xxhash planes stay the hot
    * path (one hash vs an md5 digest per (plane, dim) product). */
  def cosineNearDupSrpMd5(s: SparkSession, dir: String): DataFrame = {
    guardExactBaseline(s, dir, "emb_neardup_srp_md5",
      "the standing IVF machinery (ann_ivf_indexed; semantic_dedup_ivf for near-dup pairs)")
    srpNearDupPairs(embeddings(s, dir).withColumn("bucket", srpMd5Bucket(col("v"))))
  }

  /** DuckDB mirror of [[cosineNearDupSrpMd5]]: the ±1 plane vectors are
    * materialized per plane and dotted with `list_dot_product` — the same
    * left-to-right order as Spark's fold, on exactly-representable ±1
    * products, so projections (and their signs) match bit-for-bit. */
  val cosineNearDupSrpMd5Sql: String = {
    val probeList = (Seq("bucket") ++
      (0 until Planes).map(p => s"xor(bucket, ${1L << p})")).mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |pv AS (
      |  SELECT p, array_agg(CASE WHEN ('0x' || substring(md5(p::VARCHAR || ',' || d::VARCHAR), 1, 1))::INT < 8
      |                           THEN 1.0 ELSE -1.0 END ORDER BY d) AS pvec
      |  FROM (SELECT unnest(generate_series(0, ${Planes - 1})) AS p),
      |       (SELECT unnest(generate_series(0, 63)) AS d)
      |  GROUP BY p
      |),
      |buckets AS (
      |  SELECT e.vec_id, e.v,
      |         CAST(sum(CASE WHEN list_dot_product(e.v, pv.pvec) >= 0
      |                       THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM e CROSS JOIN pv GROUP BY e.vec_id, e.v
      |),
      |probes AS (
      |  SELECT vec_id AS a_id, unnest([$probeList]) AS bucket FROM buckets
      |),
      |cand AS (
      |  SELECT DISTINCT p.a_id, b.vec_id AS b_id
      |  FROM probes p JOIN buckets b USING (bucket)
      |  WHERE p.a_id < b.vec_id
      |)
      |SELECT c.a_id, c.b_id,
      |       round(list_dot_product(a.v, b.v) /
      |             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
      |         AS score_r
      |FROM cand c JOIN e a ON c.a_id = a.vec_id JOIN e b ON c.b_id = b.vec_id
      |WHERE list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
      |ORDER BY a_id, b_id""".stripMargin
  }

  // ------------------------------------------------- sign-grid near-dup
  private val GridDims = 8

  /** Axis-aligned sign-grid bucket: bit d = [v_d ≥ 0] over the first
    * `GridDims` coordinates — the deterministic sibling of [[srpBucket]].
    * Same cell geometry (2^8 orthant cells), but the "hyperplanes" are the
    * coordinate axes, so the bucket id is plain arithmetic ANY engine
    * reproduces bit-for-bit. That buys what the SRP form cannot have: the
    * bucketed scale path itself goes under the DuckDB hash gate, not just
    * its exact-verification filter. */
  private def signGridBucket(v: Column): Column =
    (0 until GridDims).map { d =>
      when(element_at(v, d + 1) >= 0, lit(1L << d)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Sign-grid bucketed cosine near-duplicate pairs — [[cosineNearDupLsh]]
    * with deterministic cells, fully ORACLE-CHECKED. Candidates are pairs
    * meeting in one cell after single-bit multi-probe on the lower-id side
    * (a near-boundary pair differs in one sign bit; the flip is symmetric,
    * so probing one side finds it), then exact cosine ≥ 0.4 verification.
    * All joins are equi joins on the cell id or vec_id — candidate count
    * follows cell occupancy, never n². Recall < 1 by construction (pairs
    * differing in ≥ 2 sign bits are skipped — at scale you add probe bits
    * or re-rank survivors); the oracle reproduces the same approximation
    * exactly, which is the point: approximation error is pinned by the
    * hash gate instead of trusted. */
  def cosineNearDupSignGrid(s: SparkSession, dir: String): DataFrame = {
    guardExactBaseline(s, dir, "emb_neardup_signgrid",
      "the standing IVF machinery (ann_ivf_indexed; semantic_dedup_ivf for near-dup pairs)")
    signGridPairs(s, dir)
      .select(col("a_id"), col("b_id"), round(col("score"), 6).as("score_r"))
      .orderBy("a_id", "b_id")
  }

  /** Shared candidate+verify core of [[cosineNearDupSignGrid]] and
    * [[semanticDedup]]: (a_id, b_id, score) with exact cosine ≥ 0.4. */
  private def signGridPairs(s: SparkSession, dir: String): DataFrame = {
    val e = Pins.cache(embeddings(s, dir).withColumn("bucket", signGridBucket(col("v"))))
    val probes = e.select(col("vec_id").as("a_id"), col("bucket"))
      .withColumn("bucket",
        explode(array(col("bucket") +:
          (0 until GridDims).map(d => col("bucket").bitwiseXOR(lit(1L << d))): _*)))
    val cand = probes
      .join(e.select(col("vec_id").as("b_id"), col("bucket")), Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(e.select(col("vec_id").as("a_id"), col("v").as("va")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("v").as("vb")), "b_id")
      .withColumn("score", cosine(col("va"), col("vb")))
      .filter(col("score") >= 0.4)
      .select("a_id", "b_id", "score")
  }

  val cosineNearDupSignGridSql: String = {
    val bucket = (0 until GridDims)
      .map(d => s"(CASE WHEN v[${d + 1}] >= 0 THEN ${1L << d} ELSE 0 END)")
      .mkString(" + ")
    val probeList = ("bucket" +:
      (0 until GridDims).map(d => s"xor(bucket, ${1L << d})")).mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucket AS bucket FROM e),
       |probes AS (
       |  SELECT vec_id AS a_id, unnest([$probeList]) AS bucket FROM b
       |),
       |cand AS (
       |  SELECT DISTINCT p.a_id, c.vec_id AS b_id
       |  FROM probes p JOIN b c ON p.bucket = c.bucket AND p.a_id < c.vec_id
       |)
       |SELECT cand.a_id, cand.b_id,
       |       round(list_dot_product(x.v, y.v) /
       |             (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)
       |         AS score_r
       |FROM cand JOIN b x ON cand.a_id = x.vec_id
       |          JOIN b y ON cand.b_id = y.vec_id
       |WHERE list_dot_product(x.v, y.v) /
       |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.4
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ------------------------------------------------------- semantic dedup
  /** SemDeDup-style semantic deduplication (public literature: Abbas et
    * al., "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): documents whose EMBEDDINGS are near-identical
    * are redundant for training even when their text differs, so keep one
    * representative per embedding-space cluster. Composition of two
    * already-proven operators: sign-grid bucketed cosine pairs
    * ([[signGridPairs]] — deterministic cells; candidates follow cell
    * occupancy, which is n/2⁸ once the fixed grid saturates, so this
    * form is tripwired past [[Dedup.MaxExactRowsKey]] and the at-scale form is
    * IVF-clustered — see [[guardExactBaseline]]) → connected components
    * over the pair graph
    * (min-label propagation with pointer doubling, O(log diameter) rounds
    * — [[Dedup.ccLabels]]) → keep the minimum vec_id per component.
    * Output is a per-vector decision table (vec_id, cluster_rep, kept):
    * the downstream training-set build is one semi-join on kept = true.
    * Every stage is deterministic arithmetic, so the WHOLE pipeline —
    * bucketing approximation included — is oracle-checked against a
    * DuckDB recursive-CTE closure, not trusted. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    guardExactBaseline(s, dir, "semantic_dedup",
      "semantic_dedup_ivf (IVF-clustered SemDeDup: emb_kmeans_fit cells + per-cluster dedup)")
    semDedupDecisions(s, dir, signGridPairs(s, dir))
  }

  /** The semantic-dedup decision table over the (a_id, b_id) cosine pairs:
    * one (vec_id, cluster_rep, kept) row per embedding, cluster_rep = the
    * CC component minimum (the vector itself when unpaired). */
  private def semDedupDecisions(s: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    val labels = Dedup.ccLabels(pairs.select("a_id", "b_id"))
      .withColumnRenamed("id", "vec_id")
    embeddings(s, dir).select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("lbl"), col("vec_id")).as("cluster_rep"),
        (coalesce(col("lbl"), col("vec_id")) === col("vec_id")).as("kept"))
      .orderBy("vec_id")
  }

  // --------------------------------------------- semantic decontamination
  /** Embedding-level benchmark decontamination — the semantic sibling of
    * the n-gram rules ([[QualityFilters.decontaminate]] /
    * `decontaminate_13gram`): a paraphrased benchmark item shares no
    * 13-gram with its source but sits next to it in embedding space, so
    * LLM pipelines additionally flag training vectors within cosine ≥ τ
    * of any held-out item (the practice the SemDeDup line of work and
    * current model cards describe). Benchmark set here: `label = 0`
    * vectors; corpus: the rest. Blocking is the deterministic sign-grid
    * with single-bit multi-probe — the benchmark side is TINY and keeps
    * its exact cell, each corpus vector probes its cell ± one sign flip,
    * so candidates are benchmark-occupancy-bounded, never n² — and the
    * benchmark side broadcasts. The approximation is deterministic, so
    * the WHOLE path (cells, probes, verify, best-match tie-breaks) is
    * hash-gated, as with [[cosineNearDupSignGrid]]. Output: one row per
    * contaminated corpus vector with its best-matching benchmark item
    * (score desc, ties → lowest bench_id). */
  def semanticDecontaminate(s: SparkSession, dir: String): DataFrame =
    semanticDecontaminateFrom(embeddings(s, dir))

  /** [[semanticDecontaminate]] parametrized by the (vec_id, v, label)
    * frame — the form the planted-contamination spec drives. */
  private[graft] def semanticDecontaminateFrom(vecs: DataFrame): DataFrame = {
    val e = vecs.withColumn("bucket", signGridBucket(col("v")))
    val bench = e.filter(col("label") === 0)
      .select(col("vec_id").as("bench_id"), col("v").as("vb"), col("bucket"))
    val probes = e.filter(col("label") =!= 0)
      .select(col("vec_id"), col("v"), col("bucket"))
      .withColumn("bucket",
        explode(array(col("bucket") +:
          (0 until GridDims).map(d => col("bucket").bitwiseXOR(lit(1L << d))): _*)))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("bench_id"))
    probes.join(broadcast(bench), Seq("bucket"))
      .withColumn("score", cosine(col("v"), col("vb")))
      .filter(col("score") >= 0.4)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("bench_id"), round(col("score"), 6).as("score_r"))
      .orderBy("vec_id")
  }

  val semanticDecontaminateSql: String = {
    val bucket = (0 until GridDims)
      .map(d => s"(CASE WHEN v[${d + 1}] >= 0 THEN ${1L << d} ELSE 0 END)")
      .mkString(" + ")
    val probeList = ("bucket" +:
      (0 until GridDims).map(d => s"xor(bucket, ${1L << d})")).mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
       |b AS (SELECT vec_id, v, label, $bucket AS bucket FROM e),
       |bench AS (SELECT vec_id AS bench_id, v AS vb, bucket FROM b WHERE label = 0),
       |probes AS (
       |  SELECT vec_id, v, unnest([$probeList]) AS bucket FROM b WHERE label <> 0
       |),
       |scored AS (
       |  SELECT p.vec_id, bench.bench_id,
       |         list_dot_product(p.v, bench.vb) /
       |           (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(bench.vb, bench.vb)))
       |           AS score
       |  FROM probes p JOIN bench USING (bucket)
       |)
       |SELECT vec_id, bench_id, round(score, 6) AS score_r FROM (
       |  SELECT vec_id, bench_id, score,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, bench_id) AS rn
       |  FROM scored WHERE score >= 0.4
       |) WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  val semanticDedupSql: String = {
    val bucket = (0 until GridDims)
      .map(d => s"(CASE WHEN v[${d + 1}] >= 0 THEN ${1L << d} ELSE 0 END)")
      .mkString(" + ")
    val probeList = ("bucket" +:
      (0 until GridDims).map(d => s"xor(bucket, ${1L << d})")).mkString(", ")
    s"""WITH RECURSIVE pairs AS (
       |  WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |  b AS (SELECT vec_id, v, $bucket AS bucket FROM e),
       |  probes AS (
       |    SELECT vec_id AS a_id, unnest([$probeList]) AS bucket FROM b
       |  ),
       |  cand AS (
       |    SELECT DISTINCT p.a_id, c.vec_id AS b_id
       |    FROM probes p JOIN b c ON p.bucket = c.bucket AND p.a_id < c.vec_id
       |  )
       |  SELECT cand.a_id, cand.b_id
       |  FROM cand JOIN b x ON cand.a_id = x.vec_id
       |            JOIN b y ON cand.b_id = y.vec_id
       |  WHERE list_dot_product(x.v, y.v) /
       |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.4
       |),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs
       |),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
       |),
       |lbl AS (
       |  SELECT src AS vec_id, least(src, min(dst)) AS rep
       |  FROM reach GROUP BY src
       |)
       |SELECT e.vec_id, coalesce(l.rep, e.vec_id) AS cluster_rep,
       |       coalesce(l.rep, e.vec_id) = e.vec_id AS kept
       |FROM embeddings e LEFT JOIN lbl l ON e.vec_id = l.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  /** IVF-clustered SemDeDup — the at-scale semantic dedup that the
    * [[semanticDedup]] tripwire names (Abbas et al. 2023 run exactly this
    * shape: k-means the corpus embeddings, then dedup WITHIN each
    * cluster). Same output contract as [[semanticDedup]] — a per-vector
    * decision table (vec_id, cluster_rep, kept) — but the candidate
    * generator is the full Lloyd fit ([[kmeansAssignments]], the
    * `emb_kmeans_fit` assignment) instead of the fixed 2⁸-cell sign grid:
    * the centroid universe GROWS with the corpus (k = ⌈n/200⌉ seed rule),
    * so cell occupancy stays ~200 and per-cell pairs stay
    * occupancy-bounded at any corpus size — the property the fixed grid
    * lacks (occupancy n/2⁸ ⇒ candidates ~n²/2⁸ past saturation; run M
    * measured the 45+ GB spill at 200 k vectors). Per-cell scoring is a
    * self-equi-join on c_id (shuffle carries n rows per side, pairs are
    * generated and filtered inside the join — never materialized through
    * an exchange), then the shared CC collapse ([[Dedup.ccLabels]]) and
    * min-id representative rule. Approximation (a cross-cell near-dup
    * pair is missed — SemDeDup's own trade) is deterministic arithmetic
    * end-to-end, so the WHOLE pipeline is oracle-checked against the
    * unrolled-Lloyd DuckDB twin, not trusted.
    *
    * Scale honesty: the Lloyd assignment itself is n·k work with
    * k = n/200 under the seed rule — an n²/200 term. Measured (run S)
    * it is still amortizing at the second decade (per-vector cost FALLS
    * 0.72 → 0.42 ms across sf1 → sf10; 84.96 s at the 200 k-vector
    * corpus the sign grid dies on), and the deployment form — centroids
    * FROZEN into a standing bucketed table, delta-sized per-run work —
    * is the GATED [[semanticDedupIvfIndexed]] (round 18), so the Lloyd
    * term never reaches a day-2 pipeline. */
  def semanticDedupIvf(s: SparkSession, dir: String): DataFrame = Pins.scope {
    // cached: the within-cell pair stage references the assignment on
    // BOTH self-join sides, and the Lloyd chain's broadcast stages are
    // not covered by exchange reuse — without the cache the 3-round fit
    // executed twice (r19 optimization; the ccLabels inside
    // semDedupDecisions materializes the pair edges eagerly, so the result
    // no longer reads the cache and the scope releases it)
    val assigned = Pins.cache(kmeansAssignments(s, dir, KmeansIters))
    val pairs = assigned.select(col("c_id"), col("vec_id").as("a_id"), col("v").as("va"))
      .join(assigned.select(col("c_id"), col("vec_id").as("b_id"), col("v").as("vb")),
            Seq("c_id"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("score", cosine(col("va"), col("vb")))
      .filter(col("score") >= 0.4)
    semDedupDecisions(s, dir, pairs)
  }

  /** [[semanticDedupIvf]]'s twin: the shared unrolled-Lloyd chain
    * ([[kmeansCtes]] — the same CTEs the `emb_kmeans_fit` gate proved
    * bit-identical) nested inside the pair CTE, then the recursive-CTE
    * connected-components closure of [[semanticDedupSql]]. */
  lazy val semanticDedupIvfSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  $kmeansCtes
       |  SELECT x.vec_id AS a_id, y.vec_id AS b_id
       |  FROM a3 x JOIN a3 y ON x.c_id = y.c_id AND x.vec_id < y.vec_id
       |  WHERE list_dot_product(x.v, y.v) /
       |        (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.4
       |),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs
       |),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
       |),
       |lbl AS (
       |  SELECT src AS vec_id, least(src, min(dst)) AS rep
       |  FROM reach GROUP BY src
       |)
       |SELECT e.vec_id, coalesce(l.rep, e.vec_id) AS cluster_rep,
       |       coalesce(l.rep, e.vec_id) = e.vec_id AS kept
       |FROM embeddings e LEFT JOIN lbl l ON e.vec_id = l.vec_id
       |ORDER BY e.vec_id""".stripMargin

  // ----------------------------- standing semantic-dedup index (round 18)

  /** Semantic-dedup index builds done, keyed by (session, dir) — the
    * [[ensureAnnIndex]] memo discipline. */
  private val semBuilt =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]

  /** Materialize [[semanticDedupIvfIndexed]]'s standing half: the FROZEN
    * coarse quantizer (`semc`) and the centroid-assigned BASE vectors
    * (`sema`, bucketed by cell id), built once per (session, corpus) over
    * the base split (vec_id % 7 != 0 — the same daily-delta convention as
    * `dedup_incremental`). Centroids are the deterministic base subset
    * vec_id % 200 == 0 — exactly the [[buildAnnFor]] rule, so the whole
    * index is engine-reproducible and the probe fully oracle-checked; at
    * deployment the subset rule is a k-means fit, but the operator shape
    * (frozen quantizer + bucketed lists) is identical. This is the
    * deployment form the [[semanticDedupIvf]] scaladoc promises: the
    * per-run Lloyd fit (n·k with k = n/200, an n²/200 term) leaves the
    * gated path — day-2 semantic dedup pays ONLY delta-sized work. */
  def ensureSemDedupIndex(s: SparkSession, dir: String): String =
    semBuilt.synchronized {
      val k = (s, dir)
      val existing = semBuilt.get(k)
      if (existing != null) existing
      else if ({ val t = StandingIndex.tagOf(dir)
                 Seq(s"graft_idx_semc_$t", s"graft_idx_sema_$t")
                   .forall(s.catalog.tableExists) }) {
        val tag = StandingIndex.tagOf(dir); semBuilt.put(k, tag); tag
      } else {
        val tag = StandingIndex.tagOf(dir)
        buildSemDedupFor(embeddings(s, dir).filter(col("vec_id") % 7 =!= 0), tag)
        semBuilt.put(k, tag)
        tag
      }
    }

  /** Write the frozen-centroid + assigned-base tables for `base` under
    * `tag` (overwrite) — exposed within the package so specs can index
    * arbitrary corpora (the [[StandingIndex.buildFor]] pattern). */
  private[graft] def buildSemDedupFor(base: DataFrame, tag: String): Unit = {
    val cent = base.filter(col("vec_id") % 200 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    StandingIndex.save(cent, tag, "semc", "c_id", "overwrite")
    StandingIndex.save(assignToCentroids(base, cent), tag, "sema", "c_id",
      "overwrite")
  }

  /** Append newly-embedded vectors to the standing semantic-dedup index:
    * assign against the FROZEN stored centroids (broadcast; one narrow
    * pass over the batch), bucket-append to `sema` — the
    * [[appendAnnFor]] lifecycle. `SimilaritySpec` asserts a probe over
    * build(A)+append(B) equals a fresh index with the same centroid
    * set. */
  private[graft] def appendSemDedupFor(s: SparkSession, tag: String,
                                       vecs: DataFrame): Unit =
    semBuilt.synchronized {
      val cent = s.table(s"graft_idx_semc_$tag")
      StandingIndex.save(assignToCentroids(vecs, cent), tag, "sema", "c_id",
        "append")
    }

  /** Delete vectors from the standing semantic-dedup index — anti-join
    * out of the bucketed lists, centroids FROZEN (the [[deleteAnnFor]]
    * semantics and privacy boundary: forgetting a vector the quantizer
    * was trained on is a retrain = rebuild). */
  private[graft] def deleteSemDedupFor(s: SparkSession, tag: String,
                                       ids: DataFrame): Unit =
    semBuilt.synchronized {
      Pins.scope(StandingIndex.save(Pins.checkpoint(s.table(s"graft_idx_sema_$tag")
        .join(broadcast(ids.select(col("vec_id"))), Seq("vec_id"), "left_anti")),
        tag, "sema", "c_id", "overwrite"))
    }

  private lazy val semLog = org.slf4j.LoggerFactory.getLogger("graft.Similarity")

  /** Probe-time acceptance threshold on the frozen quantizer's hottest
    * cell. The designed occupancy of the `semc`/`sema` index is ~200
    * vectors per cell (one centroid per 200 base vectors — the
    * [[buildAnnFor]] rule; a deployment's k-means fit targets the same
    * ratio), so the default leaves >two decades of headroom: only true
    * quantizer drift or a duplicate-saturated append stream crosses it.
    * Stage 1 of the standing probe pays one cosine per (delta vector ×
    * base vector) inside each shared cell, so max cell mass IS the
    * per-delta-vector probe cost bound — at the default, the hottest
    * admissible cell costs ~65 k 8-dim cosines per delta vector landing
    * in it, the knee where per-vector cost stops being interactive. */
  private val MaxCellMassKey = "spark.graft.semanticProbe.maxCellMass"
  private[graft] val DefaultMaxCellMass = 65536L
  private def maxCellMassConf(s: SparkSession): Long =
    Dedup.longConf(s, MaxCellMassKey, DefaultMaxCellMass)

  /** Acceptance guard on the FROZEN semantic quantizer — the
    * [[StandingIndex.guardMeanPrefixDf]] discipline for the `semc`/`sema`
    * index: `ann_recall_sampled` plays this role for the ANN index; a
    * frozen semantic quantizer under a drifted append stream silently
    * degrades cells with nothing equivalent. One skinny bucket-local
    * aggregation over the standing lists (`c_id` is the bucket key, so
    * the groupBy is exchange-free) reads the exact current occupancy;
    * past the threshold the probe refuses NAMING the remedies instead of
    * scheduling the hot-cell joins. Pass or fail, the statistic is
    * logged ([[semanticIndexReport]] is the gated observability twin). */
  private[graft] def guardSemanticCellMass(s: SparkSession, lists: DataFrame,
                                           tag: String, what: String): Unit = {
    val mx = lists.groupBy("c_id").agg(count(lit(1)).as("m"))
      .agg(coalesce(max(col("m")), lit(0L)).as("mx")).head.getLong(0)
    val allowed = maxCellMassConf(s)
    semLog.info(s"$what: max standing cell mass $mx vs threshold $allowed (index $tag)")
    require(mx <= allowed,
      s"$what: the frozen semantic quantizer's hottest cell holds $mx vectors " +
      s"> $allowed — a drifted or duplicate-saturated append stream has degraded " +
      "the index (the standing probe pays cell-mass cosines per delta vector " +
      "landing in that cell). Rebuild the quantizer over the current base " +
      "(buildSemDedupFor), or run semantic_dedup_ivf (the growing-k, " +
      s"occupancy-bounded form), or raise $MaxCellMassKey deliberately.")
  }

  /** Standing semantic-index acceptance report — the `ann_recall_sampled`
    * analog for the frozen `semc`/`sema` quantizer (round 19): occupancy
    * statistics over the standing cell lists plus the acceptance verdict
    * the probe-time guard ([[guardSemanticCellMass]]) enforces. One
    * bucket-local aggregation (the lists are bucketed by `c_id`), linear
    * in index size at any corpus scale; a deployment runs this after
    * each append/compact cycle and alerts on `accepted = false` BEFORE a
    * probe refuses. Fully oracle-checked: occupancy is a deterministic
    * function of the frozen %-rule quantizer, so DuckDB reproduces every
    * figure exactly. */
  def semanticIndexReport(s: SparkSession, dir: String): DataFrame = {
    val tag = ensureSemDedupIndex(s, dir)
    val occ = s.table(s"graft_idx_sema_$tag")
      .groupBy("c_id").agg(count(lit(1)).as("m"))
    occ.agg(
        count(lit(1)).cast("long").as("n_cells"),
        sum("m").cast("long").as("n_vecs"),
        max("m").cast("long").as("max_mass"),
        round(avg("m"), 6).as("mean_mass"))
      .select(col("n_cells"), col("n_vecs"), col("max_mass"), col("mean_mass"),
        (col("max_mass") <= lit(maxCellMassConf(s))).as("accepted"))
  }

  /** [[semanticIndexReport]]'s DuckDB twin — the frozen %-rule quantizer
    * assignment as a CTE, then the same occupancy aggregate; the
    * acceptance threshold mirrors [[DefaultMaxCellMass]]. */
  val semanticIndexReportSql: String = {
    def cos(a: String, b: String): String =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |base AS (SELECT * FROM e WHERE vec_id % 7 <> 0),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE vec_id % 200 = 0),
       |ab AS (
       |  SELECT vec_id, c_id FROM (
       |    SELECT b.vec_id, cent.c_id,
       |           row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |             ${cos("b.v", "cent.cv")} DESC, cent.c_id) AS rnk
       |    FROM base b CROSS JOIN cent
       |  ) WHERE rnk = 1
       |),
       |occ AS (SELECT c_id, count(*) AS m FROM ab GROUP BY c_id)
       |SELECT count(*)::BIGINT AS n_cells, sum(m)::BIGINT AS n_vecs,
       |       max(m)::BIGINT AS max_mass, round(avg(m), 6) AS mean_mass,
       |       max(m) <= $DefaultMaxCellMass AS accepted
       |FROM occ""".stripMargin
  }

  /** Incremental IVF SemDeDup from the standing index — the day-2 form
    * of [[semanticDedupIvf]] (r17 verdict task 5): the delta sliver
    * (vec_id % 7 == 0) is assigned against the FROZEN stored centroids
    * and deduplicated against the standing base lists, so the per-run
    * cost is delta-sized — no Lloyd re-fit, no base re-scan beyond the
    * bucketed cells the delta actually touches (the pair joins key on
    * c_id, so only occupied delta cells participate, and the `sema` side
    * reads bucket-local). Two stages, in the
    * [[Pipeline.curateIncremental]] stage order:
    *
    *  1. base hit — best standing base vector with cosine ≥ 0.4 in the
    *     delta vector's cell (highest score, ties to lowest base id);
    *  2. delta CC — remaining delta vectors pair within their cells
    *     (exact cosine ≥ 0.4, generated inside the c_id equi-join) and
    *     collapse by connected components to the component min.
    *
    * Output contract matches [[semanticDedup]]: one row per DELTA vector
    * (vec_id, cluster_rep, kept) with cluster_rep the stage-1 base match,
    * else the stage-2 component label, else self. Incremental semantics
    * on purpose (a component cannot bridge through a base-matched delta
    * vector — the [[Dedup.incrementalDedup]] trade); the oracle pins the
    * incremental result row-for-row, and the lifecycle specs pin
    * append/delete-then-probe equal to a same-centroid rebuild. */
  def semanticDedupIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val tag = ensureSemDedupIndex(s, dir)
    semanticDedupIvfIndexedFor(s, tag,
      embeddings(s, dir).filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), col("v")))
  }

  /** [[semanticDedupIvfIndexed]] against an arbitrary standing tag and
    * delta frame — the lifecycle specs probe appended/deleted indexes
    * through this (the [[StandingIndex]] `...For` pattern). The decision
    * table is delta-sized (one row per delta vector) — materialize it
    * eagerly so the scope releases the plan's pins now (this runs once
    * per micro-batch on the semantic stream). */
  private[graft] def semanticDedupIvfIndexedFor(s: SparkSession, tag: String,
                                                delta: DataFrame): DataFrame =
    Pins.scope(Pins.checkpoint(semanticDedupIvfIndexedPlan(s, tag, delta)))

  /** The probe's LAZY plan — split out so the plan-pin spec can assert the
    * `sema` scan stays bucketed (the public form checkpoints the
    * delta-sized result, which hides the joins behind an ExistingRDD scan)
    * — the [[StandingIndex]] plan/probe convention. Its pins belong to the
    * caller's scope. */
  private[graft] def semanticDedupIvfIndexedPlan(s: SparkSession, tag: String,
      delta: DataFrame): DataFrame = {
    val cent = s.table(s"graft_idx_semc_$tag")
    val lists = s.table(s"graft_idx_sema_$tag")
    // acceptance guard on the FROZEN quantizer (round 19): a drifted or
    // duplicate-saturated append stream concentrates mass into few cells;
    // past the threshold the probe refuses instead of scheduling the
    // hot-cell joins (stage 1 pays base-cell-mass cosines PER delta
    // vector in that cell). semantic_index_report is the observability
    // twin of this statistic.
    guardSemanticCellMass(s, lists, tag, "semantic_dedup_ivf_indexed")
    // frozen assignment: the tiny centroid table broadcasts; one narrow
    // pass over the delta. Cached: feeds stage 1, the anti-join, and
    // both sides of the stage-2 pair join.
    val dAssigned = Pins.cache(assignToCentroids(delta, cent))
    val wBest = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("b_id"))
    val baseHit = Pins.cache(dAssigned
      .join(lists.select(col("c_id"), col("vec_id").as("b_id"), col("v").as("bv")),
            Seq("c_id"))
      .withColumn("score", cosine(col("v"), col("bv")))
      .filter(col("score") >= 0.4)
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("b_id").as("base_rep")))
    val r2 = dAssigned.join(baseHit.select("vec_id"), Seq("vec_id"), "left_anti")
    // stage-2 within-cell pairs ride the SAME star-capped candidate
    // generator as every sibling family ([[Dedup.MaxBucket]], round 19):
    // the quantizer is FROZEN, so a duplicate-heavy delta — the exact
    // input semantic dedup exists for — concentrates into few cells, and
    // an uncapped all-pairs join goes quadratic in cell occupancy. Cells
    // ≤ cap expand to all pairs; hot cells collapse to star spokes
    // around the cell's minimum delta id (linear, cluster stays
    // connected through the hub — CC recovers the full component), and
    // every candidate still passes the exact cosine before any decision.
    // The cap is mirrored in [[semanticDedupIvfIndexedSql]].
    val pairs = Dedup.bucketCandidates(
      r2.select(col("vec_id").as("doc_id"), col("c_id")), "c_id")
      .join(r2.select(col("vec_id").as("a_id"), col("v").as("va")), Seq("a_id"))
      .join(r2.select(col("vec_id").as("b_id"), col("v").as("vb")), Seq("b_id"))
      .filter(cosine(col("va"), col("vb")) >= 0.4)
    val ccRep = Dedup.ccLabels(pairs.select("a_id", "b_id"))
      .withColumnRenamed("id", "vec_id")
    delta.select(col("vec_id"))
      .join(baseHit, Seq("vec_id"), "left")
      .join(ccRep, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("base_rep"), col("lbl"), col("vec_id")).as("cluster_rep"),
        (coalesce(col("base_rep"), col("lbl"), col("vec_id")) === col("vec_id"))
          .as("kept"))
      .orderBy("vec_id")
  }

  /** [[semanticDedupIvfIndexed]]'s twin: the frozen base quantizer +
    * both assignments as plain CTEs (the deterministic % 200 centroid
    * rule needs no Lloyd unrolling), stage-1 best-base-match, then the
    * star-capped within-cell candidates (cells > [[Dedup.MaxBucket]]
    * collapse to spokes around the cell-min delta id — the
    * [[Dedup.bucketCandidates]] semantics, mirrored so the cap itself is
    * hash-gated) and the recursive-CC closure over the remaining delta. */
  val semanticDedupIvfIndexedSql: String = {
    def cos(a: String, b: String): String =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    s"""WITH RECURSIVE
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |base AS (SELECT * FROM e WHERE vec_id % 7 <> 0),
       |delta AS (SELECT * FROM e WHERE vec_id % 7 = 0),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM base WHERE vec_id % 200 = 0),
       |ab AS (
       |  SELECT vec_id, v, c_id FROM (
       |    SELECT b.vec_id, b.v, cent.c_id,
       |           row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |             ${cos("b.v", "cent.cv")} DESC, cent.c_id) AS rnk
       |    FROM base b CROSS JOIN cent
       |  ) WHERE rnk = 1
       |),
       |ad AS (
       |  SELECT vec_id, v, c_id FROM (
       |    SELECT d.vec_id, d.v, cent.c_id,
       |           row_number() OVER (PARTITION BY d.vec_id ORDER BY
       |             ${cos("d.v", "cent.cv")} DESC, cent.c_id) AS rnk
       |    FROM delta d CROSS JOIN cent
       |  ) WHERE rnk = 1
       |),
       |basehit AS (
       |  SELECT vec_id, b_id AS base_rep FROM (
       |    SELECT d.vec_id, a.vec_id AS b_id,
       |           row_number() OVER (PARTITION BY d.vec_id ORDER BY
       |             ${cos("d.v", "a.v")} DESC, a.vec_id) AS rn
       |    FROM ad d JOIN ab a USING (c_id)
       |    WHERE ${cos("d.v", "a.v")} >= 0.4
       |  ) WHERE rn = 1
       |),
       |r2 AS (
       |  SELECT * FROM ad WHERE vec_id NOT IN (SELECT vec_id FROM basehit)
       |),
       |r2s AS (
       |  SELECT c_id, count(*) AS bsz, min(vec_id) AS bmin
       |  FROM r2 GROUP BY c_id
       |),
       |cand AS (
       |  SELECT x.vec_id AS a_id, y.vec_id AS b_id
       |  FROM r2 x JOIN r2 y ON x.c_id = y.c_id AND x.vec_id < y.vec_id
       |  JOIN r2s s ON s.c_id = x.c_id
       |  WHERE s.bsz <= ${Dedup.MaxBucket}
       |  UNION
       |  SELECT s.bmin AS a_id, r.vec_id AS b_id
       |  FROM r2 r JOIN r2s s ON s.c_id = r.c_id
       |  WHERE s.bsz > ${Dedup.MaxBucket} AND r.vec_id <> s.bmin
       |),
       |pairs AS (
       |  SELECT c.a_id, c.b_id
       |  FROM cand c
       |  JOIN r2 x ON x.vec_id = c.a_id
       |  JOIN r2 y ON y.vec_id = c.b_id
       |  WHERE ${cos("x.v", "y.v")} >= 0.4
       |),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs
       |),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
       |),
       |lbl AS (
       |  SELECT src AS vec_id, least(src, min(dst)) AS rep
       |  FROM reach GROUP BY src
       |)
       |SELECT d.vec_id,
       |       coalesce(h.base_rep, l.rep, d.vec_id) AS cluster_rep,
       |       coalesce(h.base_rep, l.rep, d.vec_id) = d.vec_id AS kept
       |FROM delta d
       |LEFT JOIN basehit h ON h.vec_id = d.vec_id
       |LEFT JOIN lbl l ON l.vec_id = d.vec_id
       |ORDER BY d.vec_id""".stripMargin
  }

  // ----------------------------------------------------------------- IVF
  private val NProbe = 2

  /** IVF-flat ANN: coarse centroids quantize the corpus into inverted
    * lists; a query probes only the `NProbe` nearest lists. Centroids here
    * are a deterministic corpus subset (`vec_id % 200 == 0` — at scale: a
    * k-means fit, but the *operator shape* is identical and a fixed rule
    * makes the whole pipeline engine-reproducible, so unlike the SRP-LSH
    * variants this ANN path is fully ORACLE-CHECKED). Assignment is one
    * broadcast join + rank-1 window; the candidate join is an equi join on
    * the centroid id — candidates shrink by ~nlists/nprobe, the IVF-flat
    * trade. Recall < 1 by construction (a true neighbor may live in an
    * unprobed list); the oracle reproduces the same approximation exactly. */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val cent = e.filter(col("vec_id") % 200 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    // nearest centroid per corpus vector (rank-1 window, ties on c_id)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_score").desc, col("c_id"))
    val assigned = e.join(broadcast(cent), lit(true))
      .withColumn("c_score", cosine(col("v"), col("cv")))
      .withColumn("c_rnk", row_number().over(wAssign))
      .filter(col("c_rnk") === 1)
      .select(col("vec_id"), col("v"), col("c_id"))
    // queries probe their NProbe nearest centroid lists
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("p_score").desc, col("c_id"))
    val probes = q.join(broadcast(cent), lit(true))
      .withColumn("p_score", cosine(col("qv"), col("cv")))
      .withColumn("p_rnk", row_number().over(wProbe))
      .filter(col("p_rnk") <= NProbe)
      .select(col("q_id"), col("qv"), col("c_id"))
    val scored = probes.join(assigned, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"),
              round(col("score"), 6).as("score_r"))
      .orderBy("q_id", "rnk")
  }

  val ivfTopKSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % 200 = 0),
       |assigned AS (
       |  SELECT vec_id, v, c_id FROM (
       |    SELECT e.vec_id, e.v, cent.c_id,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_dot_product(e.v, cent.cv) /
       |               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv)))
       |             DESC, cent.c_id) AS c_rnk
       |    FROM e CROSS JOIN cent
       |  ) WHERE c_rnk = 1
       |),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 100 = 0),
       |probes AS (
       |  SELECT q_id, qv, c_id FROM (
       |    SELECT q.q_id, q.qv, cent.c_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             list_dot_product(q.qv, cent.cv) /
       |               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cv, cent.cv)))
       |             DESC, cent.c_id) AS p_rnk
       |    FROM q CROSS JOIN cent
       |  ) WHERE p_rnk <= $NProbe
       |),
       |scored AS (
       |  SELECT p.q_id, a.vec_id AS n_id,
       |         list_dot_product(p.qv, a.v) /
       |           (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS score
       |  FROM probes p JOIN assigned a USING (c_id)
       |  WHERE a.vec_id <> p.q_id
       |), r AS (
       |  SELECT q_id, n_id, score,
       |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rnk
       |  FROM scored
       |)
       |SELECT q_id, n_id, rnk, round(score, 6) AS score_r
       |FROM r WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin

  // --------------------------------------------------- ANN recall report
  /** In-engine index-quality evaluation: recall@[[K]] of [[ivfTopK]]
    * against the exact [[bruteForceTopK]] baseline, per query — the
    * acceptance metric every ANN deployment tracks before trusting an
    * index (and re-checks after each reindex / NProbe change). Both inputs
    * are deterministic (fixed tie-breaks), so the report itself is exact
    * and hash-gated — n_hits is an integer set intersection, recall an
    * exact multiple of 1/[[K]]. Inherits [[bruteForceTopK]]'s corpus-size
    * guard BY DESIGN: at 100 TB the exact side is only computable on a
    * sample, which is precisely how production recall evals run (ground
    * truth over a drawn query/corpus sample, index side at full scale). */
  def annRecallReport(s: SparkSession, dir: String): DataFrame = {
    val truth  = bruteForceTopK(s, dir).select(col("q_id"), col("n_id"))
    val approx = ivfTopK(s, dir).select(col("q_id"), col("n_id"), lit(1).as("hit"))
    truth.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        round(col("n_hits") / lit(K.toDouble), 6).as("recall_at_k"))
      .orderBy("q_id")
  }

  val annRecallReportSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 100 = 0),
       |truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, e.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             list_dot_product(q.qv, e.v) /
       |               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
       |             DESC, e.vec_id) AS rnk
       |    FROM q JOIN e ON e.vec_id <> q.q_id
       |  ) WHERE rnk <= $K
       |),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % 200 = 0),
       |assigned AS (
       |  SELECT vec_id, v, c_id FROM (
       |    SELECT e.vec_id, e.v, cent.c_id,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_dot_product(e.v, cent.cv) /
       |               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv)))
       |             DESC, cent.c_id) AS c_rnk
       |    FROM e CROSS JOIN cent
       |  ) WHERE c_rnk = 1
       |),
       |probes AS (
       |  SELECT q_id, qv, c_id FROM (
       |    SELECT q.q_id, q.qv, cent.c_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             list_dot_product(q.qv, cent.cv) /
       |               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cv, cent.cv)))
       |             DESC, cent.c_id) AS p_rnk
       |    FROM q CROSS JOIN cent
       |  ) WHERE p_rnk <= $NProbe
       |),
       |approx AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT p.q_id, a.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY p.q_id ORDER BY
       |             list_dot_product(p.qv, a.v) /
       |               (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v)))
       |             DESC, a.vec_id) AS rnk
       |    FROM probes p JOIN assigned a USING (c_id)
       |    WHERE a.vec_id <> p.q_id
       |  ) WHERE rnk <= $K
       |)
       |SELECT t.q_id,
       |       CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |       round(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) / $K.0, 6) AS recall_at_k
       |FROM truth t LEFT JOIN approx a ON a.q_id = t.q_id AND a.n_id = t.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin

  /** Query-sample size for [[annRecallSampled]] — fixed, so the exact
    * side stays |sample|·n (linear in the corpus) at any scale. */
  private val RecallSampleQ = 32

  /** Index acceptance at ANY corpus size: recall@[[K]] of the STANDING
    * IVF index against exact ground truth computed for a content-stable
    * md5-sliced query sample (lowest [[RecallSampleQ]] vec_ids by
    * md5(vec_id), ties to vec_id — the `prep_*` content-stable
    * convention). [[annRecallReport]] inherits the brute-force guard by
    * design, so past the tripwire the index had no runnable acceptance
    * check; this is how production recall evals actually run — exact
    * top-k over the full corpus for a FIXED-SIZE drawn sample (one
    * broadcast pass, |sample|·n scored pairs, linear in n; at 100 TB the
    * per-query top-k window becomes the bounded-heap aggregate
    * `ann_heap_topk` proves identical), index side served from the
    * standing bucketed lists ([[ivfProbe]] — whose probe-equals-per-
    * query-plan contract `ann_ivf_indexed` hash-gates). Both sides are
    * deterministic → the whole report is oracle-checked, at every scale
    * the driver runs. */
  def annRecallSampled(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = e.select(col("vec_id").as("q_id"), col("v").as("qv"))
      .orderBy(md5(col("q_id").cast("string")), col("q_id"))
      .limit(RecallSampleQ)
    val wT = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    val truth = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
      .withColumn("rnk", row_number().over(wT))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("vec_id").as("n_id"))
    val tag = ensureAnnIndex(s, dir)
    val approx = ivfProbe(s, tag, q)
      .select(col("q_id"), col("n_id"), lit(1).as("hit"))
    truth.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        round(col("n_hits") / lit(K.toDouble), 6).as("recall_at_k"))
      .orderBy("q_id")
  }

  val annRecallSampledSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $RecallSampleQ),
       |truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, e.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             list_dot_product(q.qv, e.v) /
       |               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
       |             DESC, e.vec_id) AS rnk
       |    FROM q JOIN e ON e.vec_id <> q.q_id
       |  ) WHERE rnk <= $K
       |),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % 200 = 0),
       |assigned AS (
       |  SELECT vec_id, v, c_id FROM (
       |    SELECT e.vec_id, e.v, cent.c_id,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             list_dot_product(e.v, cent.cv) /
       |               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv)))
       |             DESC, cent.c_id) AS c_rnk
       |    FROM e CROSS JOIN cent
       |  ) WHERE c_rnk = 1
       |),
       |probes AS (
       |  SELECT q_id, qv, c_id FROM (
       |    SELECT q.q_id, q.qv, cent.c_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             list_dot_product(q.qv, cent.cv) /
       |               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cv, cent.cv)))
       |             DESC, cent.c_id) AS p_rnk
       |    FROM q CROSS JOIN cent
       |  ) WHERE p_rnk <= $NProbe
       |),
       |approx AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT p.q_id, a.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY p.q_id ORDER BY
       |             list_dot_product(p.qv, a.v) /
       |               (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v)))
       |             DESC, a.vec_id) AS rnk
       |    FROM probes p JOIN assigned a USING (c_id)
       |    WHERE a.vec_id <> p.q_id
       |  ) WHERE rnk <= $K
       |)
       |SELECT t.q_id,
       |       CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |       round(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) / $K.0, 6) AS recall_at_k
       |FROM truth t LEFT JOIN approx a ON a.q_id = t.q_id AND a.n_id = t.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin

  // -------------------------------------------------- standing IVF index
  /** ANN index builds already done, keyed by (session, dir) — same memo
    * discipline as [[StandingIndex.ensureBuilt]]. */
  private val annBuilt =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]

  /** Materialize [[ivfTopK]]'s index half — centroids and the
    * centroid-assigned corpus (the IVF inverted lists) — as bucketed
    * tables, once per (session, corpus). The assignment join (corpus ×
    * centroids, the expensive half of every ivf query) runs ONCE; the
    * lists are bucketed BY LIST ID, so later probes land on the bucket
    * key with zero corpus-side shuffle. This is how a vector store
    * actually serves IVF at 100 TB: the index is a standing artifact
    * maintained with the corpus, not per-query work. Serialized under a
    * lock for the same staging-overwrite reason as the dedup index. */
  def ensureAnnIndex(s: SparkSession, dir: String): String = annBuilt.synchronized {
    val k = (s, dir)
    val existing = annBuilt.get(k)
    if (existing != null) existing
    else if ({ val t = StandingIndex.tagOf(dir)
               Seq(s"graft_idx_annc_$t", s"graft_idx_anna_$t")
                 .forall(s.catalog.tableExists) }) {
      // adopt a previously-built index still listed in the catalog —
      // same restart/durable-path story as StandingIndex.ensureBuilt
      val tag = StandingIndex.tagOf(dir); annBuilt.put(k, tag); tag
    } else {
      val tag = StandingIndex.tagOf(dir)
      buildAnnFor(embeddings(s, dir), tag)
      annBuilt.put(k, tag)
      tag
    }
  }

  /** Assign each vector of `e` to its nearest centroid in `cent` — the
    * one rule shared by build, append and the per-query ivf plans (ties
    * to the lowest c_id). */
  private def assignToCentroids(e: DataFrame, cent: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_score").desc, col("c_id"))
    e.join(broadcast(cent), lit(true))
      .withColumn("c_score", cosine(col("v"), col("cv")))
      .withColumn("c_rnk", row_number().over(wAssign))
      .filter(col("c_rnk") === 1)
      .select(col("vec_id"), col("v"), col("c_id"))
  }

  /** Write the centroid + inverted-list tables for `corpus` under `tag`
    * (overwrite). Exposed within the package so specs can index
    * arbitrary corpora — the [[StandingIndex.buildFor]] pattern. */
  private[graft] def buildAnnFor(corpus: DataFrame, tag: String): Unit = {
    val cent = corpus.filter(col("vec_id") % 200 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    StandingIndex.save(cent, tag, "annc", "c_id", "overwrite")
    StandingIndex.save(assignToCentroids(corpus, cent), tag, "anna", "c_id",
      "overwrite")
  }

  /** Append newly-embedded vectors to a standing IVF index — the
    * maintenance path [[ivfIndexedTopK]]'s scaladoc names: assign each
    * arrival to its nearest STORED centroid (the tiny annc table
    * broadcasts; one narrow pass over the batch) and append the
    * assignments to the bucketed inverted-list table — bucket specs
    * match, so probe joins stay exchange-free over the union corpus.
    * Centroids are FROZEN at build time: the coarse quantizer is a
    * trained artifact, and admitting arrivals as new centroids would
    * re-route EXISTING list members (a rebuild, not maintenance — the
    * standard IVF deployment semantics). `SimilaritySpec` asserts a
    * probe over build(A)+append(B) equals a fresh index whose centroid
    * set is identical. */
  private[graft] def appendAnnFor(s: SparkSession, tag: String,
                                  vecs: DataFrame): Unit =
    annBuilt.synchronized {
      val cent = s.table(s"graft_idx_annc_$tag")
      StandingIndex.save(assignToCentroids(vecs, cent), tag, "anna", "c_id",
        "append")
    }

  /** Dir-keyed convenience over [[appendAnnFor]] — the index must
    * already exist in this session. */
  def appendAnnIndex(s: SparkSession, dir: String, vecs: DataFrame): Unit = {
    val tag = annBuilt.get((s, dir))
    require(tag != null,
      s"ANN index for $dir not built in this session — ensureAnnIndex first")
    appendAnnFor(s, tag, vecs)
  }

  /** Delete vectors from the standing IVF index — the
    * right-to-be-forgotten half of [[appendAnnFor]]'s maintenance
    * lifecycle: anti-join the ids out of the bucketed inverted lists
    * (bucket-local — at 100 TB a partition-overwrite MERGE touching only
    * lists that contain the ids). A deleted vector stops being
    * retrievable immediately. Centroids stay FROZEN, as on append: the
    * coarse quantizer is a trained artifact, so if the quantizer itself
    * must forget a vector it was trained ON, that is a retrain =
    * [[buildAnnFor]] rebuild — the standard IVF lifecycle, stated here so
    * the privacy boundary of list-deletion is explicit. The spec proves
    * delete-then-probe equals a fresh same-centroid index over the
    * survivors, and that deleted ids never resurface as neighbors. */
  private[graft] def deleteAnnFor(s: SparkSession, tag: String,
                                  ids: DataFrame): Unit =
    annBuilt.synchronized {
      Pins.scope(StandingIndex.save(Pins.checkpoint(s.table(s"graft_idx_anna_$tag")
        .join(broadcast(ids.select(col("vec_id"))), Seq("vec_id"), "left_anti")),
        tag, "anna", "c_id", "overwrite"))
    }

  /** Dir-keyed convenience over [[deleteAnnFor]]. */
  def deleteAnnIndex(s: SparkSession, dir: String, ids: DataFrame): Unit = {
    val tag = annBuilt.get((s, dir))
    require(tag != null,
      s"ANN index for $dir not built in this session — ensureAnnIndex first")
    deleteAnnFor(s, tag, ids)
  }

  /** [[ivfTopK]] served from the standing index: identical output (the
    * driver gate runs BOTH against [[ivfTopKSql]]), but the per-query
    * work is only the probe — queries broadcast against the tiny stored
    * centroid table, then join the bucketed lists on c_id. The corpus is
    * neither re-scanned nor re-assigned; at daily-ingest scale the
    * maintenance path is an append of newly-embedded docs to their lists
    * (same bucket-append mechanics as [[StandingIndex.appendAccepted]]). */
  def ivfIndexedTopK(s: SparkSession, dir: String): DataFrame = {
    val tag = ensureAnnIndex(s, dir)
    val q = embeddings(s, dir).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfProbe(s, tag, q)
  }

  /** The probe itself over an existing index `tag` with an arbitrary
    * (q_id, qv) query frame — split out so the append-maintenance spec
    * can probe build+append and fresh indexes over the same queries. */
  private[graft] def ivfProbe(s: SparkSession, tag: String,
                              q: DataFrame): DataFrame = {
    val cent = s.table(s"graft_idx_annc_$tag")
    val assigned = s.table(s"graft_idx_anna_$tag")
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("p_score").desc, col("c_id"))
    val probes = q.join(broadcast(cent), lit(true))
      .withColumn("p_score", cosine(col("qv"), col("cv")))
      .withColumn("p_rnk", row_number().over(wProbe))
      .filter(col("p_rnk") <= NProbe)
      .select(col("q_id"), col("qv"), col("c_id"))
    val scored = probes.join(assigned, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"),
              round(col("score"), 6).as("score_r"))
      .orderBy("q_id", "rnk")
  }

  // ------------------------------------------------ int8 quantization
  /** Symmetric per-dimension int8 quantization of the embedding corpus —
    * the serving-prep step a vector store runs before PQ/IVF get
    * involved (4× memory cut, SIMD-friendly dot products). Scales are
    * the per-dimension corpus max-|x| (a 64-row aggregate riding the
    * plan as a broadcast one-row array — the lazy-scalar pattern, no
    * driver action); codes are `floor(x·127/scale + 0.5)` — every step
    * is an IEEE double op both engines compute bit-identically, so the
    * quantized codes AND the integer ‖q‖² are hash-gated (the `round()`
    * builtin was deliberately avoided: its half-case tie rule is the one
    * step engines disagree on). Codes cross the gate as a CSV string
    * (array columns are engine-fragile to hash, per [[DataPrep
    * .vocabEncode]]). Row-local work after one tiny aggregate. */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val scales = e.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(max(abs(col("x"))).as("m"))
      .agg(expr("transform(sort_array(collect_list(struct(d, m))), s -> s.m)").as("ms"))
    e.join(broadcast(scales), lit(true))
      .withColumn("q", expr(
        "zip_with(v, ms, (x, m) -> cast(floor(x * 127.0d / greatest(m, 1e-12d) + 0.5d) as int))"))
      .select(col("vec_id"),
        concat_ws(",", col("q").cast("array<string>")).as("q_csv"),
        expr("aggregate(q, 0L, (acc, c) -> acc + cast(c as bigint) * c)").as("q_l2sq"))
      .orderBy("vec_id")
  }

  val quantizeInt8Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |dims AS (
      |  SELECT i, max(abs(v[i])) AS m
      |  FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g
      |  GROUP BY i
      |),
      |ms AS (SELECT list(m ORDER BY i) AS ms FROM dims),
      |q AS (
      |  SELECT vec_id,
      |         list_transform(generate_series(1, len(v)),
      |           i -> CAST(floor(v[i] * 127.0 / greatest(ms[i], 1e-12) + 0.5) AS INT)) AS q
      |  FROM e, ms
      |)
      |SELECT vec_id, array_to_string(q, ',') AS q_csv,
      |       CAST(list_sum(list_transform(q, c -> CAST(c AS BIGINT) * c)) AS BIGINT) AS q_l2sq
      |FROM q ORDER BY vec_id""".stripMargin

  // -------------------------------------------------------------- k-means
  private val KmeansIters = 3

  /** Full Lloyd's k-means over the embeddings — [[ivfTopK]]'s assignment
    * step and [[labelCentroids]]' update step iterated. Deterministic
    * end-to-end: init is the same fixed corpus subset ivfTopK quantizes
    * with, assignment tie-breaks on centroid id, and the update means are
    * decimal-exact per dimension. The whole fit is ONE lazy plan — no
    * driver-side action per iteration (iteration count is fixed; a
    * convergence-test variant would check a movement threshold per round
    * like [[graft.operators.Dedup.connectedComponents]] does). Per
    * iteration: one broadcast-assignment pass + one scalar-shuffle update
    * — at 100 TB the broadcast is the k×dim centroid table (KBs) and the
    * update shuffles (centroid, dim) scalars, so no step holds a vector
    * table in one place. Output is the final per-centroid occupancy and
    * inertia.
    *
    * Hash-gated: the iteration count is FIXED, so the DuckDB twin simply
    * unrolls the three Lloyd rounds as chained CTEs — no recursion needed.
    * Cross-engine bit-exactness holds because every number on the
    * comparison path is order-insensitive or order-fixed: distances are
    * sequential left-to-right double dots on both engines
    * ([[graft.functions.DotProduct]] ↔ `list_inner_product`), update
    * means are DECIMAL(28,12) sums (exact, any order) divided then cast
    * to double once, and inertia is a decimal sum rounded at 6. Verified
    * identical at both gate scales — including every per-centroid
    * membership count, which means every one of the ~n·k·iters rank
    * decisions agreed. */
  def kmeansFit(s: SparkSession, dir: String): DataFrame =
    kmeansFitIters(s, dir, KmeansIters)

  private[graft] def kmeansFitIters(s: SparkSession, dir: String, iters: Int): DataFrame =
    kmeansAssignments(s, dir, iters)
      .groupBy("c_id")
      .agg(count(lit(1)).as("n_members"),
           round(sum(col("d2").cast("decimal(28,12)")).cast("double"), 6).as("inertia"))
      .orderBy("c_id")

  /** The fit's final per-vector assignment (vec_id, v, c_id, d2) — the
    * shared tail [[kmeansFitIters]] aggregates and
    * [[pruneGroupPrototypes]] ranks within. */
  private[graft] def kmeansAssignments(s: SparkSession, dir: String, iters: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val e = Pins.cache(embeddings(s, dir).select(col("vec_id"), col("v")))
    // argmin per vector as min(struct(d2, c_id)) — lexicographic struct
    // ordering is exactly the rank-1 window's (d2 asc, ties to c_id), and
    // the partial aggregate collapses the n·k broadcast-join rows to one
    // NARROW row per local vec_id before any exchange (the join emits a
    // vector's k candidate rows inside one input partition). Two traps
    // this formulation avoids, both measured fatal at the second-decade
    // corpus (200 k vecs × 1 k centroids): the rank-1 window shuffles all
    // n·k rows with their 64-dim vectors (~110 GB); and putting v INSIDE
    // the min struct makes the struct-typed aggregate a SortAggregate
    // whose per-partition partial sort again buffers n·k wide rows
    // (measured: GC-locker death at sf10 under a 48 g heap). The narrow
    // (d2, c_id) struct sorts 16-byte rows over input already clustered
    // by vec_id; v is joined back at n rows.
    def assign(cent: DataFrame): DataFrame = {
      val m = e.join(broadcast(cent), lit(true))
        .select(col("vec_id"),
          struct(
            (dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("cv")) +
              dot(col("cv"), col("cv"))).as("d2"),
            col("c_id")).as("dc"))
        .groupBy("vec_id").agg(min(col("dc")).as("m"))
      e.join(m, "vec_id")
        .select(col("vec_id"), col("v"), col("m.c_id").as("c_id"),
                col("m.d2").as("d2"))
    }
    var cent = e.filter(col("vec_id") % 200 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    for (_ <- 1 until iters) {
      // update: decimal-exact per-dim means, re-assembled into vectors
      cent = assign(cent)
        .select(col("c_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("c_id", "dim")
        .agg((sum(col("x").cast("decimal(28,12)")) / count(lit(1)))
          .cast("double").as("m"))
        .groupBy("c_id")
        .agg(expr("transform(array_sort(collect_list(struct(dim, m))), p -> p.m)").as("cv"))
    }
    assign(cent)
  }

  /** Cluster-aware data pruning after Sorscher et al., NeurIPS 2022
    * ("Beyond neural scaling laws: beating power law scaling via data
    * pruning") — their SSL-prototypes metric: cluster the embeddings with
    * k-means, score each example by distance to its cluster centroid, and
    * for a LARGE source corpus keep the HARDEST examples (farthest from
    * the prototype; easy near-centroid examples are the redundant mass).
    * Here: the [[kmeansFit]] assignment ranked per cluster by d2 desc
    * (ties to vec_id), keep the top half per cluster — the 50% pruning
    * point of the paper's figures. Emits EVERY vector with its cluster,
    * rounded distance, rank and keep verdict, so downstream mixture
    * tooling can re-threshold without re-clustering.
    *
    * Hash-gated end to end on top of the kmeans twin: ranking happens on
    * the bit-identical d2 doubles (proven by the fit's gate), the keep
    * rule is integer (`2·rank ≤ cluster size + 1` — no 0.5 double), and
    * the emitted d2 is rounded at 6. One extra window over the final
    * assignment — no new corpus scan. */
  def pruneGroupPrototypes(s: SparkSession, dir: String): DataFrame = {
    val wC = Window.partitionBy(col("c_id"))
    kmeansAssignments(s, dir, KmeansIters)
      .withColumn("rk", row_number().over(
        wC.orderBy(col("d2").desc, col("vec_id"))))
      .withColumn("csz", count(lit(1)).over(wC))
      .select(col("vec_id"), col("c_id"), round(col("d2"), 6).as("d2"),
        col("rk").cast("long").as("rk"),
        (col("rk") * 2 <= col("csz") + 1).as("kept"))
      .orderBy("vec_id")
  }

  /** The unrolled-Lloyd WITH chain ending in the final assignment `a3` —
    * shared by [[kmeansFitSql]] and [[pruneGroupPrototypesSql]] so both
    * gates prove the SAME fit. */
  private val kmeansCtes: String = {
    def assign(cent: String): String =
      s"""SELECT e.vec_id, e.v, $cent.c_id,
         |       list_inner_product(e.v, e.v) - 2.0 * list_inner_product(e.v, $cent.cv)
         |         + list_inner_product($cent.cv, $cent.cv) AS d2
         |FROM e CROSS JOIN $cent
         |QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d2, c_id) = 1""".stripMargin
    def update(a: String): String =
      s"""SELECT c_id, list_transform(list_sort(list({'dim': dim, 'm': m})), p -> p.m) AS cv
         |FROM (
         |  SELECT c_id, dim, CAST(sum(CAST(x AS DECIMAL(28,12))) / count(*) AS DOUBLE) AS m
         |  FROM (SELECT c_id, i - 1 AS dim, v[i] AS x
         |        FROM $a, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) g)
         |  GROUP BY c_id, dim
         |) GROUP BY c_id""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % 200 = 0),
       |a1 AS (${assign("c0")}),
       |c1 AS (${update("a1")}),
       |a2 AS (${assign("c1")}),
       |c2 AS (${update("a2")}),
       |a3 AS (${assign("c2")})""".stripMargin
  }

  /** [[kmeansFit]]'s DuckDB twin: [[KmeansIters]] = 3 Lloyd rounds
    * unrolled as CTEs (init → assign → update → assign → update → final
    * assign), each stage the literal SQL of its Spark counterpart. */
  val kmeansFitSql: String =
    s"""$kmeansCtes
       |SELECT c_id, count(*) AS n_members,
       |       round(CAST(sum(CAST(d2 AS DECIMAL(28,12))) AS DOUBLE), 6) AS inertia
       |FROM a3 GROUP BY c_id ORDER BY c_id""".stripMargin

  /** [[pruneGroupPrototypes]]'s twin: the same fit chain + one ranked
    * window and the integer keep rule. */
  val pruneGroupPrototypesSql: String =
    s"""$kmeansCtes
       |SELECT vec_id, c_id, round(d2, 6) AS d2, rk, (rk * 2 <= csz + 1) AS kept
       |FROM (
       |  SELECT vec_id, c_id, d2,
       |         row_number() OVER (PARTITION BY c_id ORDER BY d2 DESC, vec_id) AS rk,
       |         count(*) OVER (PARTITION BY c_id) AS csz
       |  FROM a3
       |)
       |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ k-center coreset
  /** Coreset size for [[kcenterCoreset]]. */
  val KcenterK = 10

  /** Greedy k-center (farthest-point traversal, Gonzalez 1985) coreset
    * selection — the classic diversity-maximizing subset behind
    * active-learning coresets (Sener & Savarese, ICLR 2018): start from
    * the lowest vec_id, then repeatedly add the point FARTHEST from the
    * selected set (max over candidates of min distance to any selected;
    * ties to lowest vec_id). The canonical counterpart to
    * [[pruneGroupPrototypes]]: pruning removes redundant mass around
    * cluster centers, k-center picks a spread that 2-approximates the
    * optimal cover radius.
    *
    * K is FIXED, so the DuckDB twin unrolls the K−1 greedy steps as CTE
    * levels (DuckDB materializes multiply-referenced CTEs). The Spark
    * side CANNOT stay one lazy plan: level i references level i−1 three
    * times (union, cross join, anti join), so an unmaterialized chain
    * grows the LOGICAL tree ~3× per level — 3^K ≈ 59 k subtrees by
    * K = 10, which dies in analysis (measured: heap exhaustion at
    * sf0.01), and caching doesn't help because cache dedupes at
    * execution, not analysis. Each selection level (≤ K tiny rows) is
    * therefore `localCheckpoint()`ed — the same sanctioned eager-job
    * escape hatch as the CC fixpoint, run under the SAME
    * [[Dedup.CcFixpointTag]] so the one-action-per-query spec continues
    * to police every other build-time job. Greedy k-center is inherently
    * sequential (each pick depends on all prior picks); K bounded eager
    * laps of K-row snapshots is its honest cost.
    *
    * Distances are the same order-fixed double dots the k-means gate
    * proved bit-identical; min/argmax are exact comparisons →
    * hash-gated, with the seed row's undefined distance as NULL in both
    * engines. Scale: each step shuffles (corpus × ≤K) scalars; K steps
    * total — the same cost family as one k-means iteration. */
  def kcenterCoreset(s: SparkSession, dir: String): DataFrame = {
    val sc = s.sparkContext
    val prevTag = sc.getLocalProperty(Dedup.CcFixpointTag)
    sc.setLocalProperty(Dedup.CcFixpointTag, "1")
    try kcenterInner(s, dir)
    finally sc.setLocalProperty(Dedup.CcFixpointTag, prevTag)
  }

  private def kcenterInner(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    def d2(v: org.apache.spark.sql.Column, sv: org.apache.spark.sql.Column) =
      dot(v, v) - lit(2.0) * dot(v, sv) + dot(sv, sv)
    val e = Pins.cache(embeddings(s, dir).select(col("vec_id"), col("v")))
    var sel = Pins.checkpoint(e.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("v"), lit(1L).as("s_rank"),
        lit(null).cast("double").as("dmin")))
    // Running min-distance-to-selected per remaining vector, updated with
    // ONLY the newest center each round (r19 optimization): the earlier
    // form re-joined the full corpus against the ENTIRE selected set every
    // round — Θ(n·i) dot products at round i, Θ(n·K²/2) total — where the
    // greedy recurrence is dmin_i = least(dmin_{i-1}, d2(v, c_i)): Θ(n)
    // per round. `least` over the identical d2 terms is bitwise the same
    // as the re-computed `min` aggregate (no re-association of the
    // floating-point arithmetic, only fewer evaluations), so ranks, ids
    // and reported dmin are unchanged — SimilaritySpec + the unrolled
    // DuckDB twin gate that. Each round's frame is one broadcast-scalar
    // join over the cached corpus, checkpointed under the sanctioned
    // eager-job tag as before.
    var dmin = Pins.checkpoint(e
      .join(broadcast(sel.select(col("vec_id").as("s_id"), col("v").as("sv"))), lit(true))
      .filter(col("vec_id") =!= col("s_id"))
      .select(col("vec_id"), col("v"), d2(col("v"), col("sv")).as("dmin")))
    for (i <- 2 to KcenterK) {
      val next = Pins.checkpoint(dmin
        .orderBy(col("dmin").desc, col("vec_id"))
        .limit(1)
        .select(col("vec_id"), col("v"), lit(i.toLong).as("s_rank"), col("dmin")))
      val prevSel = sel
      sel = Pins.checkpoint(prevSel.unionByName(next))
      Pins.release(prevSel)
      if (i < KcenterK) {
        val prevD = dmin
        dmin = Pins.checkpoint(prevD
          .join(broadcast(next.select(col("vec_id").as("s_id"), col("v").as("sv"))),
            lit(true))
          .filter(col("vec_id") =!= col("s_id"))
          .select(col("vec_id"), col("v"),
            least(col("dmin"), d2(col("v"), col("sv"))).as("dmin")))
        Pins.release(prevD)
      }
    }
    Pins.release(dmin)
    sel.select(col("s_rank"), col("vec_id"), round(col("dmin"), 6).as("dmin"))
      .orderBy("s_rank")
  }

  /** [[kcenterCoreset]]'s twin: the K−1 greedy steps unrolled as CTE
    * levels generated from the same loop bounds. */
  val kcenterCoresetSql: String = {
    def d2(a: String, b: String): String =
      s"list_inner_product($a, $a) - 2.0 * list_inner_product($a, $b) + list_inner_product($b, $b)"
    // every CTE is MATERIALIZED: u_{i-1} is referenced three times per
    // level, and an inlining engine would re-evaluate the whole prior
    // chain per reference (3^K scans — observed as fd exhaustion on the
    // repeated parquet opens); materialization is the same once-per-level
    // evaluation the Spark side gets from its checkpoints
    val steps = (2 to KcenterK).map { i =>
      s"""dm$i AS MATERIALIZED (
         |  SELECT e.vec_id, e.v, min(${d2("e.v", "u.v")}) AS dmin
         |  FROM e CROSS JOIN u${i - 1} u
         |  WHERE e.vec_id NOT IN (SELECT vec_id FROM u${i - 1})
         |  GROUP BY e.vec_id, e.v
         |),
         |s$i AS MATERIALIZED (
         |  SELECT vec_id, v, CAST($i AS BIGINT) AS s_rank, dmin
         |  FROM dm$i ORDER BY dmin DESC, vec_id LIMIT 1
         |),
         |u$i AS MATERIALIZED (SELECT * FROM u${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s1 AS MATERIALIZED (
       |  SELECT vec_id, v, CAST(1 AS BIGINT) AS s_rank, CAST(NULL AS DOUBLE) AS dmin
       |  FROM e ORDER BY vec_id LIMIT 1
       |),
       |u1 AS MATERIALIZED (SELECT * FROM s1),
       |$steps
       |SELECT s_rank, vec_id, round(dmin, 6) AS dmin
       |FROM u$KcenterK ORDER BY s_rank""".stripMargin
  }

  // ------------------------------------------------ MMR diverse re-rank
  /** MMR pool size (top-N relevance candidates) and picks per query. */
  val MmrPool = 20
  val MmrK = 5
  val MmrLambda = 0.7

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — diversity-aware retrieval: from each query's top-
    * [[MmrPool]] relevance pool, greedily pick [[MmrK]] results
    * maximizing λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s) — near-
    * duplicate results are suppressed in favor of coverage, the re-rank
    * every RAG/few-shot selector runs over its candidate list. The
    * per-QUERY greedy is the grouped sibling of [[kcenterCoreset]]'s
    * global one: each of the K−1 unrolled steps joins the pool against
    * the per-query selected set (≤ K rows/query), aggregates the max
    * similarity, and takes rank-1 per query — with the same per-level
    * localCheckpoint treatment (and the same sanctioned eager-job tag),
    * since the selection chain re-references each level.
    *
    * The pool here is the exact top-N (guarded like every exact
    * baseline — at corpus scale the pool source swaps to the IVF probe,
    * which changes candidates, not the re-rank); cosines are the
    * order-fixed double dots + correctly-rounded sqrt both engines
    * compute identically → hash-gated, first pick's diversity term
    * pinned to 0 in both engines. */
  def mmrTopK(s: SparkSession, dir: String): DataFrame = {
    val sc = s.sparkContext
    val prevTag = sc.getLocalProperty(Dedup.CcFixpointTag)
    sc.setLocalProperty(Dedup.CcFixpointTag, "1")
    try mmrInner(s, dir)
    finally sc.setLocalProperty(Dedup.CcFixpointTag, prevTag)
  }

  private def mmrInner(s: SparkSession, dir: String): DataFrame = {
    val cosine = graft.functions.VectorFunctions.cosine _
    guardExactBaseline(s, dir, "ann_mmr_topk", "ann_ivf_topk (as pool source)")
    val e = Pins.cache(embeddings(s, dir).select(col("vec_id"), col("v")))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wQ = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("n_id"))
    val pool = Pins.checkpoint(e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("rel", cosine(col("qv"), col("v")))
      .select(col("q_id"), col("vec_id").as("n_id"), col("v"), col("rel"))
      .withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= MmrPool).drop("rk"))
    // first pick: pure relevance (empty selected set → diversity term 0)
    var sel = Pins.checkpoint(pool
      .withColumn("mmr", lit(MmrLambda) * col("rel"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("mmr").desc, col("n_id"))))
      .filter(col("rk") === 1)
      .select(col("q_id"), col("n_id"), col("v"), lit(1L).as("rnk"), col("mmr")))
    // Remaining pool rows per query with the RUNNING diversity term —
    // the kcenterInner recurrence grouped by query (r19 optimization):
    // max_{s∈selected} cos(c, s) updates as greatest(prev, cos(c, new))
    // with only the round's ONE new pick per query, instead of re-joining
    // the pool against the whole selected set every round. `greatest`
    // over the identical cosine terms is bitwise the max aggregate's
    // value (no re-association), and `rel` is functionally determined by
    // (q_id, n_id), so picks, ranks and reported mmr are unchanged —
    // spec- and oracle-gated as before.
    var cand = Pins.checkpoint(pool
      .join(sel.select(col("q_id"), col("n_id").as("s_id"), col("v").as("sv")), "q_id")
      .filter(col("n_id") =!= col("s_id"))
      .select(col("q_id"), col("n_id"), col("v"), col("rel"),
        cosine(col("v"), col("sv")).as("maxsim")))
    for (r <- 2 to MmrK) {
      val next = Pins.checkpoint(cand
        .withColumn("mmr",
          lit(MmrLambda) * col("rel") - lit(1.0 - MmrLambda) * col("maxsim"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("mmr").desc, col("n_id"))))
        .filter(col("rk") === 1)
        .select(col("q_id"), col("n_id"), col("v"), lit(r.toLong).as("rnk"), col("mmr")))
      val prevSel = sel
      sel = Pins.checkpoint(prevSel.unionByName(next))
      Pins.release(prevSel)
      if (r < MmrK) {
        val prevC = cand
        cand = Pins.checkpoint(prevC
          .join(next.select(col("q_id"), col("n_id").as("s_id"), col("v").as("sv")),
            "q_id")
          .filter(col("n_id") =!= col("s_id"))
          .select(col("q_id"), col("n_id"), col("v"), col("rel"),
            greatest(col("maxsim"), cosine(col("v"), col("sv"))).as("maxsim")))
        Pins.release(prevC)
      }
    }
    Pins.release(cand)
    sel.select(col("q_id"), col("rnk"), col("n_id"), round(col("mmr"), 6).as("mmr"))
      .orderBy("q_id", "rnk")
  }

  /** [[mmrTopK]]'s twin — pool + K−1 greedy levels as MATERIALIZED CTEs
    * (kcenter's once-per-level evaluation discipline), generated from the
    * same constants. `first(rel)` is safe to mirror with any-value
    * semantics because rel is functionally determined by (q_id, n_id). */
  val mmrTopKSql: String = {
    def cos(a: String, b: String): String =
      s"(list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))))"
    val steps = (2 to MmrK).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT p.q_id, p.n_id, p.v, max(${cos("p.v", "u.v")}) AS maxsim, min(p.rel) AS rel
         |  FROM pool p JOIN u${i - 1} u USING (q_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM u${i - 1} x
         |                    WHERE x.q_id = p.q_id AND x.n_id = p.n_id)
         |  GROUP BY p.q_id, p.n_id, p.v
         |),
         |s$i AS MATERIALIZED (
         |  SELECT q_id, n_id, v, CAST($i AS BIGINT) AS rnk,
         |         $MmrLambda * rel - ${1.0 - MmrLambda} * maxsim AS mmr
         |  FROM c$i
         |  QUALIFY row_number() OVER (PARTITION BY q_id
         |            ORDER BY $MmrLambda * rel - ${1.0 - MmrLambda} * maxsim DESC, n_id) = 1
         |),
         |u$i AS MATERIALIZED (SELECT * FROM u${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 100 = 0),
       |pool AS MATERIALIZED (
       |  SELECT q_id, n_id, v, rel FROM (
       |    SELECT q.q_id, e.vec_id AS n_id, e.v, ${cos("e.v", "q.qv")} AS rel,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${cos("e.v", "q.qv")} DESC, e.vec_id) AS rk
       |    FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id
       |  ) WHERE rk <= $MmrPool
       |),
       |s1 AS MATERIALIZED (
       |  SELECT q_id, n_id, v, CAST(1 AS BIGINT) AS rnk, $MmrLambda * rel AS mmr
       |  FROM pool
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |            ORDER BY $MmrLambda * rel DESC, n_id) = 1
       |),
       |u1 AS MATERIALIZED (SELECT * FROM s1),
       |$steps
       |SELECT q_id, rnk, n_id, round(mmr, 6) AS mmr
       |FROM u$MmrK ORDER BY q_id, rnk""".stripMargin
  }

  /** Per-label embedding centroids — the k-means UPDATE step paired with
    * [[ivfTopK]]'s assignment step (alternate the two and you have Lloyd's
    * algorithm; one iteration per query keeps each driver-gated run
    * deterministic). posexplode → (label, dim) grouping: the shuffle
    * carries scalars, never whole vectors, and dims of one label spread
    * across reducers — no hot key at any vector count. Element sums use
    * DECIMAL(28,12): float addition is order-sensitive and shuffle order
    * differs between engines; decimal sums are exact, so the oracle
    * hash-matches bit-for-bit. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .filter(col("dim") < 4) // first 4 dims keep output compact; shape is per-dim anyway
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
           round(sum(col("x").cast("decimal(28,12)")).cast("double"), 6).as("sum_x"))
      .orderBy("label", "dim")

  val labelCentroidsSql: String =
    """SELECT label, i - 1 AS dim, count(*) AS n,
      |       round(CAST(sum(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE), 6) AS sum_x
      |FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      |     LATERAL (SELECT unnest(generate_series(1, 4)) AS i) g
      |GROUP BY label, i ORDER BY label, dim""".stripMargin

  /** Centroid-style coarse quantization stats (IVF building block): bucket
    * occupancy histogram — how balanced is the SRP partitioning. Runs over
    * the md5-Rademacher planes ([[srpMd5Bucket]]) so the census itself is
    * under the DuckDB hash gate: a census is an index-health DIAGNOSTIC,
    * not a per-query serving path, so there is no per-candidate hash
    * budget to protect — the xxhash planes remain the search hot path
    * ([[lshTopK]]), and [[bucketStatsXx]] keeps the same derivation over
    * them, spec-pinned one token apart. */
  def bucketStats(s: SparkSession, dir: String): DataFrame =
    bucketCensus(embeddings(s, dir).withColumn("bucket", srpMd5Bucket(col("v"))))

  /** The xxhash-plane census of the LIVE [[lshTopK]] index — same
    * derivation as [[bucketStats]] with the hot-path planes; covered by
    * `SimilaritySpec` (hash-dependent bucketing has no SQL oracle). */
  private[graft] def bucketStatsXx(s: SparkSession, dir: String): DataFrame =
    bucketCensus(embeddings(s, dir).withColumn("bucket", srpBucket(col("v"))))

  private def bucketCensus(withBuckets: DataFrame): DataFrame =
    withBuckets
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("n_vecs").desc, col("bucket"))

  /** DuckDB mirror of [[bucketStats]]: the shared ±1 plane construction
    * (same CTEs as [[cosineNearDupSrpMd5Sql]]) followed by the occupancy
    * group-by — identical sign bits, identical census. */
  val bucketStatsSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pv AS (
       |  SELECT p, array_agg(CASE WHEN ('0x' || substring(md5(p::VARCHAR || ',' || d::VARCHAR), 1, 1))::INT < 8
       |                           THEN 1.0 ELSE -1.0 END ORDER BY d) AS pvec
       |  FROM (SELECT unnest(generate_series(0, ${Planes - 1})) AS p),
       |       (SELECT unnest(generate_series(0, 63)) AS d)
       |  GROUP BY p
       |),
       |buckets AS (
       |  SELECT e.vec_id,
       |         CAST(sum(CASE WHEN list_dot_product(e.v, pv.pvec) >= 0
       |                       THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e CROSS JOIN pv GROUP BY e.vec_id, e.v
       |)
       |SELECT bucket, count(*) AS n_vecs
       |FROM buckets GROUP BY bucket
       |ORDER BY n_vecs DESC, bucket""".stripMargin

  // ------------------------------------------------ product quantization
  private val PqM = 8     // subspaces (64 dims / 8)
  private val PqDsub = 8  // dims per subspace
  private val PqK = 16    // codewords per subspace

  /** PQ-compressed ANN (ADC — asymmetric distance computation). The
    * 100 TB mechanism: each 64-float vector (256 B) compresses to [[PqM]]
    * 4-bit codes (4 B, 64×) — the candidate scan reads CODES, never
    * vectors, so scan bandwidth and cache footprint shrink by the same
    * factor, which is the entire reason FAISS-style engines quantize.
    *
    *  - codebook: per subspace, the [[PqK]] sub-vectors of the first 16
    *    corpus vectors — deterministic, recomputable on any executor (no
    *    stored model), same trick as the IVF coarse quantizer above;
    *  - encode: one explode(subspace) + broadcast codebook join +
    *    per-(vec, subspace) argmin window — L2² from three codegen'd
    *    dots, identical strict folds in DuckDB → identical argmins;
    *  - query: the per-query (subspace × codeword) distance table is
    *    Nq·[[PqM]]·[[PqK]] rows — broadcast; the corpus-side join then
    *    carries (code → table lookup), no vector math at all;
    *  - determinism: table entries are FIXED-POINT (×10⁹, HALF_UP,
    *    BIGINT), so the 8-term ADC sum is integer arithmetic — immune to
    *    float summation-order drift between engines, which lets this be
    *    hash-checked end-to-end where LSH variants cannot. */
  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    def sub(v: Column, m: Column): Column = slice(v, m * PqDsub + 1, lit(PqDsub))
    def d2(a: Column, b: Column): Column =
      dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)
    val e = embeddings(s, dir)
    val cb = e.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val wEnc = Window.partitionBy("vec_id", "m").orderBy(col("cd").asc, col("c_id"))
    val enc = e.join(broadcast(cb), lit(true))
      .select(col("vec_id"), col("v"), col("c_id"), col("cv"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .withColumn("cd", d2(sub(col("v"), col("m")), sub(col("cv"), col("m"))))
      .withColumn("r", row_number().over(wEnc)).filter(col("r") === 1)
      .select(col("vec_id"), col("m"), col("c_id").as("code"))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val dtab = q.join(broadcast(cb), lit(true))
      .select(col("q_id"), col("qv"), col("c_id").as("code"), col("cv"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .select(col("q_id"), col("m"), col("code"),
        round(d2(sub(col("qv"), col("m")), sub(col("cv"), col("m"))) * lit(1e9))
          .cast("long").as("d"))
    val scored = enc.join(broadcast(dtab), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum(col("d")).as("dist"))
    val w = Window.partitionBy("q_id").orderBy(col("dist").asc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"), col("dist"))
      .orderBy("q_id", "rnk")
  }

  val pqTopKSql: String = {
    def sub(v: String) = s"$v[(m*$PqDsub+1):(m*$PqDsub+$PqDsub)]"
    def d2(a: String, b: String) =
      s"(list_dot_product($a,$a) - 2*list_dot_product($a,$b) + list_dot_product($b,$b))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cb AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < $PqK),
       |ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |enc AS (
       |  SELECT vec_id, m, c_id AS code FROM (
       |    SELECT e.vec_id, ms.m, cb.c_id,
       |      row_number() OVER (PARTITION BY e.vec_id, ms.m ORDER BY
       |        ${d2(sub("e.v"), sub("cb.cv"))} ASC, cb.c_id) AS r
       |    FROM e CROSS JOIN ms CROSS JOIN cb
       |  ) WHERE r = 1
       |),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 100 = 0),
       |dtab AS (
       |  SELECT q_id, m, c_id AS code,
       |    CAST(round(${d2(sub("q.qv"), sub("cb.cv"))} * 1000000000) AS BIGINT) AS d
       |  FROM q CROSS JOIN ms CROSS JOIN cb
       |),
       |scored AS (
       |  SELECT dtab.q_id, enc.vec_id AS n_id, CAST(sum(dtab.d) AS BIGINT) AS dist
       |  FROM enc JOIN dtab ON enc.m = dtab.m AND enc.code = dtab.code
       |  WHERE enc.vec_id <> dtab.q_id
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT q_id, n_id, dist,
       |         row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, n_id) AS rnk
       |  FROM scored
       |)
       |SELECT q_id, n_id, rnk, dist FROM r WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
  }

  // ------------------------------------------- time-series similarity
  /** Top-3 most-similar users by DAILY ACTIVITY SERIES — the time-series
    * similarity search of the EDBT'19 streaming-similarity line (see
    * PAPERS.md), built exactly like the vector ANN family: densify each
    * user's per-day event counts over the corpus's day range via a
    * (user × day) grid left-join (explicit zero-fill — collect-then-sort
    * gives engine-stable element order), then cosine against a broadcast
    * query-user side with the codegen'd dot product. The series is just
    * another ArrayType(Double) column, so every ANN optimization
    * (broadcast queries, rank windows, bounded heap) applies verbatim;
    * at 100 TB the densify step is the only addition — one grid join
    * bounded by users × days, tiny beside the event scan. */
  /** Dense per-user daily-count series (see [[tsSimilarity]] Scaladoc). */
  private[graft] def dailySeries(s: SparkSession, dir: String): DataFrame = {
    val counts = graft.Tables.events(s, dir)
      .select(col("user_id"), (unix_timestamp(col("ts")) / 86400L).cast("long").as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("cnt"))
    val bounds = counts.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val users = counts.select("user_id").distinct()
    val grid = users.crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    grid.join(counts, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), coalesce(col("cnt"), lit(0L)).as("v"))
      .groupBy("user_id")
      .agg(transform(
        sort_array(collect_list(struct(col("day"), col("v")))),
        x => x.getField("v").cast("double")).as("series"))
  }

  def tsSimilarity(s: SparkSession, dir: String): DataFrame = {
    val dense = dailySeries(s, dir)
    val q = dense.filter(col("user_id") % 100 === 0)
      .select(col("user_id").as("q_id"), col("series").as("qs"))
    val scored = dense.join(broadcast(q), col("user_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qs"), col("series")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("user_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("q_id"), col("user_id").as("n_id"), col("rnk"),
        round(col("score"), 6).as("score_r"))
      .orderBy("q_id", "rnk")
  }

  val tsSimilaritySql: String =
    """WITH counts AS (
      |  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT min(day) AS d0, max(day) AS d1 FROM counts
      |), grid AS (
      |  SELECT u.user_id, d.day
      |  FROM (SELECT DISTINCT user_id FROM counts) u
      |  CROSS JOIN (SELECT unnest(generate_series((SELECT d0 FROM bounds), (SELECT d1 FROM bounds))) AS day) d
      |), dense AS (
      |  SELECT g.user_id,
      |         array_agg(CAST(coalesce(c.cnt, 0) AS DOUBLE) ORDER BY g.day) AS series
      |  FROM grid g LEFT JOIN counts c ON g.user_id = c.user_id AND g.day = c.day
      |  GROUP BY 1
      |), q AS (
      |  SELECT user_id AS q_id, series AS qs FROM dense WHERE user_id % 100 = 0
      |), scored AS (
      |  SELECT q.q_id, d.user_id AS n_id,
      |         list_dot_product(q.qs, d.series) /
      |           (sqrt(list_dot_product(q.qs, q.qs)) * sqrt(list_dot_product(d.series, d.series)))
      |           AS score
      |  FROM q JOIN dense d ON d.user_id <> q.q_id
      |), r AS (
      |  SELECT q_id, n_id, score,
      |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rnk
      |  FROM scored
      |)
      |SELECT q_id, n_id, rnk, round(score, 6) AS score_r
      |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  // --------------------------------------------------- DTW similarity
  /** Top-3 nearest users by BANDED DTW over the same daily series —
    * the elastic counterpart of [[tsSimilarity]]'s lockstep cosine: DTW
    * matches series that are locally time-shifted (a user whose weekly
    * rhythm runs a day late still matches), which cosine structurally
    * cannot. Scoring streams pairs through the codegen'd
    * `graft.functions.DtwDistance` 2-row DP (no materialized cell
    * matrix); same broadcast-query / rank-window plan as every ANN
    * query. Hash-gated since round 10: the DP is deterministic
    * integer-in-double arithmetic (daily counts; squared costs and sums
    * stay exact far below 2⁵³, min is order-free), so the DuckDB oracle
    * replays it EXACTLY via a recursive CTE — see [[tsDtwTopKSql]] —
    * and the spec still replays it against an independent pure-Scala
    * DP. */
  def tsDtwTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DtwDistance.dtw
    val dense = dailySeries(s, dir)
    val q = dense.filter(col("user_id") % 100 === 0)
      .select(col("user_id").as("q_id"), col("series").as("qs"))
    val scored = dense.join(broadcast(q), col("user_id") =!= col("q_id"))
      .withColumn("dist", dtw(col("qs"), col("series"), band = 3))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist").asc, col("user_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("q_id"), col("user_id").as("n_id"), col("rnk"),
        round(col("dist"), 6).as("dist_r"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB mirror of [[tsDtwTopK]] — the banded DTW DP as a recursive
    * CTE, one ITERATION PER DP ROW. Why this is exact, not approximate:
    * the series are integer daily counts on one shared grid (every
    * series is the same length n, so the Sakoe-Chiba half-width is the
    * plain `band` = 3), squared point costs and their sums are integers
    * represented exactly in doubles, and `min` over exact integers is
    * engine-independent — the ONLY irrational step is the final sqrt,
    * which IEEE 754 rounds identically everywhere, and round(_, 6)
    * already crosses the gate in ts_similarity.
    *
    * Encoding: each DP row is materialized as a 7-slot list covering the
    * band positions j = i−3 … i+3 (out-of-range j pinned to +∞ keeps the
    * recurrence uniform — no edge cases at the band boundary), and the
    * within-row left-to-right dependency cur(j−1) is expressed with
    * DuckDB lateral column aliases (c0 feeds c1 feeds c2 …), which a
    * `list_transform` cannot do. Predecessor offsets: DP(i−1, j) sits at
    * slot c+1 of the previous row, DP(i−1, j−1) at slot c, DP(i, j−1)
    * is the chained alias. 30 iterations total; the answer is slot 4
    * (j = m) of row n. Prototyped cell-for-cell against an independent
    * Python DP before being trusted here. */
  val tsDtwTopKSql: String = {
    val inf = "'infinity'::DOUBLE"
    def cell(c: Int): String = {
      val j = s"(i + 1 - 3 + $c)"
      val cost = s"(qs[i+1] - ss[$j]) * (qs[i+1] - ss[$j])"
      val pred = c match {
        case 0 => s"least(coalesce(row[${c + 2}], $inf), row[${c + 1}])"
        case 6 => s"least(coalesce(row[${c + 2}], $inf), row[${c + 1}], c${c - 1})"
        case _ => s"least(row[${c + 2}], row[${c + 1}], c${c - 1})"
      }
      s"CASE WHEN $j BETWEEN 1 AND n THEN $cost + $pred ELSE $inf END AS c$c"
    }
    s"""WITH RECURSIVE counts AS (
      |  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT min(day) AS d0, max(day) AS d1 FROM counts
      |), grid AS (
      |  SELECT u.user_id, d.day
      |  FROM (SELECT DISTINCT user_id FROM counts) u
      |  CROSS JOIN (SELECT unnest(generate_series((SELECT d0 FROM bounds), (SELECT d1 FROM bounds))) AS day) d
      |), dense AS (
      |  SELECT g.user_id,
      |         array_agg(CAST(coalesce(c.cnt, 0) AS DOUBLE) ORDER BY g.day) AS series
      |  FROM grid g LEFT JOIN counts c ON g.user_id = c.user_id AND g.day = c.day
      |  GROUP BY 1
      |), q AS (
      |  SELECT user_id AS q_id, series AS qs FROM dense WHERE user_id % 100 = 0
      |), dp AS (
      |  SELECT q.q_id, d.user_id AS n_id, q.qs, d.series AS ss,
      |         len(q.qs) AS n, 0 AS i,
      |         [$inf, $inf, $inf, 0.0, $inf, $inf, $inf] AS row
      |  FROM q JOIN dense d ON d.user_id <> q.q_id
      |  UNION ALL
      |  SELECT q_id, n_id, qs, ss, n, i + 1 AS i,
      |         [c0, c1, c2, c3, c4, c5, c6] AS row
      |  FROM (
      |    SELECT q_id, n_id, qs, ss, n, i, row,
      |      ${(0 until 7).map(cell).mkString(",\n      ")}
      |    FROM dp WHERE i < n
      |  )
      |), fin AS (
      |  SELECT q_id, n_id, sqrt(row[4]) AS dist FROM dp WHERE i = n
      |), r AS (
      |  SELECT q_id, n_id, dist,
      |         row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, n_id) AS rnk
      |  FROM fin
      |)
      |SELECT q_id, n_id, rnk, round(dist, 6) AS dist_r
      |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
  }

  // ------------------------------------------------------------- IVF-PQ
  private val PqRerank = 20  // PQ-approximate candidates re-ranked exactly

  /** The production ANN index shape: IVF coarse lists × PQ-compressed
    * in-list scoring × exact re-rank — composed from [[ivfTopK]]'s
    * deterministic coarse quantizer and [[pqTopK]]'s fixed-point ADC.
    * Per query: probe the [[NProbe]] nearest coarse lists, score ONLY
    * those lists' members from 4-byte PQ codes (integer ADC — no vector
    * reads), keep the [[PqRerank]] best, then re-score just those with
    * exact cosine. At 100 TB this is the FAISS IVFPQ cost model: coarse
    * probing cuts candidates by nlists/nprobe, PQ cuts bytes-per-
    * candidate 64×, and the exact re-rank touches a constant ~20 vectors
    * per query. (Codes quantize raw vectors, not IVF residuals — the
    * residual refinement changes codebook training, not the dataflow.)
    * Every stage is deterministic (integer ADC, total tie-breaks) ⇒ the
    * full three-stage composition is hash-checked against DuckDB. */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    def sub(v: Column, m: Column): Column = slice(v, m * PqDsub + 1, lit(PqDsub))
    def d2(a: Column, b: Column): Column =
      dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)
    val e = embeddings(s, dir)
    // IVF side: coarse lists (same rule as ivfTopK)
    val cent = e.filter(col("vec_id") % 200 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_score").desc, col("c_id"))
    val assigned = e.join(broadcast(cent), lit(true))
      .withColumn("c_score", cosine(col("v"), col("cv")))
      .withColumn("c_rnk", row_number().over(wAssign))
      .filter(col("c_rnk") === 1)
      .select(col("vec_id"), col("v"), col("c_id"))
    // PQ side: codebook + per-vector codes (same rule as pqTopK)
    val cb = e.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("pq_id"), col("v").as("pqv"))
    val wEnc = Window.partitionBy("vec_id", "m").orderBy(col("cd").asc, col("pq_id"))
    val enc = e.join(broadcast(cb), lit(true))
      .select(col("vec_id"), col("v"), col("pq_id"), col("pqv"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .withColumn("cd", d2(sub(col("v"), col("m")), sub(col("pqv"), col("m"))))
      .withColumn("r", row_number().over(wEnc)).filter(col("r") === 1)
      .select(col("vec_id"), col("m"), col("pq_id").as("code"))
    // queries probe NProbe coarse lists; ADC table in fixed point
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("p_score").desc, col("c_id"))
    val probes = q.join(broadcast(cent), lit(true))
      .withColumn("p_score", cosine(col("qv"), col("cv")))
      .withColumn("p_rnk", row_number().over(wProbe))
      .filter(col("p_rnk") <= NProbe)
      .select(col("q_id"), col("c_id"))
    val dtab = q.join(broadcast(cb), lit(true))
      .select(col("q_id"), col("pqv"), col("pq_id").as("code"), col("qv"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .select(col("q_id"), col("m"), col("code"),
        round(d2(sub(col("qv"), col("m")), sub(col("pqv"), col("m"))) * lit(1e9))
          .cast("long").as("d"))
    // PQ-score ONLY the probed lists' members, keep PqRerank per query
    val candidates = probes.join(assigned, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    val pqScored = candidates.join(enc, "vec_id")
      .join(broadcast(dtab), Seq("q_id", "m", "code"))
      .groupBy("q_id", "vec_id").agg(sum(col("d")).as("dist"))
    val wPq = Window.partitionBy("q_id").orderBy(col("dist").asc, col("vec_id"))
    val shortlist = pqScored.withColumn("rnk_pq", row_number().over(wPq))
      .filter(col("rnk_pq") <= PqRerank)
      .select(col("q_id"), col("vec_id"))
    // exact re-rank of the shortlist
    val rescored = shortlist
      .join(q, "q_id")
      .join(e.select(col("vec_id"), col("v")), "vec_id")
      .withColumn("score", cosine(col("qv"), col("v")))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id"))
    rescored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rnk"),
        round(col("score"), 6).as("score_r"))
      .orderBy("q_id", "rnk")
  }

  val ivfPqTopKSql: String = {
    def sub(v: String) = s"$v[(m*$PqDsub+1):(m*$PqDsub+$PqDsub)]"
    def d2(a: String, b: String) =
      s"(list_dot_product($a,$a) - 2*list_dot_product($a,$b) + list_dot_product($b,$b))"
    def cos(a: String, b: String) =
      s"list_dot_product($a,$b) / (sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b)))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % 200 = 0),
       |assigned AS (
       |  SELECT vec_id, v, c_id FROM (
       |    SELECT e.vec_id, e.v, cent.c_id,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             ${cos("e.v", "cent.cv")} DESC, cent.c_id) AS c_rnk
       |    FROM e CROSS JOIN cent
       |  ) WHERE c_rnk = 1
       |),
       |cb AS (SELECT vec_id AS pq_id, v AS pqv FROM e WHERE vec_id < $PqK),
       |ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |enc AS (
       |  SELECT vec_id, m, pq_id AS code FROM (
       |    SELECT e.vec_id, ms.m, cb.pq_id,
       |      row_number() OVER (PARTITION BY e.vec_id, ms.m ORDER BY
       |        ${d2(sub("e.v"), sub("cb.pqv"))} ASC, cb.pq_id) AS r
       |    FROM e CROSS JOIN ms CROSS JOIN cb
       |  ) WHERE r = 1
       |),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 100 = 0),
       |probes AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.q_id, cent.c_id,
       |           row_number() OVER (PARTITION BY q.q_id ORDER BY
       |             ${cos("q.qv", "cent.cv")} DESC, cent.c_id) AS p_rnk
       |    FROM q CROSS JOIN cent
       |  ) WHERE p_rnk <= $NProbe
       |),
       |dtab AS (
       |  SELECT q_id, m, pq_id AS code,
       |    CAST(round(${d2(sub("q.qv"), sub("cb.pqv"))} * 1000000000) AS BIGINT) AS d
       |  FROM q CROSS JOIN ms CROSS JOIN cb
       |),
       |cand AS (
       |  SELECT p.q_id, a.vec_id FROM probes p JOIN assigned a USING (c_id)
       |  WHERE a.vec_id <> p.q_id
       |),
       |pq_scored AS (
       |  SELECT c.q_id, c.vec_id, CAST(sum(dtab.d) AS BIGINT) AS dist
       |  FROM cand c
       |  JOIN enc ON enc.vec_id = c.vec_id
       |  JOIN dtab ON dtab.q_id = c.q_id AND dtab.m = enc.m AND dtab.code = enc.code
       |  GROUP BY 1, 2
       |),
       |shortlist AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, vec_id) AS rnk_pq
       |    FROM pq_scored
       |  ) WHERE rnk_pq <= $PqRerank
       |),
       |rescored AS (
       |  SELECT s.q_id, s.vec_id AS n_id, ${cos("q.qv", "e.v")} AS score
       |  FROM shortlist s JOIN q ON s.q_id = q.q_id JOIN e ON s.vec_id = e.vec_id
       |), r AS (
       |  SELECT q_id, n_id, score,
       |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rnk
       |  FROM rescored
       |)
       |SELECT q_id, n_id, rnk, round(score, 6) AS score_r
       |FROM r WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
  }

  // ------------------------------------------------- hard-negative mining
  /** Contrastive-pair mining for embedding-model training (the hard-negative
    * selection of DPR, Karpukhin et al. 2020, and the batch-mining in
    * SimCSE): per query vector, the highest-cosine OTHER-label vector (the
    * hard negative an encoder must learn to push away) and the lowest-cosine
    * SAME-label vector (the hardest positive it must keep close). Exact
    * mining is quadratic by design and sits behind the same tripwire as the
    * other exact baselines; at 100 TB the pool comes from the standing IVF
    * index shortlist (`ann_ivf_indexed`) and only the shortlist is exactly
    * rescored — identical dataflow, bounded candidates.
    *
    * Shape: corpus scan × broadcast query set, then two rank-1 windows
    * partitioned by query (different-label desc, same-label asc), joined on
    * query id. One shuffle keyed by q_id; ties broken on vec_id. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    guardExactBaseline(s, dir, "emb_hard_negatives",
      "ann_ivf_indexed (as the mining shortlist)")
    val e = embeddings(s, dir)
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("label").as("q_label"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qv"), col("v")))
    val wNeg = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val wPos = Window.partitionBy(col("q_id"))
      .orderBy(col("score").asc, col("vec_id"))
    val neg = scored.filter(col("label") =!= col("q_label"))
      .withColumn("rnk", row_number().over(wNeg)).filter(col("rnk") === 1)
      .select(col("q_id"), col("q_label"), col("vec_id").as("hard_neg_id"),
        round(col("score"), 6).as("neg_cos"))
    val pos = scored.filter(col("label") === col("q_label"))
      .withColumn("rnk", row_number().over(wPos)).filter(col("rnk") === 1)
      .select(col("q_id"), col("vec_id").as("hard_pos_id"),
        round(col("score"), 6).as("pos_cos"))
    neg.join(pos, "q_id").orderBy("q_id")
  }

  val hardNegativesSql: String = {
    def cos(a: String, b: String) =
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label FROM e WHERE vec_id % 100 = 0),
       |s AS (
       |  SELECT q.q_id, q.q_label, e.vec_id, e.label, ${cos("q.qv", "e.v")} AS score
       |  FROM q JOIN e ON e.vec_id <> q.q_id
       |), neg AS (
       |  SELECT q_id, q_label, vec_id AS hard_neg_id, round(score, 6) AS neg_cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rnk
       |  FROM s WHERE label <> q_label
       |), pos AS (
       |  SELECT q_id, vec_id AS hard_pos_id, round(score, 6) AS pos_cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY score ASC, vec_id) AS rnk
       |  FROM s WHERE label = q_label
       |)
       |SELECT neg.q_id, q_label, hard_neg_id, neg_cos, hard_pos_id, pos_cos
       |FROM neg JOIN pos ON neg.q_id = pos.q_id
       |WHERE neg.rnk = 1 AND pos.rnk = 1 ORDER BY neg.q_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_brute_topk"  -> (bruteForceTopK _),
    "emb_hard_negatives" -> (hardNegatives _),
    "ann_pq_topk"     -> (pqTopK _),
    "ann_ivfpq_topk"  -> (ivfPqTopK _),
    "ts_similarity"   -> (tsSimilarity _),
    "ts_dtw_topk"     -> (tsDtwTopK _),
    "ann_heap_topk"   -> (heapTopK _),
    "ann_lsh_topk"    -> (lshTopK _),
    "ann_lsh_md5_topk" -> (lshMd5TopK _),
    "ann_bucket_stats" -> (bucketStats _),
    "ann_ivf_topk"    -> (ivfTopK _),
    "ann_ivf_indexed" -> (ivfIndexedTopK _),
    "ann_recall_report" -> (annRecallReport _),
    "ann_recall_sampled" -> (annRecallSampled _),
    "emb_label_centroids" -> (labelCentroids _),
    "emb_kmeans_fit"  -> (kmeansFit _),
    "emb_prune_prototypes" -> (pruneGroupPrototypes _),
    "ann_kcenter_coreset" -> (kcenterCoreset _),
    "ann_mmr_topk"    -> (mmrTopK _),
    "emb_neardup_cosine" -> (cosineNearDup _),
    "emb_neardup_cosine_lsh" -> (cosineNearDupLsh _),
    "emb_neardup_srp_md5" -> (cosineNearDupSrpMd5 _),
    "emb_neardup_signgrid" -> (cosineNearDupSignGrid _),
    "semantic_dedup"       -> (semanticDedup _),
    "semantic_dedup_ivf"   -> (semanticDedupIvf _),
    "semantic_dedup_ivf_indexed" -> (semanticDedupIvfIndexed _),
    "semantic_index_report" -> (semanticIndexReport _),
    "semantic_decontaminate" -> (semanticDecontaminate _),
    "emb_quantize_int8"    -> (quantizeInt8 _)
  )

  def oracles: Map[String, String] = Map(
    "ann_brute_topk" -> bruteForceTopKSql,
    "emb_hard_negatives" -> hardNegativesSql,
    "ann_pq_topk"    -> pqTopKSql,
    "ann_ivfpq_topk" -> ivfPqTopKSql,
    "ts_similarity"  -> tsSimilaritySql,
    "ts_dtw_topk"    -> tsDtwTopKSql,
    // the heap aggregate is result-identical to the window variant by
    // construction — it shares the same oracle
    "ann_heap_topk"  -> bruteForceTopKSql,
    "ann_ivf_topk"   -> ivfTopKSql,
    "ann_recall_report" -> annRecallReportSql,
    "ann_recall_sampled" -> annRecallSampledSql,
    // the standing-index probe must reproduce the per-query plan's output
    // EXACTLY — same oracle, hash-compared (the dedup index's pattern)
    "ann_ivf_indexed" -> ivfTopKSql,
    "emb_label_centroids" -> labelCentroidsSql,
    // fixed iteration count → the twin unrolls the Lloyd rounds as CTEs;
    // decimal means + order-fixed double dots make it bit-exact
    "emb_kmeans_fit" -> kmeansFitSql,
    "emb_prune_prototypes" -> pruneGroupPrototypesSql,
    "ann_kcenter_coreset" -> kcenterCoresetSql,
    "ann_mmr_topk"    -> mmrTopKSql,
    "emb_neardup_cosine" -> cosineNearDupSql,
    "emb_neardup_signgrid" -> cosineNearDupSignGridSql,
    "emb_neardup_srp_md5"  -> cosineNearDupSrpMd5Sql,
    "ann_lsh_md5_topk"     -> lshMd5TopKSql,
    // the census over the md5 planes is fully deterministic cross-engine
    "ann_bucket_stats"     -> bucketStatsSql,
    "semantic_dedup"       -> semanticDedupSql,
    "semantic_dedup_ivf"   -> semanticDedupIvfSql,
    "semantic_dedup_ivf_indexed" -> semanticDedupIvfIndexedSql,
    "semantic_index_report" -> semanticIndexReportSql,
    "semantic_decontaminate" -> semanticDecontaminateSql,
    "emb_quantize_int8"    -> quantizeInt8Sql
    // lsh variants: hash-dependent bucketing → rows-only gate
  )
}
