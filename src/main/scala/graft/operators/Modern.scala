package graft.operators

import graft.Pins
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark 4.x-native surface: the semi-structured VARIANT type, SQL:2023
  * `LISTAGG`, recursive CTEs, and the `approx_top_k` sketch family.
  * Reference analogue: ABSENT (the reference is a 95-line Spark 2.4
  * DStream app — SURVEY.md §2a); these close the gap between "what the
  * reference computes" and "what a user of a modern engine expects", the
  * same extension mandate as §2b/§2c.
  *
  * Scale notes are per-query; the common thread is that every one of
  * these is a single partial+final aggregation or a per-row expression —
  * no new shuffle shapes.
  */
object Modern {

  // ----------------------------------------------------------- VARIANT
  /** Semi-structured decode via the VARIANT type (Spark 4's successor to
    * string-JSON probing): `parse_json` once per row into the binary
    * variant encoding, then typed `variant_get` paths. Versus
    * `get_json_object` the parse happens once regardless of how many
    * paths are extracted, and the binary form is what a 100 TB
    * event-lake would persist (shredded variant columns prune like
    * parquet). Aggregation is the standard partial+final shape. */
  def variantExtract(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT event_type,
        |       count(*) AS cnt,
        |       CAST(sum(variant_get(v, '$.k', 'int')) AS BIGINT) AS sum_k,
        |       min(variant_get(v, '$.k', 'int')) AS min_k,
        |       max(variant_get(v, '$.k', 'int')) AS max_k,
        |       count(CASE WHEN is_variant_null(try_variant_get(v, '$.missing'))
        |                    OR try_variant_get(v, '$.missing') IS NULL
        |             THEN NULL ELSE 1 END) AS n_missing_present
        |FROM (SELECT event_type, parse_json(props) AS v FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val variantExtractSql: String =
    """SELECT event_type, count(*) AS cnt,
      |       CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
      |       CAST(min(CAST(props->>'$.k' AS INT)) AS INT) AS min_k,
      |       CAST(max(CAST(props->>'$.k' AS INT)) AS INT) AS max_k,
      |       count(CASE WHEN props->>'$.missing' IS NULL THEN NULL ELSE 1 END)
      |         AS n_missing_present
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ----------------------------------------------------------- LISTAGG
  /** SQL:2023 LISTAGG WITHIN GROUP — ordered string aggregation, the
    * report-friendly sibling of collect_list+array_join the engine
    * already covers (`array_funcs`). The WITHIN GROUP order makes the
    * output deterministic and hash-comparable. One partial+final agg;
    * the concatenated payload stays bounded by group cardinality (25
    * nations), which is the discipline LISTAGG needs at scale — never
    * aggregate unbounded strings per key. */
  def listaggNations(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT r_name,
        |       listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS nations,
        |       count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
  }

  val listaggNationsSql: String =
    """SELECT r_name,
      |       string_agg(n_name, '|' ORDER BY n_name) AS nations,
      |       count(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ----------------------------------------------------- recursive CTE
  /** Recursive CTE (Spark 4 `WITH RECURSIVE`): walk each supplier key to
    * the root by integer halving — a synthetic parent() hierarchy over
    * the harness schema, exercising the iterative-fixpoint SQL surface
    * the engine otherwise reaches via the DataFrame loop in
    * [[Dedup.connectedComponents]]. Depth is O(log key), so the
    * recursion terminates in ~⌈log2(max key)⌉ rounds; each round is one
    * filter+project over the frontier — the linear-frontier pattern
    * that survives scale (never re-joins the full closure). */
  def recursiveChain(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """WITH RECURSIVE walk(start_key, cur, depth) AS (
        |  SELECT s_suppkey, s_suppkey, 0 FROM supplier
        |  UNION ALL
        |  SELECT start_key, cur DIV 2, depth + 1 FROM walk WHERE cur > 1
        |)
        |SELECT start_key, max(depth) AS hops_to_root, count(*) AS chain_len
        |FROM walk GROUP BY start_key ORDER BY start_key""".stripMargin)
  }

  val recursiveChainSql: String =
    """WITH RECURSIVE walk(start_key, cur, depth) AS (
      |  SELECT s_suppkey, s_suppkey, 0 FROM supplier
      |  UNION ALL
      |  SELECT start_key, cur // 2, depth + 1 FROM walk WHERE cur > 1
      |)
      |SELECT start_key, max(depth) AS hops_to_root, count(*) AS chain_len
      |FROM walk GROUP BY start_key ORDER BY start_key""".stripMargin

  // -------------------------------------------------- approx_top_k family
  /** Heavy hitters via the approx_top_k sketch family, shown in its
    * distributed-merge form: one sketch per language
    * (`approx_top_k_accumulate`), sketches combined
    * (`approx_top_k_combine`) and read out (`approx_top_k_estimate`) —
    * the same pre-aggregate/re-aggregate contract as the HLL queries
    * (`hll_sketch_merge`): per-shard sketches of fixed size are the only
    * thing that moves, never token rows. Rows-only gate: estimates
    * depend on sketch internals DuckDB cannot reproduce; the scalatest
    * spec pins the estimates against the exact token counts, which at
    * this vocabulary (< maxItemsTracked) must agree exactly. */
  def approxTopKTokens(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """WITH toks AS (
        |  SELECT lang, explode(split(text, ' ')) AS tok FROM documents
        |),
        |shard AS (
        |  SELECT lang, approx_top_k_accumulate(tok, 1000) AS sk
        |  FROM toks GROUP BY lang
        |),
        |merged AS (
        |  SELECT approx_top_k_estimate(approx_top_k_combine(sk, 1000), 10) AS top
        |  FROM shard
        |)
        |SELECT t.item AS tok, t.count AS est_cnt
        |FROM merged LATERAL VIEW explode(top) AS t
        |ORDER BY est_cnt DESC, tok""".stripMargin)
  }

  /** Count-min sketch depth (hash rows) and width (counters per row). */
  private val CmD = 4
  private val CmW = 1024

  /** The md5-twin of [[approxTopKTokens]] — count-min sketch (Cormode &
    * Muthukrishnan 2005) heavy hitters with every stage cross-engine
    * reproducible: [[CmD]] independent hash rows derive their buckets from
    * md5(row ‖ token), counters are exact integer sums (order-free by
    * construction), the point estimate is the min over rows, and the
    * top-10 ranks (estimate desc, token). The exact per-token count rides
    * along, exhibiting the sketch's one-sided guarantee: est ≥ exact
    * always, with overestimates only from bucket collisions — the spec
    * asserts the inequality, the driver gate pins every value. Scale
    * shape: the sketch table is d·w counters from ONE partial-agg shuffle
    * of (row, bucket) pairs — fixed size regardless of corpus; the
    * candidate estimate join probes d rows per distinct token. The
    * builtin `approx_top_k` stays the hot path (one sketch, native);
    * this twin is the auditable form. */
  def approxTopKMd5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Pins.cache(Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok")))
    val rows = (0 until CmD).toDF("r")
    val keyed = toks.crossJoin(broadcast(rows))
      .select(col("tok"), col("r"),
        pmod(conv(substring(md5(concat(col("r").cast("string"), lit("|"), col("tok"))), 1, 15), 16, 10)
          .cast("long"), lit(CmW.toLong)).as("b"))
    val cm = keyed.groupBy("r", "b").agg(count(lit(1)).as("c"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
    val est = exact.crossJoin(broadcast(rows))
      .select(col("tok"), col("exact_cnt"), col("r"),
        pmod(conv(substring(md5(concat(col("r").cast("string"), lit("|"), col("tok"))), 1, 15), 16, 10)
          .cast("long"), lit(CmW.toLong)).as("b"))
      .join(cm, Seq("r", "b"))
      .groupBy("tok", "exact_cnt").agg(min(col("c")).as("est_cnt"))
    est.orderBy(col("est_cnt").desc, col("tok")).limit(10)
      .select("tok", "est_cnt", "exact_cnt")
  }

  val approxTopKMd5Sql: String =
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |rows_ AS (SELECT unnest(generate_series(0, ${CmD - 1})) AS r),
       |keyed AS (
       |  SELECT tok, r,
       |         CAST('0x' || substring(md5(CAST(r AS VARCHAR) || '|' || tok), 1, 15) AS BIGINT) % $CmW AS b
       |  FROM toks CROSS JOIN rows_
       |),
       |cm AS (SELECT r, b, CAST(count(*) AS BIGINT) AS c FROM keyed GROUP BY r, b),
       |exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY tok),
       |est AS (
       |  SELECT e.tok, e.exact_cnt, min(cm.c) AS est_cnt
       |  FROM exact e CROSS JOIN rows_
       |  JOIN cm ON cm.r = rows_.r
       |         AND cm.b = CAST('0x' || substring(md5(CAST(rows_.r AS VARCHAR) || '|' || e.tok), 1, 15) AS BIGINT) % $CmW
       |  GROUP BY e.tok, e.exact_cnt
       |)
       |SELECT tok, est_cnt, exact_cnt FROM est
       |ORDER BY est_cnt DESC, tok LIMIT 10""".stripMargin

  // -------------------------------------------------- histogram_numeric
  /** Streaming-mergeable equi-height histogram of lineitem prices — the
    * NDV/distribution profile an optimizer or data-quality monitor keeps
    * per column. Fixed sketch size (nb bins) per partition, merged at
    * the final agg. Rows-only gate: bin centroids depend on input merge
    * order (the classic streaming-histogram property), so even two Spark
    * runs may place centroids differently; the spec checks the invariants
    * that ARE stable — bin count, total mass, centroid ordering and
    * range. */
  def histogramPrices(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT b.x AS centroid, CAST(b.y AS BIGINT) AS mass
        |FROM (SELECT histogram_numeric(CAST(l_extendedprice AS DOUBLE), 8) AS h
        |      FROM lineitem)
        |LATERAL VIEW explode(h) AS b
        |ORDER BY centroid""".stripMargin)
  }

  // ---------------------------------------------------- SQL pipe syntax
  /** Spark 4 SQL pipe syntax (`|>`): the reference pipeline's aggregate
    * as a linear dataflow — each stage reads top-to-bottom exactly like
    * the DataFrame chain it compiles to (and compiles to the SAME plan:
    * pipe syntax is pure parser surface, Catalyst sees the usual
    * Aggregate/Filter/Sort tree, so pushdown/pruning are unchanged). */
  def pipeSyntax(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """FROM lineitem
        ||> WHERE l_quantity >= 30
        ||> AGGREGATE count(*) AS n_items,
        |             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |   GROUP BY l_returnflag, l_linestatus
        ||> SELECT l_returnflag AS rf, l_linestatus AS ls, n_items, sum_qty
        ||> ORDER BY rf, ls""".stripMargin)
  }

  val pipeSyntaxSql: String =
    """SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS n_items,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_quantity >= 30
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY rf, ls""".stripMargin

  // ------------------------------------------------- LATERAL correlated join
  /** LATERAL join — the correlated-subquery-as-join-operand form: for
    * each nation, the top spender among its customers. Catalyst
    * decorrelates this into a window/aggregate + join (no per-row
    * re-execution — the naive LATERAL reading would be O(nations ×
    * customers)); DuckDB runs the identical SQL shape. */
  def lateralTopSpender(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT n_name, t.top_custkey, t.top_bal
        |FROM nation JOIN LATERAL (
        |  SELECT c_custkey AS top_custkey,
        |         CAST(c_acctbal AS DOUBLE) AS top_bal
        |  FROM customer WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 1
        |) t
        |ORDER BY n_name""".stripMargin)
  }

  val lateralTopSpenderSql: String =
    """SELECT n_name, t.top_custkey, t.top_bal
      |FROM nation JOIN LATERAL (
      |  SELECT c_custkey AS top_custkey,
      |         CAST(c_acctbal AS DOUBLE) AS top_bal
      |  FROM customer WHERE c_nationkey = n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 1
      |) t ON true
      |ORDER BY n_name""".stripMargin

  // ----------------------------------------------------- null semantics
  /** Three-valued-logic surface: a nullable key (every '3-MEDIUM'
    * nulled) re-joined to itself NULL-SAFELY (`<=>` / IS NOT DISTINCT
    * FROM) — the equi-join would silently drop the NULL group, the
    * null-safe join keeps it as a first-class row; count(*) vs count(k)
    * pins the aggregate null-skipping rule alongside. Null-safe equality
    * is an ordinary hash-join key (NULL hashes like any value under
    * `<=>`), so the plan is the same shuffle join as `=`. */
  def nullSemantics(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """WITH o AS (SELECT nullif(o_orderpriority, '3-MEDIUM') AS k FROM orders),
        |l AS (SELECT k, count(*) AS n_rows, count(k) AS n_nonnull FROM o GROUP BY k),
        |r AS (SELECT k, count(*) AS n_r FROM o GROUP BY k)
        |SELECT l.k AS k, l.n_rows, l.n_nonnull, r.n_r
        |FROM l JOIN r ON l.k <=> r.k
        |ORDER BY k NULLS FIRST""".stripMargin)
  }

  val nullSemanticsSql: String =
    """WITH o AS (SELECT nullif(o_orderpriority, '3-MEDIUM') AS k FROM orders),
      |l AS (SELECT k, count(*) AS n_rows, count(k) AS n_nonnull FROM o GROUP BY k),
      |r AS (SELECT k, count(*) AS n_r FROM o GROUP BY k)
      |SELECT l.k AS k, l.n_rows, l.n_nonnull, r.n_r
      |FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
      |ORDER BY k NULLS FIRST""".stripMargin

  // ------------------------------------------- higher-order array funcs
  /** Array higher-order functions — transform / filter / aggregate over
    * a per-order quantity array. All four lambdas run inside codegen on
    * the row's own array (zero extra shuffles beyond the collect_list
    * agg); the sorted array makes every derived value deterministic. */
  def hofArrayFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_quantity").cast("double"))).as("q"))
      .select(col("l_orderkey"),
        size(col("q")).cast("long").as("n_items"),
        expr("size(filter(q, x -> x > 25.0))").cast("long").as("n_big"),
        expr("element_at(transform(q, x -> x * 2.0), 1)").as("min_doubled"),
        expr("aggregate(q, 0.0D, (s, x) -> s + x)").as("total_qty"))
      .orderBy("l_orderkey")

  val hofArrayFuncsSql: String =
    """SELECT l_orderkey,
      |       CAST(len(q) AS BIGINT) AS n_items,
      |       CAST(len(list_filter(q, x -> x > 25.0)) AS BIGINT) AS n_big,
      |       list_transform(q, x -> x * 2.0)[1] AS min_doubled,
      |       list_sum(q) AS total_qty
      |FROM (SELECT l_orderkey, list_sort(list(CAST(l_quantity AS DOUBLE))) AS q
      |      FROM lineitem GROUP BY l_orderkey)
      |ORDER BY l_orderkey""".stripMargin

  // --------------------------------------------------------- collations
  /** Spark 4 collation support: tokens grouped CASE-INSENSITIVELY by
    * collating the group key to UTF8_LCASE — the engine-level form of
    * the lower() workaround (and unlike lower(), collation also drives
    * joins, comparisons and sorts). The representative is min(original)
    * under binary collation so output is engine-portable; DuckDB's
    * NOCASE collation builds the identical groups on this ASCII corpus. */
  def collationGroups(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT min(tok) AS rep, count(*) AS n
        |FROM (SELECT explode(split(text, ' ')) AS tok FROM documents)
        |GROUP BY collate(tok, 'UTF8_LCASE')
        |HAVING count(*) >= 50
        |ORDER BY rep""".stripMargin)
  }

  val collationGroupsSql: String =
    """SELECT min(tok) AS rep, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok COLLATE NOCASE
      |HAVING count(*) >= 50
      |ORDER BY rep""".stripMargin

  // ------------------------------------------------ error-safe functions
  /** The `try_` family under ANSI mode (the Spark 4 default, which this
    * engine runs with): a failed cast or a division by zero THROWS in
    * plain form — `try_cast`/`try_divide` are the per-row escape hatch
    * that turns poison values into NULLs instead of killing a 100 TB
    * job at row 10^12. The aggregate shape (count over try_*) is the
    * standard ingest-health profile: how many rows parse. DuckDB twins:
    * TRY_CAST and NULLIF-guarded division. */
  def errorSafeFuncs(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT count(*) AS n_rows,
        |       count(try_cast(p_brand AS INT)) AS n_brand_casts,
        |       count(try_cast(CAST(p_size AS STRING) AS INT)) AS n_size_casts,
        |       count(try_divide(p_retailprice, p_size - p_size)) AS n_div_ok,
        |       CAST(sum(try_cast(substring(p_brand, 7) AS INT)) AS BIGINT) AS brand_num_sum
        |FROM part""".stripMargin)
  }

  val errorSafeFuncsSql: String =
    """SELECT count(*) AS n_rows,
      |       count(TRY_CAST(p_brand AS INT)) AS n_brand_casts,
      |       count(TRY_CAST(CAST(p_size AS VARCHAR) AS INT)) AS n_size_casts,
      |       count(p_retailprice / NULLIF(p_size - p_size, 0)) AS n_div_ok,
      |       CAST(sum(TRY_CAST(substring(p_brand, 7) AS INT)) AS BIGINT) AS brand_num_sum
      |FROM part""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "variant_extract"    -> (variantExtract _),
    "listagg_nations"    -> (listaggNations _),
    "sql_recursive_cte"  -> (recursiveChain _),
    "approx_topk_tokens" -> (approxTopKTokens _),
    "approx_topk_md5"    -> (approxTopKMd5 _),
    "histogram_prices"   -> (histogramPrices _),
    "sql_pipe_syntax"    -> (pipeSyntax _),
    "lateral_top_spender" -> (lateralTopSpender _),
    "null_semantics"     -> (nullSemantics _),
    "hof_array_funcs"    -> (hofArrayFuncs _),
    "collation_groups"   -> (collationGroups _),
    "error_safe_funcs"   -> (errorSafeFuncs _)
  )

  def oracles: Map[String, String] = Map(
    "variant_extract"   -> variantExtractSql,
    "listagg_nations"   -> listaggNationsSql,
    "sql_recursive_cte" -> recursiveChainSql,
    "sql_pipe_syntax"   -> pipeSyntaxSql,
    "lateral_top_spender" -> lateralTopSpenderSql,
    "null_semantics"    -> nullSemanticsSql,
    "hof_array_funcs"   -> hofArrayFuncsSql,
    "collation_groups"  -> collationGroupsSql,
    "error_safe_funcs"  -> errorSafeFuncsSql,
    // the count-min md5 twin puts heavy-hitter estimation under the gate
    "approx_topk_md5"   -> approxTopKMd5Sql
    // approx_topk_tokens / histogram_prices: sketch-internal-dependent →
    // rows-only gate + spec invariants (see Scaladoc)
  )
}
