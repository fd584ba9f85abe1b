package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{GraftShims, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotProduct, DtwDistance, SimHashAgg, TopKByScore}

/** SparkSessionExtensions hook: registers the engine's custom expressions
  * (`vector_dot`, `dtw_distance`, `top_k_by_score`) as SQL functions and
  * injects the generator predicate-pushthrough optimizer rule
  * (`graft.plans.PushStartsWithThroughExplode`), so any session built with
  * `.withExtensions(new GraftExtensions)` or
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` gets the
  * full engine surface.
  *
  * This is the standard Spark extension surface (same mechanism Delta/
  * Iceberg use) — no Spark internals patched, works on a plain Spark 4
  * distribution. */
/** Session-level optimizer exclusions every graft session applies (the
  * same one-liner discipline as `spark.sql.artifact.isolation.enabled`).
  *
  * `InferFiltersFromGenerate` synthesizes `size(e) > 0 AND isnotnull(e)`
  * from every non-outer explode. For this engine's generators the array
  * is a COMPUTED per-row expression (shingle transforms, winnow k-gram
  * hash windows, minhash band structs), so the inferred filter embeds the
  * full expression tree TWICE, and predicate pushdown then carries those
  * copies below the fan-out repartition onto the single-task parquet scan
  * stage: the hot expression ran 3x per row, two of the runs serialized
  * on one core (measured on `neardup_simhash`'s shingle explode at sf0.1:
  * 2.84 s -> 0.28 s for the explode+hash stage with the rule excluded;
  * r19 optimization round). The filter can never help here: it never
  * reaches PushedFilters (too complex for parquet), and a non-outer
  * explode of an empty array already emits zero rows - the only thing it
  * prunes is work the expression itself creates. Excluded in every
  * session via this constant ([[Session.builder]]). */
object GraftExtensions {
  val ExcludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Generated classes a JVM keeps compiled (Spark's default is 100). One
    * pass of the 16-query interactive mix or the four dedup jobs generates
    * about 300 distinct classes, so at 100 a closed loop evicted every
    * class before its reuse and Janino recompiled each one (10-25 ms) on
    * the driver and again in tasks, every pass and every micro-batch.
    * `graft.Bench` over the 261 declared queries at sf0.01 compiled about
    * 5,900 classes in each pass at 100 entries; at 8192 it compiles about
    * 3,000 in its first pass and 200 in its second. */
  val CodegenCacheEntries = 8192

  /** Finished SQL executions the status store keeps when the UI is off:
    * only the latest. Nothing reads that history without the UI, and at
    * Spark's 1000 it holds every query's plan description and metrics. */
  val RetainedSqlExecutions = 1

  /** Graft's defaults for two of Spark's static SQL confs, written into
    * `conf` unless it already sets them (an explicit value wins); the SQL
    * history is trimmed only when `spark.ui.enabled` is false. */
  def defaultStaticConfs(conf: SparkConf): Unit = {
    conf.setIfMissing("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    if (!conf.getBoolean("spark.ui.enabled", defaultValue = true))
      conf.setIfMissing("spark.sql.ui.retainedExecutions", RetainedSqlExecutions.toString)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // SQL literals arrive as Literal of whatever integral type the parser
  // chose (2 is INT but 2L is BIGINT) — and a non-foldable expression
  // cannot be eval(null)'d at all. Fail both with the documented message
  // instead of a ClassCastException/NPE.
  private def literalInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal int, got non-foldable ${e.sql}")
    e.eval(null) match {
      case i: Int                  => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short                => s.toInt
      case b: Byte                 => b.toInt
      case other =>
        throw new IllegalArgumentException(s"$what must be a literal int, got $other")
    }
  }

  private def literalString(e: Expression, what: String): String = {
    require(e.foldable, s"$what must be a string literal, got non-foldable ${e.sql}")
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other =>
        throw new IllegalArgumentException(s"$what must be a string literal, got $other")
    }
  }

  private def tableArg(e: Expression, what: String):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = e match {
    case t: org.apache.spark.sql.catalyst.expressions.FunctionTableSubqueryArgumentExpression =>
      require(t.partitionByExpressions.isEmpty && t.orderByExpressions.isEmpty,
        s"$what: PARTITION BY/ORDER BY table-argument clauses are not supported — " +
          "the as-of operator declares its own distribution and ordering")
      t.plan
    case other =>
      throw new IllegalArgumentException(
        s"$what must be a TABLE(...) argument, got ${other.sql}")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Extensions apply after the SparkContext starts and before the
    // session's shared state copies its conf: the one point every graft
    // session passes where static confs can still take effect. The codegen
    // cache is sized once, at the JVM's first code generation.
    GraftShims.updateActiveConf(GraftExtensions.defaultStaticConfs)

    // optimizer rule: prune non-matching rows BEFORE the generator
    // explodes them (see the rule's Scaladoc for the soundness argument)
    ext.injectOptimizerRule(_ => graft.plans.PushStartsWithThroughExplode)

    // planner strategy: the custom sort-merge as-of join operator
    // (logical graft.plans.AsOfJoin → physical AsOfJoinExec)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)

    // table function: SQL surface for the custom as-of operator —
    //   SELECT * FROM asof_join(TABLE(l), TABLE(r),
    //                           'lkey', 'rkey', 'ltime', 'rtime'
    //                           [, 'rtiebreak'][, 'forward'|'backward'|'nearest']
    //                           [, 'inner'|'outer'][, 'tolerance=N'])
    // TABLE(...) arguments arrive as FunctionTableSubqueryArgumentExpression
    // carrying the parsed relation; the node is built with unresolved
    // attribute names and the analyzer resolves them against the two sides
    // (names must be side-correct and unambiguous, as with the DataFrame API)
    ext.injectTableFunction((
      new FunctionIdentifier("asof_join"),
      new ExpressionInfo(classOf[graft.plans.AsOfJoin].getName, "asof_join"),
      (children: Seq[Expression]) => {
        require(children.length >= 6 && children.length <= 10,
          "asof_join(TABLE(l), TABLE(r), 'lkey', 'rkey', 'ltime', 'rtime'" +
            "[, 'rtiebreak'][, 'forward'|'backward'|'nearest'][, 'inner'|'outer']" +
            "[, 'tolerance=N'])")
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        val l = tableArg(children(0), "asof_join left")
        val r = tableArg(children(1), "asof_join right")
        val names = children.drop(2).zipWithIndex.map { case (c, i) =>
          literalString(c, s"asof_join argument ${i + 3}")
        }
        // the optional slots accept [tiebreak][direction][inner|outer], any
        // suffix of keywords: a leading extra that is NOT a keyword is the
        // tiebreak column; every remaining token must be a keyword. A lone
        // 7th argument saying 'forward' is therefore a direction, NOT a
        // tiebreak column name (the natural way to ask for a forward join
        // without a tiebreak must not silently resolve against a column
        // that happens to be called "forward") — a right-side column named
        // forward/backward/inner/outer needs the tiebreak-first full form.
        def isDir(s: String): Boolean =
          s.equalsIgnoreCase("forward") || s.equalsIgnoreCase("backward") ||
            s.equalsIgnoreCase("nearest")
        def isMode(s: String): Boolean =
          s.equalsIgnoreCase("outer") || s.equalsIgnoreCase("inner")
        def isTol(s: String): Boolean = s.toLowerCase.startsWith("tolerance=")
        val extras = names.drop(4)
        val (tiebreakName, keywords) = extras match {
          case head +: tail if !isDir(head) && !isMode(head) && !isTol(head) =>
            (head, tail)
          case kw => ("", kw)
        }
        if (tiebreakName.isEmpty && extras.nonEmpty)
          System.err.println(s"[graft] asof_join: argument '${extras.head}' " +
            "parsed as a keyword, not a tiebreak column; use the " +
            "tiebreak-first form if a right-side column shares the name")
        var forward = false
        var nearest = false
        var outer = false
        var tolerance: Option[Long] = None
        keywords.foreach {
          case d if isDir(d)  =>
            forward = d.equalsIgnoreCase("forward")
            nearest = d.equalsIgnoreCase("nearest")
          case m if isMode(m) => outer = m.equalsIgnoreCase("outer")
          case t if isTol(t)  =>
            val v = t.substring("tolerance=".length)
            tolerance = Some(try v.toLong catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                s"asof_join tolerance must be a positive integer " +
                  s"(same units as the time columns), got 'tolerance=$v'")
            })
          case other => throw new IllegalArgumentException(
            s"asof_join optional argument must be 'forward'/'backward'/'nearest', " +
              s"'inner'/'outer', or 'tolerance=N' (after an optional leading " +
              s"tiebreak column), got '$other'")
        }
        val tiebreak =
          if (tiebreakName.nonEmpty) Seq(UnresolvedAttribute.quoted(tiebreakName))
          else Nil
        graft.plans.AsOfJoin(l, r,
          Seq(UnresolvedAttribute.quoted(names(0))),
          Seq(UnresolvedAttribute.quoted(names(1))),
          UnresolvedAttribute.quoted(names(2)),
          UnresolvedAttribute.quoted(names(3)),
          tiebreak, forward, outer, tolerance, nearest)
      }))

    ext.injectFunction((
      new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vector_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vector_dot(arrayExpr, arrayExpr)")
        DotProduct(children.head, children(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("dtw_distance"),
      new ExpressionInfo(classOf[DtwDistance].getName, "dtw_distance"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "dtw_distance(seriesExpr, seriesExpr, band) — band must be a literal int")
        DtwDistance(children.head, children(1), literalInt(children(2), "band"))
      }))

    ext.injectFunction((
      new FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash_agg(hashExpr)")
        SimHashAgg(children.head).toAggregateExpression()
      }))

    ext.injectFunction((
      new FunctionIdentifier("top_k_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "top_k_by_score"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "top_k_by_score(scoreExpr, idExpr, k) — k must be a literal int")
        TopKByScore(children.head, children(1), literalInt(children(2), "k"))
          .toAggregateExpression()
      }))
  }
}
