package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column↔Expression converters — the supported
  * way to hand a custom Catalyst `Expression` to the public DataFrame API
  * without registering a FunctionBuilder. Lives in the spark.sql package
  * solely for access; no Spark internals are modified. */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom logical plan (e.g. `graft.plans.AsOfJoin`) as a
    * DataFrame — the same `Dataset.ofRows` every DataFrame method uses,
    * reachable only from the spark.sql package. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  // ---- pin handles for graft.Pins: a checkpoint is its RDD, a cached
  // frame its cache entry's builder (the identity a plan walk finds)

  /** The RDD behind a freshly `localCheckpoint()`ed frame. */
  def checkpointRdd(df: Dataset[_]): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      case p => throw new IllegalStateException(s"not a checkpoint: ${p.nodeName}")
    }

  private def cacheManager(df: Dataset[_]) =
    df.sparkSession.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  /** The cache entry of a frame `cache()` just registered. */
  def cacheKey(df: Dataset[_]): AnyRef =
    cacheManager(df).lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .getOrElse(throw new IllegalStateException("frame is not cached"))
      .cachedRepresentation.cacheBuilder

  /** A release for a cached frame's entry that holds only its logical
    * plan, not the Dataset (whose executed plan may pin broadcasts). */
  def uncacher(df: Dataset[_]): () => Unit = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val plan = df.queryExecution.analyzed
    () => spark.sharedState.cacheManager.uncacheQuery(spark, plan,
      cascade = false, blocking = false)
  }

  /** The pin handle `df` itself is (checkpoint RDD or cache entry), or null. */
  def pinKey(df: Dataset[_]): AnyRef = df.queryExecution.analyzed match {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    case _ => cacheManager(df).lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder).orNull
  }

  /** Every pin handle executing `df` may still read: checkpoint and
    * persisted RDDs in the lineage of its `LogicalRDD`s, its cached
    * entries, and — through a cache not yet materialized — whatever that
    * cache reads in turn. */
  def pinsRead(df: Dataset[_]): Seq[AnyRef] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val cm = spark.sharedState.cacheManager
    val seen = new java.util.IdentityHashMap[AnyRef, AnyRef]
    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    def first(k: AnyRef): Boolean = seen.put(k, k) == null
    def lineage(r0: org.apache.spark.rdd.RDD[_]): Unit = {
      val todo = scala.collection.mutable.Stack[org.apache.spark.rdd.RDD[_]](r0)
      while (todo.nonEmpty) {
        val r = todo.pop()
        if (first(r)) { out += r; r.dependencies.foreach(d => todo.push(d.rdd)) }
      }
    }
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
      if (first(p)) {
        val builder = cm.lookupCachedData(spark, p).map(_.cachedRepresentation.cacheBuilder)
        builder.foreach(b => out += b)
        if (!builder.exists(_.isCachedColumnBuffersLoaded)) {
          p match {
            case r: org.apache.spark.sql.execution.LogicalRDD => lineage(r.rdd)
            case _ =>
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
        }
      }
    walk(df.queryExecution.analyzed)
    out.toSeq
  }

  /** Replace a `localCheckpoint()`ed Dataset's CARRIED statistics with
    * measured ones. `Dataset.localCheckpoint` copies the pre-checkpoint
    * plan's size ESTIMATE into the `LogicalRDD` as `originStats` — and the
    * size-only estimator scores a join as the PRODUCT of its children's
    * sizes. In a fixpoint loop whose round plan references the previous
    * snapshot k ≥ 2 times through joins, the carried estimate's BIT LENGTH
    * therefore multiplies by ~k every round: the driver spends
    * exponentially growing wall-clock in BigInteger arithmetic during
    * planning (measured in the round-13 sf1 scale rehearsal: connected
    * components rounds 0.5 s → 33 s, doubling per round with `changed` in
    * single digits) and finally dies with "BigInteger would overflow
    * supported range" inside `SizeInBytesOnlyStatsPlanVisitor`. Lineage
    * truncation alone does NOT truncate statistics lineage — this does:
    * the snapshot is re-wrapped with `Statistics(rowCount × rowBytes)`
    * from a real count, which also hands the planner an honest broadcast
    * decision instead of an astronomically inflated one. */
  def repinStats(df: Dataset[_], rowCount: Long, rowBytes: Long): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
          sizeInBytes = BigInt(rowCount.max(1L)) * BigInt(rowBytes.max(1L)),
          rowCount = Some(BigInt(rowCount.max(0L))))
        classic.Dataset.ofRows(spark,
          new org.apache.spark.sql.execution.LogicalRDD(
            r.output, r.rdd, r.outputPartitioning, r.outputOrdering,
            r.isStreaming, r.stream)(spark, Some(stats), None))
      case _ => df.toDF()
    }
  }
}
