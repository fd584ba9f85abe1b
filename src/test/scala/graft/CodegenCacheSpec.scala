package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.classic
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** Graft's defaults for Spark's static SQL confs ([[GraftExtensions.defaultStaticConfs]]):
  * the codegen class cache holds graft's working set, so a repeated query
  * compiles nothing, and with the UI off the status store keeps only the
  * latest finished SQL execution.
  *
  * The compile counter (`CodegenMetrics`) is JVM-wide. It can be charged to
  * this spec because the forked test JVM runs suites one at a time
  * (`Test / fork`, with sbt's default of no parallel suites in the fork). */
class CodegenCacheSpec extends GraftSpec with Eventually {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a query set of more than 100 generated classes compiles once across two rounds") {
    // Literals are inlined in generated code, so a nonce makes every class
    // of this set new to the JVM whichever suites ran before; the real
    // dedup queries may already be compiled by earlier suites.
    val nonce = 1000003L + scala.util.Random.nextInt(1 << 20)
    def round(): Long = {
      val k0 = compiles()
      (1 to 120).foreach { k =>
        spark.range(0, 64, 1, 2)
          .selectExpr(s"id % ${k + 1} AS g", s"id * $nonce + $k AS v")
          .groupBy("g").sum("v").collect()
      }
      compiles() - k0
    }
    val first = round()
    val second = round()
    info(s"classes compiled: round 1 $first, round 2 $second")
    assert(first > 100, s"the set must outgrow Spark's default cache of 100: $first")
    assert(second <= first / 10, s"round 2 recompiled $second of round 1's $first classes")
  }

  test("the defaults rule: an explicit value wins; SQL history is trimmed only with the UI off") {
    def ruled(kv: (String, String)*): SparkConf = {
      val conf = new SparkConf(false).setAll(kv)
      GraftExtensions.defaultStaticConfs(conf)
      conf
    }
    val cache = "spark.sql.codegen.cache.maxEntries"
    val history = "spark.sql.ui.retainedExecutions"
    val uiOff = "spark.ui.enabled" -> "false"

    val bare = ruled()
    assert(bare.get(cache) == GraftExtensions.CodegenCacheEntries.toString)
    assert(!bare.contains(history), "the UI is on by default, so its history stays")
    assert(!ruled("spark.ui.enabled" -> "true").contains(history))

    val off = ruled(uiOff)
    assert(off.get(history) == GraftExtensions.RetainedSqlExecutions.toString)

    val explicit = ruled(uiOff, cache -> "64", history -> "50")
    assert(explicit.get(cache) == "64")
    assert(explicit.get(history) == "50")
  }

  test("with the UI off the session keeps at most the graft default of finished SQL executions") {
    assert(spark.conf.get("spark.ui.enabled") == "false")
    val store = spark.asInstanceOf[classic.SparkSession].sharedState.statusStore
    (1 to 8).foreach(i => spark.range(i).selectExpr("sum(id)").collect())
    // the status listener and the store's trim run asynchronously: wait
    // until the last query is recorded as finished, then for the trim
    val marker = "codegen-cache-spec-last"
    spark.sparkContext.setJobDescription(marker)
    try spark.range(3).selectExpr("sum(id)").collect()
    finally spark.sparkContext.setJobDescription(null)
    eventually(timeout(Span(30, Seconds))) {
      assert(store.executionsList().exists(e =>
        e.description == marker && e.completionTime.isDefined))
      assert(store.executionsCount() <= GraftExtensions.RetainedSqlExecutions)
    }
  }
}
