package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Spark 4 session-artifact isolation installs an ExecutorClassLoader
      // that resolves classes over the driver RPC file server; in long
      // multi-query sessions the per-task class probes dominate (measured
      // 60-90s/query late in bench runs). No artifacts are used — disable.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", GraftExtensions.ExcludedOptimizerRules)
      // events.ts is parquet TIMESTAMP(NANOS); read as LongType nanos
      // (graft.Tables.events converts to TimestampType).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump — local iteration aid;
    // the driver never sets it, so its runs always cover every query
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name would silently dump nothing (the ScaleBench --flags
    // lesson): fail loudly instead
    only.foreach(_.foreach(n => require(SparkEntry.queries.contains(n),
      s"SPARK_GRAFT_ONLY names unknown query: $n")))
    var qIdx = 0
    // violations of the in-repo no-oracle gate (SparkEntry
    // .noOracleExpectations) — collected so the dump completes and every
    // artifact is written, then thrown loudly at the end
    val gateViolations = scala.collection.mutable.ArrayBuffer.empty[String]
    // per-query record of the no-oracle self-gate, dumped as
    // no_oracle_gate.json beside the parquet so the judge can DIFF the
    // gate (rows vs pinned floor, schema ok) instead of trusting that a
    // violation would have thrown
    val gateRecords = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // rows-only queries get NO driver comparison (rows_match: null);
        // this in-repo gate pins their minimum cardinality and exact
        // schema so an empty or drifted result can't pass vacuously
        SparkEntry.noOracleExpectations.get(name).foreach {
          case (minRows, ddl) =>
            val got = df.schema.fields
              .map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ")
            if (got != ddl)
              gateViolations += s"$name schema drift: got '$got', pinned '$ddl'"
            val n = spark.read.parquet(s"$outDir/$name").count()
            if (n < minRows)
              gateViolations += s"$name rows $n < pinned min $minRows"
            gateRecords +=
              s""""$name":{"rows":$n,"min_rows":$minRows,""" +
                s""""rows_ok":${n >= minRows},"schema_ok":${got == ddl}}"""
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release per-query caches and let ContextCleaner free shuffle and
      // broadcast state (its weak-ref queue only drains on a GC, which a
      // large heap may never trigger — see Bench.scala / BASELINE.md);
      // every 4th query suffices, as validated for Bench
      spark.catalog.clearCache()
      Pins.releaseAll() // session-ledger pins (checkpoints, persisted sorts), same deal
      qIdx += 1
      if (qIdx % 4 == 0) System.gc()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/no_oracle_gate.json"),
      gateRecords.sorted.mkString("{", ",", "}"))
    // which plan each auto-routed query actually ran (r17 verdict task 7:
    // the route choice was only an in-process map + log line; as a dump
    // artifact a route flip across rounds is diffable like everything else)
    Files.writeString(Paths.get(s"$outDir/routes.json"),
      graft.operators.StandingIndex.autoRouteSummary.toSeq.sorted
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    if (gateViolations.nonEmpty) {
      gateViolations.foreach(v => System.err.println(s"[no-oracle gate] $v"))
      throw new IllegalStateException(
        s"no-oracle gate: ${gateViolations.size} violation(s) — see stderr")
    }
  }
}
