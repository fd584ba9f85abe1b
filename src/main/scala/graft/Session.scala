package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe: every main and the spec fixture start
  * from [[builder]] and add only what is theirs (app name, warehouse
  * directory, log level after `getOrCreate`). */
object Session {

  /** A local builder over `cpus` cores carrying the shared confs. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      // one shuffle partition per core: every input is harness-sized, and
      // the 200 default turns each shuffle into mostly empty tasks
      .config("spark.sql.shuffle.partitions", cpus)
      // every timestamp and date the DuckDB oracle compares is UTC
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // graft's planner strategies, functions and table-valued functions
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Spark 4 session-artifact isolation installs an ExecutorClassLoader
      // that resolves classes over the driver RPC file server; in long
      // multi-query sessions the per-task class probes dominate (measured
      // 60-90 s/query late in bench runs). No artifacts are used.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // see GraftExtensions.ExcludedOptimizerRules for why each is excluded
      .config("spark.sql.optimizer.excludedRules", GraftExtensions.ExcludedOptimizerRules)
      // a TIMESTAMP(NANOS) parquet column reads as LongType nanos instead
      // of failing; Tables.normalizeTs turns every `ts` encoding (long
      // nanos, TIMESTAMP_NTZ, TIMESTAMP) into TimestampType
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
