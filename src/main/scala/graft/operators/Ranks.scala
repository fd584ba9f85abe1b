package graft.operators

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Distributed global row-numbering.
  *
  * `row_number().over(Window.orderBy(...))` with no `partitionBy` is a
  * correctness-preserving scale-killer: WindowExec moves EVERY row into a
  * single partition (Spark itself warns "No Partition Defined for Window
  * operation"), so a corpus-sized global rank runs on one task no matter
  * how many executors exist. The classic distributed shape is a
  * range-partitioned `orderBy` (Spark's sort is already global and
  * parallel) followed by `zipWithIndex`, which assigns contiguous indexes
  * from per-partition offsets.
  *
  * Result is IDENTICAL to the window formulation whenever the sort order
  * is total (callers pass a deterministic tiebreak column), so
  * oracle-hashed queries can swap freely.
  */
object Ranks {

  /** `df` with an `out` column = 1-based global row number under
    * `sortCols` (which must define a total order for determinism). */
  def globalRowNumber(df: DataFrame, out: String, sortCols: Column*): DataFrame = {
    // fail at the mistake site: schema.add would happily produce a
    // duplicate-name schema that only errors much later as an ambiguous
    // reference downstream
    require(!df.columns.contains(out),
      s"output column '$out' already exists in (${df.columns.mkString(", ")})")
    // zipWithIndex's partition-size job fully CONSUMES each sorted
    // partition — i.e. it runs the complete post-shuffle sort. Persist the
    // sorted rows so that first pass materializes the sort once and both
    // the size job and every downstream action reuse it; without this,
    // each action on the result re-sorts the corpus. The sort is a pin
    // (graft.Pins), so repeat callers — vocabEncode,
    // qualitySignalAgreement — release it with their scope or the
    // harness's releaseAll instead of accumulating corpus-sized storage.
    val sorted = graft.Pins.cache(df.orderBy(sortCols: _*).rdd)
    val schema = df.schema.add(out, LongType, nullable = false)
    val rdd = sorted.zipWithIndex()
      .map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Forwarder kept for callers outside `src/main`: see [[graft.Pins.releaseAll]]. */
  def releaseAll(): Unit = graft.Pins.releaseAll()
}
