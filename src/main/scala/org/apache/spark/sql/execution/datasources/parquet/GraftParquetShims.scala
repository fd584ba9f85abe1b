package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's own footer-to-schema conversion, which is
  * package-private. Lives in Spark's parquet package solely for access; no
  * Spark internals are modified. */
object GraftParquetShims {
  /** The schema `spark.read.parquet` would infer from this one footer, under
    * the session's SQL conf (nanos-as-long, binary-as-string, INT96, NTZ
    * inference, and a Spark-written schema in the footer's metadata). */
  def schemaOf(spark: SparkSession, footer: Footer): StructType =
    ParquetFileFormat.readSchema(Seq(footer), spark).get
}
