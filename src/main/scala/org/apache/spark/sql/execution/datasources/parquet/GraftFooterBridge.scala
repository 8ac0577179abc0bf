package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's parquet footer → schema conversion, for
  * [[graft.sources.ParquetFormat]]'s driver-side schema read. Lives in
  * this package solely to satisfy `private[parquet]` access; contains no
  * logic. */
object GraftFooterBridge {
  def readSchema(footers: Seq[Footer], spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark)
}
