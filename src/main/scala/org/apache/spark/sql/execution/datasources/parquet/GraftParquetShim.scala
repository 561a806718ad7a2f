package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Connector shim for `graft.etl.Snapshots.footerSchema`: the schema a
  * `mergeSchema=true` read infers, computed from footers the caller
  * already read. Each footer converts the way the inferring read
  * converts it (`readSchemaFromFooter`: writer row metadata first,
  * parquet schema as fallback), the schemas merge under the session's
  * `spark.sql.caseSensitive` like `SchemaMergeUtils` merges them, and
  * the result is nullable like every file-source relation's schema.
  * Adds no behavior.
  */
object GraftParquetShim {
  def readSchema(footers: Seq[Footer], s: SparkSession): StructType = {
    require(footers.nonEmpty, "no parquet footers to read a schema from")
    val conf = s.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(conf)
    footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .reduce(_.merge(_, conf.caseSensitiveAnalysis)).asNullable
  }
}
