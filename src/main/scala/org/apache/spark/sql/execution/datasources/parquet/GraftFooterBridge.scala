package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The schema Spark's own inference gives a parquet footer, for
  * [[graft.Tables]]: `readSchemaFromFooter` is `private[parquet]`. The
  * converter takes its settings (binary as string, INT96 and NTZ
  * inference, nanos as long) from the session conf, as
  * `mergeSchemasInParallel`'s does, so the schema is the one
  * `spark.read.parquet` infers from the file; it is returned nullable
  * (`asNullable` is `private[spark]`), as the file relation exposes every
  * inferred schema. No logic of its own.
  */
object GraftFooterBridge {
  def schema(spark: SparkSession, file: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
}
