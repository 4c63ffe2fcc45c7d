package graft

import java.time.{LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.GroupType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{GraftFooterBridge, ParquetFooterReader}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType}

/** Loaders for the driver fixture tables (see FIXTURES.md §2).
  *
  * All queries read parquet relations so Catalyst gets vectorized scans,
  * predicate pushdown into row-group/page skipping, and column pruning for
  * free. At 100 TB the same code holds: the parquet datasource splits by
  * row group across executors; the driver reads one footer per file (see
  * [[footerPlan]]) and falls back to Spark's own listing and inference
  * past Spark's parallel-discovery threshold.
  */
object Tables {
  /** A fixture read planned from its parquet footers: the data files to
    * list and the schema Spark would infer from them. */
  private[graft] final case class FooterPlan(files: Seq[String], schema: StructType)

  /** Every fixture read goes through here. The driver reads the footer of
    * each file of `<dir>/<name>.parquet` and passes the schema they give
    * to `spark.read.schema(..)`, so Spark runs no schema-inference job
    * for the read (see [[footerPlan]] for when it falls back to the plain
    * `spark.read.parquet`). Row-group skipping inside the listed files
    * is Spark's own.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, dir, name, None)

  /** `table` with the files whose `ts` misses the wall-clock `[lo, hi)`
    * range left out (see [[footerPlan]]). */
  private def read(spark: SparkSession, dir: String, name: String,
                   wallClock: Option[(LocalDateTime, LocalDateTime)]): DataFrame = {
    // Apply the engine's execution profile (see Graft.tuneExecution, which
    // also defaults the nanosAsLong flag [[events]] needs) exactly once
    // per session-conf view, skipping any key the caller set. It comes
    // first: the footer schema follows the session's parquet settings.
    Graft.tuneExecution(spark)
    val path = s"$dir/$name.parquet"
    footerPlan(spark, path, wallClock) match {
      case Some(p) => spark.read.schema(p.schema).parquet(p.files: _*)
      case None => spark.read.parquet(path)
    }
  }

  /** The schema a read of `<dir>/<name>.parquet` gives, from its footers
    * and without a Spark job where [[footerPlan]] applies. */
  def schemaOf(spark: SparkSession, dir: String, name: String): StructType = {
    val path = s"$dir/$name.parquet"
    footerPlan(spark, path, None).map(_.schema).getOrElse(spark.read.parquet(path).schema)
  }

  /** Spark's file-index rule for the names a read ignores (`_SUCCESS`,
    * `.crc`, `_temporary`, ...); the summary files are not ignored. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !isSummary(name)

  private def isSummary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** The files and footer schema of a read of `path` (one parquet file, or
    * a flat directory of them), or None where the plain
    * `spark.read.parquet(path)` must plan it: a directory with
    * subdirectories (partitions), a summary file (`_metadata`,
    * `_common_metadata`), schema merging on, footers that convert to
    * different schemas, no data file, or more files than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (Spark lists
    * those with a job, and the driver would read their footers one by
    * one). Spark infers from the first file by path when it does not
    * merge; with one schema across all files, that is this schema.
    *
    * With a wall-clock `[lo, hi)` range and a TIMESTAMP_NTZ `ts`, the plan
    * leaves out each file whose `ts` min/max statistics, over all its row
    * groups, lie wholly outside the range — the file skip HBase makes with
    * a store file's time range. A file with a row group that has no `ts`
    * statistics, or only nulls, is kept, as is every file where `ts` is
    * another form (Spark's own filter conversion prunes those row group
    * by row group). Rows of a kept file can still fall outside the range:
    * the caller keeps its own filter, and with it the plan changes which
    * rows are read, never the answer.
    */
  private[graft] def footerPlan(spark: SparkSession, path: String,
                                wallClock: Option[(LocalDateTime, LocalDateTime)]): Option[FooterPlan] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val top = fs.getFileStatus(root)
    val entries =
      if (top.isFile) Seq(top)
      else fs.listStatus(root).toSeq.filterNot(s => hidden(s.getPath.getName))
    if (entries.isEmpty || entries.size > conf.parallelPartitionDiscoveryThreshold ||
        entries.exists(s => s.isDirectory || isSummary(s.getPath.getName))) return None
    val files = entries.sortBy(_.getPath.toString)
    val footers = files.map(f => ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.NO_FILTER))
    val schemas = files.zip(footers)
      .map { case (f, m) => GraftFooterBridge.schema(spark, f.getPath, m) }.distinct
    if (schemas.size != 1) return None
    val schema = schemas.head
    val kept = wallClock match {
      case Some((lo, hi)) if schema.fieldNames.contains("ts") &&
          schema("ts").dataType == TimestampNTZType =>
        files.zip(footers).filterNot { case (_, m) => tsOutside(m, micros(lo), micros(hi)) }.map(_._1)
      case _ => files
    }
    Some(FooterPlan(kept.map(_.getPath.toString), schema))
  }

  /** Wall-clock microseconds, as Spark stores a TIMESTAMP_NTZ value. */
  private def micros(t: LocalDateTime): Long =
    Math.addExact(Math.multiplyExact(t.toEpochSecond(ZoneOffset.UTC), 1000000L),
      (t.getNano / 1000).toLong)

  /** True when the footer's `ts` column is INT64 TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) and every row group has statistics with a
    * non-null min/max, all of them outside `[lo, hi)`. */
  private def tsOutside(footer: ParquetMetadata, lo: Long, hi: Long): Boolean = {
    val fileSchema: GroupType = footer.getFileMetaData.getSchema
    val ntzMicros = fileSchema.containsField("ts") && fileSchema.getType("ts").isPrimitive && {
      val t = fileSchema.getType("ts").asPrimitiveType
      t.getPrimitiveTypeName == PrimitiveTypeName.INT64 && (t.getLogicalTypeAnnotation match {
        case a: TimestampLogicalTypeAnnotation => !a.isAdjustedToUTC && a.getUnit == TimeUnit.MICROS
        case _ => false
      })
    }
    val stats = footer.getBlocks.asScala.toSeq.map(_.getColumns.asScala
      .find(_.getPath.toDotString == "ts").map(_.getStatistics)
      .filter(s => !s.isEmpty && s.hasNonNullValue))
    ntzMicros && stats.nonEmpty && stats.forall(_.isDefined) && {
      val min = stats.map(_.get.genericGetMin.asInstanceOf[java.lang.Long].longValue).min
      val max = stats.map(_.get.genericGetMax.asInstanceOf[java.lang.Long].longValue).max
      max < lo || min >= hi
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in three physical forms across fixture
    * generations: parquet TIMESTAMP(NANOS) (readable only as a long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (Spark reads TIMESTAMP_NTZ), and plain
    * instant TIMESTAMP. Normalize all three to session-zone TimestampType
    * here so downstream operators are representation-independent. The
    * NTZ→LTZ cast interprets the wall-clock value in the session timezone
    * (UTC everywhere in this repo), which is exactly how DuckDB's
    * `epoch_us(ts)` reads the same naive column — the two engines agree
    * on every derived microsecond value.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Integer `div`, NOT `/`: epoch nanos (~1.7e18) exceed double's 2^53
        // integer range, so float division is off by ±1 microsecond.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  /** Like [[events]] but also exposes the event time as `ts_nanos: LONG`
    * (epoch nanoseconds) and keeps the PHYSICAL column under `ts_raw`.
    * Range predicates built by [[graft.ops.FlightOps]] target `ts_raw`
    * with literals of the matching type, so they reach the parquet scan
    * as PushedFilters in every fixture generation — `year(ts)` over the
    * derived timestamp can never do that. Row-group min/max pruning
    * follows only where Spark's parquet filter conversion supports the
    * physical type: the nanos (INT64) and instant forms, not the
    * TIMESTAMP_NTZ form (TIMESTAMP(MICROS), isAdjustedToUTC=false) the
    * sf fixtures ship. For that form a `wallClock` range `[lo, hi)` skips
    * whole files instead: the read lists only the files whose footer `ts`
    * statistics meet the range ([[footerPlan]]), and the scan reads every
    * row group of those. The range only narrows the files; the caller
    * filters `ts_raw` to it. Callers project `ts_raw`/`ts_nanos` away
    * after filtering. A caller that needs only date parts of a
    * TIMESTAMP_NTZ `ts_raw` under a fixed-offset session zone may read
    * them from its wall-clock date, as FlightOps does: they equal those
    * of `ts`, and `ts` (with its per-row zone conversion) is then pruned
    * from the plan.
    */
  def eventsWithRawTs(s: SparkSession, d: String,
                      wallClock: Option[(LocalDateTime, LocalDateTime)] = None): DataFrame = {
    val raw = read(s, d, "events", wallClock)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_raw", col("ts"))
          .withColumn("ts_nanos", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts_raw", col("ts"))
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_nanos", unix_micros(col("ts")) * lit(1000L))
      case _ =>
        raw.withColumn("ts_raw", col("ts"))
          .withColumn("ts_nanos", expr("unix_micros(ts) * 1000"))
    }
  }

  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
