package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Spark's own parquet writer, opened file by file from inside a task —
  * what `FileFormatWriter` does for a table write, without its
  * committer. The keyed store ([[graft.ops.KeyedStore]]) writes each
  * region's file in the task that folds the region's stats, into a
  * staging directory it publishes itself, so it needs the writer and
  * not the job around it.
  *
  * `ParquetFileFormat.prepareWrite` fills the job conf (write support,
  * schema, codec, timestamp and legacy-date settings from the session),
  * exactly as for `insertInto`, so the files are the same format. The
  * conf is broadcast once per job: the write tasks share one
  * deserialized copy instead of each deserializing its own.
  */
final class GraftParquetWriter private (factory: OutputWriterFactory,
                                        conf: Broadcast[SerializableConfiguration],
                                        schema: StructType,
                                        jobTag: String) extends Serializable {
  /** Open a new parquet file in `dir` for rows of `schema` (call inside
    * a task). The name follows Spark's `part-<partition>-<job>.c000`
    * form with the codec's extension. */
  def open(dir: String): OutputWriter = {
    val tc = TaskContext.get()
    val id = new TaskAttemptID(new TaskID(new JobID(jobTag, tc.stageId()),
      TaskType.MAP, tc.partitionId()), tc.attemptNumber())
    val ctx = new TaskAttemptContextImpl(conf.value.value, id)
    val file = f"part-${tc.partitionId()}%05d-$jobTag.c000" +
      factory.getFileExtension(ctx)
    factory.newInstance(new Path(dir, file).toString, schema, ctx)
  }

  /** Drop the broadcast conf once the job has ended. */
  def release(): Unit = conf.destroy()
}

object GraftParquetWriter {
  def apply(spark: SparkSession, schema: StructType): GraftParquetWriter = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    new GraftParquetWriter(factory,
      spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)),
      schema, java.util.UUID.randomUUID().toString)
  }
}
