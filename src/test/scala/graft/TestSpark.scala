package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (forked test JVM). */
object TestSpark {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.local(4,
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
}
