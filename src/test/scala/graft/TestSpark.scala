package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (JVM-forked by sbt).
  * RocksDB state store is the transformWithState contract; UTC + nanos
  * handling mirror the driver harness (graft.engine.Tables.configure).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4, logLevel = "WARN", confs = Seq(
      "spark.app.name" -> "graft-test",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
    graft.streaming.Streams.sessionConf(s)
    graft.engine.Tables.configure(s)
  }

  val sfDir = "/root/testdata/sf0.001"
}
