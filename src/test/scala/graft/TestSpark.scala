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

  /** Java serialization — what Spark does to a reader factory to ship it
    * to an executor inside a task.
    */
  def javaBytes(o: AnyRef): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.toByteArray
  }

  def javaRoundTrip[T <: AnyRef](o: T): T =
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(javaBytes(o)))
      .readObject().asInstanceOf[T]
}
