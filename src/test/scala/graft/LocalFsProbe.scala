package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions.col
import graft.etl.Sinks
import graft.format.GraftTable

/** One directory-tier write and one table commit through a
  * `GraftSession.build("local[2]")` session, run by [[LocalFsSpec]] in
  * a JVM of its own, so that its Hadoop `FileSystem` cache holds the
  * file system its session configures and nothing else.
  *
  * Args: an empty output dir, and `engine` for the session's own local
  * file system or a `FileSystem` class name to put in its place.
  *
  * stdout protocol, one line each:
  *   `PROBE FS <class>` — the file system the session's writes go to;
  *   `PROBE PROCESS <command>` — a process started during the writes;
  *     a deliberate `true` is started last, as a positive control;
  *   `PROBE MODE <relative path> <rwxrwxrwx>` — every dir and file
  *     under the output dir.
  */
object LocalFsProbe {

  def main(args: Array[String]): Unit = {
    val Array(out, fsImpl) = args
    val extra =
      if (fsImpl == "engine") Map.empty[String, String]
      else Map("spark.hadoop.fs.file.impl" -> fsImpl)
    val spark = GraftSession.build("local[2]", "graft-localfs-probe", extra)
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      println(s"PROBE FS ${fs.getClass.getName}")
      val rows = spark.range(0, 600).select(col("id"),
        (col("id") % 3 + 2020).as("y"), (col("id") % 4 + 1).as("m"))

      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      // a full load, then a dynamic overwrite of one year's partitions
      Sinks.writePartitioned(rows, s"$out/dir", Seq("y", "m"))
      Sinks.writePartitioned(rows.where(col("y") === 2021),
        s"$out/dir", Seq("y", "m"))
      GraftTable.create(spark, s"$out/table", rows, Seq("id"))
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      val jfr = Files.createTempFile("graft_localfs_", ".jfr")
      try {
        rec.dump(jfr)
        RecordingFile.readAllEvents(jfr).asScala
          .foreach(e => println(s"PROBE PROCESS ${e.getString("command")}"))
      } finally { rec.close(); Files.delete(jfr) }

      val root = Paths.get(out)
      Files.walk(root).iterator.asScala.filter(_ != root).foreach { p =>
        val mode = java.nio.file.attribute.PosixFilePermissions
          .toString(Files.getPosixFilePermissions(p))
        println(s"PROBE MODE ${root.relativize(p)} $mode")
      }
    } finally spark.stop()
  }
}
