package graft
import java.nio.file.{Files, Paths}
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Option.empty[Set[String]])
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
      case _ => sys.error("usage: Verify <sfDir> <outDir> [q1,q2,...]")
    }
    val spark = GraftSession.build(GraftSession.localMaster, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.contains("SPARK_GRAFT_VERBOSE"))
          e.printStackTrace(System.err)
      }
    }
    val json = compact(render(JObject(SparkEntry.oracleSql.toList
      .map { case (k, v) => k -> JString(v) })))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
