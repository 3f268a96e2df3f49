package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession.build returns a ready session: custom SQL functions
  * registered, reference write semantics + engine defaults applied.
  * The conf cases read the pure merge `build` applies, so they start
  * no session. */
class GraftSessionSpec extends AnyFunSuite {

  private val local = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName,
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.ui.enabled" -> "false")

  // TestSpark.spark is itself a `build` result: this proves the shared
  // session carries the engine's functions and defaults from its first
  // use, whichever suite runs first
  test("build() yields a session with engine functions and defaults") {
    val s = TestSpark.spark
    assert(s.sql("SELECT simhash64(array('a','b'))").collect().length === 1)
    assert(s.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .collect().head.getDouble(0) === 11.0)
    assert(s.conf.get("spark.sql.sources.partitionOverwriteMode")
      === "dynamic")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "8")
    assert(s.sparkContext.hadoopConfiguration
      .get("mapreduce.fileoutputcommitter.marksuccessfuljobs") === "false")
    assert(s.sparkContext.hadoopConfiguration.get("fs.file.impl") ===
      classOf[LocalFs].getName)
  }

  test("local[n] adds n shuffle partitions, raw local FS, committer v2 " +
      "and no UI to the defaults") {
    assert(GraftSession.conf("local[3]") ===
      GraftSession.defaults ++ local +
        ("spark.sql.shuffle.partitions" -> "3"))
  }

  test("local[*] takes its shuffle partitions from the core count") {
    assert(GraftSession.conf("local[*]")("spark.sql.shuffle.partitions") ===
      Runtime.getRuntime.availableProcessors.toString)
  }

  test("a cluster master gets the defaults and none of the local " +
      "settings") {
    assert(GraftSession.conf("spark://h:7077") === GraftSession.defaults)
    // a cluster keeps its own file system: the engine's local one is
    // for a single machine only
    assert(!GraftSession.conf("spark://h:7077")
      .contains("spark.hadoop.fs.file.impl"))
  }

  test("extraConf overrides every default and local setting") {
    val all = GraftSession.conf("local[3]")
    val over = all.map { case (k, _) => k -> "x" }
    assert(GraftSession.conf("local[3]", over) === over)
  }
}
