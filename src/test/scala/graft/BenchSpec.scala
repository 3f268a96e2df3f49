package graft

import org.json4s.{JDouble, JInt, JObject, JString}
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s leg table, dev filter and result lines, without a session:
  * the keys a reader parses, their order and their printed form. */
class BenchSpec extends AnyFunSuite with TempDirs {
  private val legs = Bench.legs("/sf", 10, new Bench.Notes)

  private def running(only: String*): Seq[String] =
    legs.filter(Bench.legOn(Some(only.toSet), _)).map(_.name)

  // every leg key, in the order the printed line has always had
  private val LegKeys = Seq(
    "etl_pipeline", "etl_incremental",
    "etl_pipeline_10x", "etl_incremental_10x",
    "dedup_10x", "ann_50x", "gtable_10x",
    "cow_delete_10x", "mor_delete_10x",
    "bloom_probe_50x", "fullscan_probe_50x",
    "retail_fullscale", "retail_incremental_fullscale",
    "retail_fullscale_lake", "retail_incremental_fullscale_lake",
    "retail_fullscale_lake_2x", "retail_incremental_fullscale_lake_2x",
    "commit_micro_200", "commit_micro_meta_kb",
    "packed_scan_2048", "per_file_scan_2048",
    "packed_scan_20k", "per_file_scan_20k",
    "packed_tasks_20k", "per_file_tasks_20k",
    "manifest_plan_200k_collect", "manifest_plan_200k_stream",
    "manifest_plan_200k_collect_mb", "manifest_plan_200k_stream_mb",
    "manifest_plan_1m_collect", "manifest_plan_1m_stream",
    "manifest_plan_1m_collect_mb", "manifest_plan_1m_stream_mb",
    "curation_hist_first_s", "curation_hist_last_s",
    "commit_tput_120_s", "commit_tput_attempts_mean")

  test("the leg filter runs a leg when it names the leg or one of its " +
      "keys, and only then") {
    assert(legs.forall(Bench.legOn(None, _)))
    assert(running("etl_pipeline_10x") === Seq("etl_pipeline_10x"))
    assert(running("etl_pipeline") === Seq("etl_pipeline"))
    assert(running("etl_incremental_10x") === Seq("etl_pipeline_10x"))
    assert(running("retail_fullscale") === Seq("retail_fullscale"))
    assert(running("retail_incremental_fullscale_lake") ===
      Seq("retail_fullscale_lake"))
    assert(running("retail_lake_2x") === Seq("retail_lake_2x"))
    assert(running("bloom_50x", "commit_micro_meta_kb") ===
      Seq("bloom_50x", "commit_micro"))
    assert(running("q01_pruned_agg") === Nil)
  }

  test("the smoke legs' keys stay out of the total; the 1x etl pair " +
      "counts, a -1 does not") {
    val results = Seq("q_a" -> 1.5, "q_b" -> -1.0, "etl_pipeline" -> 2.0,
      "etl_incremental" -> -1.0) ++ LegKeys.drop(2).map(_ -> 100.0)
    assert(Bench.total(results, legs) === 3.5)
  }

  test("the printed line: every key in order, -1 sentinels, whole " +
      "numbers bare, ms precision, under 8 KB") {
    val queries = SparkEntry.queries.keys.toSeq.sorted
    val values = Map("etl_pipeline" -> 12.0, "etl_incremental" -> 2.5)
    val results = queries.map(_ -> 0.1234) ++
      legs.flatMap(_.keys).map(k => k -> values.getOrElse(k, -1.0))
    val total = Bench.total(results, legs)
    val line = Bench.resultLine(results, total, "testdata/sf0.1",
      loadOk = true, Bench.fmtSec)
    assert(line.getBytes("UTF-8").length < 8192)
    val json = parse(line)
    assert(json \ "metric" === JString("total"))
    val JObject(fields) = json \ "queries"
    assert(fields.map(_._1) === queries ++ LegKeys)
    val printed = fields.toMap
    assert(printed("etl_pipeline") === JInt(12))
    assert(printed("retail_fullscale") === JInt(-1))
    assert(printed(queries.head) === JDouble(0.123))
    assert(line.contains("\"etl_incremental\":2.500,"))
    assert(line.contains("\"sf\":\"testdata/sf0.1\",\"load_ok\":true}"))
  }

  test("the artifact line is JSON at full precision, whatever the sf " +
      "path holds") {
    val sf = "/data/sf \"0.1\"\\x"
    val line = Bench.resultLine(Seq("q1" -> 0.123456789, "k" -> -1.0),
      0.123456789, sf, loadOk = false, JDouble(_),
      List("loadavg_start" -> JString("0.50 0.40 0.30")))
    val json = parse(line)
    assert(json \ "sf" === JString(sf))
    assert(json \ "value" === JDouble(0.123456789))
    assert(json \ "queries" \ "k" === JDouble(-1.0))
    assert(json \ "loadavg_start" === JString("0.50 0.40 0.30"))
  }

  test("a full run's round copy goes one past every committed round " +
      "and never overwrites a file") {
    val dir = new java.io.File(tempDir("graft_bench_spec_"))
    def put(name: String): Unit = {
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        name.getBytes("UTF-8")); ()
    }
    assert(Bench.writeRoundCopy(dir, "a").getName == "bench_result_r01.json")
    val existing = Seq("BENCH_r15.json", "BENCH_r15_c8.json",
      "bench_result_r16.json", "bench_result_r16_close.json",
      "bench_result.json", "CORRECTNESS_r40.json")
    existing.foreach(put)
    val f = Bench.writeRoundCopy(dir, "b")
    assert(f.getName == "bench_result_r17.json")
    assert(new String(java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8") == "b")
    existing.foreach(n => assert(new String(java.nio.file.Files
      .readAllBytes(new java.io.File(dir, n).toPath), "UTF-8") == n, n))
    assert(Bench.writeRoundCopy(dir, "c").getName == "bench_result_r18.json")
  }
}
