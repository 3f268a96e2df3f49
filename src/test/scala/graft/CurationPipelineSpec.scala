package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.CurationPipeline

/** The end-to-end curation funnel: monotone stage counts, gate
  * semantics, contamination removal, pack integrity, and both output
  * formats readable. */
class CurationPipelineSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{spark, sfDir}

  private lazy val outDir = tempDir("graft_curation_")
  private lazy val funnel =
    CurationPipeline.run(spark, sfDir, outDir)

  test("funnel counts are monotone non-increasing through the stages") {
    assert(funnel.nInput > 0)
    assert(funnel.nAfterGates <= funnel.nInput)
    assert(funnel.nAfterDedup <= funnel.nAfterGates)
    assert(funnel.nAfterContamination <= funnel.nAfterDedup)
    assert(funnel.nAfterContamination > 0, "curation must not drop everything")
    assert(funnel.nPacks > 0)
  }

  test("curated output honors the gates and excludes eval docs") {
    val cfg = CurationPipeline.Config()
    val curated = spark.read.parquet(s"$outDir/curated")
    assert(curated.count() === funnel.nAfterContamination)
    assert(curated.where(col("doc_id") % 100 === 0).count() === 0,
      "held-out eval docs must never reach the training corpus")
    assert(curated.where(col("quality") < cfg.minQuality).count() === 0)
    assert(curated.where(col("n_toks") < cfg.minTokens).count() === 0)
  }

  test("packs partition the curated corpus with bounded fill") {
    val cfg = CurationPipeline.Config()
    val packs = spark.read.parquet(s"$outDir/curated")
      .groupBy(col("pack_id"))
      .agg(sum(col("n_toks")).as("fill"), count(lit(1)).as("n"))
      .collect()
    assert(packs.length.toLong === funnel.nPacks)
    // every pack except possibly the last is filled past the context
    // boundary by construction of the running-sum assignment
    assert(packs.map(_.getAs[Long]("n")).sum === funnel.nAfterContamination)
  }

  test("JSONL shards round-trip with the same document set") {
    val jsonl = spark.read
      .schema("doc_id LONG, pack_id LONG, text STRING")
      .json(s"$outDir/curated_jsonl")
    assert(jsonl.count() === funnel.nAfterContamination)
    val a = jsonl.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = spark.read.parquet(s"$outDir/curated")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
  }
}
