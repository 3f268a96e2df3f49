package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide guards. The r6 testdata regeneration broke three
  * queries at ANALYSIS time and nothing in the suite noticed — the
  * failures only surfaced when the correctness harness silently
  * dropped their rows. Planning every registered query here makes any
  * analysis/optimization breakage (type flips, renamed columns,
  * unresolved functions) a suite failure with the query's name on it,
  * whatever its oracle status.
  */
class RegistrySmokeSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  /** q164–q167 ignore `sfDir`: they stage the reference's seed CSVs
    * (RetailQueries), so they are planned by their own test. */
  private val seedCsvQueries = Set("q164_retail_datetime",
    "q165_retail_ageproducts", "q166_retail_residence",
    "q167_retail_customer")

  /** Plans each named query; one line per query that failed to. */
  private def planFailures(names: Iterable[String]): Seq[String] =
    names.toSeq.sorted.flatMap { name =>
      try {
        // force full analysis + optimization + physical planning
        SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} " +
          s"${Option(e.getMessage).getOrElse("").linesIterator
            .take(2).mkString(" ")}")
      }
    }

  test("every registered query plans against the sf0.001 testdata") {
    val registered = SparkEntry.queries.keySet
    // the excluded set is pinned: a rename or a new retail query fails
    // here instead of leaving the loop unnoticed
    assert(registered.filter(_.contains("_retail_")) === seedCsvQueries,
      "the queries planned apart from the sf0.001 loop must be " +
        "exactly the four registered retail queries")
    val planned = registered -- seedCsvQueries
    info(s"planned ${planned.size} of ${registered.size} registered queries")
    val failures = planFailures(planned)
    assert(failures.isEmpty,
      s"queries failed to plan:\n  ${failures.mkString("\n  ")}")
    spark.catalog.clearCache()
  }

  test("the retail queries q164–q167 plan against the reference seed CSVs") {
    TestSpark.assumeRetailSeedCsvs()
    val failures = planFailures(seedCsvQueries)
    assert(failures.isEmpty,
      s"queries failed to plan:\n  ${failures.mkString("\n  ")}")
    spark.catalog.clearCache()
  }

  test("oracle keys match registered queries; the rows-only set is " +
      "exactly the declared four") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val orphaned = os.diff(qs)
    assert(orphaned.isEmpty, s"oracles without queries: $orphaned")
    // Declared rows-only (see SparkEntry.oracleSql scaladoc): xxhash64
    // seeds (q20/q21), HLL registers (q47), k-means float accumulation
    // order (q53). Anything else missing an oracle is a regression.
    val rowsOnly = qs.diff(os)
    assert(rowsOnly === Set("q20_minhash_signature", "q21_lsh_pairs",
      "q47_approx_distinct", "q53_ann_ivf_trained"),
      s"rows-only set drifted: $rowsOnly")
  }

  test("flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0L)
  }
}
