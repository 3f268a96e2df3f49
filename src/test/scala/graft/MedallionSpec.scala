package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Medallion

/** The chain's one fan-out: branches run in parallel, each under its
  * own job label and outside the caller's SQL execution, and a failure
  * surfaces only once every sibling has finished. */
class MedallionSpec extends AnyFunSuite {
  import TestSpark.spark

  test("fanOut awaits every branch before rethrowing the first failure") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Medallion.fanOut[Unit](spark)(Seq(
        "fails" -> (() => throw new IllegalStateException("mart failed")),
        "sleeps" -> (() => { Thread.sleep(500); siblingDone.set(true) })))
    }
    assert(e.getMessage == "mart failed")
    assert(siblingDone.get,
      "the failure surfaced while a sibling branch was still running")
  }

  test("fanOut runs each branch under its label, outside the caller's " +
      "SQL execution, and returns the results in order") {
    val sc = spark.sparkContext
    val keys = Seq("spark.job.description", "spark.sql.execution.id",
      "spark.sql.execution.root.id")
    val prev = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, "caller"))
    try {
      def seen() = keys.map(sc.getLocalProperty)
      assert(Medallion.fanOut(spark)(Seq("a" -> seen _, "b" -> seen _)) ===
        Seq(Seq("a", null, null), Seq("b", null, null)))
      assert(seen() === Seq("caller", "caller", "caller"))
    } finally keys.zip(prev).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
