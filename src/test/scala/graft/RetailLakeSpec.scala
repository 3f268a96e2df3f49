package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.RetailPipeline
import graft.format.GraftTable

/** The retail DAG's four entry points over tiny inline dimension CSVs
  * (no reference data needed): both tiers' returned counts are the
  * rows they wrote and equal recounts of every mart; the directory
  * marts are registered for other sessions; a monthly re-run rewrites
  * only its month (one file per silver partition directory, one
  * `replace` snapshot per lake table) and reproduces the initial
  * marts; the lake marts equal the directory marts; and no entry
  * point leaves its stage labels on the caller's thread. */
class RetailLakeSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark.spark

  private val NPurchase = 3000L
  private val (year, month) = ("2014", "11")
  private val window =
    col("purchase_year") === year && col("purchase_month") === month
  private val base = java.nio.file.Files
    .createTempDirectory("graft_retail_lake_").toString

  private lazy val dims: String = {
    def write(name: String, lines: Seq[String]): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/$name"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8")); ()
    }
    write("customer.csv", "customer_id,sex,age_group,residence" +:
      (1 to 40).map(i => f"$i%05d,${if (i % 3 == 0) "M" else "F"}," +
        s"age${i % 4},${if (i == 7) "" else f"Z${i % 5}%02d"}"))
    write("products_info.csv", ("affiliate,division_cd,main_category_cd," +
      "sub_category_cd,main_category_desc,sub_category_desc") +:
      Seq("A", "B", "C", "D").flatMap(a => (1 to 2).map(j =>
        s"$a,0$j,10$j$j,${a}00000$j,main $a$j,sub $a$j")))
    // short zipcode Z01 appears twice: customer ⟕ zipcode fans out
    write("zipcode.csv", ("zipcode,province_city,province_city_eng," +
      "city_county,city_county_eng,eup_myeon,eup_myeon_eng,road_nm," +
      "road_nm_eng,short_zipcode") +:
      ((0 until 5).map(z => f"1000$z,도$z,Prov$z,시$z,City$z,읍$z,Eup$z," +
        f"로$z,Road$z,Z$z%02d") :+
        "10099,도9,Prov9,시9,City9,읍9,Eup9,로9,Road9,Z01"))
    base
  }

  private val Sentinel = "retail-lake-spec: caller"
  private val labelsAfter =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Run an entry point under a caller label and record the label the
    * caller's thread carries afterwards. */
  private def call[T](entry: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Sentinel)
    try f
    finally {
      labelsAfter.put(entry,
        String.valueOf(sc.getLocalProperty("spark.job.description")))
      sc.setLocalProperty("spark.job.description", prev)
    }
  }

  private def lakeMart(name: String): DataFrame =
    GraftTable.forPath(spark, s"$base/lake/gold_$name").read()

  /** A mart's rows as sorted strings under a canonical column order,
    * partition keys as ints: the directory read-back moves them last
    * and infers their types. */
  private def rows(df: DataFrame): Seq[String] = {
    val d = df
      .withColumn("purchase_year", col("purchase_year").cast("int"))
      .withColumn("purchase_month", col("purchase_month").cast("int"))
    d.select(d.columns.sorted.map(col): _*).collect().map(_.toString)
      .sorted.toSeq
  }

  private val marts = Seq("mart_salesbydatetime", "mart_salesbyageproducts",
    "mart_salesbyresidence", "mart_salesbycustomer")

  private lazy val lakeInitial: Map[String, Long] = call("runLake")(
    RetailPipeline.runLake(spark, dims, s"$base/lake", NPurchase))
  private val lakeTables = Seq("bronze_purchase",
    "silver_purchase_all_info") ++ marts.map("gold_" + _)

  /** Each lake table's snapshot ops, oldest first. */
  private def lakeOps(): Map[String, Seq[String]] = lakeTables.map(t =>
    t -> GraftTable.forPath(spark, s"$base/lake/$t").history()
      .orderBy("version").select("op").collect().map(_.getString(0))
      .toSeq).toMap

  private lazy val lakeInitialRows: Map[String, Seq[String]] = {
    lakeInitial
    marts.map(m => m -> rows(lakeMart(m))).toMap
  }
  private lazy val lakeOpsAfterRun: Map[String, Seq[String]] = {
    lakeInitialRows
    lakeOps()
  }
  private lazy val lakeWindow: Map[String, Long] = {
    lakeOpsAfterRun
    call("runIncrementalLake")(RetailPipeline.runIncrementalLake(
      spark, dims, s"$base/lake", NPurchase, year, month))
  }
  private lazy val dirInitial: Map[String, Long] = call("run")(
    RetailPipeline.run(spark, dims, s"$base/dir", NPurchase))

  /** Every parquet file under `dir`, with its size and mtime. */
  private def parquetFiles(dir: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
      .asScala.filter(p => p.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(p))
      .map(p => p.toString -> (p.toFile.length(), p.toFile.lastModified()))
      .toMap
  }
  private def outsideMonth(files: Map[String, (Long, Long)]) =
    files.filter { case (p, _) =>
      !p.contains(s"purchase_year=$year/purchase_month=$month/") }

  private def dirMart(m: String): DataFrame =
    spark.read.parquet(s"$base/dir/gold/$m")

  /** The directory warehouse right after `run`: its files outside the
    * re-run month, each mart's recount, and each mart's count as a
    * fresh session reads it through the catalog. */
  private lazy val dirAfterRun = {
    dirInitial
    (outsideMonth(parquetFiles(s"$base/dir")),
      marts.map(m => m -> dirMart(m).count()).toMap,
      marts.map(m => m -> spark.newSession().table(m).count()).toMap)
  }
  private lazy val dirWindow: Map[String, Long] = {
    dirAfterRun
    call("runIncremental")(RetailPipeline.runIncremental(
      spark, dims, s"$base/dir", NPurchase, year, month))
  }

  override def afterAll(): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(base)).deleteRecursively()
    ()
  }

  test("the lake tier returns the rows its commits recorded: equal to " +
      "recounts of every mart, initial and window") {
    assert(lakeInitial.keySet == marts.toSet)
    marts.foreach { m =>
      assert(lakeInitial(m) > 0L, m)
      assert(lakeInitial(m) == lakeMart(m).count(), s"initial $m")
    }
    val initialSize = lakeInitialRows.map { case (m, r) => m -> r.size }
    assert(initialSize == lakeInitial)
    assert(lakeWindow.keySet == marts.toSet)
    marts.foreach { m =>
      assert(lakeWindow(m) > 0L, m)
      assert(lakeWindow(m) == lakeMart(m).where(window).count(),
        s"window $m")
      assert(GraftTable.forPath(spark, s"$base/lake/gold_$m")
        .history().where(col("op") === "replace")
        .select("output_rows").head().getLong(0) == lakeWindow(m))
    }
  }

  test("the directory tier returns the rows it wrote: equal to " +
      "recounts, initial and window, and to the registered marts") {
    val (_, recounts, registered) = dirAfterRun
    assert(dirInitial.keySet == marts.toSet)
    assert(recounts == dirInitial)
    assert(registered == dirInitial)
    marts.foreach { m =>
      assert(dirWindow(m) > 0L, m)
      assert(dirWindow(m) == dirMart(m).where(window).count(), s"window $m")
    }
  }

  test("the directory re-run rewrites only its month and keeps one " +
      "file per silver partition directory") {
    dirWindow
    val (filesBefore, _, _) = dirAfterRun
    assert(filesBefore.nonEmpty)
    assert(outsideMonth(parquetFiles(s"$base/dir")) == filesBefore,
      "files outside the re-run month must not be rewritten")
    val perDir = parquetFiles(s"$base/dir/silver/purchase_all_info").keys
      .groupBy(p => java.nio.file.Paths.get(p).getParent.toString)
    assert(perDir.size > 1)
    assert(perDir.values.forall(_.size == 1), perDir)
  }

  test("the lake re-run adds exactly one replace snapshot to each of " +
      "the six tables") {
    lakeWindow
    val after = lakeOps()
    lakeTables.foreach(t =>
      assert(after(t) == lakeOpsAfterRun(t) :+ "replace", t))
  }

  test("the lake re-run drops bronze's and silver's month file " +
      "unread and audits only the mart files that meet the month") {
    lakeWindow
    import spark.implicits._
    val (y, m) = (year.toInt, month.toInt)
    lakeTables.foreach { name =>
      val t = GraftTable.forPath(spark, s"$base/lake/$name")
      val v = t.currentVersion
      def paths(ver: Long) =
        t.manifest(ver).select("path").as[String].collect().toSet
      // the files of the re-run's parent whose envelopes meet the month
      val meets = t.manifest(v - 1)
        .where(col("min_purchase_year").cast("int") <= y &&
          col("max_purchase_year").cast("int") >= y &&
          col("min_purchase_month").cast("int") <= m &&
          col("max_purchase_month").cast("int") >= m)
        .select("path").as[String].collect().toSet
      val (_, proved, audited) = t.cowCandidates(v - 1, window)
      assert((proved ++ audited).toSet == meets, name)
      if (name.startsWith("gold_")) assert(audited.nonEmpty, name)
      else {
        assert(audited.isEmpty && proved.size == 1, name)
        assert(paths(v - 1) -- paths(v) == proved.toSet,
          s"$name removes only its month's file")
      }
    }
  }

  test("the lake re-run of a month reproduces the initial marts") {
    lakeWindow
    marts.foreach(m =>
      assert(rows(lakeMart(m)) == lakeInitialRows(m), m))
  }

  test("the lake marts equal the directory marts, and both tiers " +
      "return the same counts") {
    lakeWindow
    dirWindow
    assert(dirInitial == lakeInitial)
    assert(dirWindow == lakeWindow)
    marts.foreach(m =>
      assert(rows(spark.read.parquet(s"$base/dir/gold/$m")) ==
        rows(lakeMart(m)), m))
  }

  test("every entry point restores the caller's job-description label") {
    lakeWindow
    dirWindow
    import scala.jdk.CollectionConverters._
    assert(labelsAfter.asScala.toMap == Seq("runLake", "runIncrementalLake",
      "run", "runIncremental").map(_ -> Sentinel).toMap)
  }
}
