package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.format.GraftTable

/** Gate queries for the [[graft.format.GraftTable]] table-format
  * layer: each builds a real table in scratch from the testdata,
  * exercises one format capability (multi-commit append, time travel,
  * zone-map file skipping, copy-on-write delete), and returns a
  * result the DuckDB oracle states directly over the ORIGINAL parquet
  * — so the hash gate proves the format machinery (manifests,
  * snapshot resolution, stats pruning, COW rewrite) loses and invents
  * nothing. File layout is never part of the result, so the
  * UUID-named commit dirs don't break determinism.
  */
object FormatQueries {

  /** Multi-step scratch tables are memoized by a COMPLETION MARKER
    * written only after the last build step, never by mere existence
    * of `_log`: a crash between steps leaves no marker, so the next
    * call wipes the half-built root and rebuilds (and
    * [[GraftTable.create]] now refuses a non-empty root, so silent
    * append-onto-partial can't happen either). */
  private def buildOnce(root: String)(build: => Unit): Unit = {
    val marker = new java.io.File(s"$root/_log/_COMPLETE")
    if (marker.isFile) return
    val dir = new java.io.File(root)
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
    build
    marker.getParentFile.mkdirs()
    marker.createNewFile()
    ()
  }

  /** One orders-backed table, built in three date-sliced commits —
    * shared by q205/q206/q207 (built once per (session, sf dir)). */
  private val built =
    scala.collection.concurrent.TrieMap[(String, String), String]()

  private def ordersTable(s: SparkSession, dir: String): GraftTable = {
    val root = built.getOrElseUpdate(
      (s.sparkContext.applicationId, dir), {
        val r = s"${graft.Scratch.dir(s, "gtable")}/orders"
        buildOnce(r) {
          val o = Tables.load(s, dir, "orders")
          // range-cluster every commit on the prune key (numFiles = 0
          // preserves it through the write) so per-file envelopes are
          // disjoint and q207's zone maps actually skip
          def slice(d: DataFrame) =
            d.repartitionByRange(4, col("o_orderkey"))
          // slice boundaries sit inside the testdata's actual 1995–2001
          // o_orderdate range so every commit is non-empty
          val t = GraftTable.create(s, r,
            slice(o.where(col("o_orderdate") < "1997-01-01")),
            statsCols = Seq("o_orderkey", "o_orderdate"), numFiles = 0)
          t.append(slice(o.where(col("o_orderdate") >= "1997-01-01" &&
            col("o_orderdate") < "1999-01-01")), numFiles = 0)
          t.append(slice(o.where(col("o_orderdate") >= "1999-01-01")),
            numFiles = 0)
        }
        r
      })
    GraftTable.forPath(s, root)
  }

  /** q205 — multi-commit append + snapshot read: three date-sliced
    * commits, then the CURRENT snapshot aggregated per order year.
    * Hash-equal to the same aggregate over the original table ⟺ the
    * manifest union carried every file of every commit exactly once. */
  def q205FormatSnapshot(s: SparkSession, dir: String): DataFrame =
    ordersTable(s, dir).read()
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("order_year"))

  /** q206 — TIME TRAVEL: the same table read at VERSION 1, which by
    * construction holds exactly the pre-1997 slice. Hash-equal to a
    * date-filtered aggregate over the original ⟺ old manifests stay
    * immutable and resolvable after later commits. */
  def q206TimeTravel(s: SparkSession, dir: String): DataFrame =
    ordersTable(s, dir).read(version = 1)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))

  /** q207 — ZONE-MAP pruned read: a key-range scan that opens only
    * files whose min/max envelope intersects the range (spec pins the
    * skip actually happens; the files are range-clustered per commit
    * only to the extent repartition gave them disjoint envelopes —
    * the GUARANTEE under test is losslessness, which is what the hash
    * checks). */
  def q207PrunedRead(s: SparkSession, dir: String): DataFrame = {
    val (rows, _, _) = ordersTable(s, dir)
      .prunedRead("o_orderkey", lit(1000), lit(5000))
    rows.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** q208 — COPY-ON-WRITE delete: a lineitem-window table, rows with
    * `l_returnflag = 'R'` deleted (no-hit files carried forward by
    * reference, mixed files rewritten without their matches), then a
    * flag/status rollup of the survivors. Hash-equal to `WHERE
    * l_returnflag <> 'R'` over the original window ⟺ the COW rewrite
    * dropped exactly the matching rows and nothing else. */
  def q208CowDelete(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/lineitem_cow"
    buildOnce(root) {
      val li = Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_linestatus")
      val t = GraftTable.create(s, root, li, statsCols = Seq("l_orderkey"))
      t.deleteWhere(col("l_returnflag") === "R")
    }
    GraftTable.forPath(s, root).read()
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("total_price"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
          .as("total_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q209 — MERGE (upsert) into the table format: base = pre-1999
    * orders; the merge carries UPDATES (every pre-1999 order with
    * `o_orderkey % 10 = 0`, total price doubled — ×2 is IEEE-exact)
    * and INSERTS (all 1999+ orders) in one call. Hash-equal to a CASE
    * expression over the original table ⟺ the COW merge replaced
    * exactly the matched rows, inserted exactly the new keys, and
    * carried every untouched file forward intact. */
  def q209MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_merge"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
      val t = GraftTable.create(s, root,
        o.where(col("o_orderdate") < "1999-01-01"),
        statsCols = Seq("o_orderkey"))
      val upd = o.where(col("o_orderdate") < "1999-01-01" &&
          col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(o.where(col("o_orderdate") >= "1999-01-01"))
      t.merge(upd, keyCols = Seq("o_orderkey"))
    }
    GraftTable.forPath(s, root).read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** q211 — Z-ORDER + zone maps: one commit clustered on the z-curve
    * of (o_custkey, o_orderkey), so every file covers a compact rectangle
    * in BOTH dimensions and a range on EITHER column skips files
    * (plain range-clustering buys pruning on one column only). The
    * hash gates losslessness of the custkey-range scan;
    * GraftTableSpec pins the two-dimensional skip rates. */
  def q211ZorderPrune(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_zorder"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
      val staged = graft.etl.ZOrder
        .zValue(o, "o_custkey", "o_orderkey")
        .repartitionByRange(8, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z")
      GraftTable.create(s, root, staged,
        statsCols = Seq("o_custkey", "o_orderkey"), numFiles = 0)
      ()
    }
    val (rows, _, _) = GraftTable.forPath(s, root)
      .prunedRead("o_custkey", lit(100), lit(200))
    rows.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** q212 — CDC incremental read: the file-set diff between snapshot
    * 1 and snapshot 3 of the shared orders table is, by construction,
    * exactly the 1997+ commits — the rows a downstream consumer folds
    * in WITHOUT rescanning history. Hash-equal to the date-filtered
    * original ⟺ the manifest diff is precisely the appended data. */
  def q212IncrementalChanges(s: SparkSession, dir: String): DataFrame =
    ordersTable(s, dir).readChanges(fromVersion = 1, toVersion = 3)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))

  /** q213 — SCHEMA EVOLUTION owned by the format: an old-writer
    * commit without `n_chars`, a new-writer commit with it, one
    * merged read where the old half surfaces the column as NULL.
    * count(n_chars) pins the nulls landed exactly on the old half. */
  def q213SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/docs_evo"
    buildOnce(root) {
      val d = Tables.load(s, dir, "documents")
      val t = GraftTable.create(s, root,
        d.where(col("doc_id") % 2 === 0).select("doc_id", "lang"),
        statsCols = Seq("doc_id"))
      t.append(d.where(col("doc_id") % 2 === 1)
        .select("doc_id", "lang", "n_chars"))
    }
    GraftTable.forPath(s, root).readMerged()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("n_chars")).as("n_with_chars"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** q215 — PREDICATE-driven zone maps: an arbitrary Column predicate
    * (two OR'd key ranges AND an equality on a non-stats column) is
    * translated into a manifest-stats test — comparisons on stats
    * columns become interval checks, the status equality becomes
    * "keep" — so only envelope-intersecting files open and the
    * row-level filter makes the survivors exact. Hash-equal to the
    * same WHERE over the original ⟺ skipping stayed conservative. */
  def q215PredicatePrunedScan(s: SparkSession, dir: String): DataFrame = {
    val (rows, _, _) = ordersTable(s, dir).prunedWhere(
      (col("o_orderkey").between(1000, 3000) ||
        col("o_orderkey").between(9000, 11000)) &&
        col("o_orderstatus") === "F")
    rows.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** q216 — METADATA-ONLY aggregates: count(*) and the o_orderkey /
    * o_orderdate envelopes answered from the manifest alone — no data
    * file opened (spec proves it by deleting the data files first).
    * Hash-equal to the direct aggregates over the original ⟺ every
    * commit recorded exact counts and envelopes. */
  def q216MetadataAgg(s: SparkSession, dir: String): DataFrame =
    ordersTable(s, dir).metadataAggregates()
      .select(col("n_rows"),
        col("min_o_orderkey"), col("max_o_orderkey"),
        date_format(col("min_o_orderdate"), "yyyy-MM-dd HH:mm:ss")
          .as("min_date"),
        date_format(col("max_o_orderdate"), "yyyy-MM-dd HH:mm:ss")
          .as("max_date"))

  /** q217 — atomic REPLACE-WHERE: the 1997–1998 window is rebuilt in
    * place with doubled prices in ONE snapshot (delete + insert with
    * no visible gap — the incremental-load primitive the reference's
    * dynamic partition overwrite approximates at directory level).
    * Hash-equal to a CASE restatement over the original. */
  def q217ReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_replace"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
      val window = col("o_orderdate") >= "1997-01-01" &&
        col("o_orderdate") < "1999-01-01"
      val t = GraftTable.create(s, root, o, statsCols = Seq("o_orderkey"))
      t.replaceWhere(window,
        o.where(window).withColumn("o_totalprice", col("o_totalprice") * 2))
    }
    GraftTable.forPath(s, root).read()
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("order_year"))
  }

  /** The TPC-H star's medallion chain on the lake tier, shared by
    * q218 and q220 and built once per (session, sf dir): the initial
    * load (one atomic overwrite per table), then a 1996 re-run (one
    * replaceWhere snapshot per table). The re-run re-ingests the same
    * source rows, so every table must come out row-identical to the
    * initial load. Returns the warehouse. */
  private def lakeChain(s: SparkSession, dir: String): String = {
    val wh = graft.Scratch.dir(s, "lakewh")
    buildOnce(wh) {
      graft.etl.Pipeline.runLake(s, dir, wh, graft.etl.Medallion.Full)
      graft.etl.Pipeline.runLake(s, dir, wh,
        graft.etl.Medallion.Span("1996", "01", "1996", "12"))
    }
    wh
  }

  /** q218 — the T1 SILVER JOIN on the LAKEHOUSE tier: the silver
    * table the chain committed as a GraftTable (initial load plus the
    * 1996 re-run), read back through its manifest. Hash-equal to the
    * flat join chain over the originals ⟺ the storage contract swap
    * (directories → manifests) and the window re-run changed nothing
    * semantically. count(r_name) pins the left-join nullability
    * through the chain. */
  def q218LakehouseSilver(s: SparkSession, dir: String): DataFrame =
    GraftTable.forPath(s, s"${lakeChain(s, dir)}/silver_fact_all_info")
      .read()
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"),
        count(col("r_name")).as("n_with_region"))
      .orderBy(col("l_returnflag"))

  /** q220 — the medallion DAG lakehouse END-TO-END: bronze, silver and
    * the four T2 gold marts all GraftTables, first loaded as one
    * atomic overwrite each, then a 1996 window re-run lands as one
    * atomic [[graft.format.GraftTable.replaceWhere]] snapshot per
    * table (the incremental-mart primitive; idempotent by
    * construction, so the hash pins that the window swap neither lost
    * nor duplicated a single mart row). The gate result is the full
    * `sales_by_region` mart read back from its table, compared to a
    * DuckDB restatement of the whole chain over the ORIGINAL parquet.
    * The mart keeps the int year and month the chain writes on both
    * tiers; the projection formats them as the oracle's `strftime`
    * does ("1996", "01"). */
  def q220LakehouseGold(s: SparkSession, dir: String): DataFrame =
    GraftTable.forPath(s, s"${lakeChain(s, dir)}/gold_sales_by_region")
      .read()
      .select(col("l_returnflag"),
        format_string("%04d", col("ship_year")).as("ship_year"),
        format_string("%02d", col("ship_month")).as("ship_month"),
        col("r_name"), col("n_name"), col("total_purchase_amount"),
        col("count_of_purchase"))
      .orderBy(col("l_returnflag"), col("ship_year"), col("ship_month"),
        col("r_name"), col("n_name"))

  /** q214 — CDC-MAINTAINED VIEW: a per-status aggregate view seeded
    * from snapshot 1 and then maintained by folding each version's
    * [[GraftTable.readChanges]] delta — never rescanning history
    * (q123's partial-state merge, fed by the format's own change
    * feed). State merges associatively (counts add, DECIMAL sums
    * add), so the maintained view is bit-identical to a full
    * recompute — which is exactly what the oracle states over the
    * original table. At 100 TB this is the consumer pattern the
    * change feed exists for: per-version work ∝ delta size. */
  def q214CdcMaintainedView(s: SparkSession, dir: String): DataFrame = {
    val t = ordersTable(s, dir)
    def agg(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("decimal(28,4)").as("rev"))
    val seeded = agg(t.read(version = 1))
    val maintained = (2L to t.currentVersion).foldLeft(seeded) {
      (view, v) =>
        view.unionByName(agg(t.readChanges(v - 1, v)))
          .groupBy(col("o_orderstatus"))
          .agg(sum(col("n_orders")).as("n_orders"),
            sum(col("rev")).cast("decimal(28,4)").as("rev"))
    }
    maintained.select(col("o_orderstatus"),
      col("n_orders").cast("long").as("n_orders"),
      round(col("rev").cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** q219 — the table format as a FIRST-CLASS SOURCE: the shared
    * orders table read through the `gtable` DataSource V2 connector
    * ([[graft.sources.GraftTableSource]] — manifest-planned
    * partitions, filter-driven file pruning, column projection into
    * the parquet readers) instead of the Scala API. Hash-equal to
    * q205's aggregate over the original ⟺ the connector's per-file
    * readers reproduce the native read bit-for-bit; GtableSourceSpec
    * pins that a key-range filter plans fewer partitions than the
    * file total. */
  def q219ConnectorRead(s: SparkSession, dir: String): DataFrame = {
    val t = ordersTable(s, dir)
    s.read.format(classOf[graft.sources.GraftTableSource].getName)
      .load(t.root)
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("order_year"))
  }

  /** q221 — the table format WRITTEN through the connector: the table
    * is built purely with `df.write.format(...).mode("append")
    * .save(root)` (two commits — stats columns declared via option on
    * the first), then read back through the same connector. Each save
    * is one atomic snapshot through the format's put-if-absent commit
    * protocol. Hash-equal to q205's aggregate over the original ⟺
    * the v2 write path loses and invents nothing. */
  def q221ConnectorWrite(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_v2write"
    val fmt = classOf[graft.sources.GraftTableSource].getName
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
      o.where(col("o_orderdate") < "1999-01-01")
        .write.format(fmt)
        .option("statsCols", "o_orderkey,o_orderdate")
        .mode("append").save(root)
      o.where(col("o_orderdate") >= "1999-01-01")
        .write.format(fmt).mode("append").save(root)
    }
    s.read.format(fmt).load(root)
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("order_year"))
  }

  /** q222 — METADATA-ONLY AGGREGATES through SQL: the connector's
    * `SupportsPushDownAggregates` answers an ungrouped COUNT(*) /
    * MIN / MAX over stats columns from the manifest fold alone —
    * zero data files planned (GtableSourceSpec proves it by deleting
    * them); q216's API-level trick surfaced at the
    * `spark.read.format(...).agg(...)` level, which is how a SQL user
    * actually asks. Hash-equal to the direct aggregates over the
    * original ⟺ every commit recorded exact counts and envelopes. */
  def q222MetadataAggSql(s: SparkSession, dir: String): DataFrame = {
    val t = ordersTable(s, dir)
    s.read.format(classOf[graft.sources.GraftTableSource].getName)
      .load(t.root)
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_o_orderkey"),
        max(col("o_orderkey")).as("max_o_orderkey"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss")
          .as("min_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss")
          .as("max_date"))
  }

  /** q223 — CDC THROUGH the connector: `readChangesFrom = 1` over the
    * shared orders table plans exactly the files of the 1997+ commits
    * (the same manifest diff q212 takes through the Scala API —
    * GtableSourceSpec pins the planned-file count). Hash-equal to the
    * date-filtered original ⟺ the option surface loses nothing. */
  def q223ConnectorChanges(s: SparkSession, dir: String): DataFrame = {
    val t = ordersTable(s, dir)
    s.read.format(classOf[graft.sources.GraftTableSource].getName)
      .option("readChangesFrom", "1")
      .load(t.root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** q224 — the table format as a STREAMING SOURCE: committed
    * versions are the log (`readStream.format(...).load(root)` —
    * Delta's streaming-source contract restated on the manifest
    * diff), drained with AvailableNow into a memory sink and
    * aggregated. Hash-equal to q205's aggregate over the original ⟺
    * the version-offset planning delivered every commit exactly
    * once. GtableSourceSpec additionally pins checkpoint-resumed
    * incremental delivery. */
  def q224StreamingRead(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val t = ordersTable(s, dir)
    val qName = s"q224_sink_${System.nanoTime}"
    val q = s.readStream
      .format(classOf[graft.sources.GraftTableSource].getName)
      .load(t.root)
      .writeStream.format("memory").queryName(qName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(qName)
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("order_year"))
  }

  /** q254 — RATE-LIMITED STREAM DRAIN (round 13 admission control):
    * orders lands over five commits, then an AvailableNow stream
    * drains the backlog under `maxVersionsPerTrigger=2` — at least
    * three bounded micro-batches instead of one giant catch-up batch
    * (`require`d, so a silently-uncapped source fails the gate). The
    * fold hash-matching a plain aggregate over orders ⟺ the capped
    * batches partition the backlog exactly: no version lost at a
    * batch boundary, none replayed across one. */
  def q254RateLimitedStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_rate"
    val o = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    buildOnce(root) {
      val t = GraftTable.create(s, root, o.where(col("o_orderkey") % 5 === 0),
        statsCols = Seq("o_orderkey"), numFiles = 2)
      (1 to 4).foreach(i => t.append(
        o.where(col("o_orderkey") % 5 === i), numFiles = 2))
      ()
    }
    val out = s"${graft.Scratch.dir(s, "gtable")}" +
      s"/q254_fold_${System.nanoTime}"
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = s.readStream
      .format(classOf[graft.sources.GraftTableSource].getName)
      .option("maxVersionsPerTrigger", "2")
      .load(root)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          val n = df.count()
          if (n > 0) batches.incrementAndGet()
          df.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    require(batches.get() >= 3,
      s"q254: 5 versions / 2 per trigger must drain in >=3 bounded " +
        s"batches, got ${batches.get()}")
    s.read.parquet(out)
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("order_year"))
  }

  /** q225 — the table format BY NAME through the `GraftCatalog`
    * TableCatalog plugin: the shared orders table resolves as
    * `glake.orders` and the aggregate runs as plain SQL over the
    * identifier — the reference's crawler-then-query-by-name story
    * (`document/glue_t0.md:95-117`) with the filesystem as the
    * catalog. Hash-equal to q205's aggregate ⟺ identifier resolution
    * reads exactly the table. GraftCatalogSpec covers INSERT
    * INTO/OVERWRITE, CTAS with statsCols TBLPROPERTIES, VERSION AS
    * OF, namespaces, DROP. */
  def q225CatalogRead(s: SparkSession, dir: String): DataFrame = {
    val t = ordersTable(s, dir)
    val wh = new java.io.File(t.root).getParent
    s.conf.set("spark.sql.catalog.glake",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.glake.warehouse", wh)
    s.sql("""
      SELECT CAST(year(o_orderdate) AS INT) AS order_year,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
               AS DOUBLE), 2) AS revenue
      FROM glake.orders GROUP BY 1 ORDER BY 1
    """)
  }

  /** q226 — SQL DML against the catalog: `DELETE FROM gcat.t WHERE
    * l_returnflag = 'R'` runs the NULL-safe stats-pruned COW path as
    * one atomic snapshot, through nothing but SQL and an identifier.
    * Same construction and oracle as q208 (the API-level delete), so
    * the hash pins that the SQL surface and the Scala API produce
    * bit-identical tables. */
  def q226SqlDelete(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/lineitem_sqldel"
    buildOnce(root) {
      val li = Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_linestatus")
      GraftTable.create(s, root, li, statsCols = Seq("l_orderkey"))
      s.sql("DELETE FROM gcat.lineitem_sqldel WHERE l_returnflag = 'R'")
      ()
    }
    s.table("gcat.lineitem_sqldel")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("total_price"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
          .as("total_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q227 — SQL `MERGE INTO` against the catalog: the q209 upsert
    * (matched rows replaced, new keys inserted), restated as the SQL
    * statement every lakehouse user actually types. Runs through
    * Spark's group-based row-level-operation framework: runtime group
    * filtering prunes the COW scan to matched files, executor writers
    * produce the replacement files, one atomic replace-files
    * snapshot. Same oracle as q209, so the hash pins SQL ≡ API. */
  def q227SqlMerge(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/orders_sqlmerge"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
      GraftTable.create(s, root,
        o.where(col("o_orderdate") < "1999-01-01"),
        statsCols = Seq("o_orderkey"))
      o.where(col("o_orderdate") < "1999-01-01" &&
          col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(o.where(col("o_orderdate") >= "1999-01-01"))
        .createOrReplaceTempView("q227_src")
      s.sql("""MERGE INTO gcat.orders_sqlmerge t USING q227_src s
               ON t.o_orderkey = s.o_orderkey
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""")
      ()
    }
    s.table("gcat.orders_sqlmerge")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** q228 — REPLACE-WHERE through the CONNECTOR WRITE OPTION: the
    * q217 windowed rebuild spelled as
    * `.option("replaceWhere", …).mode("overwrite")` — the writer
    * surface a user migrating off Delta expects. Same oracle as q217:
    * hash-equal ⟺ the option path replaced exactly the window in one
    * snapshot and carried every outside file forward. */
  def q228ConnectorReplaceWhere(s: SparkSession, dir: String)
      : DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_rwopt"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
      GraftTable.create(s, root, o, statsCols = Seq("o_orderkey"))
      val window = col("o_orderdate") >= "1997-01-01" &&
        col("o_orderdate") < "1999-01-01"
      o.where(window)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .write.format("gtable")
        .option("replaceWhere",
          "o_orderdate >= '1997-01-01' AND o_orderdate < '1999-01-01'")
        .mode("overwrite")
        .save(root)
    }
    GraftTable.forPath(s, root).read()
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("order_year"))
  }

  /** q230 — SQL `UPDATE` against the catalog: every 1996 lineitem's
    * quantity bumped by 1000 through `UPDATE gcat.t SET … WHERE …`
    * (group-based COW — the pushed window prunes the scan to the
    * window's files; everything outside carries forward by
    * reference). Hash-equal to a CASE restatement over the original
    * parquet. */
  def q230SqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/lineitem_sqlupd"
    buildOnce(root) {
      val li = Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1998-01-01")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_shipdate", "l_returnflag", "l_linestatus")
        .repartitionByRange(4, col("l_shipdate"))
      val t = GraftTable.openOrCreate(s, root, Seq("l_shipdate"))
      t.append(li, numFiles = 0)
      s.sql("""UPDATE gcat.lineitem_sqlupd
               SET l_quantity = l_quantity + 1000
               WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'""")
      ()
    }
    s.table("gcat.lineitem_sqlupd")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
          .as("total_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q229 — STREAMING WRITE through the connector:
    * `events.writeStream.format("gtable").start(root)` — no
    * foreachBatch glue, the sink itself is the exactly-once ledgered
    * append (each epoch = one atomic snapshot carrying its epoch id;
    * executor writers deliver per-file stats in their commit
    * messages, so the sink costs zero extra data passes). Same
    * aggregate + oracle as q210: hash-equal ⟺ the first-class sink
    * and the foreachBatch recipe land identical tables. */
  def q229StreamingWrite(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/events_swrite" +
      s"_${System.nanoTime}"
    val q = graft.streaming.EventStream.readEventStream(s, dir)
      .writeStream
      .format("gtable")
      .option("statsCols", "ts")
      .option("checkpointLocation", s"${root}_ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(root)
    q.awaitTermination()
    GraftTable.forPath(s, root).read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2)
          .as("total_value"))
      .orderBy(col("event_type"))
  }

  /** q231 — `TIMESTAMP AS OF` time travel through SQL: the table is
    * built in two commits with a wall-clock timestamp RECORDED between
    * them (persisted next to the log so re-runs replay the same
    * instant); `SELECT … TIMESTAMP AS OF <that instant>` must resolve
    * to v1 — exactly the pre-1997 slice, stated by the oracle over
    * the original parquet. The q206 VERSION AS OF twin, by time. */
  def q231TimestampTravel(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/orders_tt"
    val tsFile = java.nio.file.Paths.get(s"$root/_log/_ts_after_v1.txt")
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
      GraftTable.create(s, root,
        o.where(col("o_orderdate") < "1997-01-01"),
        statsCols = Seq("o_orderkey"))
      // snapshot mtimes have second granularity on some filesystems —
      // put a full second between v1, the recorded instant, and v2
      Thread.sleep(1100)
      java.nio.file.Files.write(tsFile,
        java.time.LocalDateTime.now()
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")).getBytes("UTF-8"))
      Thread.sleep(1100)
      GraftTable.forPath(s, root)
        .append(o.where(col("o_orderdate") >= "1997-01-01"))
      ()
    }
    val ts = new String(java.nio.file.Files.readAllBytes(tsFile), "UTF-8")
    s.sql(s"""SELECT CAST(year(o_orderdate) AS INT) AS order_year,
                     CAST(COUNT(*) AS BIGINT) AS n_orders
              FROM gcat.orders_tt TIMESTAMP AS OF '$ts'
              GROUP BY 1 ORDER BY 1""")
  }

  /** q232 — MERGE-ON-READ delete (deletion vectors): q208's exact
    * construction and oracle, but the delete commits a DELETION
    * VECTOR instead of rewriting files — [[GraftTable.deleteWhereMor]]
    * records (file, row-ordinal) pairs; no data file is written. The
    * hash being equal to the COW twin pins that MOR and COW are
    * observationally identical, which is the whole contract: cheap
    * O(deleted-rows) writes now, the same live view everywhere. */
  def q232MorDelete(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/lineitem_mor"
    buildOnce(root) {
      val li = Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_linestatus")
      val t = GraftTable.create(s, root, li, statsCols = Seq("l_orderkey"))
      t.deleteWhereMor(col("l_returnflag") === "R")
      ()
    }
    GraftTable.forPath(s, root).read()
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("total_price"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
          .as("total_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q233 — the CONNECTOR over a DV'd table: the q232 table read by
    * NAME through the TableCatalog (`spark.table("gcat.…")`), so the
    * scan path — manifest planning, per-file partitions, the row
    * reader's ordinal skip, the declined metadata agg pushdown — all
    * run under a live deletion vector. Hash-equal to the same oracle
    * ⟺ the connector's DV filtering is exact, not just the format
    * API's. */
  def q233MorConnector(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/lineitem_mor_cat"
    buildOnce(root) {
      val li = Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_linestatus")
      val t = GraftTable.create(s, root, li, statsCols = Seq("l_orderkey"))
      t.deleteWhereMor(col("l_returnflag") === "R")
      ()
    }
    s.table("gcat.lineitem_mor_cat")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("total_price"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
          .as("total_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q234 — MERGE-ON-READ upsert: q209's exact merge (updates ×2 on
    * every 10th key, 1999+ inserts) through
    * [[GraftTable.mergeMor]] — matched rows enter the deletion
    * vector, updates append as fresh files, ONE snapshot, ZERO file
    * rewrites. Hash-equal to the COW-merge oracle ⟺ MOR upserts are
    * observationally identical to COW upserts. */
  def q234MorMerge(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_merge_mor"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
      val t = GraftTable.create(s, root,
        o.where(col("o_orderdate") < "1999-01-01"),
        statsCols = Seq("o_orderkey"))
      val upd = o.where(col("o_orderdate") < "1999-01-01" &&
          col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(o.where(col("o_orderdate") >= "1999-01-01"))
      t.mergeMor(upd, keyCols = Seq("o_orderkey"))
      ()
    }
    GraftTable.forPath(s, root).read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** q235 — SQL `MERGE INTO` in MOR mode: q227's statement against a
    * `delete.mode=mor` table runs through Spark's POSITION-DELTA
    * framework (`SupportsDelta` → `WriteDelta`) — matched row ids
    * stream to the deletion vector, updated/inserted rows append as
    * fresh files, no pre-existing file is rewritten
    * ([[graft.sources.GraftDeltaOperation]]). Same oracle as
    * q209/q227: the hash pins COW ≡ MOR across the whole SQL merge
    * surface. */
  def q235SqlMergeMor(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/orders_mergemor"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
      o.where(col("o_orderdate") < "1999-01-01")
        .createOrReplaceTempView("q235_base")
      s.sql("""CREATE TABLE gcat.orders_mergemor
               TBLPROPERTIES('statsCols'='o_orderkey',
                             'delete.mode'='mor')
               AS SELECT * FROM q235_base""")
      o.where(col("o_orderdate") < "1999-01-01" &&
          col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(o.where(col("o_orderdate") >= "1999-01-01"))
        .createOrReplaceTempView("q235_src")
      s.sql("""MERGE INTO gcat.orders_mergemor t USING q235_src s
               ON t.o_orderkey = s.o_orderkey
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""")
      ()
    }
    s.table("gcat.orders_mergemor")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** q236 — SQL `UPDATE` in MOR mode: q230's windowed quantity bump
    * through position deltas — each matched row's id joins the DV and
    * its updated image appends, one snapshot, zero rewrites. Same
    * oracle as q230 (CASE over the original window). */
  def q236SqlUpdateMor(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/lineitem_updmor"
    buildOnce(root) {
      Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1998-01-01")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_shipdate", "l_returnflag", "l_linestatus")
        .createOrReplaceTempView("q236_base")
      s.sql("""CREATE TABLE gcat.lineitem_updmor
               TBLPROPERTIES('statsCols'='l_shipdate',
                             'delete.mode'='mor')
               AS SELECT * FROM q236_base""")
      s.sql("""UPDATE gcat.lineitem_updmor
               SET l_quantity = l_quantity + 1000
               WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'""")
      ()
    }
    s.table("gcat.lineitem_updmor")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
          .as("total_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q237 — ROW-LEVEL CDC over a MOR history: two append commits +
    * one deletion-vector delete, then [[GraftTable.readCdc]] replays
    * the whole history as insert/delete events and a downstream fold
    * (+1 insert / −1 delete per year) must land exactly on the live
    * table — the oracle states it directly over the original rows.
    * This is the event feed [[GraftTable.readChanges]]' file diff
    * cannot see (a DV commit adds no files): incremental consumers
    * stay exact under MOR deletes. */
  def q237CdcMor(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_cdc_mor"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
      val t = GraftTable.create(s, root,
        o.where(col("o_orderdate") < "1997-01-01"),
        statsCols = Seq("o_orderkey"))
      t.append(o.where(col("o_orderdate") >= "1997-01-01"))
      t.deleteWhereMor(col("o_orderkey") % 7 === 0)
      ()
    }
    val t = GraftTable.forPath(s, root)
    t.readCdc(0, t.currentVersion)
      .groupBy(year(col("o_orderdate")).cast("int").as("order_year"))
      .agg(sum(when(col("_change_type") === "insert", lit(1L))
        .otherwise(lit(-1L))).as("n_live"))
      .orderBy(col("order_year"))
  }

  /** q238 — STORAGE-PARTITIONED JOIN through the connector: an events
    * fact and a per-type dim, both written VALUE-PURE on `event_type`
    * (one single-file commit per type, so every manifest envelope has
    * min == max), joined and aggregated on the type under
    * `spark.sql.sources.v2.bucketing.enabled` — the scan reports
    * `KeyGroupedPartitioning`, Spark aligns both sides by key, and
    * the join + aggregate plan ZERO exchanges (SpjSpec pins the plan;
    * this gates the results). At 100 TB this is the join you cannot
    * afford to shuffle: co-clustered tables join exchange-free. */
  def q238SpjJoin(s: SparkSession, dir: String): DataFrame = {
    val base = s"${graft.Scratch.dir(s, "gtable")}"
    val rootA = s"$base/events_spj"
    val rootB = s"$base/eventdim_spj"
    // ONE pass per table (VERDICT r12 #3): the old shape ran one
    // filtered scan + one commit PER TYPE — O(types × corpus) reads
    // and 2×types commits of fixed cost. SPJ needs each file
    // VALUE-PURE on the key, which hash/range repartitioning cannot
    // guarantee (two values may share a partition and purity would
    // silently degrade to a shuffle plan) — so route the single
    // shuffle through an IDENTITY partitioner over the dictionary
    // index: exactly one partition per type, one value-pure file
    // each, one scan, one commit. (The rare justified RDD drop: the
    // DataFrame API exposes no deterministic partition placement.)
    def buildPure(root: String, df: DataFrame): Unit = buildOnce(root) {
      val vals = df.select("event_type").distinct()
        .orderBy(col("event_type")).collect().map(_.getString(0))
      val idx = vals.zipWithIndex.toMap
      val bIdx = s.sparkContext.broadcast(idx)
      val schema = df.schema
      val fi = schema.fieldIndex("event_type")
      val pure = s.createDataFrame(
        df.rdd.map(r => (bIdx.value(r.getString(fi)), r))
          .partitionBy(new org.apache.spark.Partitioner {
            override def numPartitions: Int = vals.length
            override def getPartition(key: Any): Int =
              key.asInstanceOf[Int]
          }).values,
        schema)
      val t = GraftTable.openOrCreate(s, root, Seq("event_type"))
      t.append(pure, numFiles = 0) // keep the identity partitioning
    }
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
    buildPure(rootA, ev)
    buildPure(rootB, ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users")))
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val a = s.read.format("gtable").load(rootA)
      val b = s.read.format("gtable").load(rootB)
      val out = a.join(b, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("n_users")).as("n_users"),
          round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2)
            .as("total_value"))
        .orderBy(col("event_type"))
        .cache()
      // materialize NOW, while the SPJ confs are live — the scan's
      // partitioning report is a plan-time decision; a lazy consumer
      // after the restore would silently run the shuffle plan
      out.count()
      out
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** q239 — RESTORE (snapshot rollback): a bad load (prices ×100) and
    * a bad delete land on a good table, then [[GraftTable.restore]]
    * re-points the table at the good snapshot — manifest, deletion
    * vector, and schema AS OF v1, committed as one NEW metadata-only
    * snapshot (no data file written or deleted; O(manifest) whatever
    * the table size). Hash-equal to the oracle over the ORIGINAL
    * slice ⟺ the rollback loses and invents nothing — the recovery
    * verb for every "yesterday's pipeline corrupted the table" page. */
  def q239Restore(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_restore"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
      val t = GraftTable.create(s, root,
        o.where(col("o_orderdate") < "1998-01-01"),
        statsCols = Seq("o_orderkey"))                          // v1 good
      t.append(o.where(col("o_orderdate") >= "1998-01-01")
        .withColumn("o_totalprice", col("o_totalprice") * 100)) // v2 bad
      t.deleteWhereMor(col("o_orderkey") % 3 === 0)             // v3 bad
      t.restore(1)                                              // v4 ≡ v1
      ()
    }
    GraftTable.forPath(s, root).read()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** q240 — CLUSTERED WRITES by table property: a table declared
    * `TBLPROPERTIES('write.cluster-by'='l_orderkey')` range-clusters
    * and sorts EVERY insert (CTAS and INSERT INTO alike) on the key
    * before writing, one file per range — so per-file stats envelopes
    * are disjoint and the windowed read below plans only the window's
    * files (ClusteredWriteSpec pins the pruning; this gates the
    * values). The at-scale point: layout quality becomes a DECLARED
    * property of the table, not per-job ceremony — every producer's
    * plain `INSERT INTO` arms zone maps and storage-partitioned
    * joins. */
  def q240ClusteredInsert(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/lineitem_clustered"
    buildOnce(root) {
      val li = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_shipdate")
      li.where(col("l_shipdate") < "1997-01-01")
        .createOrReplaceTempView("q240_base")
      li.where(col("l_shipdate") >= "1997-01-01")
        .createOrReplaceTempView("q240_incr")
      s.sql("""CREATE TABLE gcat.lineitem_clustered
               TBLPROPERTIES('statsCols'='l_orderkey',
                             'write.cluster-by'='l_orderkey')
               AS SELECT * FROM q240_base""")
      s.sql("INSERT INTO gcat.lineitem_clustered " +
        "SELECT * FROM q240_incr")
      ()
    }
    s.table("gcat.lineitem_clustered")
      .where(col("l_orderkey").between(1000, 5000))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
          .as("total_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("total_price"))
      .orderBy(col("l_returnflag"))
  }

  /** q241 — BLOOM-INDEX POINT LOOKUP: a table clustered on
    * `o_orderkey` with `bloom.cols='o_custkey'` answers `WHERE
    * o_custkey IN (…)` by opening only the files whose per-file bloom
    * fires — min/max envelopes are useless here (every file's custkey
    * range spans the domain), so this is the manifest index that
    * makes point lookups on non-cluster columns feasible at 100 TB.
    * BloomIndexSpec pins the pruning and the zero-false-negative
    * contract; this hash-gates the values against the flat oracle. */
  def q241BloomLookup(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/orders_bloom"
    buildOnce(root) {
      Tables.load(s, dir, "orders")
        .createOrReplaceTempView("q241_src")
      s.sql("""CREATE TABLE gcat.orders_bloom
               TBLPROPERTIES('statsCols'='o_orderkey',
                             'write.cluster-by'='o_orderkey',
                             'bloom.cols'='o_custkey')
               AS SELECT * FROM q241_src""")
      ()
    }
    s.table("gcat.orders_bloom")
      .where(col("o_custkey").isin(7L, 123L, 1001L))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        round(col("o_totalprice").cast("decimal(18,4)").cast("double"), 2)
          .as("price"))
      .orderBy(col("o_orderkey"))
  }

  /** q242 — SQL STORED PROCEDURES (`CALL cat.system.…`): the
    * maintenance loop a production table actually lives — a bad load
    * lands, `CALL restore` rolls it back, `CALL compact` re-clusters
    * the survivors, `CALL vacuum` reclaims the expired files — all
    * from SQL statements (ProcedureSpec pins each body; this
    * hash-gates that the loop's END STATE reads as exactly the
    * original good data). Schedulable maintenance without a deploy is
    * what keeps a 100 TB table's layout healthy. */
  def q242SqlProcedures(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/lineitem_proc"
    buildOnce(root) {
      val li = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_linestatus")
      val t = GraftTable.create(s, root, li,
        statsCols = Seq("l_orderkey"))                      // v1 good
      t.append(li.withColumn("l_quantity",
        col("l_quantity") + 1e6))                            // v2 bad
      s.sql("CALL gcat.system.restore('lineitem_proc', 1)").collect()
      s.sql("CALL gcat.system.compact('lineitem_proc', 4, " +
        "'l_orderkey')").collect()
      s.sql("CALL gcat.system.vacuum('lineitem_proc', 1, 0)").collect()
      ()
    }
    s.table("gcat.lineitem_proc")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
          .as("total_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("total_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q243 — N-DIMENSIONAL Z-ORDER via `CALL system.zorder('t',
    * 'a,b,c')`: a lineitem table re-clustered on THREE dimensions in
    * one commit, then read through a filter on the LAST one — the
    * dimension a linear sort or 2-d curve wouldn't skip on.
    * ProcedureSpec pins that all three dimensions actually prune;
    * this hash-gates the values. The 100 TB case: fact tables are
    * queried on more dimensions than any partition scheme covers —
    * the z-curve gives every listed dimension zone-map locality. */
  def q243Zorder3d(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/lineitem_z3"
    buildOnce(root) {
      val li = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice")
      GraftTable.create(s, root, li,
        statsCols = Seq("l_orderkey", "l_partkey", "l_suppkey"))
      s.sql("CALL gcat.system.zorder('lineitem_z3', " +
        "'l_orderkey,l_partkey,l_suppkey', 16)").collect()
      ()
    }
    s.table("gcat.lineitem_z3")
      .where(col("l_suppkey").between(10, 25))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
          .as("total_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("total_price"))
      .orderBy(col("l_suppkey"))
  }

  /** q244 — WRITE-TIME CONSTRAINTS, pass path: the full orders flow
    * lands through a `CHECK (o_totalprice >= 0)` + `o_orderkey BIGINT
    * NOT NULL` table — the guard runs inside the write job (one
    * codegen'd pass, ConstraintSpec pins the reject/atomicity side)
    * and must not perturb a single value on the way through. */
  def q244ConstrainedInsert(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/orders_checked"
    buildOnce(root) {
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice")
        .createOrReplaceTempView("q244_src")
      s.sql("""CREATE TABLE gcat.orders_checked (
                 o_orderkey BIGINT NOT NULL, o_custkey BIGINT,
                 o_orderstatus STRING, o_totalprice DOUBLE)
               TBLPROPERTIES('statsCols'='o_orderkey',
                             'check.constraint'='o_totalprice >= 0')""")
      s.sql("INSERT INTO gcat.orders_checked SELECT * FROM q244_src")
      ()
    }
    s.table("gcat.orders_checked")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** q245 — LOG-LEVEL SCHEMA EVOLUTION round trip (rename + widen):
    * a customer table is created with a narrow schema (int key,
    * float balance), then evolved through SQL — RENAME COLUMN
    * (column-mapping metadata, zero data movement) and two widening
    * ALTER COLUMN TYPEs (int→bigint, float→double). The aggregate
    * reads the ORIGINAL narrow files through the evolved schema: the
    * connector must surface renamed columns from old files and
    * promote narrow pages to the wide types exactly. Oracle =
    * DuckDB over the original parquet with the same float round-trip
    * (`CAST(AS REAL)`) — hash-equal ⟺ no value was perturbed by the
    * evolution. At 100 TB this is the only affordable rename/widen:
    * the data files never move (SchemaEvolutionSpec pins that). */
  def q245SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/cust_evo"
    buildOnce(root) {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("custkey"),
          col("c_acctbal").cast("float").as("acctbal"),
          col("c_mktsegment").as("mktsegment"))
      GraftTable.create(s, root, c, statsCols = Seq("custkey"))
      s.sql("ALTER TABLE gcat.cust_evo RENAME COLUMN mktsegment TO segment")
      s.sql("ALTER TABLE gcat.cust_evo ALTER COLUMN custkey TYPE BIGINT")
      s.sql("ALTER TABLE gcat.cust_evo ALTER COLUMN acctbal TYPE DOUBLE")
      ()
    }
    s.table("gcat.cust_evo")
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("custkey")).as("key_sum"),
        round(sum(col("acctbal").cast("decimal(18,4)")).cast("double"),
          2).as("bal_sum"))
      .orderBy(col("segment"))
  }

  /** q246 — DATASET PINNING via immutable tags: the orders snapshot
    * is tagged `baseline`, then the table is mutated twice (a MOR
    * delete and a polluting append). The aggregate reads `VERSION AS
    * OF 'baseline'` and must hash-equal DuckDB over the ORIGINAL
    * rows — the tag's promise is that no later mutation (or vacuum —
    * TagSpec pins the protection) can change what a pinned training
    * run read. */
  def q246TaggedSnapshot(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcat")
    s.conf.set("spark.sql.catalog.gcat",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    val root = s"$wh/orders_tagged"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice")
      GraftTable.create(s, root, o, statsCols = Seq("o_orderkey"))
      s.sql("CALL gcat.system.tag('orders_tagged', 'baseline')")
      val t = GraftTable.forPath(s, root)
      t.deleteWhereMor(col("o_orderkey") % 3 === 0)
      t.append(o.where(col("o_orderkey") % 1000 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * -1))
      ()
    }
    s.sql("""
      SELECT o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
               AS DOUBLE), 2) AS revenue
      FROM gcat.orders_tagged VERSION AS OF 'baseline'
      GROUP BY 1 ORDER BY 1""")
  }

  /** q247 — STREAMING CHANGE DATA FEED fold: orders land in a
    * gtable, a MOR delete knocks out every 7th key, then
    * `readStream(readChangeFeed)` drains the full event history —
    * 'insert' rows per added file, 'delete' rows materialized from
    * the deletion-vector window by the emit-only reader — and a
    * per-key net fold (+1 insert / −1 delete) reconstructs the live
    * table. Hash-equal to DuckDB over `o_orderkey % 7 <> 0` ⟺ no
    * event was lost, duplicated, or mistyped: the incremental-
    * downstream-table contract, gate-checked. */
  def q247StreamingCdc(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_cdc" +
      s"_${System.nanoTime}"
    val ckpt = s"${root}_ckpt"
    val o = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderdate")
    val t = GraftTable.create(s, root, o,
      statsCols = Seq("o_orderkey"), numFiles = 4)
    t.deleteWhereMor(col("o_orderkey") % 7 === 0)
    val evDir = s"${root}_events"
    val q = s.readStream.format("gtable")
      .option("readChangeFeed", "true")
      .load(root)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => df.write.mode("append").parquet(evDir); ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(evDir)
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("net"))
      .where(col("net") > 0)
      .groupBy(year(col("o_orderdate")).cast("int").as("order_year"))
      .agg(count(lit(1)).as("n_live"))
      .orderBy(col("order_year"))
  }

  /** q248 — CDC UNDER MAINTENANCE (VERDICT r11 #1): inserts at v1, a
    * MOR delete at v2, a COMPACTION at v3, a re-append at v4. The
    * change feed walks the window PER COMMIT and must emit ZERO
    * events for the compaction — its snapshot records
    * `data_change=0`, and the old file-diff feed would have re-
    * emitted every surviving row as a fresh insert, double-counting
    * any downstream fold. The consumer shape is real: an initial
    * snapshot (`readCdc(0, 1)`) plus an incremental window
    * (`readCdc(1, current)`), folded per key (net = +insert −delete,
    * kept while positive, SUMMED for multiplicity — the re-append
    * makes some keys legitimately live twice). Hash-equal to DuckDB
    * over the same arithmetic on raw rows ⟺ the compaction was
    * invisible to the feed. */
  def q248CdcCompaction(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_cdc_mx"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderdate")
      val t = GraftTable.create(s, root, o,
        statsCols = Seq("o_orderkey"), numFiles = 4)
      t.deleteWhereMor(col("o_orderkey") % 7 === 0)
      t.compact()
      t.append(o.where(col("o_orderkey") % 5 === 0), numFiles = 2)
      ()
    }
    val t = GraftTable.forPath(s, root)
    val ev = t.readCdc(0, 1).unionByName(
      t.readCdc(1, t.currentVersion), allowMissingColumns = true)
    ev.groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(when(col("_change_type") === "insert", 1)
        .otherwise(-1)).as("net"))
      .where(col("net") > 0)
      .groupBy(year(col("o_orderdate")).cast("int").as("order_year"))
      .agg(sum(col("net")).cast("long").as("n_live"))
      .orderBy(col("order_year"))
  }

  /** q249 — MERGE CDC through the `table_changes` TVF: a MOR merge
    * doubles matched balances and inserts new keys; the SQL change
    * feed (`SELECT … FROM table_changes(root, 1, 2)`) must split the
    * commit's events by the recorded merge keys into
    * 'update_preimage' (old payloads of matched rows),
    * 'update_postimage' (new payloads), and 'insert' (unmatched keys)
    * — Delta CDF's MERGE contract, hash-checked per kind on counts
    * AND payload sums so a mislabeled or duplicated event cannot
    * pass. */
  def q249CdcMergeUpdates(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val root = s"${graft.Scratch.dir(s, "gtable")}/cust_cdc_merge"
    buildOnce(root) {
      val c = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_acctbal")
      val t = GraftTable.create(s, root, c,
        statsCols = Seq("c_custkey"), numFiles = 4)
      val upd = c.where(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2)
        .unionByName(c.where(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("c_acctbal")))
      t.mergeMor(upd, Seq("c_custkey"))
      ()
    }
    s.sql(s"""
      SELECT _change_type AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)))
               AS DOUBLE), 2) AS bal_sum
      FROM table_changes('$root', 1, 2)
      GROUP BY 1 ORDER BY 1""")
  }

  /** q251 — NAME-BASED `table_changes` (VERDICT r12 #5): the change
    * feed addresses the table by CATALOG IDENTIFIER, like every other
    * SQL surface — `table_changes('gcattc.orders_tc', 1)` — so
    * physical layout never leaks into consumer SQL. The window
    * `(1, current]` carries one append commit (inserts) and one MOR
    * delete commit (deletes, including re-appended duplicates);
    * hash-gated per change kind on counts AND payload sums. */
  def q251TableChangesNamed(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val wh = graft.Scratch.dir(s, "gcattc")
    s.conf.set("spark.sql.catalog.gcattc",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcattc.warehouse", wh)
    val root = s"$wh/orders_tc"
    buildOnce(root) {
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
      val t = GraftTable.create(s, root, o,
        statsCols = Seq("o_orderkey"), numFiles = 4) // v1
      t.append(o.where(col("o_orderkey") % 5 === 0), numFiles = 2) // v2
      t.deleteWhereMor(col("o_orderkey") % 7 === 0) // v3
      ()
    }
    s.sql("""
      SELECT _change_type AS change_type,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
               AS DOUBLE), 2) AS price_sum
      FROM table_changes('gcattc.orders_tc', 1)
      GROUP BY 1 ORDER BY 1""")
  }

  /** q210 — EXACTLY-ONCE STREAMING APPEND into the table format: the
    * event stream lands via `foreachBatch` → [[GraftTable
    * .appendIfAbsent]], the batch id riding the same atomic
    * put-if-absent snapshot as the data (q204's ledger, generalized
    * to the format layer), and batch 0 is deliberately REPLAYED after
    * the run — the ledger must skip it. Hash-equal to a plain
    * aggregate over events ⟺ no batch was lost or double-applied. */
  def q210StreamingTableSink(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/events_stream" +
      s"_${System.nanoTime}"
    graft.streaming.EventStream.streamIntoTable(s, dir, root)
    GraftTable.forPath(s, root).read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2)
          .as("total_value"))
      .orderBy(col("event_type"))
  }

  /** q252 — BIN-PACKED SCAN (round 13): orders lands as ~240 micro
    * files (the streaming-micro-commit layout) plus a MOR deletion
    * band; the scan must plan FEWER partitions than files (packing
    * engaged — `require`d, so a silent regression fails the gate, not
    * just slows it) and still hash-match a plain aggregate over the
    * original parquet minus the deleted band: the chained readers
    * lose no file, duplicate no file, and apply every per-file DV
    * slice exactly once. */
  def q252PackedScan(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/orders_packed"
    val o = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    buildOnce(root) {
      val t = GraftTable.create(s, root, o.where(col("o_orderkey") % 5 === 0),
        statsCols = Seq("o_orderkey"), numFiles = 48)
      (1 to 4).foreach(i => t.append(
        o.where(col("o_orderkey") % 5 === i), numFiles = 48))
      t.deleteWhereMor(col("o_orderkey") % 11 === 0)
      ()
    }
    val df = s.read.format("gtable").load(root)
    val files = GraftTable.forPath(s, root).fileCount()
    val parts = df.rdd.getNumPartitions
    require(parts < files,
      s"q252: packing must plan fewer partitions than files " +
        s"($parts vs $files)")
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("double"), 2).as("price_sum"))
      .orderBy(col("o_orderstatus"))
  }

  /** q253 — ROW-GROUP SPLIT SCAN (round 13): lineitem written as ONE
    * file of many small row groups, then scanned under a shrunken
    * `maxPartitionBytes` so planning carves it into byte-range
    * partitions (`require`d > 1); a MOR deletion vector spans the
    * whole file, so the hash gate proves ranges are disjoint and
    * covering AND file-global DV ordinals land in exactly one range.
    * The aggregate materializes while the conf override is in force
    * (planning happens at action time), then returns as a local
    * frame. */
  def q253SplitScan(s: SparkSession, dir: String): DataFrame = {
    val root = s"${graft.Scratch.dir(s, "gtable")}/lineitem_split"
    buildOnce(root) {
      System.setProperty("graft.parquet.rowgroup.bytes", "65536")
      try {
        val t = GraftTable.create(s, root,
          Tables.load(s, dir, "lineitem")
            .select("l_orderkey", "l_returnflag", "l_quantity"),
          statsCols = Seq("l_orderkey"), numFiles = 1)
        t.deleteWhereMor(col("l_orderkey") % 13 === 0)
        ()
      } finally System.clearProperty("graft.parquet.rowgroup.bytes")
    }
    val t = GraftTable.forPath(s, root)
    val fileBytes = t.manifest()
      .agg(sum(col("size_bytes"))).head().getLong(0)
    // session-global overrides SCOPED (ADVICE r13): set inside the
    // try so a failure between set and try can't strand them, and
    // restore PRIOR values rather than blind-unsetting
    val prior = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes").map(k =>
        k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.files.maxPartitionBytes",
        math.max(1L << 16, fileBytes / 6L).toString)
      s.conf.set("spark.sql.files.openCostInBytes", "4096")
      val df = s.read.format("gtable").load(root)
      require(df.rdd.getNumPartitions > 1,
        "q253: the single file must split into byte ranges")
      val agg = df.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity").cast("decimal(18,4)"))
            .cast("double"), 2).as("qty_sum"))
        .orderBy(col("l_returnflag"))
      val rows = agg.collect()
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*), agg.schema)
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** q250 — PREDICATE-SCOPED COMPACTION (`CALL system.compact_where`,
    * Delta's `OPTIMIZE … WHERE`): the low half of the key space
    * accretes small-file debt plus a MOR deletion vector, then ONE
    * windowed maintenance call folds exactly that slice (the high
    * band's files carry by reference — at 100 TB maintenance is
    * always windowed, never a table-wide rewrite). Hash-gated on the
    * full table content: the fold must drop the DV'd rows into the
    * rewrite and change nothing else. */
  def q250CompactWhere(s: SparkSession, dir: String): DataFrame = {
    val wh = graft.Scratch.dir(s, "gcatcw")
    s.conf.set("spark.sql.catalog.gcatcw",
      classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcatcw.warehouse", wh)
    val root = s"$wh/lineitem_cw"
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val cut = li.agg(max("l_orderkey")).head().getLong(0) / 2
    buildOnce(root) {
      val t = GraftTable.create(s, root,
        li.where(col("l_orderkey") > cut),
        statsCols = Seq("l_orderkey"), numFiles = 4)
      // low band lands as 4 small appends → 8 files of debt
      (0 to 3).foreach(i => t.append(
        li.where(col("l_orderkey") <= cut &&
          col("l_orderkey") % 4 === i), numFiles = 2))
      t.deleteWhereMor(col("l_orderkey") % 10 === 0 &&
        col("l_orderkey") <= cut)
      s.sql(s"CALL gcatcw.system.compact_where('lineitem_cw', " +
        s"'l_orderkey <= $cut', 9223372036854775807, 2, " +
        "'l_orderkey')").collect()
      ()
    }
    s.table("gcatcw.lineitem_cw")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity").cast("decimal(18,4)"))
          .cast("double"), 2).as("qty_sum"))
      .orderBy(col("l_returnflag"))
  }
}
