package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.charts.SvgCharts
import graft.functions.OracleSafe
import graft.operators.{BankEtl, DataQuality, ManifestTable, WarehouseSink}
import graft.oracle.BankOracle
import graft.sources.TestData
import graft.streaming.EventStream

/** What every pass of a run is given: the data directory, a scratch
  * directory, the row count of each source table as the set-up read it,
  * and the run's seeded random source.
  */
final case class Inputs(dir: String, tmp: String, sourceRows: Map[String, Long],
    rng: scala.util.Random)

/** One workload: the source tables its set-up loads, and one pass of its
  * client. A pass returns its own record: `pass_ms`, the wall time the
  * workload's `pass_s` metric is made of, plus workload-specific fields.
  */
trait Workload {
  def sources: Seq[String]
  def pass(spark: SparkSession, in: Inputs): Map[String, Any]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "bank" => Bank
    case "curation" => Curation
    case "ingest" => Ingest
    case other => sys.error(s"unknown workload: $other")
  }

  def elapsedMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Heap in use after a full collection: what the pass holds live. Spark
    * drops the blocks of unreachable broadcasts asynchronously, after a
    * collection finds them, so collect, let its cleaner run, collect again.
    */
  def heapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def dirBytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** [[DataQuality.fingerprint]] over the given columns: each a Spark
  * expression and its DuckDB twin, which the oracle evaluates over `from`.
  */
final case class Fingerprint(cols: Seq[(String, String)]) {
  def of(df: DataFrame): DataFrame =
    DataQuality.fingerprint(df, cols.map { case (c, _) => expr(c).cast("string") })

  def sql(from: String): String =
    DataQuality.fingerprintSql(from, cols.map { case (_, s) => s"CAST($s AS VARCHAR)" })

  /** One checked operation, outside any timing. */
  def check(key: String, df: DataFrame, from: String): Unit = {
    val fp = of(df)
    Record.op(key, "check")(fp.collect())(rows => Record.oracleCheck(key, sql(from), fp.schema, rows))
  }
}

/** The reference's own job: the star-schema ETL, then an analyst running
  * the six dashboard queries against the freshly loaded warehouse.
  */
object Bank extends Workload {
  val sources = Seq("customer", "orders", "lineitem", "part", "supplier", "nation")

  private val dash: Seq[(String, (SparkSession, BankEtl.Warehouse) => DataFrame)] = Seq(
    "q29_dash_trend" -> ((_, w) => BankEtl.dashTrend(w.fact, w.dimDate)),
    "q30_dash_top_categories" -> ((_, w) => BankEtl.dashTopCategories(w.fact, w.dimMerchant)),
    "q31_dash_age_groups" -> ((_, w) => BankEtl.dashAgeGroups(w.fact, w.dimCustomer)),
    "q33_sql_dash_top_categories" -> ((s, _) => s.sql(BankEtl.DashboardSql.topCategories)),
    "q34_sql_dash_trend" -> ((s, _) => s.sql(BankEtl.DashboardSql.trend)),
    "q35_sql_dash_age_groups" -> ((s, _) => s.sql(BankEtl.DashboardSql.ageGroups)))

  /** Columns each table is fingerprinted on: the Spark expression and its
    * DuckDB twin over the oracle's CTE of the same table.
    */
  private val fingerprints: Seq[(String, String, Fingerprint)] = {
    def same(cs: String*) = cs.map(c => c -> c)
    Seq(
      ("Dim_Date", "dim_date", same("Date_Key", "Full_Date", "Day_Of_Week", "Day_Name",
        "Month", "Month_Name", "Quarter", "Year", "Hour_Of_Day")),
      ("Dim_Customer", "dim_customer", same("Customer_Key", "CustomerID_Source",
        "CustomerName", "Age_Group", "Gender", "City", "Country", "BirthDate")),
      ("Dim_Account", "dim_account", same("Account_Key", "AccountID_Source", "Account_Type")),
      ("Dim_Merchant", "dim_merchant", same("Merchant_Key", "MerchantName_Source", "Category")),
      ("Dim_Location", "dim_location", same("Location_Key", "Transaction_Country",
        "Transaction_Region")),
      ("Fact_Spending", "fact_spending", same("Transaction_Key", "Date_Key", "Customer_Key",
        "Account_Key", "Merchant_Key", "Location_Key", "Transaction_Count") :+
        ("floor(cast(Amount_Spent as double) * 100)" -> OracleSafe.quantSql("Amount_Spent", 100))))
      .map { case (table, cte, cols) => (table, cte, Fingerprint(cols)) }
  }

  /** Times the analyst runs the six dashboard queries per pass. */
  val dashRounds = 2

  def pass(spark: SparkSession, in: Inputs): Map[String, Any] = {
    val out = s"${in.tmp}/bank-${Record.pass}"
    val t0 = System.nanoTime()
    var w: BankEtl.Warehouse = null
    Record.op("etl.build", "etl") {
      Trace.span("bank_etl.build") {
        w = Trace.span("plans.build")(BankEtl.build(spark, in.dir, cache = true))
        w.tables.toSeq.sortBy(_._1).map { case (n, df) => n -> df.count() }
      }
    }(rows => Record.assertCheck(rows.forall(_._2 > 0), rows.mkString(" ")))
    val dq = Record.op("dq.checks", "etl")(Trace.span("dq.checks")(DataQuality.warehouseChecks(w))) { v =>
      Record.oracleCheck("q37_data_quality", SparkEntry.oracleSql("q37_data_quality"),
        Record.violationSchema, v.map(x => Row(x.check, x.count)).toArray)
    }
    Record.op("sink.write", "etl")(Trace.span("sink.write")(WarehouseSink.write(w, out))) { _ =>
      Record.assertCheck(new File(s"$out/Fact_Spending").isDirectory, out)
    }
    Record.op("charts.render", "etl") {
      Trace.span("charts.render")(SvgCharts.renderDashboards(w, s"$out/charts"))
    } { paths =>
      Record.assertCheck(paths.size == 3 && paths.forall(p => p.toFile.length > 0),
        paths.mkString(" "))
    }
    val etlMs = Workload.elapsedMs(t0)

    // outputs of the ETL phase, checked outside its timing
    fingerprints.foreach { case (table, cte, fp) =>
      fp.check(s"fp.$table", w.tables(table), s"(${BankOracle.prelude}\nSELECT * FROM $cte)")
    }
    Record.op("sink.readback", "check") {
      val df = spark.read.parquet(s"$out/Fact_Spending").groupBy("ym")
        .agg(count(lit(1)).as("n"),
          OracleSafe.moneyOut(sum(col("Amount_Spent")).cast("decimal(18,2)")).as("total"))
      (df.schema, df.collect())
    } { case (schema, rows) =>
      Record.oracleCheck("q36_warehouse_roundtrip", SparkEntry.oracleSql("q36_warehouse_roundtrip"),
        schema, rows)
    }

    BankEtl.registerViews(w)
    val t1 = System.nanoTime()
    for (_ <- 1 to dashRounds; (q, build) <- in.rng.shuffle(dash)) {
      Record.op(q, "query")(Record.collect(s"query.$q")(build(spark, w))) { case (schema, rows) =>
        Record.oracleCheck(q, SparkEntry.oracleSql(q), schema, rows)
      }
    }
    val dashMs = Workload.elapsedMs(t1)
    val (cached, heap) = (Workload.cachedBytes(spark), Workload.heapMb())
    spark.catalog.clearCache()
    graft.Scratch.rmTree(new File(out))
    Map("pass_ms" -> etlMs, "dash_ms" -> dashMs, "cached_bytes" -> cached, "heap_mb" -> heap,
      "dq_violations" -> dq.map(_.map(_.count).sum).getOrElse(-1L))
  }
}

/** The LLM-data operators over `documents` and `embeddings`: dedup,
  * similarity search and text statistics. Writes nothing.
  */
object Curation extends Workload {
  val sources = Seq("documents", "embeddings")

  /** Each query with the layer whose span it runs in. */
  val queries: Seq[(String, String)] = Seq(
    "q40_dedup_exact" -> "dedup", "q41_ngram_jaccard" -> "dedup",
    "q43_lsh_candidates" -> "dedup",
    "q45_ann_brute" -> "similarity", "q54_ann_ivf_topk" -> "similarity",
    "q57_bm25_topk" -> "text", "q86_tfidf_terms" -> "text", "q113_bpe_pairs" -> "text")

  /** Share of each query's exact top-k neighbours the IVF index returns. */
  private def recall(exact: Array[Row], approx: Array[Row]): Double = {
    def byQuery(rows: Array[Row]): Map[Long, Set[Long]] = rows.groupBy(r => r.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(r => r.getAs[Long]("nid")).toSet }
    val (e, a) = (byQuery(exact), byQuery(approx))
    val hits = e.map { case (q, ns) => (ns & a.getOrElse(q, Set.empty)).size }.sum
    hits.toDouble / math.max(1, e.values.map(_.size).sum)
  }

  def pass(spark: SparkSession, in: Inputs): Map[String, Any] = {
    val t0 = System.nanoTime()
    // fixed order: in a fresh process the first query of a family pays
    // the family's code generation, so a shuffled order would move cost
    // between queries from run to run
    val results = queries.flatMap { case (q, layer) =>
      Record.op(q, "query") {
        Record.collect(s"$layer.$q")(SparkEntry.queries(q)(spark, in.dir))
      } { case (schema, rows) =>
        Record.oracleCheck(q, SparkEntry.oracleSql(q), schema, rows)
      }.map(q -> _._2)
    }.toMap
    val passMs = Workload.elapsedMs(t0)
    val (cached, heap) = (Workload.cachedBytes(spark), Workload.heapMb())
    spark.catalog.clearCache()
    val r = for (e <- results.get("q45_ann_brute"); a <- results.get("q54_ann_ivf_topk"))
      yield recall(e, a)
    Map("pass_ms" -> passMs, "cached_bytes" -> cached, "heap_mb" -> heap,
      "recall_at_5" -> r.getOrElse(-1.0))
  }
}

/** Writes beside reads: seeded slices of `events` committed merge-on-read
  * into a partitioned manifest table, each commit followed by a read, with
  * compaction, a vacuum and one streaming ingest.
  */
object Ingest extends Workload {
  val sources = Seq("events")
  val commits = 6
  val compactEvery = 3
  /** Rows per commit and the most ids skipped between two slices: a
    * narrow range, so every seed commits about the same volume.
    */
  val (minRows, maxRows, maxGap) = (1000, 1200, 200)
  private val fingerprint = Fingerprint(Seq("event_id" -> "event_id",
    "event_type" -> "event_type",
    "floor(cast(value as double) * 100)" -> OracleSafe.quantSql("value", 100)))

  private var slices: Seq[(Long, Long)] = Nil

  /** Disjoint event-id ranges, fixed for the run by its seed so every pass
    * commits the same data. Event ids run from 0 to the table's row count,
    * and the slices always fall inside that range.
    */
  private def slicesFor(in: Inputs): Seq[(Long, Long)] = {
    if (slices.isEmpty) {
      val sizes = Seq.fill(commits)(minRows + in.rng.nextInt(maxRows - minRows + 1).toLong)
      val gaps = Seq.fill(commits)(in.rng.nextInt(maxGap + 1).toLong)
      val free = in.sourceRows("events") - sizes.sum - gaps.sum
      require(free > 0, s"events has too few rows for $commits slices")
      var lo = (in.rng.nextDouble() * free).toLong
      slices = sizes.zip(gaps).map { case (n, g) => val s = (lo, lo + n); lo += n + g; s }
    }
    slices
  }

  /** The oracle's view of the table after the first `n` commits. */
  private def committed(n: Int): String = slices.take(n)
    .map { case (a, b) => s"(event_id >= $a AND event_id < $b)" }
    .mkString("(SELECT * FROM events WHERE ", " OR ", ")")

  def pass(spark: SparkSession, in: Inputs): Map[String, Any] = {
    val base = s"${in.tmp}/ingest-${Record.pass}"
    val tbl = s"$base/table"
    val ranges = slicesFor(in)
    val events = TestData.events(spark, in.dir).select("event_id", "event_type", "value")
    var version = 0L
    var commitBytes = 0L
    var spaceAmp, writeAmp = 0.0
    val t0 = System.nanoTime()

    ranges.zipWithIndex.foreach { case ((a, b), i) =>
      version += 1
      val v = version
      Record.op(s"commit.$i", "query") {
        val tc = System.nanoTime()
        Trace.span("table.commit") {
          ManifestTable.appendPartitionedDelta(
            events.filter(col("event_id") >= a && col("event_id") < b), tbl, v, "event_type")
        }
        val commitMs = Workload.elapsedMs(tc)
        val tr = System.nanoTime()
        // the read's action is the fingerprint aggregate over the snapshot
        val read = Record.collect("table.read")(
          fingerprint.of(ManifestTable.readPartitionedMoR(spark, tbl, "event_type", v)))
        (read, commitMs, Workload.elapsedMs(tr))
      } { case ((schema, rows), commitMs, readMs) =>
        Record.oracleCheck(s"ingest.state.${i + 1}", fingerprint.sql(committed(i + 1)),
          schema, rows) ++ Map("commit_ms" -> commitMs, "read_ms" -> readMs)
      }
      commitBytes += Workload.dirBytes(new File(s"$tbl/data/v$v"))
      if ((i + 1) % compactEvery == 0) {
        version += 1
        val cv = version
        Record.op(s"compact.$i", "maint") {
          Trace.span("table.compact")(ManifestTable.compactPartitionedMoR(spark, tbl, cv, "event_type"))
        }(_ => Map.empty)
      }
    }
    if (Trace.on) {
      val all = Workload.dirBytes(new File(s"$tbl/data"))
      val live = ManifestTable.readDeltaManifest(spark, tbl, version).values.flatten.toSet
        .toSeq.map((v: Long) => Workload.dirBytes(new File(s"$tbl/data/v$v"))).sum
      spaceAmp = all.toDouble / math.max(1L, live)
      writeAmp = all.toDouble / math.max(1L, commitBytes)
    }
    Record.op("vacuum", "maint") {
      Trace.span("table.vacuum")(ManifestTable.vacuumPartitionedMoR(spark, tbl, keep = 1))
    }(dropped => Record.assertCheck(dropped.nonEmpty, s"dropped versions ${dropped.mkString(",")}"))
    // the call runs its streams when called, so the whole call is the
    // layer's span (no separate plan-build span)
    Record.op("stream.ingest", "maint") {
      Record.collectEager("stream.ingest")(EventStream.streamIntoPartitionedMoR(spark, in.dir))
    } { case (schema, rows) =>
      Record.oracleCheck("q326_stream_mor_ingest", SparkEntry.oracleSql("q326_stream_mor_ingest"),
        schema, rows)
    }
    val passMs = Workload.elapsedMs(t0)
    val heap = Workload.heapMb()
    fingerprint.check("ingest.final",
      ManifestTable.readPartitionedMoR(spark, tbl, "event_type", version), committed(ranges.size))
    spark.catalog.clearCache()
    graft.Scratch.rmTree(new File(base))
    Map("pass_ms" -> passMs, "heap_mb" -> heap, "space_amp" -> spaceAmp, "write_amp" -> writeAmp)
  }
}
