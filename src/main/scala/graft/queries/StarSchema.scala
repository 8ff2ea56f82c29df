package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.OracleSafe._
import graft.functions.BankFunctions.yearMonthSql
import graft.operators.{BankEtl, DataQuality, Events, Funnel, Graph, Planning, Privacy, Profile, Sampling, Scd, Segmentation, Skew, ZOrder}
import graft.oracle.BankOracle.prelude
import graft.queries.Query.slidingWindowOracle
import graft.sources.{BankAdapter, CsvSource, TestData}

/** The bank star schema's ETL and dashboards, the TPC-H relational
  * shapes and the event analytics: every query that neither streams nor
  * writes files and reads no `documents` or `embeddings`.
  * [[Query]] states the rule that places a query in its family.
  */
object StarSchema {

  /** FD audit spec shared by the q137 query and its oracle (one list, no
    * drift): the key FD holds by construction; the other two are expected
    * to be violated — the audit reports, it does not assert.
    */
  private val fdSpecs: Seq[(String, String, String)] = Seq(
    ("o_custkey_to_priority", "o_custkey", "o_orderpriority"),
    ("o_orderdate_to_status", "o_orderdate", "o_orderstatus"),
    ("o_orderkey_to_custkey", "o_orderkey", "o_custkey"))

  /** Committed CSV twin of [[BankAdapter.mccMapping]] — brands are the same
    * fixed Brand#1..25 set at every scale factor, so one fixture serves all.
    * Resolution order: `-Dgraft.mcc.csv=...` override; the source checkout
    * path when running from the repo root; otherwise the classpath resource
    * extracted to a temp file — so a packaged jar, spark-submit, or an IDE
    * runner launched from any directory resolves the same bytes (the
    * DuckDB oracle's `read_csv` gets whichever absolute path was picked).
    */
  private lazy val mccBrandsCsv: String = sys.props.get("graft.mcc.csv").getOrElse {
    val checkout = new java.io.File("src/main/resources/bank/mcc_brands.csv")
    if (checkout.isFile) checkout.getAbsolutePath
    else {
      val in = getClass.getResourceAsStream("/bank/mcc_brands.csv")
      require(in != null,
        "bank/mcc_brands.csv not on classpath; set -Dgraft.mcc.csv=<path>")
      val tmp = java.nio.file.Files.createTempFile("graft-mcc-brands", ".csv")
      try java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      // NOT deleteOnExit: the absolute path is baked into the generated
      // oracle SQL, which DuckDB reads in a separate process AFTER this
      // JVM exits — deleting at exit would break exactly the packaged-jar
      // scenario this fallback exists for
      tmp.toString
    }
  }

  /** The dashboards' oracles, shared by the DataFrame paths (q29-q31)
    * and the SQL-text paths (q33-q35): one result contract.
    */
  private val dashTrendOracle: String =
    s"""$prelude
       |SELECT d.Year, d.Month,
       |       ${yearMonthSql("d.Year", "d.Month")} AS YearMonth,
       |       CAST(CAST(SUM(f.Amount_Spent) AS DECIMAL(18,2)) AS DOUBLE) AS Total_Spent
       |FROM fact_spending f JOIN dim_date d ON f.Date_Key = d.Date_Key
       |GROUP BY d.Year, d.Month
       |ORDER BY d.Year, d.Month""".stripMargin

  private val dashTopCategoriesOracle: String =
    s"""$prelude
       |SELECT m.Category,
       |       CAST(CAST(SUM(f.Amount_Spent) AS DECIMAL(18,2)) AS DOUBLE) AS Total_Spent
       |FROM fact_spending f JOIN dim_merchant m ON f.Merchant_Key = m.Merchant_Key
       |GROUP BY m.Category
       |ORDER BY Total_Spent DESC, m.Category
       |LIMIT 5""".stripMargin

  private val dashAgeGroupsOracle: String =
    s"""$prelude
       |SELECT c.Age_Group,
       |       CAST(CAST(SUM(f.Amount_Spent) AS DECIMAL(18,2)) AS DOUBLE) AS Total_Spent
       |FROM fact_spending f JOIN dim_customer c ON f.Customer_Key = c.Customer_Key
       |GROUP BY c.Age_Group
       |ORDER BY Total_Spent DESC, c.Age_Group""".stripMargin

  val queries: Seq[Query] = Seq(
    // S1/P3/P5: parquet scan with filter + projection pushed into the scan.
    Query("q01_scan_filter_project", scale = false, build = { (s, dir) =>
      TestData.lineitem(s, dir)
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp") && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"),
          moneyOut(money(col("l_extendedprice"))).as("price"))
        // (l_orderkey, l_linenumber) is NOT unique in this data (linenumber
        // is random) — price completes the total order over the output
        .orderBy("l_orderkey", "l_linenumber", "price")
    }, oracle =
      s"""SELECT l_orderkey, l_linenumber, ${moneyOutSql(moneySql("l_extendedprice"))} AS price
          FROM lineitem
          WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity > 45
          ORDER BY l_orderkey, l_linenumber, price"""),

    // A4/A5/A7 + P6: partial+final hash aggregation with exact decimal sums.
    Query("q02_agg_groupby", scale = false, build = { (s, dir) =>
      TestData.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          moneyOut(sum(money(col("l_quantity"))).cast("decimal(18,2)")).as("sum_qty"),
          moneyOut(sum(money(col("l_extendedprice"))).cast("decimal(18,2)")).as("sum_base_price"),
          moneyOut(sum(money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("decimal(18,2)")).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      s"""SELECT l_returnflag, l_linestatus,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_quantity")}) AS DECIMAL(18,2))")} AS sum_qty,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice")}) AS DECIMAL(18,2))")} AS sum_base_price,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice * (1.0 - l_discount)")}) AS DECIMAL(18,2))")} AS sum_disc_price,
                 COUNT(*) AS count_order
          FROM lineitem
          GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus"""),

    // O2/O3: top-k — Spark plans TakeOrderedAndProject (no full sort at scale).
    Query("q03_topk", scale = false, build = { (s, dir) =>
      TestData.lineitem(s, dir)
        .join(TestData.part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(moneyOut(sum(money(col("l_extendedprice"))).cast("decimal(18,2)")).as("total_revenue"))
        .orderBy(desc("total_revenue"), asc("p_brand"))
        .limit(5)
    }, oracle =
      s"""SELECT p_brand,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice")}) AS DECIMAL(18,2))")} AS total_revenue
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand
          ORDER BY total_revenue DESC, p_brand
          LIMIT 5"""),

    // J1/P2-pattern: inner equi join + θ-filter on columns of both sides.
    Query("q04_join_theta_filter", scale = false, build = { (s, dir) =>
      TestData.orders(s, dir)
        .join(TestData.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .filter(col("o_totalprice") > col("c_acctbal"))
        .select(col("o_orderkey"), col("o_custkey"),
          moneyOut(money(col("o_totalprice"))).as("price"),
          moneyOut(money(col("c_acctbal"))).as("acctbal"))
        .orderBy("o_orderkey")
    }, oracle =
      s"""SELECT o_orderkey, o_custkey, ${moneyOutSql(moneySql("o_totalprice"))} AS price,
                 ${moneyOutSql(moneySql("c_acctbal"))} AS acctbal
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE o_totalprice > c_acctbal
          ORDER BY o_orderkey"""),

    // J2: left-semi join (EXISTS).
    Query("q05_semi_join", scale = false, build = { (s, dir) =>
      TestData.customer(s, dir)
        .join(TestData.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }, oracle =
      s"""SELECT c_custkey, c_name FROM customer
          WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          ORDER BY c_custkey"""),

    // Anti join (NOT EXISTS) — the orphan-check primitive (SURVEY.md §7.4-8):
    // customers with no urgent order (every customer has SOME order in this
    // data, so the anti-join runs against a filtered build side).
    Query("q06_anti_join", scale = false, build = { (s, dir) =>
      TestData.customer(s, dir)
        .join(TestData.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }, oracle =
      s"""SELECT c_custkey, c_name FROM customer
          WHERE NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
          ORDER BY c_custkey"""),

    // J4-pattern: broadcast dictionary lookup chain.
    Query("q07_lookup_join", scale = false, build = { (s, dir) =>
      TestData.supplier(s, dir)
        .join(broadcast(TestData.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(TestData.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name", "r_name")
        .orderBy("s_suppkey")
    }, oracle =
      s"""SELECT s_suppkey, s_name, n_name, r_name
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          ORDER BY s_suppkey"""),

    // O4: UNION ALL by name.
    Query("q08_union", scale = false, build = { (s, dir) =>
      val o = TestData.orders(s, dir)
      o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderpriority").as("priority"))
        .unionByName(
          o.filter(col("o_orderpriority") === "5-LOW")
            .select(col("o_orderkey"), col("o_orderpriority").as("priority")))
        .orderBy("o_orderkey", "priority")
    }, oracle =
      s"""SELECT * FROM (
            SELECT o_orderkey, o_orderpriority AS priority FROM orders
            WHERE o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT o_orderkey, o_orderpriority AS priority FROM orders
            WHERE o_orderpriority = '5-LOW')
          ORDER BY o_orderkey, priority"""),

    // A1/A3: multi-column hash distinct.
    Query("q09_distinct", scale = false, build = { (s, dir) =>
      TestData.orders(s, dir)
        .select("o_orderstatus", "o_orderpriority").distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    }, oracle =
      s"""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
          ORDER BY o_orderstatus, o_orderpriority"""),

    // A2: deterministic keep-first via ranking window.
    Query("q10_keep_first", scale = false, build = { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      TestData.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"),
          col("o_orderdate").as("first_orderdate"))
        .orderBy("o_custkey")
    }, oracle =
      s"""SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS rn FROM orders)
          WHERE rn = 1
          ORDER BY o_custkey"""),

    // Analytic window: running total + rank per partition.
    Query("q11_window_running", scale = false, build = { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      TestData.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          moneyOut(sum(money(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("decimal(18,2)")).as("cum_spent"),
          row_number().over(w).as("order_seq"))
        .orderBy("o_custkey", "order_seq")
    }, oracle =
      s"""SELECT o_custkey, o_orderkey, o_orderdate,
                 ${moneyOutSql(s"""CAST(SUM(${moneySql("o_totalprice")}) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2))""")} AS cum_spent,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS order_seq
          FROM orders
          ORDER BY o_custkey, order_seq"""),

    // The rest of the analytic-window family over one pass: ranking
    // (dense_rank), distribution (ntile, percent_rank — exact double
    // division of two ints), and offset (lag delta). One shuffle on the
    // partition key serves all five functions.
    Query("q76_window_suite", scale = true, build = { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      TestData.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          dense_rank().over(w).as("drank"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("prank"),
          moneyOut(coalesce(
            money(col("o_totalprice")) - lag(money(col("o_totalprice")), 1).over(w),
            lit(0).cast("decimal(18,2)"))).as("delta_prev"))
        .orderBy("o_custkey", "o_orderkey")
    }, oracle =
      s"""SELECT o_custkey, o_orderkey,
                 CAST(DENSE_RANK() OVER w AS INT) AS drank,
                 CAST(NTILE(4) OVER w AS INT) AS quartile,
                 PERCENT_RANK() OVER w AS prank,
                 ${moneyOutSql(s"COALESCE(${moneySql("o_totalprice")} - LAG(${moneySql("o_totalprice")}, 1) OVER w, 0)")} AS delta_prev
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          ORDER BY o_custkey, o_orderkey"""),

    // Exact distributed median per group by POSITIONAL selection: pick
    // the middle element(s) with a total-order row_number, then
    // (min+max)/2 of the one or two picked values — no interpolation
    // formula to disagree on between engines. (At 100 TB you'd reach for
    // approx_percentile; this is the exact twin that validates it.)
    Query("q85_exact_median", scale = true, build = { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byType = Window.partitionBy("event_type")
      val w = byType.orderBy("value", "event_id")
      TestData.events(s, dir)
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(byType))
        // middle positions rn ∈ {floor((n+1)/2), floor(n/2)+1}: rn*2-n is
        // 1 for odd n (single middle), {0, 2} for even n (both middles)
        .filter((col("rn") * 2 - col("n")).isin(0, 1, 2))
        .groupBy("event_type")
        .agg(((min("value") + max("value")) / 2).as("median"))
        .orderBy("event_type")
    }, oracle =
      """SELECT event_type, (MIN(value) + MAX(value)) / 2 AS median
        |FROM (SELECT event_type, value,
        |             ROW_NUMBER() OVER (PARTITION BY event_type
        |                                ORDER BY value, event_id) AS rn,
        |             COUNT(*) OVER (PARTITION BY event_type) AS n
        |      FROM events) t
        |WHERE rn * 2 - n IN (0, 1, 2)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // Approximate distinct (HyperLogLog++): the oracle cannot reproduce
    // Spark's sketch, so the CONTRACT is what gets hash-checked — the
    // estimate must land within 5% of exact (rsd 0.01, so a 5-sigma
    // bound; deterministic for a fixed dataset — HLL has no RNG).
    Query("q75_approx_distinct", scale = false, build = { (s, dir) =>
      TestData.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.01).as("approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx") - col("n_exact")).cast("double") / col("n_exact")
            <= 0.05).as("within_5pct"))
        .orderBy("event_type")
    },
      // the oracle asserts the CONTRACT: estimates must sit inside the bound
      oracle =
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
        |       TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Hierarchical aggregate: ROLLUP(year, month).
    Query("q12_rollup", scale = false, build = { (s, dir) =>
      TestData.orders(s, dir)
        .rollup(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(moneyOut(sum(money(col("o_totalprice"))).cast("decimal(18,2)")).as("total"))
        .orderBy(asc_nulls_first("y"), asc_nulls_first("m"))
    }, oracle =
      s"""SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("o_totalprice")}) AS DECIMAL(18,2))")} AS total
          FROM orders
          GROUP BY ROLLUP (1, 2)
          ORDER BY y NULLS FIRST, m NULLS FIRST"""),

    // Set operations: INTERSECT / EXCEPT (distinct semantics).
    Query("q13_setops", scale = false, build = { (s, dir) =>
      val c = TestData.customer(s, dir)
      val rich = c.filter(col("c_acctbal") > 5000).select("c_mktsegment")
      val poor = c.filter(col("c_acctbal") < 0).select("c_mktsegment")
      rich.intersect(poor).withColumn("op", lit("both"))
        .unionByName(rich.except(poor).withColumn("op", lit("rich_only")))
        .orderBy("op", "c_mktsegment")
    }, oracle =
      s"""SELECT * FROM (
            SELECT c_mktsegment, 'both' AS op FROM (
              SELECT c_mktsegment FROM customer WHERE c_acctbal > 5000
              INTERSECT
              SELECT c_mktsegment FROM customer WHERE c_acctbal < 0)
            UNION ALL
            SELECT c_mktsegment, 'rich_only' AS op FROM (
              SELECT c_mktsegment FROM customer WHERE c_acctbal > 5000
              EXCEPT
              SELECT c_mktsegment FROM customer WHERE c_acctbal < 0))
          ORDER BY op, c_mktsegment"""),

    // Hierarchical aggregate: CUBE over two dimensions.
    Query("q14_cube", scale = false, build = { (s, dir) =>
      TestData.orders(s, dir)
        .cube(col("o_orderstatus").as("st"), col("o_orderpriority").as("pri"))
        .agg(moneyOut(sum(money(col("o_totalprice"))).cast("decimal(18,2)")).as("total"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("st"), asc_nulls_first("pri"))
    }, oracle =
      s"""SELECT o_orderstatus AS st, o_orderpriority AS pri,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("o_totalprice")}) AS DECIMAL(18,2))")} AS total,
                 COUNT(*) AS n
          FROM orders
          GROUP BY CUBE (1, 2)
          ORDER BY st NULLS FIRST, pri NULLS FIRST"""),

    // Statistical aggregates: exact interpolated median over decimal money.
    Query("q15_stats", scale = false, build = { (s, dir) =>
      TestData.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          moneyOut(min(money(col("o_totalprice")))).as("min_price"),
          moneyOut(max(money(col("o_totalprice")))).as("max_price"),
          // moneySql is valid Spark SQL too — one fragment, two engines
          expr(s"percentile(CAST(${moneySql("o_totalprice")} AS DOUBLE), 0.5)")
            .as("median_price"))
        .orderBy("o_orderpriority")
    }, oracle =
      s"""SELECT o_orderpriority,
                 COUNT(*) AS n,
                 ${moneyOutSql(s"MIN(${moneySql("o_totalprice")})")} AS min_price,
                 ${moneyOutSql(s"MAX(${moneySql("o_totalprice")})")} AS max_price,
                 quantile_cont(CAST(${moneySql("o_totalprice")} AS DOUBLE), 0.5) AS median_price
          FROM orders
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority"""),

    // Distinct aggregation (expand + two-phase under the hood).
    Query("q16_count_distinct", scale = false, build = { (s, dir) =>
      TestData.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }, oracle =
      s"""SELECT l_returnflag,
                 COUNT(DISTINCT l_suppkey) AS n_suppliers,
                 COUNT(DISTINCT l_partkey) AS n_parts,
                 COUNT(*) AS n_rows
          FROM lineitem
          GROUP BY l_returnflag
          ORDER BY l_returnflag"""),

    // Generator + spine: a continuous date dimension from sequence/explode,
    // left-joined to the data (the classic gap-free time axis).
    Query("q17_date_spine", scale = false, build = { (s, dir) =>
      val o = TestData.orders(s, dir)
      val bounds = o.agg(min(to_date(col("o_orderdate"))).as("lo"),
        max(to_date(col("o_orderdate"))).as("hi"))
      val spine = bounds.select(
        explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 DAY"))).as("day"))
      val daily = o.groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("day")
    }, oracle =
      s"""WITH bounds AS (
            SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi
            FROM orders),
          spine AS (
            SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
            FROM bounds),
          daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
            FROM orders GROUP BY 1)
          SELECT spine.day, coalesce(daily.n_orders, 0) AS n_orders
          FROM spine LEFT JOIN daily USING (day)
          ORDER BY day"""),

    // ---- Bank warehouse (SURVEY.md §2 parity): cleaning J1-J3/P2/P4,
    // dims D1-D12/A1-A3, fact J5-J9, dashboards A4-A6/O1-O3/D14.
    Query("q20_bank_clean_accounts", scale = false, build = { (s, dir) =>
      BankEtl.buildCached(s, dir).cleanAccounts.orderBy("AccountID")
    }, oracle =
      s"""$prelude
         |SELECT AccountID, CustomerID, AccountType, OpenDate
         |FROM clean_accounts ORDER BY AccountID""".stripMargin),

    Query("q21_bank_clean_customers", scale = false, build = { (s, dir) =>
      BankEtl.buildCached(s, dir).cleanCustomers.orderBy("CustomerID")
    }, oracle =
      s"""$prelude
         |SELECT CustomerID, FirstName, LastName, BirthDate, Gender, City, Country
         |FROM clean_customers ORDER BY CustomerID""".stripMargin),

    Query("q22_bank_clean_transactions", scale = false, build = { (s, dir) =>
      // Amount stays DECIMAL inside the warehouse; DOUBLE only at this boundary
      BankEtl.buildCached(s, dir).cleanTransactions
        .withColumn("Amount", moneyOut(col("Amount")))
        .orderBy("TransactionID")
    }, oracle =
      s"""$prelude
         |SELECT TransactionID, AccountID, MerchantName,
         |       CAST(Amount AS DOUBLE) AS Amount, TransactionTimestamp,
         |       TransactionCountry, BeneficiaryName, TransactionDescription
         |FROM clean_transactions ORDER BY TransactionID""".stripMargin),

    Query("q23_dim_customer", scale = false, build = { (s, dir) =>
      BankEtl.buildCached(s, dir).dimCustomer.orderBy("Customer_Key")
    }, oracle =
      s"""$prelude
         |SELECT Customer_Key, CustomerID_Source, CustomerName, Age_Group, Gender,
         |       City, Country, BirthDate
         |FROM dim_customer ORDER BY Customer_Key""".stripMargin),

    Query("q24_dim_account", scale = false, build = { (s, dir) =>
      BankEtl.buildCached(s, dir).dimAccount.orderBy("Account_Key")
    }, oracle =
      s"""$prelude
         |SELECT Account_Key, AccountID_Source, Account_Type, Account_Open_Date
         |FROM dim_account ORDER BY Account_Key""".stripMargin),

    Query("q25_dim_merchant", scale = false, build = { (s, dir) =>
      BankEtl.buildCached(s, dir).dimMerchant.orderBy("Merchant_Key")
    }, oracle =
      s"""$prelude
         |SELECT Merchant_Key, MerchantName_Source, Category
         |FROM dim_merchant ORDER BY Merchant_Key""".stripMargin),

    Query("q26_dim_location", scale = false, build = { (s, dir) =>
      BankEtl.buildCached(s, dir).dimLocation.orderBy("Location_Key")
    }, oracle =
      s"""$prelude
         |SELECT Location_Key, Transaction_Country, Transaction_Region
         |FROM dim_location ORDER BY Location_Key""".stripMargin),

    Query("q27_dim_date", scale = false, build = { (s, dir) =>
      BankEtl.buildCached(s, dir).dimDate.orderBy("Date_Key")
    }, oracle =
      s"""$prelude
         |SELECT Date_Key, Full_Date, Day_Of_Week, Day_Name, Is_Weekend, Month,
         |       Month_Name, Quarter, Year, Hour_Of_Day
         |FROM dim_date ORDER BY Date_Key""".stripMargin),

    Query("q28_fact_spending", scale = false, build = { (s, dir) =>
      BankEtl.buildCached(s, dir).fact
        .withColumn("Amount_Spent", moneyOut(col("Amount_Spent")))
        .orderBy("Transaction_Key")
    }, oracle =
      s"""$prelude
         |SELECT Transaction_Key, Date_Key, Customer_Key, Account_Key, Merchant_Key,
         |       Location_Key, CAST(Amount_Spent AS DOUBLE) AS Amount_Spent,
         |       Transaction_Count
         |FROM fact_spending
         |ORDER BY Transaction_Key""".stripMargin),

    // S2 with an oracle row: the MCC dictionary read from CSV (the
    // reference's actual dictionary medium, etl.py:55) joined to the
    // transactions — proves the CSV source feeds the classifier's join
    // identically to the parquet-derived dictionary.
    Query("q32_csv_mcc_enrich", scale = false, build = { (s, dir) =>
      BankAdapter.transactions(s, dir)
        .join(broadcast(CsvSource.mccMapping(s, mccBrandsCsv)), Seq("MerchantName"))
        .groupBy("Category")
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(col("Amount")).cast("decimal(18,2)")).as("total"))
        .orderBy("Category")
    }, oracle =
      s"""WITH ${BankAdapter.ctes}
          SELECT m.Category, COUNT(*) AS n,
                 CAST(CAST(SUM(t.Amount) AS DECIMAL(18,2)) AS DOUBLE) AS total
          FROM bank_transactions t
          JOIN read_csv('$mccBrandsCsv', header=true) m USING (MerchantName)
          GROUP BY m.Category
          ORDER BY m.Category"""),

    // The SQL-text entry point (dashboard.py's literal surface): same
    // dashboard, but through registerViews + spark.sql — Catalyst parses,
    // analyzes, and optimizes the SQL string; the result must hash-match
    // the same oracle as the DataFrame build.
    Query("q33_sql_dash_top_categories", scale = false, build = { (s, dir) =>
      val w = BankEtl.buildCached(s, dir)
      BankEtl.registerViews(w)
      s.sql(BankEtl.DashboardSql.topCategories)
    }, oracle = dashTopCategoriesOracle),

    Query("q34_sql_dash_trend", scale = false, build = { (s, dir) =>
      val w = BankEtl.buildCached(s, dir)
      BankEtl.registerViews(w)
      s.sql(BankEtl.DashboardSql.trend)
    }, oracle = dashTrendOracle),

    Query("q35_sql_dash_age_groups", scale = false, build = { (s, dir) =>
      val w = BankEtl.buildCached(s, dir)
      BankEtl.registerViews(w)
      s.sql(BankEtl.DashboardSql.ageGroups)
    }, oracle = dashAgeGroupsOracle),

    // S5 with an oracle row: every FK/PK constraint check as one lazy
    // DataFrame; all-zero violation counts are themselves the asserted
    // result, hash-matched against the oracle's anti-join/dup counts.
    Query("q37_data_quality", scale = false, build = { (s, dir) =>
      DataQuality.checksDf(BankEtl.buildCached(s, dir))
    },
      // S5 twin: FK orphan / PK dup counts, generated from the SAME
      // DataQuality.dimKeys list the engine iterates.
      oracle = {
      val branches = graft.operators.DataQuality.dimKeys.flatMap {
        case (name, cte, key) => Seq(
          s"""SELECT 'fact.$key orphans' AS check_name, COUNT(*) AS violations
             |FROM fact_spending f
             |WHERE NOT EXISTS (SELECT 1 FROM $cte d WHERE d.$key = f.$key)""".stripMargin,
          s"""SELECT '$name dup keys' AS check_name,
             |       COUNT($key) - COUNT(DISTINCT $key) AS violations
             |FROM $cte""".stripMargin)
      }
      s"""$prelude
         |SELECT check_name, violations FROM (
         |${branches.mkString("\nUNION ALL\n")}
         |) ORDER BY check_name""".stripMargin
    }),

    Query("q29_dash_trend", scale = false, build = { (s, dir) =>
      val w = BankEtl.buildCached(s, dir)
      BankEtl.dashTrend(w.fact, w.dimDate)
    }, oracle = dashTrendOracle),

    Query("q30_dash_top_categories", scale = false, build = { (s, dir) =>
      val w = BankEtl.buildCached(s, dir)
      BankEtl.dashTopCategories(w.fact, w.dimMerchant)
    }, oracle = dashTopCategoriesOracle),

    Query("q31_dash_age_groups", scale = false, build = { (s, dir) =>
      val w = BankEtl.buildCached(s, dir)
      BankEtl.dashAgeGroups(w.fact, w.dimCustomer)
    }, oracle = dashAgeGroupsOracle),

    // First-order Markov transition matrix over per-user event sequences.
    Query("q126_markov_transitions", scale = true, build = { (s, dir) =>
      Events.markovTransitions(TestData.events(s, dir))
        .orderBy("prev_type", "next_type")
    }, oracle =
      s"""${Events.markovTransitionsSql}
          ORDER BY prev_type, next_type"""),

    // Exact median + MAD per event type (robust location/scale).
    Query("q127_robust_spread", scale = true, build = { (s, dir) =>
      Profile.robustSpread(TestData.events(s, dir)).orderBy("event_type")
    }, oracle =
      s"""WITH ${Profile.robustSpreadSql}
          SELECT event_type, median, mad FROM robust_spread ORDER BY event_type"""),

    // DAU + trailing-7-day WAU via bounded-fanout sliding distinct.
    Query("q132_active_users", scale = true, build = { (s, dir) =>
      Events.activeUsers(TestData.events(s, dir)).orderBy("day")
    }, oracle =
      s"""WITH ${Events.activeUsersSql()}
          SELECT day, dau, wau FROM active_users ORDER BY day"""),

    // Exact OLS spend slope per event type (drift detection, no ML lib).
    Query("q133_spend_trend", scale = true, build = { (s, dir) =>
      Events.spendTrend(TestData.events(s, dir)).orderBy("event_type")
    }, oracle =
      s"""WITH ${Events.spendTrendSql}
          SELECT event_type, n, slope_cents_per_day FROM spend_trend
          ORDER BY event_type"""),

    // Hourly burst score vs trailing 24h window (range window on hours).
    Query("q136_hourly_bursts", scale = true, build = { (s, dir) =>
      Events.hourlyBursts(TestData.events(s, dir)).orderBy("hour")
    }, oracle =
      s"""WITH ${Events.hourlyBurstsSql()}
          SELECT hour, n, trailing_n, n_window, score FROM hourly_bursts
          ORDER BY hour"""),

    // Functional-dependency audit on orders (key FD holds; others don't).
    Query("q137_fd_audit", scale = false, build = { (s, dir) =>
      DataQuality.fdAudit(TestData.orders(s, dir), fdSpecs).orderBy("fd")
    }, oracle =
      s"""SELECT * FROM (
          ${DataQuality.fdAuditSql("orders", fdSpecs)}
          ) ORDER BY fd"""),

    // Exact percentile_disc suite per type, one window pass for all cuts.
    Query("q138_quantile_suite", scale = true, build = { (s, dir) =>
      Profile.quantileSuite(TestData.events(s, dir)).orderBy("event_type")
    }, oracle =
      s"""WITH ${Profile.quantileSuiteSql()}
          SELECT event_type, p25, p50, p75, p90, p99 FROM quantile_suite
          ORDER BY event_type"""),

    // TPC-H Q5 shape: six-table star join, local-supplier revenue per
    // region/nation. region+nation (bounded: 5/25 rows) are broadcast;
    // the three data-sized joins are left to AQE (broadcast at test
    // scale, shuffled co-partitioned on the cluster).
    Query("q139_local_supplier_volume", scale = false, build = { (s, dir) =>
      val rn = TestData.nation(s, dir)
        .join(broadcast(TestData.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
      TestData.lineitem(s, dir)
        .join(TestData.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(TestData.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(TestData.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(rn), col("s_nationkey") === col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(
          moneyOut(sum(money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("decimal(18,2)")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }, oracle =
      s"""SELECT r_name, n_name,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice * (1 - l_discount)")}) AS DECIMAL(18,2))")} AS revenue,
                 COUNT(*) AS n_items
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name
          ORDER BY r_name, n_name"""),

    // Referential-integrity audit across the raw TPC-H feed: FK orphan
    // counts (anti-joins over pruned key projections) + PK dup counts,
    // one lazy unioned frame — the q37 shape for the analytics tables.
    Query("q140_tpch_integrity", scale = false, build = { (s, dir) =>
      def orphans(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame =
        child.select(col(ck)).join(parent.select(col(pk)),
            col(ck) === col(pk), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit(name).as("check_name"), col("violations"))
      def dups(name: String, df: DataFrame, keys: String*): DataFrame =
        df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
          .agg(sum(when(col("c") > 1, 1L).otherwise(0L)).as("violations"))
          .select(lit(name).as("check_name"), col("violations"))
      val (li, o, c, su, na, re) = (TestData.lineitem(s, dir),
        TestData.orders(s, dir), TestData.customer(s, dir),
        TestData.supplier(s, dir), TestData.nation(s, dir),
        TestData.region(s, dir))
      Seq(
        orphans("lineitem.l_orderkey orphans", li, "l_orderkey", o, "o_orderkey"),
        orphans("orders.o_custkey orphans", o, "o_custkey", c, "c_custkey"),
        orphans("customer.c_nationkey orphans", c, "c_nationkey", na, "n_nationkey"),
        orphans("supplier.s_nationkey orphans", su, "s_nationkey", na, "n_nationkey"),
        orphans("nation.n_regionkey orphans", na, "n_regionkey", re, "r_regionkey"),
        dups("orders pk dups", o, "o_orderkey"),
        dups("customer pk dups", c, "c_custkey"),
        dups("supplier pk dups", su, "s_suppkey"),
        dups("lineitem pk dups", li, "l_orderkey", "l_linenumber"))
        .reduce(_ unionByName _).orderBy("check_name")
    }, oracle =
      """SELECT * FROM (
           SELECT 'lineitem.l_orderkey orphans' AS check_name, COUNT(*) AS violations
           FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
           WHERE o.o_orderkey IS NULL
         UNION ALL
           SELECT 'orders.o_custkey orphans', COUNT(*)
           FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
           WHERE c.c_custkey IS NULL
         UNION ALL
           SELECT 'customer.c_nationkey orphans', COUNT(*)
           FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
           WHERE n.n_nationkey IS NULL
         UNION ALL
           SELECT 'supplier.s_nationkey orphans', COUNT(*)
           FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
           WHERE n.n_nationkey IS NULL
         UNION ALL
           SELECT 'nation.n_regionkey orphans', COUNT(*)
           FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_regionkey IS NULL
         UNION ALL
           SELECT 'orders pk dups', CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) g
         UNION ALL
           SELECT 'customer pk dups', CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           FROM (SELECT COUNT(*) AS c FROM customer GROUP BY c_custkey) g
         UNION ALL
           SELECT 'supplier pk dups', CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           FROM (SELECT COUNT(*) AS c FROM supplier GROUP BY s_suppkey) g
         UNION ALL
           SELECT 'lineitem pk dups', CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber) g
         ) ORDER BY check_name"""),

    // TPC-H Q3 shape: segment filter + a date window split across two
    // tables, revenue per order, global top 10. Both date predicates are
    // scan-pushed; the two data-sized joins go to AQE; the top-k is
    // TakeOrderedAndProject (never a global sort). Ties on revenue break
    // by l_orderkey so the kept set is a total order on any engine.
    Query("q148_shipping_priority", scale = true, build = { (s, dir) =>
      val cut = lit("1998-06-01 00:00:00").cast("timestamp_ntz")
      TestData.lineitem(s, dir).filter(col("l_shipdate") > cut)
        .join(TestData.orders(s, dir).filter(col("o_orderdate") < cut),
          col("l_orderkey") === col("o_orderkey"))
        .join(TestData.customer(s, dir)
            .filter(col("c_mktsegment") === "BUILDING").select("c_custkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100
            + dayofmonth(col("o_orderdate"))).cast("int").as("order_ymd"),
          col("o_orderpriority"))
        .agg(moneyOut(sum(money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("decimal(18,2)")).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, oracle =
      s"""SELECT l_orderkey,
                 CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
                      + day(o_orderdate) AS INT) AS order_ymd,
                 o_orderpriority,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice * (1 - l_discount)")}) AS DECIMAL(18,2))")} AS revenue
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1998-06-01'
            AND l_shipdate > TIMESTAMP '1998-06-01'
          GROUP BY 1, 2, 3
          ORDER BY revenue DESC, l_orderkey
          LIMIT 10"""),

    // Correlated-subquery shape, decorrelated by hand: customers whose
    // lifetime spend exceeds 2x their nation's per-customer average. The
    // per-row subquery becomes one customer-grain aggregate reused on
    // both sides (nation totals are a 25-row broadcast), and the
    // comparison is cross-multiplied in exact BIGINT cents so no average
    // is ever materialized as a float.
    Query("q149_above_nation_avg", scale = true, build = { (s, dir) =>
      val spend = TestData.customer(s, dir)
        .join(TestData.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(coalesce(sum(quant(col("o_totalprice"), 100)), lit(0L)).as("cents"))
      val nat = spend.groupBy("c_nationkey")
        .agg(sum("cents").as("nation_cents"), count(lit(1)).as("n_cust"))
      spend.join(broadcast(nat), Seq("c_nationkey"))
        .filter(col("cents") * col("n_cust") > lit(2L) * col("nation_cents"))
        .join(broadcast(TestData.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"),
          (col("cents").cast("double") / lit(100.0)).as("spend"))
        .orderBy("c_custkey")
    }, oracle =
      s"""WITH spend AS (
            SELECT c_custkey, c_nationkey,
                   COALESCE(SUM(${quantSql("o_totalprice", 100)}), 0) AS cents
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey, c_nationkey),
          nat AS (
            SELECT c_nationkey, CAST(SUM(cents) AS BIGINT) AS nation_cents,
                   COUNT(*) AS n_cust
            FROM spend GROUP BY c_nationkey)
          SELECT s.c_custkey, n.n_name, CAST(s.cents AS DOUBLE) / 100.0 AS spend
          FROM spend s
          JOIN nat a ON s.c_nationkey = a.c_nationkey
          JOIN nation n ON s.c_nationkey = n.n_nationkey
          WHERE s.cents * a.n_cust > 2 * a.nation_cents
          ORDER BY s.c_custkey"""),

    // Watermark-lateness audit: the measured out-of-orderness distribution
    // a streaming deployment sizes its watermark from (q64/q68/q84's knob).
    Query("q150_lateness_audit", scale = false, build = { (s, dir) =>
      Events.latenessAudit(TestData.events(s, dir)).orderBy("event_type", "band")
    }, oracle =
      s"""WITH ${Events.latenessAuditSql}
          SELECT event_type, band, n, max_late_ms FROM lateness_audit
          ORDER BY event_type, band"""),

    // Same audit under an md5-permuted (worst-case disordered) arrival
    // order, so every lateness band is exercised against the oracle —
    // q150 on the ingest-ordered feed legitimately reports all on_time.
    Query("q152_lateness_disordered", scale = true, build = { (s, dir) =>
      Events.latenessDisordered(TestData.events(s, dir)).orderBy("event_type", "band")
    }, oracle =
      s"""WITH ${Events.latenessDisorderedSql}
          SELECT event_type, band, n, max_late_ms FROM lateness_audit
          ORDER BY event_type, band"""),

    // Data-driven salting plan: per-key counts -> capped ceil-division salt
    // fan-out (q70's manual salting turned into a measured decision).
    Query("q153_skew_plan", scale = true, build = { (s, dir) =>
      Planning.skewPlan(TestData.events(s, dir), "event_type", 1500L)
        .orderBy("event_type")
    }, oracle =
      s"""WITH ${Planning.skewPlanSql("events", "event_type", 1500L)}
          SELECT event_type, n, salt_factor FROM skew_plan
          ORDER BY event_type"""),

    // Join-cardinality estimate from two constant-size KMV sketches over
    // the click/view user-day key sets (q101's join, sized without running
    // it), audited against the exact overlap.
    Query("q154_kmv_join_estimate", scale = true, build = { (s, dir) =>
      val ev = TestData.events(s, dir)
      def side(t: String) = ev.filter(col("event_type") === t)
        .select((col("user_id") * 1000000L
          + expr("ts_ns DIV 86400000000000")).as("key"))
      Planning.kmvJoinOverlap(side("click"), side("view"), "key")
    }, oracle =
      s"""WITH ${Planning.kmvJoinOverlapSql(
              "SELECT CAST(user_id * 1000000 + epoch_ms(ts)//86400000 AS VARCHAR) AS key FROM events WHERE event_type = 'click'",
              "SELECT CAST(user_id * 1000000 + epoch_ms(ts)//86400000 AS VARCHAR) AS key FROM events WHERE event_type = 'view'")}
          SELECT n_a, n_b, n_inter, union_estimate, inter_estimate, rel_err
          FROM kmv_overlap"""),

    // Bloom-filter semi-join pruning audit: events on purchase user-days,
    // pruned by an in-plan-sized bloom over the purchase key set; the
    // audit row measures exactly what the filter saved and what its false
    // positives cost.
    Query("q157_bloom_semi_audit", scale = true, build = { (s, dir) =>
      val ev = TestData.events(s, dir)
      def ud = (col("user_id") * 1000000L
        + expr("ts_ns DIV 86400000000000")).as("key")
      Planning.bloomSemiAudit(
        ev.filter(col("event_type") === "purchase").select(ud),
        ev.select(ud), "key")
    }, oracle =
      s"""WITH ${Planning.bloomSemiAuditSql(
              "SELECT CAST(user_id * 1000000 + epoch_ms(ts)//86400000 AS VARCHAR) AS key FROM events WHERE event_type = 'purchase'",
              "SELECT CAST(user_id * 1000000 + epoch_ms(ts)//86400000 AS VARCHAR) AS key FROM events")}
          SELECT n_probe_rows, n_pass_rows, n_true_rows, n_fp_rows,
                 neg_keys, fp_keys, fp_key_rate
          FROM bloom_audit"""),

    // Gaps-and-islands: per-user maximal consecutive-active-day streaks.
    Query("q158_activity_islands", scale = true, build = { (s, dir) =>
      Events.activityIslands(TestData.events(s, dir))
        .orderBy("user_id", "start_day")
    }, oracle =
      s"""WITH ${Events.activityIslandsSql}
          SELECT user_id, start_day, end_day, len_days FROM activity_islands
          ORDER BY user_id, start_day"""),

    // Exact weighted median (lower-median rule: first grid point where
    // 2*cum >= total). The q85 trick generalized: collapse rows onto the
    // (group, price-cent) grid FIRST — the cumulative window then runs
    // over the bounded grid (distinct price points, domain-bounded at any
    // corpus size), never over raw rows.
    Query("q151_weighted_median", scale = true, build = { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val grid = TestData.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"),
          quant(col("l_extendedprice"), 100).as("cents"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
      val cum = Window.partitionBy("flag").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
      grid
        .withColumn("cum", sum("w").over(cum))
        .withColumn("tot", sum("w").over(Window.partitionBy("flag")))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy("flag")
        .agg(min("cents").as("mc"), min("tot").as("total_qty"))
        .select(col("flag"),
          (col("mc").cast("double") / lit(100.0)).as("weighted_median"),
          col("total_qty"))
        .orderBy("flag")
    }, oracle =
      s"""WITH wm_grid AS (
            SELECT l_returnflag AS flag, ${quantSql("l_extendedprice", 100)} AS cents,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
            FROM lineitem GROUP BY 1, 2),
          wm_cum AS (
            SELECT flag, cents, w,
                   SUM(w) OVER (PARTITION BY flag ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(w) OVER (PARTITION BY flag) AS tot
            FROM wm_grid)
          SELECT flag, CAST(MIN(cents) AS DOUBLE) / 100.0 AS weighted_median,
                 CAST(MIN(tot) AS BIGINT) AS total_qty
          FROM wm_cum WHERE cum * 2 >= tot
          GROUP BY flag ORDER BY flag"""),

    // Ratio-to-total window: each returnflag's share of its ship-month's
    // revenue. Cent sums are exact; the ONE division per row divides
    // integers both engines agree on. The share window reads the
    // month-grain aggregate (bounded by the calendar), never raw rows.
    Query("q166_revenue_share", scale = true, build = { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val monthly = TestData.lineitem(s, dir)
        .groupBy(
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("ym"),
          col("l_returnflag").as("flag"))
        .agg(sum(quant(col("l_extendedprice"), 100)).as("cents"))
      monthly
        .withColumn("month_cents", sum("cents").over(Window.partitionBy("ym")))
        .select(col("ym"), col("flag"), col("cents"),
          (col("cents").cast("double") / col("month_cents").cast("double"))
            .as("share"))
        .orderBy("ym", "flag")
    }, oracle =
      s"""WITH rs_m AS (
            SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS ym,
                   l_returnflag AS flag,
                   CAST(SUM(${quantSql("l_extendedprice", 100)}) AS BIGINT) AS cents
            FROM lineitem GROUP BY 1, 2)
          SELECT ym, flag, cents,
                 CAST(cents AS DOUBLE)
                   / CAST(SUM(cents) OVER (PARTITION BY ym) AS DOUBLE) AS share
          FROM rs_m ORDER BY ym, flag"""),

    // Cumulative-distinct growth curve: users are counted on their FIRST
    // active day only (a per-user min), so the running total is an exact
    // cumulative COUNT(DISTINCT) without distinct-state in the window —
    // which runs over the day-grain frame (calendar-bounded, like q151's
    // grid), never over events.
    Query("q167_user_growth", scale = true, build = { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val firstDay = TestData.events(s, dir)
        .groupBy("user_id")
        .agg(min(expr("ts_ns DIV 86400000000000")).as("day"))
      firstDay.groupBy("day").agg(count(lit(1)).as("new_users"))
        .withColumn("cum_users",
          sum("new_users").over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy("day")
    }, oracle =
      s"""WITH ug_f AS (
            SELECT user_id, MIN(epoch_ms(ts) // 86400000) AS day
            FROM events GROUP BY user_id),
          ug_d AS (SELECT day, COUNT(*) AS new_users FROM ug_f GROUP BY day)
          SELECT day, new_users,
                 CAST(SUM(new_users) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_users
          FROM ug_d ORDER BY day"""),

    // Winsorized (p05/p95-clipped) mean price per returnflag — robust
    // feature cleaning on the q151 grid: clip points come from the same
    // cumulative window over the domain-bounded cent grid, the clipped
    // sum is all-integer, and ONE division yields the mean.
    Query("q162_winsorized_mean", scale = true, build = { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val grid = TestData.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"),
          quant(col("l_extendedprice"), 100).as("cents"))
        .agg(count(lit(1)).as("w"))
      val cum = Window.partitionBy("flag").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
      val g = grid
        .withColumn("cum", sum("w").over(cum))
        .withColumn("tot", sum("w").over(Window.partitionBy("flag")))
      val lo = g.filter(col("cum") * 20 >= col("tot"))
        .groupBy("flag").agg(min("cents").as("lo_cents"))
      val hi = g.filter(col("cum") * 20 >= col("tot") * 19)
        .groupBy("flag").agg(min("cents").as("hi_cents"))
      grid.join(broadcast(lo), Seq("flag")).join(broadcast(hi), Seq("flag"))
        .groupBy(col("flag"), col("lo_cents"), col("hi_cents"))
        .agg(sum(col("w")
            * greatest(col("lo_cents"), least(col("hi_cents"), col("cents"))))
          .as("clipped_cents"), sum("w").as("n"))
        .select(col("flag"), col("lo_cents"), col("hi_cents"), col("n"),
          (col("clipped_cents").cast("double")
            / (col("n") * 100L).cast("double")).as("winsorized_mean"))
        .orderBy("flag")
    }, oracle =
      s"""WITH wz_grid AS (
            SELECT l_returnflag AS flag, ${quantSql("l_extendedprice", 100)} AS cents,
                   COUNT(*) AS w
            FROM lineitem GROUP BY 1, 2),
          wz_cum AS (
            SELECT flag, cents, w,
                   SUM(w) OVER (PARTITION BY flag ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(w) OVER (PARTITION BY flag) AS tot
            FROM wz_grid),
          wz_lo AS (SELECT flag, MIN(cents) AS lo_cents FROM wz_cum
                    WHERE cum * 20 >= tot GROUP BY flag),
          wz_hi AS (SELECT flag, MIN(cents) AS hi_cents FROM wz_cum
                    WHERE cum * 20 >= tot * 19 GROUP BY flag)
          SELECT g.flag, l.lo_cents, h.hi_cents,
                 CAST(SUM(g.w) AS BIGINT) AS n,
                 CAST(SUM(g.w * GREATEST(l.lo_cents, LEAST(h.hi_cents, g.cents))) AS DOUBLE)
                   / CAST(SUM(g.w) * 100 AS DOUBLE) AS winsorized_mean
          FROM wz_grid g
          JOIN wz_lo l ON l.flag = g.flag
          JOIN wz_hi h ON h.flag = g.flag
          GROUP BY g.flag, l.lo_cents, h.hi_cents
          ORDER BY g.flag"""),

    // TPC-H Q18 shape ("big customers"): a fact-scale groupBy whose
    // HAVING-filtered output becomes the build side that prunes the same
    // fact's orders — aggregate, then semi-join-like prune, then top-k.
    // The build side is left to AQE deliberately: at this selectivity it
    // converts to a runtime broadcast; at a scale where the filtered set
    // outgrows the threshold it stays a shuffle join — exactly the
    // decision q163's advisor measures. Top-100 is TakeOrderedAndProject
    // (bounded heap), tie-broken by o_orderkey for a total order.
    Query("q168_big_customer_orders", scale = true, build = { (s, dir) =>
      val big = TestData.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 250L)
      TestData.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(TestData.customer(s, dir).select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100
            + dayofmonth(col("o_orderdate"))).cast("int").as("order_ymd"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }, oracle =
      s"""WITH big AS (
            SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem GROUP BY 1
            HAVING SUM(CAST(l_quantity AS BIGINT)) > 250)
          SELECT c_name, c_custkey, o_orderkey,
                 CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
                      + day(o_orderdate) AS INT) AS order_ymd,
                 o_totalprice, sum_qty
          FROM orders
          JOIN big ON o_orderkey = big.l_orderkey
          JOIN customer ON c_custkey = o_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 100"""),

    // The q153 plan EXECUTED: the measured per-key salt fan-out drives a
    // two-phase salted aggregate whose result must hash-match the plain
    // groupBy (the oracle) — the salt only rewrites where rows meet.
    Query("q169_salted_plan_exec", scale = true, build = { (s, dir) =>
      Planning.executeSkewPlan(TestData.events(s, dir), "event_type",
          money(col("value")), saltFrom = col("event_id"),
          targetRowsPerSalt = 1500L)
        .select(col("event_type"), col("n"),
          col("total").cast("decimal(18,2)").cast("double").as("total_value"))
        .orderBy("event_type")
    }, oracle =
      s"""SELECT event_type, COUNT(*) AS n,
                 CAST(CAST(SUM(${moneySql("value")}) AS DECIMAL(18,2)) AS DOUBLE)
                   AS total_value
          FROM events GROUP BY event_type ORDER BY event_type"""),

    // TPC-H Q22/Q16 hybrid shape (anti-join tier): a measured scalar
    // threshold (1.8x the average line quantity, cross-multiplied so no
    // average is ever a float), an ANTI join against the parts that DO
    // have a near-capacity line, and a brand rollup of the quiet rest.
    // The dense-FK testdata makes the textbook "customers with no orders"
    // empty, so the anti-join semantics are exercised where the data has
    // real negatives. The threshold stats are a 1-row broadcast; the anti
    // join's build side is the DISTINCT qualifying part-key set.
    Query("q171_quiet_parts", scale = true, build = { (s, dir) =>
      val li = TestData.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"))
      val stats = li.agg(sum("qty").as("sq"), count(lit(1)).as("cnt"))
      val big = li.crossJoin(broadcast(stats))
        .filter(col("qty") * 10L * col("cnt") > lit(18L) * col("sq"))
        .select("l_partkey").distinct()
      TestData.part(s, dir)
        .join(big, col("p_partkey") === col("l_partkey"), "left_anti")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("p_brand")
    }, oracle =
      s"""WITH qp_s AS (
            SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
                   COUNT(*) AS cnt
            FROM lineitem),
          qp_big AS (
            SELECT DISTINCT l_partkey FROM lineitem, qp_s
            WHERE CAST(l_quantity AS BIGINT) * 10 * cnt > 18 * sq)
          SELECT p_brand, COUNT(*) AS n_parts
          FROM part p
          WHERE NOT EXISTS (SELECT 1 FROM qp_big b WHERE b.l_partkey = p.p_partkey)
          GROUP BY p_brand
          ORDER BY p_brand"""),

    // TPC-H Q15 shape (argmax with ties): quarterly revenue per supplier,
    // then the supplier(s) AT the maximum — the "top view" pattern where
    // the max is a 1-row broadcast back over the aggregate (never a global
    // sort), and ties survive by construction (equality join on the exact
    // decimal, no LIMIT 1 that would drop a tied supplier).
    Query("q174_top_supplier", scale = true, build = { (s, dir) =>
      val lo = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1998-04-01 00:00:00").cast("timestamp_ntz")
      val rev = TestData.lineitem(s, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy("l_suppkey")
        .agg(sum(money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("decimal(18,2)").as("rev"))
      val mx = rev.agg(max("rev").as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("rev") === col("mx"))
        .join(broadcast(TestData.supplier(s, dir).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          moneyOut(col("rev")).as("total_revenue"))
        .orderBy("s_suppkey")
    }, oracle =
      s"""WITH ts_rev AS (
            SELECT l_suppkey,
                   CAST(SUM(${moneySql("l_extendedprice * (1 - l_discount)")}) AS DECIMAL(18,2)) AS rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1998-01-01'
              AND l_shipdate < TIMESTAMP '1998-04-01'
            GROUP BY 1)
          SELECT s_suppkey, s_name, ${moneyOutSql("rev")} AS total_revenue
          FROM ts_rev JOIN supplier ON l_suppkey = s_suppkey
          WHERE rev = (SELECT MAX(rev) FROM ts_rev)
          ORDER BY s_suppkey"""),

    // TPC-H Q13 shape (count-of-counts): LEFT OUTER join with the filter
    // INSIDE the join condition (customers keep their row even when every
    // order is filtered away — a WHERE would silently turn the outer join
    // inner), then a double aggregation: orders-per-customer, then
    // customers-per-order-count. The second groupBy runs over one row per
    // customer — tiny — so the plan cost is one fact shuffle + one
    // broadcast-sized re-group.
    Query("q175_order_count_distribution", scale = true, build = { (s, dir) =>
      TestData.customer(s, dir)
        .join(TestData.orders(s, dir).filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }, oracle =
      s"""SELECT c_count, custdist FROM (
            SELECT c_count, COUNT(*) AS custdist FROM (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey) ocd_pc
            GROUP BY c_count) ocd_d
          ORDER BY custdist DESC, c_count DESC"""),

    // TPC-H Q17 shape (aggregate-join-back on the same fact): per-part
    // average line quantity feeds a filter on individual lines of that
    // part (qty < 0.2 * avg, cross-multiplied to exact integers:
    // 5*qty*cnt < sum). The per-part aggregate is orders of magnitude
    // smaller than the fact, so its join back is broadcast-able; the brand
    // dim filter broadcasts into both sides. One output row — Q17's
    // "avg_yearly" with the division performed exactly once at the edge.
    Query("q176_small_quantity_revenue", scale = true, build = { (s, dir) =>
      val parts = TestData.part(s, dir)
        .filter(col("p_brand") === "Brand#13").select("p_partkey")
      val li = TestData.lineitem(s, dir)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          money(col("l_extendedprice")).as("price"))
      val perPart = li.groupBy("l_partkey")
        .agg(sum("qty").as("sum_qty"), count(lit(1)).as("cnt_p"))
      li.join(broadcast(perPart), Seq("l_partkey"))
        .filter(col("qty") * 5L * col("cnt_p") < col("sum_qty"))
        .agg(
          (sum(col("price")).cast("decimal(18,2)").cast("double") / 7.0)
            .as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    }, oracle =
      s"""WITH sq_li AS (
            SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                   ${moneySql("l_extendedprice")} AS price
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#13'),
          sq_pp AS (
            SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty,
                   COUNT(*) AS cnt_p
            FROM sq_li GROUP BY 1)
          SELECT CAST(CAST(SUM(price) AS DECIMAL(18,2)) AS DOUBLE) / 7.0
                   AS avg_yearly,
                 COUNT(*) AS n_lines
          FROM sq_li JOIN sq_pp USING (l_partkey)
          WHERE qty * 5 * cnt_p < sum_qty"""),

    // TPC-H Q21 shape (semi + anti self-joins on the fact): the supplier
    // whose line shipped LAST in a multi-supplier order, with no other
    // supplier tying that max — EXISTS(other supplier in order) AND NOT
    // EXISTS(other supplier shipping >= me). Both self-joins are equi on
    // l_orderkey with residual θ-conditions, so they shuffle once on the
    // order key and never cartesian. Top-10 is a bounded heap.
    Query("q177_blocking_supplier", scale = true, build = { (s, dir) =>
      val li = TestData.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val other = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"),
        col("l_shipdate").as("d2"))
      val last = li
        .join(other, col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"),
          "left_semi")
        .join(other,
          col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2")
            && col("d2") >= col("l_shipdate"), "left_anti")
      last.groupBy("l_suppkey")
        .agg(countDistinct(col("l_orderkey")).as("numwait"))
        .join(broadcast(TestData.supplier(s, dir).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    }, oracle =
      s"""WITH bs_li AS (
            SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem)
          SELECT s_name, COUNT(DISTINCT l_orderkey) AS numwait
          FROM bs_li l1 JOIN supplier ON l1.l_suppkey = s_suppkey
          WHERE EXISTS (
              SELECT 1 FROM bs_li l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (
              SELECT 1 FROM bs_li l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate >= l1.l_shipdate)
          GROUP BY s_name
          ORDER BY numwait DESC, s_name LIMIT 10"""),

    // TPC-H Q11 shape (HAVING over a global scalar): per-part revenue from
    // one region's suppliers, kept only when it exceeds 1/2000 of the
    // regional total. The total is a 1-row broadcast; the comparison is
    // cross-multiplied on exact decimal cents so no engine ever divides.
    Query("q178_important_parts", scale = true, build = { (s, dir) =>
      val asia = TestData.supplier(s, dir)
        .join(broadcast(TestData.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(TestData.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey")
      val value = TestData.lineitem(s, dir)
        .join(broadcast(asia), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey").as("partkey"))
        .agg(sum(money(col("l_extendedprice"))).cast("decimal(18,2)").as("v"))
      val total = value.agg(sum(col("v")).cast("decimal(20,2)").as("tot"))
      value.crossJoin(broadcast(total))
        .filter(col("v") * 2000 > col("tot"))
        .select(col("partkey"), moneyOut(col("v")).as("value"))
        .orderBy(col("value").desc, col("partkey"))
    }, oracle =
      s"""WITH ip_asia AS (
            SELECT s_suppkey FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'),
          ip_val AS (
            SELECT l_partkey AS partkey,
                   CAST(SUM(${moneySql("l_extendedprice")}) AS DECIMAL(18,2)) AS v
            FROM lineitem JOIN ip_asia ON l_suppkey = s_suppkey
            GROUP BY 1),
          ip_tot AS (SELECT CAST(SUM(v) AS DECIMAL(20,2)) AS tot FROM ip_val)
          SELECT partkey, ${moneyOutSql("v")} AS value
          FROM ip_val, ip_tot
          WHERE v * 2000 > tot
          ORDER BY value DESC, partkey"""),

    // TPC-H Q8 shape (market share): per order-year, the revenue fraction
    // contributed by one nation's suppliers among orders placed by one
    // region's customers. Conditional cent-exact sums; the share is ONE
    // double division per year at the output boundary. Dims broadcast;
    // the fact shuffles only for the orders and customer equi-joins.
    Query("q179_market_share", scale = true, build = { (s, dir) =>
      val amerCust = TestData.customer(s, dir)
        .join(broadcast(TestData.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(TestData.region(s, dir).filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey")
      val suppNation = TestData.supplier(s, dir)
        .join(broadcast(TestData.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      TestData.lineitem(s, dir)
        .join(TestData.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(amerCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .select(year(col("o_orderdate")).as("o_year"),
          money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("vol"),
          col("supp_nation"))
        .groupBy("o_year")
        .agg(
          sum(when(col("supp_nation") === "NATION_3", col("vol")).otherwise(lit(0)))
            .cast("decimal(18,2)").as("nat"),
          sum(col("vol")).cast("decimal(18,2)").as("tot"))
        .select(col("o_year"),
          (col("nat").cast("double") / col("tot").cast("double")).as("mkt_share"),
          moneyOut(col("tot")).as("total_volume"))
        .orderBy("o_year")
    }, oracle =
      s"""WITH ms_cust AS (
            SELECT c_custkey FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'AMERICA'),
          ms_agg AS (
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   CAST(SUM(CASE WHEN n_name = 'NATION_3'
                     THEN ${moneySql("l_extendedprice * (1 - l_discount)")}
                     ELSE 0 END) AS DECIMAL(18,2)) AS nat,
                   CAST(SUM(${moneySql("l_extendedprice * (1 - l_discount)")})
                     AS DECIMAL(18,2)) AS tot
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE o_custkey IN (SELECT c_custkey FROM ms_cust)
            GROUP BY 1)
          SELECT o_year, CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE) AS mkt_share,
                 ${moneyOutSql("tot")} AS total_volume
          FROM ms_agg ORDER BY o_year"""),

    // TPC-H Q20 shape (nested aggregate → semi-join chain): suppliers
    // holding more than 1/8 of a promo part's total flow (the fraction is
    // chosen to make the predicate selective-but-nonempty at every SF). Two-level
    // aggregation on the same fact (pair grain, then part grain), the
    // part-grain frame broadcast back onto the pair grain, and the
    // distinct qualifying suppliers semi-join into the supplier dim.
    Query("q184_excess_stock_suppliers", scale = true, build = { (s, dir) =>
      val promo = TestData.part(s, dir)
        .filter(col("p_type") === "PROMO").select("p_partkey")
      val li = TestData.lineitem(s, dir)
        .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"))
      val perPair = li.groupBy("l_partkey", "l_suppkey")
        .agg(sum("qty").as("qty_sp"))
      val perPart = perPair.groupBy("l_partkey").agg(sum("qty_sp").as("qty_p"))
      val excess = perPair.join(broadcast(perPart), Seq("l_partkey"))
        .filter(col("qty_sp") * 8L > col("qty_p"))
        .select("l_suppkey").distinct()
      TestData.supplier(s, dir)
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(TestData.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy("s_suppkey")
    }, oracle =
      s"""WITH es_li AS (
            SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_type = 'PROMO'),
          es_sp AS (
            SELECT l_partkey, l_suppkey, CAST(SUM(qty) AS BIGINT) AS qty_sp
            FROM es_li GROUP BY 1, 2),
          es_p AS (
            SELECT l_partkey, CAST(SUM(qty_sp) AS BIGINT) AS qty_p
            FROM es_sp GROUP BY 1),
          es_s AS (
            SELECT DISTINCT l_suppkey
            FROM es_sp JOIN es_p USING (l_partkey)
            WHERE qty_sp * 8 > qty_p)
          SELECT s_suppkey, s_name, n_name
          FROM supplier JOIN nation ON s_nationkey = n_nationkey
          WHERE s_suppkey IN (SELECT l_suppkey FROM es_s)
          ORDER BY s_suppkey"""),

    // Zone-map pruning audit: measured data-skipping benefit of the
    // natural key-range layout vs a date-clustered layout, per predicate.
    Query("q185_zonemap_audit", scale = true, build = { (s, dir) =>
      Planning.zoneMapAudit(TestData.lineitem(s, dir))
    }, oracle =
      s"""WITH ${Planning.zoneMapAuditSql()}
          SELECT layout, pred_id, n_zones, zones_skipped, rows_skipped, skip_ratio
          FROM zone_map_audit ORDER BY layout, pred_id"""),

    // CDC apply: insert/update/delete log folded to final state by ONE
    // struct-max aggregate (no window, no sort) with tombstone semantics.
    Query("q186_cdc_apply", scale = true, build = { (s, dir) =>
      Scd.cdcApply(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Scd.cdcApplySql()}
          SELECT user_id, n_ops, last_op, deleted, final_value
          FROM cdc_apply ORDER BY user_id"""),

    // TPC-H Q19 shape (disjunctive residual on an equi join): three
    // OR'd brand/size/quantity bands — the join must stay a hash join on
    // l_partkey with the OR evaluated as a residual, never a nested loop.
    Query("q188_disjunctive_bands", scale = true, build = { (s, dir) =>
      val li = TestData.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      val pt = TestData.part(s, dir).select("p_partkey", "p_brand", "p_size")
      def band(brand: String, sizeHi: Int, qLo: Long, qHi: Long) =
        col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
          col("qty").between(qLo, qHi)
      li.join(broadcast(pt), col("l_partkey") === col("p_partkey") &&
          (band("Brand#12", 15, 1L, 11L) || band("Brand#23", 25, 10L, 20L)
            || band("Brand#34", 35, 20L, 30L)))
        .agg(moneyOut(sum(col("rev")).cast("decimal(18,2)")).as("revenue"),
          count(lit(1)).as("n_lines"))
    }, oracle =
      s"""SELECT ${moneyOutSql("CAST(SUM(rev) AS DECIMAL(18,2))")} AS revenue,
                 COUNT(*) AS n_lines
          FROM (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                       ${moneySql("l_extendedprice * (1 - l_discount)")} AS rev
                FROM lineitem) db_li
          JOIN part ON l_partkey = p_partkey AND (
               (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                  AND qty BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                  AND qty BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                  AND qty BETWEEN 20 AND 30))"""),

    // TPC-H Q2 shape (argmin-per-key join-back): the cheapest EUROPE
    // supplier per part by exact micro-cent unit price, picked by ONE
    // struct-min aggregate (no window), ties to the smallest suppkey.
    Query("q189_cheapest_supplier", scale = true, build = { (s, dir) =>
      val eur = TestData.supplier(s, dir)
        .join(broadcast(TestData.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(TestData.region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name")
      val li = TestData.lineitem(s, dir)
        .join(broadcast(eur.select("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("l_partkey"),
          intDiv(quant(col("l_extendedprice"), 100) * lit(1000000L),
            col("l_quantity").cast("long")).as("unit"),
          col("l_suppkey"))
      li.groupBy("l_partkey")
        .agg(min(struct(col("unit"), col("l_suppkey"))).as("best"))
        .select(col("l_partkey").as("partkey"),
          col("best.l_suppkey").as("suppkey"),
          col("best.unit").as("unit_microcents"))
        .join(broadcast(eur), col("suppkey") === col("s_suppkey"))
        .select("partkey", "suppkey", "s_name", "unit_microcents")
        .orderBy("partkey")
    }, oracle =
      s"""WITH ch_eur AS (
            SELECT s_suppkey, s_name FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'),
          ch_li AS (
            SELECT l_partkey,
                   ${intDivSql(
                     s"${quantSql("l_extendedprice", 100)} * 1000000",
                     "CAST(l_quantity AS BIGINT)")} AS unit,
                   l_suppkey
            FROM lineitem
            WHERE l_suppkey IN (SELECT s_suppkey FROM ch_eur)),
          ch_best AS (
            SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                   unit AS unit_microcents
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
                    ORDER BY unit, l_suppkey) AS rn FROM ch_li) t
            WHERE rn = 1)
          SELECT partkey, suppkey, s_name, unit_microcents
          FROM ch_best JOIN ch_eur ON suppkey = s_suppkey
          ORDER BY partkey"""),

    // TPC-H Q4 shape (EXISTS → left-semi): order counts per priority for
    // one quarter, kept only when at least one line of the order was
    // returned (the testdata ships no commit/receipt dates — returnflag
    // is the late-line stand-in). The date window pushes to the orders
    // scan and the flag filter to the lineitem scan; the semi join
    // carries only l_orderkey, so the shuffle moves one long column.
    // Output is the 5-row priority histogram.
    Query("q191_priority_pipeline", scale = true, build = { (s, dir) =>
      val lo = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1997-04-01 00:00:00").cast("timestamp_ntz")
      TestData.orders(s, dir)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .join(TestData.lineitem(s, dir).filter(col("l_returnflag") === "R")
            .select("l_orderkey"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }, oracle =
      s"""SELECT o_orderpriority, COUNT(*) AS order_count
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-01-01'
            AND o_orderdate < TIMESTAMP '1997-04-01'
            AND EXISTS (SELECT 1 FROM lineitem
                        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
          GROUP BY 1 ORDER BY 1"""),

    // TPC-H Q7 shape (two-nation trade volume): revenue flowing either
    // direction between one nation pair, by ship year. The nation and
    // supplier maps pre-filter to the pair and broadcast into the fact,
    // so the "(s=A and c=B) or (s=B and c=A)" disjunction collapses to a
    // residual supp≠cust check on two broadcast-carried strings. The
    // customer map gets NO broadcast hint: unlike nation/supplier it
    // grows with the customer dimension (~2/N of all customers), so Q7
    // conventionally shuffles it at warehouse scale — AQE broadcasts it
    // at bench scale where its measured size allows. Output 2×|years|.
    Query("q192_trade_volume", scale = true, build = { (s, dir) =>
      val nat = TestData.nation(s, dir)
        .filter(col("n_name").isin("NATION_3", "NATION_7"))
      val supp = TestData.supplier(s, dir)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = TestData.customer(s, dir)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      TestData.lineitem(s, dir)
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(TestData.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(moneyOut(sum(money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("decimal(18,2)")).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }, oracle =
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INT) AS l_year,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice * (1 - l_discount)")}) AS DECIMAL(18,2))")} AS revenue
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          WHERE sn.n_name IN ('NATION_3', 'NATION_7')
            AND cn.n_name IN ('NATION_3', 'NATION_7')
            AND sn.n_name <> cn.n_name
          GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    // TPC-H Q9 shape (product-type profit): per supplier nation per ship
    // year, revenue minus a per-unit cost carried from the part dim (the
    // testdata ships no partsupp — retailprice at a fixed 10% cost ratio
    // stands in for ps_supplycost). Both cost and revenue stay cent-exact
    // decimal until the output boundary; part and supplier-nation maps
    // broadcast; the single fact shuffle is the (nation, year) aggregate.
    Query("q193_product_profit", scale = true, build = { (s, dir) =>
      val parts = TestData.part(s, dir).filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"), money(col("p_retailprice") * lit(0.1)).as("unit_cost"))
      val suppNat = TestData.supplier(s, dir)
        .join(broadcast(TestData.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      TestData.lineitem(s, dir)
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("nation"), year(col("l_shipdate")).as("o_year"))
        .agg(moneyOut(
          (sum(money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            - sum(col("unit_cost") * col("l_quantity").cast("long")))
            .cast("decimal(18,2)")).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }, oracle =
      s"""WITH pp_part AS (
            SELECT p_partkey, ${moneySql("p_retailprice * 0.1")} AS unit_cost
            FROM part WHERE p_type = 'ECONOMY')
          SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice * (1 - l_discount)")}) - SUM(unit_cost * CAST(l_quantity AS BIGINT)) AS DECIMAL(18,2))")} AS sum_profit
          FROM lineitem
          JOIN pp_part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          GROUP BY 1, 2 ORDER BY nation, o_year DESC"""),

    // TPC-H Q10 shape (returned-item reporting): per-customer revenue
    // from returned lines in one quarter's orders, top 20. The quarter
    // filter pushes to the orders scan and the returnflag filter to the
    // lineitem scan; the customer dim joins AFTER the aggregate collapses
    // the fact to customer grain. Top-20 is a bounded heap with a unique
    // key tie-break.
    Query("q194_returned_items", scale = true, build = { (s, dir) =>
      val lo = lit("1996-10-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      val rev = TestData.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(TestData.orders(s, dir)
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
            .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("decimal(18,2)").as("rev"))
      rev.join(TestData.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(TestData.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          moneyOut(col("rev")).as("revenue"), col("c_acctbal"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, oracle =
      s"""WITH ri_rev AS (
            SELECT o_custkey,
                   CAST(SUM(${moneySql("l_extendedprice * (1 - l_discount)")}) AS DECIMAL(18,2)) AS rev
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-10-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1)
          SELECT c_custkey, c_name, n_name, ${moneyOutSql("rev")} AS revenue,
                 c_acctbal
          FROM ri_rev
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          ORDER BY revenue DESC, c_custkey LIMIT 20"""),

    // TPC-H Q12 shape (conditional two-way counts): per linestatus (the
    // shipmode stand-in), how many lines shipped in one year belong to
    // urgent/high-priority orders vs the rest. The orders side joins
    // projected to (key, priority) only; the CASE sums are map-side
    // combinable into a 2-row output.
    Query("q195_priority_linestatus", scale = true, build = { (s, dir) =>
      val lo = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      TestData.lineitem(s, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(TestData.orders(s, dir).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(high, lit(1L)).otherwise(lit(0L))).as("high_line_count"),
          sum(when(high, lit(0L)).otherwise(lit(1L))).as("low_line_count"))
        .orderBy("l_linestatus")
    }, oracle =
      s"""SELECT l_linestatus,
                 CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                 CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                               THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY 1 ORDER BY 1"""),

    // TPC-H Q14 shape (promo revenue ratio): one month of lines, the part
    // type broadcast in, conditional cent-exact sums, and ONE double
    // division at the 1-row output boundary.
    Query("q196_promo_revenue", scale = true, build = { (s, dir) =>
      val lo = lit("1997-03-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1997-04-01 00:00:00").cast("timestamp_ntz")
      TestData.lineitem(s, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(broadcast(TestData.part(s, dir).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO",
              money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .otherwise(lit(0).cast("decimal(18,2)")))
            .cast("decimal(18,2)").as("p"),
          sum(money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("decimal(18,2)").as("t"))
        .select(
          ((col("p").cast("double") * lit(100.0)) / col("t").cast("double"))
            .as("promo_pct"),
          moneyOut(col("p")).as("promo_revenue"),
          moneyOut(col("t")).as("total_revenue"))
    }, oracle =
      s"""WITH pr AS (
            SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN ${moneySql("l_extendedprice * (1 - l_discount)")}
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2)) AS p,
                   CAST(SUM(${moneySql("l_extendedprice * (1 - l_discount)")})
                     AS DECIMAL(18,2)) AS t
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-03-01'
              AND l_shipdate < TIMESTAMP '1997-04-01')
          SELECT (CAST(p AS DOUBLE) * 100.0) / CAST(t AS DOUBLE) AS promo_pct,
                 ${moneyOutSql("p")} AS promo_revenue,
                 ${moneyOutSql("t")} AS total_revenue
          FROM pr"""),

    // TPC-H Q16 shape (supplier diversity with NOT IN): distinct suppliers
    // per (brand, type, size) over the observed lineitem part–supplier
    // pairs (no partsupp ships — the fact's DISTINCT pair set IS the
    // relation), excluding one brand, one type, and a "complaint" supplier
    // list via broadcast anti-join. The DISTINCT collapses the fact to
    // relation grain BEFORE any dim work, so the expensive COUNT(DISTINCT)
    // runs over pairs, not lines.
    Query("q197_supplier_diversity", scale = true, build = { (s, dir) =>
      val complaints = TestData.supplier(s, dir)
        .filter(col("s_name").like("%7")).select("s_suppkey")
      val ps = TestData.lineitem(s, dir)
        .select("l_partkey", "l_suppkey").distinct()
        .join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"), "left_anti")
      ps.join(broadcast(TestData.part(s, dir)
            .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }, oracle =
      s"""WITH sd_ps AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            WHERE l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7'))
          SELECT p_brand, p_type, p_size,
                 COUNT(DISTINCT l_suppkey) AS supplier_cnt
          FROM sd_ps JOIN part ON l_partkey = p_partkey
          WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
          GROUP BY 1, 2, 3
          ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),

    // TPC-H Q1 shape (pricing summary): the full multi-measure scan
    // aggregate — exact-integer quantity sums, cent-exact decimal money
    // sums, and averages performed as ONE double division each at the
    // 4-row output boundary (discounts ride the exact 1/10000 grid so
    // their average is integer arithmetic until the division). One scan,
    // map-side partials, no joins — the canonical whole-stage-codegen
    // aggregate. Completes the 22/22 classic TPC-H plan-shape set
    // together with q199.
    Query("q198_pricing_summary", scale = true, build = { (s, dir) =>
      val cut = lit("2001-09-01 00:00:00").cast("timestamp_ntz")
      val n = count(lit(1))
      TestData.lineitem(s, dir).filter(col("l_shipdate") <= cut)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          moneyOut(sum(money(col("l_extendedprice")))
            .cast("decimal(18,2)")).as("sum_base_price"),
          moneyOut(sum(money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("decimal(18,2)")).as("sum_disc_price"),
          moneyOut(sum(money(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * (lit(1.0) + col("l_tax"))))
            .cast("decimal(18,2)")).as("sum_charge"),
          (sum(col("l_quantity").cast("long")).cast("double") / n.cast("double"))
            .as("avg_qty"),
          (sum(money(col("l_extendedprice"))).cast("decimal(18,2)").cast("double")
            / n.cast("double")).as("avg_price"),
          (sum(quant(col("l_discount"), 10000)).cast("double")
            / (n * lit(10000L)).cast("double")).as("avg_disc"),
          n.as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      s"""SELECT l_returnflag, l_linestatus,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice")}) AS DECIMAL(18,2))")} AS sum_base_price,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice * (1 - l_discount)")}) AS DECIMAL(18,2))")} AS sum_disc_price,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}) AS DECIMAL(18,2))")} AS sum_charge,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
                 CAST(CAST(SUM(${moneySql("l_extendedprice")}) AS DECIMAL(18,2)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS avg_price,
                 CAST(SUM(${quantSql("l_discount", 10000)}) AS DOUBLE)
                   / CAST(COUNT(*) * 10000 AS DOUBLE) AS avg_disc,
                 COUNT(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '2001-09-01'
          GROUP BY 1, 2 ORDER BY 1, 2"""),

    // TPC-H Q6 shape (forecast revenue change): pure scan-filter
    // aggregate. The year window pushes to the parquet scan; the
    // discount-band filter rides the exact 1/100 grid (a double BETWEEN
    // on 0.05..0.07 is engine-dependent at the edges — the integer grid
    // is not). 1-row output, zero shuffles past the final partial merge.
    Query("q199_forecast_revenue", scale = true, build = { (s, dir) =>
      val lo = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp_ntz")
      TestData.lineitem(s, dir)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi
          && quant(col("l_discount"), 100).between(5, 7)
          && col("l_quantity").cast("long") < 24)
        .agg(
          moneyOut(sum(money(col("l_extendedprice") * col("l_discount")))
            .cast("decimal(18,2)")).as("revenue"),
          count(lit(1)).as("n_lines"))
    }, oracle =
      s"""SELECT ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice * l_discount")}) AS DECIMAL(18,2))")} AS revenue,
                 COUNT(*) AS n_lines
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
            AND ${quantSql("l_discount", 100)} BETWEEN 5 AND 7
            AND CAST(l_quantity AS BIGINT) < 24"""),

    // Selinger join-order enumeration with estimate-vs-actual q-error.
    Query("q202_join_order_advisor", scale = true, build = { (s, dir) =>
      Planning.joinOrderAdvisor(TestData.customer(s, dir),
        TestData.orders(s, dir), TestData.lineitem(s, dir))
    }, oracle =
      s"""WITH ${Planning.joinOrderAdvisorSql()}
          SELECT join_order, first_join_est, first_join_actual, q_error,
                 final_est, rk
          FROM join_order_advisor ORDER BY rk"""),

    // Salted JOIN execution (the join analog of q169's salted aggregate):
    // the fact side carries a deterministic salt, the dim side replicates
    // once per salt value, and the (key, salt) equi-join provably equals
    // the plain join — the oracle below IS the unsalted join, so equality
    // is the correctness proof that salting only moves where rows meet.
    Query("q204_salted_join_exec", scale = true, build = { (s, dir) =>
      val li = TestData.lineitem(s, dir).select(col("l_suppkey"),
        col("l_orderkey"), money(col("l_extendedprice")).as("price"))
      val sup = TestData.supplier(s, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      Skew.saltedJoin(li, sup, "l_suppkey", saltFrom = col("l_orderkey"),
          buckets = 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_lines"),
          moneyOut(sum(col("price")).cast("decimal(18,2)")).as("revenue"))
        .orderBy("s_name")
    },
      // the UNSALTED join on purpose — equality proves the salted execution
      oracle =
      s"""SELECT s_name, COUNT(*) AS n_lines,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("l_extendedprice")}) AS DECIMAL(18,2))")} AS revenue
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY 1 ORDER BY 1"""),

    // Equi-depth histogram: optimizer statistics built with a two-level
    // (shardable) prefix sum over the cent grid.
    Query("q205_equi_depth_hist", scale = true, build = { (s, dir) =>
      Planning.equiDepthHistogram(TestData.lineitem(s, dir))
    }, oracle =
      s"""WITH ${Planning.equiDepthHistogramSql()}
          SELECT bucket, lo_cents, hi_cents, n_rows, depth_x_buckets
          FROM equi_depth ORDER BY bucket"""),

    // Sample-estimate audit: 5% hash-coin estimate vs exact total, with
    // a measured Hoeffding 95% certificate.
    Query("q206_sample_estimate_audit", scale = true, build = { (s, dir) =>
      Sampling.estimateAudit(TestData.orders(s, dir))
    }, oracle =
      s"""WITH ${Sampling.estimateAuditSql()}
          SELECT n_pop, n_sample, est_cents, exact_cents, abs_err_cents,
                 hoeffding_bound_cents, within_bound
          FROM estimate_audit"""),

    // Calendar densification + LOCF: the user-day feature frame.
    Query("q207_gap_fill_daily", scale = true, build = { (s, dir) =>
      Events.gapFillDaily(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.gapFillDailySql()}
          SELECT user_id, day, day_cents, n_events, carried_type,
                 days_since_active
          FROM gap_fill ORDER BY user_id, day"""),

    // The q202 join-order plan EXECUTED: best- and worst-ranked orders
    // both run as real join chains; measured first-join cardinality sits
    // next to the Selinger estimate; identical totals prove the order
    // only moves cost, never results (the q169/q204 consumed-plan pattern).
    Query("q208_join_order_exec", scale = true, build = { (s, dir) =>
      Planning.executeJoinOrder(TestData.customer(s, dir),
        TestData.orders(s, dir), TestData.lineitem(s, dir))
    },
      // totals from ONE fixed order on purpose: equality across the two
      // executed orders is the proof the ranking only moves cost
      oracle =
      s"""WITH ${Planning.executeJoinOrderSql()}
          SELECT order_rank, join_order, est_first_rows, first_join_rows,
                 n_rows, total_cents
          FROM join_order_exec ORDER BY order_rank"""),

    // The q205 equi-depth statistics CONSUMED: measured bucket bounds
    // route rows in a broadcast range join; the audit proves the routing
    // reproduces the histogram depths exactly and stays balanced.
    Query("q209_range_balanced_shards", scale = true, build = { (s, dir) =>
      Planning.rangeBalancedShards(TestData.lineitem(s, dir))
    }, oracle =
      s"""WITH ${Planning.rangeBalancedShardsSql()}
          SELECT bucket, lo_cents, hi_cents, assigned_rows, hist_rows,
                 depth_match, depth_x_buckets
          FROM range_balanced ORDER BY bucket"""),

    // MERGE INTO-style transactional upsert: two concurrent writers,
    // key-level conflict detection, version-based resolution; the oracle
    // is the SERIAL replay, so the hash-match is the serializability proof.
    Query("q210_merge_upsert", scale = true, build = { (s, dir) =>
      Scd.mergeUpsert(TestData.customer(s, dir), TestData.orders(s, dir))
    },
      // the serial replay on purpose: equality with the concurrent
      // set-based merge is the serializability certificate
      oracle =
      s"""WITH ${Scd.mergeUpsertSql()}
          SELECT key, n_writes_a, n_writes_b, conflict, winner_version,
                 final_state, final_cents
          FROM merge_upsert ORDER BY key"""),

    // The q163 strategy advice EXECUTED: the broadcast-sized dim joins
    // with an explicit broadcast, the shuffle-sized one with sort-merge;
    // plain-join totals prove the strategy moves bytes, never results.
    Query("q212_join_strategy_exec", scale = true, build = { (s, dir) =>
      Planning.executeJoinStrategy(TestData.lineitem(s, dir),
        TestData.supplier(s, dir), TestData.orders(s, dir))
    },
      // plain joins on purpose: equality across the two advised executions
      // is the proof the strategy choice moves bytes, never results
      oracle =
      s"""WITH ${Planning.executeJoinStrategySql(
            supplierBytes = "8 + COALESCE(len(s_name), 0) + 4 + 4 + 8",
            ordersBytes = "8 + 8 + COALESCE(len(o_orderstatus), 0) + 4 + 8 + 8"
              + " + COALESCE(len(o_orderpriority), 0) + 4")}
          SELECT table_name, strategy, n_rows, total_cents
          FROM join_strategy_exec ORDER BY table_name"""),

    // k-anonymity audit over a 4-level generalization lattice: per level,
    // the k the QI grouping actually achieves and the re-identifiable
    // population; coarsening only merges groups, so rows_at_risk is
    // provably non-increasing up the lattice (PrivacySpec pins it).
    Query("q213_k_anonymity", scale = true, build = { (s, dir) =>
      Privacy.kAnonymityAudit(TestData.customer(s, dir))
    }, oracle =
      s"""WITH ${Privacy.kAnonymityAuditSql()}
          SELECT level, qi, n_groups, min_group_size, rows_at_risk,
                 satisfies_k
          FROM k_anonymity ORDER BY level"""),

    // l-diversity on the SAME lattice: k-anonymity's complement — a group
    // can be large (k-safe) yet homogeneous in the sensitive attribute
    // (the balance band); per level, the diversity each grouping achieves.
    Query("q214_l_diversity", scale = true, build = { (s, dir) =>
      Privacy.lDiversityAudit(TestData.customer(s, dir))
    }, oracle =
      s"""WITH ${Privacy.lDiversityAuditSql()}
          SELECT level, qi, n_groups, min_diversity, rows_at_risk,
                 satisfies_l
          FROM l_diversity ORDER BY level"""),

    // The q163 strategy decision made from CONSTANT-SIZE sketches (KMV
    // row count × hash-sampled row width) instead of exact full scans —
    // the 100 TB CBO path — with sketch-vs-exact labels and q-errors
    // audited side by side.
    Query("q216_sketch_strategy_advisor", scale = true, build = { (s, dir) =>
      Planning.sketchStrategyAdvisor(Seq(
        ("customer", TestData.customer(s, dir), col("c_custkey")),
        // (orderkey, linenumber) alone is NOT unique in the synthetic
        // data — widen the row identifier until it is, or the KMV would
        // correctly estimate distinct KEYS and miss duplicated rows
        ("lineitem", TestData.lineitem(s, dir),
          concat_ws("#", col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"))),
        ("orders", TestData.orders(s, dir), col("o_orderkey")),
        ("supplier", TestData.supplier(s, dir), col("s_suppkey"))))
    }, oracle =
      s"""WITH ${Planning.sketchStrategyAdvisorSql(Seq(
            ("customer", "c_custkey",
              "8 + COALESCE(len(c_name), 0) + 4 + 4 + 8"
                + " + COALESCE(len(c_mktsegment), 0) + 4"),
            ("lineitem",
              "CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)"
                + " || '#' || CAST(l_partkey AS VARCHAR)"
                + " || '#' || CAST(l_suppkey AS VARCHAR)",
              "8 + 8 + 8 + 4 + 8 + 8 + 8 + 8"
                + " + COALESCE(len(l_returnflag), 0) + 4"
                + " + COALESCE(len(l_linestatus), 0) + 4 + 8"),
            ("orders", "o_orderkey",
              "8 + 8 + COALESCE(len(o_orderstatus), 0) + 4 + 8 + 8"
                + " + COALESCE(len(o_orderpriority), 0) + 4"),
            ("supplier", "s_suppkey",
              "8 + COALESCE(len(s_name), 0) + 4 + 4 + 8")))}
          SELECT table_name, n_rows, kmv_rows, q_error_rows, est_bytes,
                 sketch_bytes, strategy_exact, strategy_sketch, agree
          FROM sketch_strategy ORDER BY table_name"""),

    // t-closeness completes the privacy trio on the same lattice: EMD
    // between each group's sensitive distribution and the global one,
    // compared in exact integers (only the reported max_emd is a double).
    Query("q218_t_closeness", scale = true, build = { (s, dir) =>
      Privacy.tClosenessAudit(TestData.customer(s, dir))
    }, oracle =
      s"""WITH ${Privacy.tClosenessAuditSql()}
          SELECT level, qi, n_groups, max_emd, rows_at_risk, satisfies_t
          FROM t_closeness ORDER BY level"""),

    // The q202 Selinger ranking made from five KMV sketches instead of
    // exact stats — join ORDERING from constant-size statistics, with
    // both rankings audited side by side (the q216 story's other half).
    Query("q219_sketch_join_order", scale = true, build = { (s, dir) =>
      Planning.sketchJoinOrderAdvisor(TestData.customer(s, dir),
        TestData.orders(s, dir), TestData.lineitem(s, dir))
    }, oracle =
      s"""WITH ${Planning.sketchJoinOrderAdvisorSql()}
          SELECT join_order, est_exact, est_sketch, rk_exact, rk_sketch,
                 rank_match
          FROM sketch_join_order ORDER BY rk_exact"""),

    // The q216 sketch verdicts CONSUMED (the q212 execution pattern):
    // each dim joins under the strategy its sketch bytes earned;
    // plain-join totals prove the sketch-driven plan moves bytes, never
    // results — the sketch-CBO loop closed end to end.
    Query("q220_sketch_strategy_exec", scale = true, build = { (s, dir) =>
      Planning.executeSketchStrategy(TestData.lineitem(s, dir),
        TestData.supplier(s, dir), TestData.orders(s, dir))
    },
      // plain joins on purpose: equality under the sketch-chosen strategies
      // is the proof the sketch decision moves bytes, never results
      oracle =
      s"""WITH ${Planning.executeSketchStrategySql(
            supplierBytes = "8 + COALESCE(len(s_name), 0) + 4 + 4 + 8",
            ordersBytes = "8 + 8 + COALESCE(len(o_orderstatus), 0) + 4 + 8 + 8"
              + " + COALESCE(len(o_orderpriority), 0) + 4")}
          SELECT table_name, strategy, n_rows, total_cents
          FROM sketch_strategy_exec ORDER BY table_name"""),

    // The q213 audit CONSUMED: the first satisfying lattice level is the
    // minimal safe generalization, and the release applies exactly that
    // suppression — every released group carries n >= k by construction.
    Query("q221_anonymize_min_level", scale = true, build = { (s, dir) =>
      Privacy.anonymizeToK(TestData.customer(s, dir))
    }, oracle =
      s"""WITH ${Privacy.anonymizeToKSql()}
          SELECT level, nat_g, seg_g, band_g, n
          FROM anonymized ORDER BY nat_g, seg_g, band_g"""),

    // The shuffle_bloom verdict EXECUTED: a bloom over the selective dim
    // prunes the fact BEFORE the join shuffle; plain-join totals prove
    // no false negatives — the q157→q163 loop closed.
    Query("q222_bloom_strategy_exec", scale = true, build = { (s, dir) =>
      Planning.executeBloomStrategy(TestData.lineitem(s, dir),
        TestData.orders(s, dir))
    },
      // plain unfiltered join on purpose: equality with the bloom-pruned
      // execution is the no-false-negatives proof
      oracle =
      s"""WITH ${Planning.executeBloomStrategySql()}
          SELECT strategy, n_fact_rows, n_pass_rows, n_join_rows,
                 n_fp_rows, total_cents
          FROM bloom_strategy_exec"""),

    // Range sharding from the QUANTILE SKETCH (what repartitionByRange
    // does at scale): sketch bounds route every row; the audit proves
    // exact coverage and per-bucket depth within 5% of ideal — verdicts
    // cross the oracle, sketch values stay in-engine (the q90 pattern).
    Query("q223_sketch_range_shards", scale = true, build = { (s, dir) =>
      Planning.sketchRangeShards(TestData.lineitem(s, dir))
    },
      // the q90 contract form: the oracle pins the exact total and the
      // verdicts the engine's quantile sketch must earn
      oracle =
      s"""WITH ${Planning.sketchRangeShardsSql()}
          SELECT n_buckets, n_total, all_within_tol
          FROM sketch_range_shards"""),

    // Poisson bootstrap (Chamandy et al. 2012): all 64 resamples in ONE
    // pass via deterministic hash-Poisson multiplicities frozen as CDF
    // grid literals — no libm, no RNG state; CI = exact order statistics
    // of the replica means.
    Query("q228_bootstrap_ci", scale = true, build = { (s, dir) =>
      Sampling.bootstrapCi(TestData.orders(s, dir))
    }, oracle =
      s"""WITH ${Sampling.bootstrapCiSql()}
          SELECT n_pop, n_reps, exact_mean_cents, boot_lo_cents,
                 boot_hi_cents, covered
          FROM bootstrap_ci"""),

    // Per-group AQP: grouped estimates from the 5% hash-coin sample,
    // each group earning its OWN Hoeffding certificate from its measured
    // range and realized sample size — one combinable aggregate pass.
    Query("q229_group_estimate", scale = true, build = { (s, dir) =>
      Sampling.groupEstimateAudit(TestData.orders(s, dir)).orderBy("priority")
    }, oracle =
      s"""WITH ${Sampling.groupEstimateAuditSql()}
          SELECT priority, n_pop, n_sample, est_cents, exact_cents,
                 abs_err_cents, hoeffding_bound_cents, within_bound
          FROM group_estimate_audit ORDER BY priority"""),

    // Expectation-suite data contract: every row-wise rule + uniqueness
    // compiled into ONE aggregate pass (rules declared once, both
    // engines compile from the same list); relationship as a broadcast
    // anti-join — the dbt-test shape at one-scan cost.
    Query("q233_expectation_suite", scale = true, build = { (s, dir) =>
      DataQuality.expectationSuite(TestData.orders(s, dir),
        TestData.customer(s, dir)).orderBy("expectation", "target")
    }, oracle =
      s"""WITH ${DataQuality.expectationSuiteSql()}
          SELECT expectation, target, n_rows, n_violations, pass
          FROM expectation_suite ORDER BY expectation, target"""),

    // Column-encoding advisor: the content statistics a columnar writer's
    // encoding chooser runs on (distinct ratio, run lengths under the
    // cluster order) and its verdict per column; the spec proves the
    // advised encodings shrink real parquet bytes on disk.
    Query("q236_encoding_advisor", scale = true, build = { (s, dir) =>
      Planning.encodingAdvisor(TestData.lineitem(s, dir)).orderBy("col_name")
    }, oracle =
      s"""WITH ${Planning.encodingAdvisorSql()}
          SELECT col_name, n, n_distinct, sum_len, runs_clustered, advice
          FROM encoding_advice ORDER BY col_name"""),

    // The q219 sketch ranking EXECUTED beside the exact ranking: both
    // pickers' first-choice orders run as real left-deep chains with
    // result-equal totals; same_pick certifies whether constant-size
    // sketches reproduced the exact-statistics decision.
    Query("q238_sketch_order_exec", scale = true, build = { (s, dir) =>
      Planning.executeSketchJoinOrder(TestData.customer(s, dir),
        TestData.orders(s, dir), TestData.lineitem(s, dir))
    }, oracle =
      s"""WITH ${Planning.executeSketchJoinOrderSql()}
          SELECT picker, join_order, est_rows, first_join_rows, n_rows,
                 total_cents, same_pick
          FROM sketch_order_exec ORDER BY picker"""),

    // Leakage-safe (out-of-fold) target encoding: a category's encoding
    // for a fold is the mean target over the OTHER folds only, folds
    // group-aware by user — one bounded aggregate, |categories|×k rows.
    Query("q250_target_encoding", scale = true, build = { (s, dir) =>
      Sampling.targetEncoding(TestData.events(s, dir))
        .orderBy("event_type", "fold")
    }, oracle =
      s"""WITH ${Sampling.targetEncodingSql()}
          SELECT event_type, fold, n_fold, encoded_cents
          FROM target_encoding ORDER BY event_type, fold"""),

    // Classical additive seasonal decomposition of daily spend: centered
    // 7-day trend, per-weekday seasonal means of the detrended series,
    // residual — integer-exact until the final two fp steps, on a
    // calendar-bounded day grid.
    Query("q251_seasonal_decompose", scale = true, build = { (s, dir) =>
      Events.seasonalDecompose(TestData.events(s, dir)).orderBy("day")
    }, oracle =
      s"""WITH ${Events.seasonalDecomposeSql()}
          SELECT day, season, cents, trend7, seasonal7, residual7
          FROM seasonal_decompose ORDER BY day"""),

    // Purged walk-forward CV folds with an embargo: temporal-leakage-safe
    // splits (label-horizon purge + post-test embargo), per-fold role
    // counts plus the measured purge safety margin as data.
    Query("q262_purged_cv", scale = true, build = { (s, dir) =>
      Sampling.purgedCvFolds(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Sampling.purgedCvFoldsSql()}
          SELECT fold, lo_ms, hi_ms, n_test, n_train, n_purged, n_embargo,
                 min_gap_ms
          FROM purged_cv ORDER BY fold"""),

    // Exact two-sample KS drift per event type (early vs late half):
    // binning-free sup|ECDF_a − ECDF_b|, all-integer numerator over the
    // distinct-value grain, Smirnov α=0.05 gate on the way out.
    Query("q260_ks_drift", scale = true, build = { (s, dir) =>
      Profile.ksDrift(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Profile.ksDriftSql()}
          SELECT event_type, na, nb, d_num, d_stat, drifted
          FROM ks_drift ORDER BY event_type"""),

    // Trend/seasonality-aware anomaly days: |residual − median| > 3·MAD,
    // exact medians via the q85 middle-rank convention, flag by
    // multiplication (a zero-MAD series flags nothing, never divides).
    Query("q258_residual_anomalies", scale = true, build = { (s, dir) =>
      Events.residualAnomalies(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.residualAnomaliesSql()}
          SELECT day, cents, residual7, med_res, mad_res
          FROM residual_anomalies ORDER BY day"""),

    // Clustering-layout advisor: score linear vs Morton vs Hilbert by
    // zone-pruned rows per workload predicate and pick the cheapest —
    // deterministic integer zones, so the CHOICE itself is hashed.
    Query("q269_layout_advisor", scale = true, build = { (s, dir) =>
      Planning.layoutAdvisor(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Planning.layoutAdvisorSql()}
          SELECT pred_id, layout, rows_read, zones_scanned, n_match
          FROM layout_advisor ORDER BY pred_id"""),

    // Yannakakis full reducer: two semi-join passes strip every dangling
    // tuple from the acyclic 5-table chain before the join runs; the
    // per-relation reduced counts are the measured benefit, and the
    // reduced join's totals equal the direct join's by the theorem.
    Query("q270_yannakakis", scale = true, build = { (s, dir) =>
      Planning.yannakakisReduction(TestData.region(s, dir),
        TestData.nation(s, dir), TestData.customer(s, dir),
        TestData.orders(s, dir), TestData.lineitem(s, dir))
    }, oracle =
      s"""WITH ${Planning.yannakakisReductionSql()}
          SELECT section, name, n_filtered, n_reduced, cents
          FROM yannakakis ORDER BY section, name"""),

    // Wilson lower-bound ranking: confidence-adjusted return rates —
    // the small-sample correction behind sort-by-rating; IEEE-exact
    // (sqrt is correctly rounded; identical op order in both engines).
    Query("q286_wilson_ranking", scale = true, build = { (s, dir) =>
      Profile.wilsonReturnRanking(TestData.lineitem(s, dir))
    }, oracle =
      s"""WITH ${Profile.wilsonReturnRankingSql()}
          SELECT l_partkey, n, r, rate, wilson_lb
          FROM wilson_rank ORDER BY wilson_lb DESC, l_partkey"""),

    // Tie-corrected Spearman rank correlation per market segment:
    // Pearson on doubled average ranks (exact BIGINT/DECIMAL sums, the
    // q301 sqrt-product discipline); ranks computed at the bounded
    // distinct-value grain, never by a row-level sort.
    Query("q311_spearman", scale = true, build = { (s, dir) =>
      Profile.spearmanBySegment(TestData.customer(s, dir),
        TestData.orders(s, dir))
    }, oracle =
      s"""WITH ${Profile.spearmanBySegmentSql()}
          SELECT c_mktsegment, n, rho
          FROM spearman ORDER BY c_mktsegment"""),

    // Chi-squared independence drift over (event_type x weekday): exact
    // scaled-integer cell contributions (floor millionths), so the
    // table statistic is a sum of exact integers; per-cell attribution
    // carried beside the total — the categorical companion to q260 KS.
    Query("q313_chi_square_drift", scale = true, build = { (s, dir) =>
      Profile.chiSquareDrift(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Profile.chiSquareDriftSql()}
          SELECT event_type, dow, o, e_e6, contrib_e6, chi2_e6, df
          FROM chi_square_drift ORDER BY event_type, dow"""),

    // Exact tie-aware ROC AUC per event type via the Mann-Whitney pair
    // count on the (type, score)-grain frame — integer-exact u2, one
    // double division; two-grain prefix sums, never a global row sort.
    Query("q291_roc_auc", scale = true, build = { (s, dir) =>
      Events.rocAucByType(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.rocAucByTypeSql()}
          SELECT event_type, n_pos, n_neg, u2, auc
          FROM roc_auc ORDER BY event_type"""),

    // Calibration bins: integer-exact bin assignment against the max
    // scalar, per-bin mean-predicted vs observed rate as single exact
    // divisions — the reliability diagram beside q291's ranking gate.
    Query("q292_calibration_bins", scale = true, build = { (s, dir) =>
      Events.calibrationBins(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.calibrationBinsSql()}
          SELECT bin, n, n_pos, sum_cents, mean_pred, obs_rate, abs_gap
          FROM calibration ORDER BY bin"""),

    // Cumulative gains / lift by descending-score deciles at the
    // score-group grain — integer-exact decile assignment (ties stay
    // whole), capture and lift as single exact divisions.
    Query("q294_gain_lift", scale = true, build = { (s, dir) =>
      Events.gainLift(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.gainLiftSql()}
          SELECT decile, n, n_pos, cum_n, cum_pos, capture, lift
          FROM gain_lift ORDER BY decile"""),

    // Native TypedImperativeAggregate HLL registers: one 512 B buffer
    // per group through map-side partials — single-pass distinct
    // estimates per type + global, same frozen-constant math as q282.
    Query("q296_hll_native_agg", scale = true, build = { (s, dir) =>
      Planning.hllNativeDistinct(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Planning.hllNativeDistinctSql()}
          SELECT scope, v_zeros, denom, est, branch, n_exact
          FROM hll_native ORDER BY scope"""),

    // Multi-class classifier eval: confusion counts off one aggregate,
    // per-class P/R/F1 + micro as single exact divisions, classes
    // anchored on the static list (NULL precision over 0/0).
    Query("q299_classifier_eval", scale = true, build = { (s, dir) =>
      Events.classifierEval(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.classifierEvalSql()}
          SELECT cls, tp, fp, fn, precision, recall, f1
          FROM classifier_eval ORDER BY cls"""),

    // Matthews correlation per class: exact integer numerator, the
    // denominator as a product of four correctly-rounded sqrts (one
    // BIGINT product would overflow); NULL on degenerate classes.
    Query("q301_mcc_eval", scale = true, build = { (s, dir) =>
      Events.mccPerClass(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.mccPerClassSql()}
          SELECT cls, tp, fp, fn, tn, mcc
          FROM mcc_eval ORDER BY cls"""),

    // Precision-recall curve per event type at the exact (type, score)
    // cut grain: cum_tp/cum_n and cum_tp/n_pos as single exact
    // divisions per row — the imbalanced-class companion to q291.
    Query("q303_pr_curve", scale = true, build = { (s, dir) =>
      Events.prCurveByType(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.prCurveByTypeSql()}
          SELECT event_type, s, pn, cum_n, cum_tp, n_pos, precision, recall
          FROM pr_curve ORDER BY event_type, s"""),

    // Brier score per class: the strictly-proper scoring rule, exact —
    // the integer numerator decomposes off one (type)-grain aggregate
    // (sum_c2 - 2*M*pos_cents + n_pos*M^2), one division per class.
    Query("q305_brier_score", scale = true, build = { (s, dir) =>
      Events.brierByType(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.brierByTypeSql()}
          SELECT cls, n_all, n_pos, sq_num, brier
          FROM brier_eval ORDER BY cls"""),

    // Cohen's kappa: chance-corrected agreement as ONE exact division
    // with cleared denominators (n*agree - chance) / (n^2 - chance),
    // riding the q299 confusion aggregate.
    Query("q307_cohens_kappa", scale = true, build = { (s, dir) =>
      Events.cohensKappa(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.cohensKappaSql()}
          SELECT n_all, agree, chance, p_o, p_e, kappa
          FROM kappa_eval"""),

    // One-pass eval report: AUC, Brier, confusion/P/R/F1, and MCC all
    // derived from ONE (type, cent-score) grain aggregate — the grain
    // is a sufficient statistic, so four scans become one and every
    // column stays bit-identical to its standalone query.
    Query("q314_eval_report", scale = true, build = { (s, dir) =>
      Events.evalReport(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.evalReportSql()}
          SELECT cls, n, auc, brier, tp, fp, fn, tn,
                 precision, recall, f1, mcc
          FROM eval_report ORDER BY cls"""),

    // Time-weighted average over irregular samples: step interpolation
    // weights each value by its holding interval — exact BIGINT weighted
    // sums, one division per user; one user_id shuffle for everything.
    Query("q285_time_weighted_avg", scale = true, build = { (s, dir) =>
      Events.timeWeightedAverage(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.timeWeightedAverageSql()}
          SELECT user_id, n_events, span_ms, wsum, twap_cents
          FROM twap ORDER BY user_id"""),

    // CUSUM level-shift detection in closed form: prefix sum + running
    // min over the day-grain frame replaces the sequential recurrence;
    // all-integer via day-count scaling.
    Query("q275_cusum_changepoints", scale = true, build = { (s, dir) =>
      Events.cusumChangepoints(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.cusumChangepointsSql()}
          SELECT day, n, cusum, flagged
          FROM cusum_days ORDER BY day"""),

    // DP histogram release: two counting queries noised from a frozen
    // truncated-Laplace quantile table (hash-indexed so the oracle can
    // replay it) and charged to one sequentially-composed eps budget.
    Query("q274_dp_release", scale = true, build = { (s, dir) =>
      Privacy.dpHistogramRelease(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Privacy.dpHistogramReleaseSql()}
          SELECT section, key, true_n, noise_fp, released, eps_num, eps_den
          FROM dp_release ORDER BY section, key"""),

    // Row-pattern matching (the MATCH_RECOGNIZE A{3,}B shape) compiled
    // to lag + gaps-and-islands windows: maximal rising runs followed
    // by a drop, one user_id shuffle serving every window.
    Query("q273_rise_patterns", scale = true, build = { (s, dir) =>
      Events.risePatterns(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Events.risePatternsSql()}
          SELECT user_id, n_patterns, max_rise, peak_cents
          FROM rise_patterns ORDER BY user_id"""),

    // Theta-sketch set algebra: union/intersection/difference distinct
    // estimates from bottom-k sketches under the min-theta rule, exact
    // audits riding along — the set-expression member of the sketch
    // family (constant-size, mergeable, one aggregate per set).
    Query("q272_theta_setops", scale = true, build = { (s, dir) =>
      Planning.thetaSketchSetOps(TestData.events(s, dir))
    }, oracle =
      s"""WITH ${Planning.thetaSketchSetOpsSql()}
          SELECT pair, theta, n_union_below, n_inter_below, n_diff_below,
                 est_union, est_inter, est_diff,
                 exact_union, exact_inter, exact_diff
          FROM theta_setops ORDER BY pair"""),

    // Recursive hierarchy closure: pointer doubling resolves every
    // node's root-distance in O(log depth) join rounds; the oracle is
    // DuckDB's WITH RECURSIVE walking the same DIV-2 forest one level
    // per pass — equality proves the doubling loop IS the closure.
    Query("q271_recursive_closure", scale = true, build = { (s, dir) =>
      Graph.hierarchyClosure(TestData.customer(s, dir))
    }, oracle =
      s"""WITH RECURSIVE ${Graph.hierarchyClosureSql()}
          SELECT depth, n_nodes, total_cents, min_key, max_key
          FROM hierarchy_closure ORDER BY depth"""),

    // First-touch channel attribution with cent-exact revenue.
    Query("q123_attribution", scale = true, build = { (s, dir) =>
      Funnel.attribution(TestData.events(s, dir)).orderBy("channel")
    }, oracle =
      s"""${Funnel.attributionSql()}
          ORDER BY channel"""),

    // ---- Event-stream operators.
    // D7-family probe over the nanosecond-timestamp events table.
    Query("q60_events_hourly", scale = true, build = { (s, dir) =>
      TestData.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(money(col("value"))).cast("decimal(18,2)")).as("total_value"))
        .orderBy("hour", "event_type")
    }, oracle =
      s"""SELECT date_trunc('hour', ts) AS hour, event_type,
                 COUNT(*) AS n,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("value")}) AS DECIMAL(18,2))")} AS total_value
          FROM events
          GROUP BY 1, 2
          ORDER BY 1, 2"""),

    // Sliding (overlapping) windows: every event lands in size/slide = 2
    // windows; the oracle replicates each event across its covering
    // window starts with a 2-row generate_series.
    Query("q81_sliding_window", scale = false, build = { (s, dir) =>
      TestData.events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(money(col("value"))).cast("decimal(18,2)")).as("total_value"))
        .select(unix_millis(col("w.start")).as("start_ms"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("start_ms", "event_type")
    }, oracle = slidingWindowOracle),

    // PII scrub (compliance pass): regex counts + redaction over text with
    // PII-shaped content — phone/IP/email derived deterministically from
    // c_custkey with IDENTICAL integer arithmetic in the oracle (the slim
    // test customer table carries no contact columns). Scan-only, codegen'd.
    Query("q92_pii_redact", scale = false, build = { (s, dir) =>
      val key = col("c_custkey")
      val phone = format_string("%02d-%03d-%03d-%04d",
        (key % 25 + 10).cast("int"), (key % 1000).cast("int"),
        (key * 7 % 1000).cast("int"), (key * 13 % 10000).cast("int"))
      val ip = concat_ws(".", (key % 256).cast("string"), (key * 3 % 256).cast("string"),
        (key * 5 % 256).cast("string"), (key * 9 % 256).cast("string"))
      val email = concat(lit("user"), key.cast("string"), lit("@example.com"))
      val txt = concat_ws(" ", col("c_name"), lit("ip"), ip, lit("tel"), phone,
        lit("mail"), email, col("c_mktsegment"))
      Privacy.detectRedact(
        TestData.customer(s, dir).withColumn("txt", txt), "txt", Seq("c_custkey"))
        .orderBy("c_custkey")
    },
      // regex PII counts + redaction over the same derived text
      oracle =
      s"""${Privacy.detectRedactSql(
        """(SELECT c_custkey,
          |        concat_ws(' ', c_name,
          |          'ip', concat_ws('.', CAST(c_custkey % 256 AS VARCHAR),
          |                               CAST(c_custkey * 3 % 256 AS VARCHAR),
          |                               CAST(c_custkey * 5 % 256 AS VARCHAR),
          |                               CAST(c_custkey * 9 % 256 AS VARCHAR)),
          |          'tel', printf('%02d-%03d-%03d-%04d',
          |                        CAST(c_custkey % 25 + 10 AS INT), CAST(c_custkey % 1000 AS INT),
          |                        CAST(c_custkey * 7 % 1000 AS INT), CAST(c_custkey * 13 % 10000 AS INT)),
          |          'mail', 'user' || CAST(c_custkey AS VARCHAR) || '@example.com',
          |          c_mktsegment) AS txt
          | FROM customer) c""".stripMargin,
        "txt", Seq("c_custkey"))}
          ORDER BY c_custkey"""),

    // Z-order (Morton) key — the multi-dimensional clustering key behind
    // lakehouse OPTIMIZE ZORDER BY; the skipping payoff is measured in
    // ZOrderSpec, the cross-engine check here pins the bit arithmetic.
    Query("q94_zorder", scale = false, build = { (s, dir) =>
      TestData.events(s, dir)
        .select(col("event_id"),
          ZOrder.morton(col("user_id"),
            hour(col("ts")) * lit(60L) + minute(col("ts"))))
        .orderBy("event_id")
    },
      // Morton bit-interleave of (user_id, minute-of-day), BIGINT-exact
      oracle =
      s"""WITH ${ZOrder.mortonSql("events",
        "user_id", "EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)",
        Seq("event_id"))}
          SELECT event_id, zkey FROM zfinal ORDER BY event_id"""),

    // Hilbert clustering key over the same dims as q94's Morton key —
    // the continuous curve (unit-step locality is spec-pinned; the
    // cross-engine check pins the 16-plane rotation arithmetic).
    Query("q261_hilbert_cluster", scale = true, build = { (s, dir) =>
      ZOrder.withHilbert(TestData.events(s, dir), col("user_id"),
          hour(col("ts")) * lit(60L) + minute(col("ts")), "hkey")
        .select("event_id", "hkey")
        .orderBy("event_id")
    },
      // Hilbert quadrant-rotation walk, BIGINT-exact, generated from the
      // same plane loop as the engine side
      oracle =
      s"""WITH ${ZOrder.hilbertSql("events",
        "user_id", "EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)",
        Seq("event_id"))}
          SELECT event_id, hkey FROM hfinal ORDER BY event_id"""),

    // Global NTILE without the global window: RFM deciles via
    // range-partitioned rank + NTILE arithmetic (see Segmentation) — the
    // single-partition-Exchange killer applied to customer segmentation.
    Query("q96_rfm_decile", scale = true, build = { (s, dir) =>
      Segmentation.rfmDeciles(TestData.orders(s, dir)).orderBy("custkey")
    },
      // native NTILE over the identical total order (window is fine 1-node)
      oracle =
      s"""WITH ${Segmentation.rfmDecilesSql()}
          ORDER BY custkey"""),

    // Recency-decayed user value: exact integer half-life weights
    // (shifted cents, no pow/float), bounded horizon, top-k users.
    Query("q267_decayed_value_rank", scale = true, build = { (s, dir) =>
      Segmentation.decayedValueRank(TestData.events(s, dir))
    },
      // exact shifted-cents decay, same integer weights
      oracle =
      s"""WITH ${Segmentation.decayedValueRankSql()}
          SELECT user_id, decayed_scaled, raw_cents, active_days
          FROM decayed_rank"""),

    // Market-basket pair counts: suppliers co-occurring in an order. The
    // self-join fans out ≤ (items/order)² per order — bounded by the
    // basket size, never by corpus size — and top-k plans as
    // TakeOrderedAndProject (no global sort).
    Query("q100_basket_pairs", scale = true, build = { (s, dir) =>
      val li = TestData.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
      li.join(li.select(col("ok"), col("sk").as("sk2")), Seq("ok"))
        .filter(col("sk") < col("sk2"))
        .groupBy(col("sk").as("supp_a"), col("sk2").as("supp_b"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(desc("n_orders"), asc("supp_a"), asc("supp_b"))
        .limit(20)
    },
      // same basket self-join, top 20 pairs with full tie-break
      oracle =
      """WITH baskets AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem)
        |SELECT a.sk AS supp_a, b.sk AS supp_b, COUNT(*) AS n_orders
        |FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.sk < b.sk
        |GROUP BY a.sk, b.sk
        |ORDER BY n_orders DESC, supp_a, supp_b
        |LIMIT 20""".stripMargin),

    // Equi-width histogram with in-plan integer bounds — profiling tier.
    Query("q102_histogram", scale = true, build = { (s, dir) =>
      Profile.histogram(TestData.orders(s, dir),
        money(col("o_totalprice")) * 100, k = 20).orderBy("bucket")
    },
      // identical integer bucket arithmetic over the cents grid
      oracle =
      s"""WITH ${Profile.histogramSql("orders",
        s"${moneySql("o_totalprice")} * 100")}
          SELECT CAST(bucket AS INT) AS bucket, n, lo_v, hi_v FROM hist
          ORDER BY bucket"""),

    // One-pass column profiler: nulls / exact distincts / formatted
    // min-max for every orders column, unpivoted to a row per column.
    Query("q103_profile", scale = false, build = { (s, dir) =>
      import graft.operators.Profile.ColSpec
      Profile.columns(TestData.orders(s, dir), Seq(
        ColSpec.plain("o_orderkey"), ColSpec.plain("o_custkey"),
        ColSpec.plain("o_orderstatus"), ColSpec.money("o_totalprice"),
        ColSpec.ts("o_orderdate"), ColSpec.plain("o_orderpriority")))
        .orderBy("col_name")
    },
      // per-column stats, one SELECT per column UNION'd (single-node oracle)
      oracle = {
      import graft.operators.Profile.ColSpec
      Profile.columnsSql("orders", Seq(
        ColSpec.plain("o_orderkey"), ColSpec.plain("o_custkey"),
        ColSpec.plain("o_orderstatus"), ColSpec.money("o_totalprice"),
        ColSpec.ts("o_orderdate"), ColSpec.plain("o_orderpriority"))) +
        "\nORDER BY col_name"
    }),

    // Exact positional p99 outlier fence per group (q85's machinery at an
    // arbitrary percentile): rank + count windows partitioned BY GROUP
    // (never global), the fence value broadcast back via a full-partition
    // window max — one pass, no self-join.
    Query("q106_outlier_fence", scale = true, build = { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byType = Window.partitionBy("event_type")
      val w = byType.orderBy("value", "event_id")
      TestData.events(s, dir)
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(byType))
        // quantile_disc-style position: floor((n-1)*99/100) + 1
        .withColumn("pos", intDiv((col("n") - 1) * 99, lit(100)) + 1)
        .withColumn("p99", max(when(col("rn") === col("pos"), col("value"))).over(byType))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), max("p99").as("p99"),
          sum(when(col("value") > col("p99"), 1L).otherwise(0L)).as("n_above"))
        .orderBy("event_type")
    },
      // same positional p99 and strict-above count via windows
      oracle =
      """WITH r AS (
        |  SELECT event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |f AS (
        |  SELECT event_type, value, n,
        |         MAX(CASE WHEN rn = ((n - 1) * 99) // 100 + 1 THEN value END)
        |           OVER (PARTITION BY event_type) AS p99
        |  FROM r)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, MAX(p99) AS p99,
        |       CAST(SUM(CASE WHEN value > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Benford first-digit profile of order amounts (fraud-analytics
    // screen): leading digit via STRING head of the integer cents — no
    // floating log10 whose last ulp could disagree between engines.
    Query("q107_benford", scale = true, build = { (s, dir) =>
      TestData.orders(s, dir)
        .select((money(col("o_totalprice")) * 100).cast("long").as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .orderBy("digit")
    },
      // same leading digit of the integer cents, string head not log10
      oracle =
      s"""SELECT substr(CAST(CAST(${moneySql("o_totalprice")} * 100 AS BIGINT) AS VARCHAR), 1, 1)
                   AS digit,
                 COUNT(*) AS n
          FROM orders
          WHERE CAST(${moneySql("o_totalprice")} * 100 AS BIGINT) > 0
          GROUP BY digit ORDER BY digit"""),

    // Approximate percentile with a VERIFIED error contract (the q75
    // pattern): per group, the KLL/GK sketch's p50/p90 must land within
    // 1% of the exact percentile — the exactness anchor (count) and the
    // contract verdicts are what cross the engine boundary, not the
    // engine-specific sketch values. At 100 TB the exact side of this
    // check is what you CAN'T run per-query; the contract query is the
    // periodic audit that lets dashboards trust the sketch.
    Query("q90_percentile_contract", scale = false, build = { (s, dir) =>
      TestData.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          expr("percentile(value, array(0.5D, 0.9D))").as("exact"),
          expr("percentile_approx(value, array(0.5D, 0.9D), 1000)").as("approx"))
        .select(col("event_type"), col("n"),
          (abs(col("approx")(0) - col("exact")(0))
            <= col("exact")(0) * 0.01).as("p50_within_1pct"),
          (abs(col("approx")(1) - col("exact")(1))
            <= col("exact")(1) * 0.01).as("p90_within_1pct"))
        .orderBy("event_type")
    },
      // the sketch's error contract must hold — the oracle pins the verdict
      oracle =
      """SELECT event_type, COUNT(*) AS n,
        |       TRUE AS p50_within_1pct, TRUE AS p90_within_1pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // GROUPING SETS beyond rollup/cube: a time slice, an orthogonal
    // priority slice, and the grand total in ONE pass over the fact —
    // Spark expands the sets map-side (a single Expand + one shuffle), so
    // at 100 TB this costs one scan instead of three unioned aggregates.
    Query("q89_grouping_sets", scale = false, build = { (s, dir) =>
      TestData.orders(s, dir)
        .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
          col("o_orderpriority").as("priority"), col("o_totalprice"))
        .groupingSets(
          Seq(Seq(col("y"), col("m")), Seq(col("priority")), Seq()),
          col("y"), col("m"), col("priority"))
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(money(col("o_totalprice"))).cast("decimal(18,2)")).as("total"))
        .orderBy(asc_nulls_first("y"), asc_nulls_first("m"),
          asc_nulls_first("priority"))
    },
      // three independent slices of the fact in one grouped pass
      oracle =
      s"""SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
                 o_orderpriority AS priority, COUNT(*) AS n,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("o_totalprice")}) AS DECIMAL(18,2))")} AS total
          FROM orders
          GROUP BY GROUPING SETS ((y, m), (priority), ())
          ORDER BY y NULLS FIRST, m NULLS FIRST, priority NULLS FIRST"""),

    // Semi-structured: JSON property extraction from the events payload.
    Query("q65_json_extract", scale = false, build = { (s, dir) =>
      TestData.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")
    }, oracle =
      s"""SELECT event_type, COUNT(*) AS n,
                 CAST(SUM(CAST(json_extract_string(props, '$$.k') AS INT)) AS BIGINT) AS sum_k,
                 MIN(CAST(json_extract_string(props, '$$.k') AS INT)) AS min_k,
                 MAX(CAST(json_extract_string(props, '$$.k') AS INT)) AS max_k
          FROM events
          GROUP BY event_type
          ORDER BY event_type"""),

    // Fuzzy matching (entity-resolution primitive): SymSpell delete-1
    // blocking + edit-distance verify. Two strings with levenshtein <= 1
    // always share a key in their delete-1 neighborhoods (delete the edited
    // position from both sides), so the equi-join on the blocking key is
    // COMPLETE for the threshold — identical output to the naive O(n^2)
    // theta join, but candidate pairs are bounded by
    // sum_over_keys C(bucket, 2) ~ O(n * avg_len * occupancy) instead of
    // C(n, 2): the join shuffles on `bk` and scales to corpus-sized inputs.
    Query("q66_fuzzy_match", scale = false, build = { (s, dir) =>
      val n = TestData.nation(s, dir).select(col("n_name"))
      // name itself + every delete-one-char variant, deduped
      val keyed = n.select(col("n_name"), explode(array_distinct(concat(
        transform(sequence(lit(1), length(col("n_name"))), i =>
          concat(col("n_name").substr(lit(1), i - 1),
            col("n_name").substr(i + 1, length(col("n_name"))))),
        array(col("n_name"))))).as("bk"))
      keyed.as("a")
        .join(keyed.as("b"),
          col("a.bk") === col("b.bk") && col("a.n_name") < col("b.n_name"))
        .select(col("a.n_name").as("name_a"), col("b.n_name").as("name_b"))
        .distinct() // a pair can share several delete-1 keys
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 1)
        .orderBy("name_a", "name_b")
    }, oracle =
      s"""WITH fuzzy_keys AS (
            SELECT n_name,
                   unnest(list_distinct(list_append(
                     list_transform(generate_series(1, length(n_name)),
                       i -> substr(n_name, 1, i - 1) || substr(n_name, i + 1)),
                     n_name))) AS bk
            FROM nation
          )
          SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INT) AS dist
          FROM (
            SELECT DISTINCT a.n_name AS name_a, b.n_name AS name_b
            FROM fuzzy_keys a JOIN fuzzy_keys b
              ON a.bk = b.bk AND a.n_name < b.n_name
          )
          WHERE levenshtein(name_a, name_b) <= 1
          ORDER BY name_a, name_b"""),

    Query("q61_sessionize", scale = true, build = { (s, dir) =>
      Events.sessionize(TestData.events(s, dir)).orderBy("user_id", "session_seq")
    }, oracle =
      s"""${Events.sessionizeSql()}
          ORDER BY user_id, session_seq"""),

    // Ordered funnel: k-1 co-partitioned join+agg steps, no per-user state.
    Query("q108_funnel", scale = true, build = { (s, dir) =>
      Funnel.funnel(TestData.events(s, dir)).orderBy("stage_idx")
    }, oracle =
      s"""${Funnel.funnelSql()}
          ORDER BY stage_idx"""),

    // Incremental MV maintenance: merge(agg(base), agg(delta)) must equal
    // the full recompute (the oracle computes the latter).
    Query("q115_incremental_mv", scale = false, build = { (s, dir) =>
      graft.operators.Incremental
        .monthlyOrdersMerged(TestData.orders(s, dir), "1999-01-01")
        .orderBy("ym")
    }, oracle =
      s"""${graft.operators.Incremental.monthlyOrdersFullSql}
          ORDER BY ym"""),

    // Order-independent table checksum over engine-stable renderings.
    Query("q114_table_fingerprint", scale = false, build = { (s, dir) =>
      DataQuality.fingerprint(TestData.orders(s, dir), Seq(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), quant(col("o_totalprice"), 100),
        // NTZ → TZ cast is identity under the pinned UTC session zone
        unix_millis(col("o_orderdate").cast("timestamp"))))
    }, oracle =
      DataQuality.fingerprintSql("orders", Seq(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        quantSql("o_totalprice", 100), "epoch_ms(o_orderdate)"))),

    // Weekly cohort retention triangle.
    Query("q109_retention", scale = true, build = { (s, dir) =>
      Funnel.retention(TestData.events(s, dir)).orderBy("cohort_week", "week_offset")
    }, oracle =
      s"""${Funnel.retentionSql}
          ORDER BY cohort_week, week_offset"""),

    // Deterministic weighted sampling (integer A-Res) on the bounded heap.
    Query("q111_weighted_sample", scale = false, build = { (s, dir) =>
      Sampling.weightedSample(TestData.orders(s, dir)).orderBy("stratum", "o_orderkey")
    }, oracle =
      s"""${Sampling.weightedSampleSql()}
          ORDER BY stratum, o_orderkey"""),

    Query("q62_asof_join", scale = true, build = { (s, dir) =>
      Events.asOfLastSignup(TestData.events(s, dir)).orderBy("event_id")
    }, oracle =
      s"""${Events.asOfLastSignupSql}
          ORDER BY event_id"""),

    Query("q63_pivot_counts", scale = true, build = { (s, dir) =>
      Events.pivotCounts(TestData.events(s, dir)).orderBy("user_id")
    }, oracle =
      s"""${Events.pivotCountsSql}
          ORDER BY user_id"""),

    // SCD2 merge: close-and-append over a deterministic snapshot delta
    // (every 10th key changes, every 100th is brand new, every 3rd is
    // absent from the update) — all three paths of the merge exercised
    // and hash-checked against the oracle's full-join formulation.
    // Point-in-time join: every order joins the SCD2 version effective
    // on its order date (interval predicate as residual on the key
    // equi-join); pre-cut orders must aggregate under the OLD attribute.
    Query("q265_pit_join", scale = true, build = { (s, dir) =>
      Scd.pointInTimeJoin(TestData.orders(s, dir), TestData.customer(s, dir))
    }, oracle =
      s"""WITH ${Scd.pointInTimeJoinSql()}
          SELECT ver, nation, n_orders, total_cents
          FROM pit_join ORDER BY ver, nation"""),

    Query("q69_scd2_merge", scale = false, build = { (s, dir) =>
      val cust = TestData.customer(s, dir)
      val dim = cust.select(col("c_custkey").as("k"),
        col("c_nationkey").cast("int").as("nation"),
        lit(java.sql.Date.valueOf("2020-01-01")).as("effective_from"),
        lit(null).cast("date").as("effective_to"))
      val upd = cust.filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("k"),
          when(col("c_custkey") % 10 === 0, (col("c_nationkey") + 1) % 25)
            .otherwise(col("c_nationkey")).cast("int").as("nation"))
        .unionByName(cust.filter(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") + 1000000L).as("k"),
            lit(7).cast("int").as("nation")))
      Scd.type2(dim, upd, "k", Seq("nation"),
          lit(java.sql.Date.valueOf("2024-06-01")))
        .orderBy(col("k"), col("effective_from"))
    }, oracle =
      """WITH dim AS (
        |  SELECT c_custkey AS k, CAST(c_nationkey AS INT) AS nation,
        |         DATE '2020-01-01' AS effective_from,
        |         CAST(NULL AS DATE) AS effective_to
        |  FROM customer),
        |upd AS (
        |  SELECT c_custkey AS k,
        |         CAST(CASE WHEN c_custkey % 10 = 0 THEN (c_nationkey + 1) % 25
        |              ELSE c_nationkey END AS INT) AS nation
        |  FROM customer WHERE c_custkey % 3 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000 AS k, CAST(7 AS INT) AS nation
        |  FROM customer WHERE c_custkey % 100 = 0),
        |keep AS (
        |  SELECT d.k, d.nation, d.effective_from, d.effective_to
        |  FROM dim d LEFT JOIN upd u ON d.k = u.k
        |  WHERE u.k IS NULL OR d.nation = u.nation),
        |close AS (
        |  SELECT d.k, d.nation, d.effective_from, DATE '2024-06-01' AS effective_to
        |  FROM dim d JOIN upd u ON d.k = u.k WHERE d.nation <> u.nation),
        |opennew AS (
        |  SELECT u.k, u.nation, DATE '2024-06-01' AS effective_from,
        |         CAST(NULL AS DATE) AS effective_to
        |  FROM upd u LEFT JOIN dim d ON d.k = u.k
        |  WHERE d.k IS NULL OR d.nation <> u.nation)
        |SELECT * FROM keep UNION ALL SELECT * FROM close
        |UNION ALL SELECT * FROM opennew
        |ORDER BY k, effective_from""".stripMargin),

    // CDC detection: classify keys across two snapshots as
    // insert/update/delete via one full-outer join (delta derived in-plan:
    // every 10th key changes, every 7th is deleted, every 100th is new).
    Query("q112_snapshot_diff", scale = false, build = { (s, dir) =>
      val cust = TestData.customer(s, dir)
      val oldSnap = cust.select(col("c_custkey").as("k"),
        col("c_nationkey").cast("int").as("nation"), col("c_mktsegment").as("seg"))
      val newSnap = cust.filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey").as("k"),
          when(col("c_custkey") % 10 === 0, (col("c_nationkey") + 1) % 25)
            .otherwise(col("c_nationkey")).cast("int").as("nation"),
          col("c_mktsegment").as("seg"))
        .unionByName(cust.filter(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") + 1000000L).as("k"),
            lit(7).cast("int").as("nation"), lit("NEW").as("seg")))
      Scd.snapshotDiff(oldSnap, newSnap, "k", Seq("nation", "seg"))
        .orderBy("k", "change_type")
    }, oracle =
      """WITH oldsnap AS (
        |  SELECT c_custkey AS k, CAST(c_nationkey AS INT) AS nation,
        |         c_mktsegment AS seg
        |  FROM customer),
        |newsnap AS (
        |  SELECT c_custkey AS k,
        |         CAST(CASE WHEN c_custkey % 10 = 0 THEN (c_nationkey + 1) % 25
        |              ELSE c_nationkey END AS INT) AS nation,
        |         c_mktsegment AS seg
        |  FROM customer WHERE c_custkey % 7 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000 AS k, CAST(7 AS INT) AS nation, 'NEW' AS seg
        |  FROM customer WHERE c_custkey % 100 = 0)
        |SELECT * FROM (
        |  SELECT COALESCE(o.k, n.k) AS k,
        |         CASE WHEN o.k IS NULL THEN 'insert'
        |              WHEN n.k IS NULL THEN 'delete'
        |              WHEN (o.nation IS DISTINCT FROM n.nation)
        |                OR (o.seg IS DISTINCT FROM n.seg) THEN 'update' END AS change_type,
        |         n.nation, n.seg
        |  FROM oldsnap o FULL OUTER JOIN newsnap n ON o.k = n.k)
        |WHERE change_type IS NOT NULL
        |ORDER BY k, change_type""".stripMargin),

    // Salted two-phase aggregation: the skew-mitigation rewrite must be
    // invisible in the result — the oracle is the PLAIN group-by. Money
    // stays decimal through both phases so partial-sum order can't leak.
    Query("q70_salted_agg", scale = false, build = { (s, dir) =>
      Skew.saltedSum(TestData.events(s, dir), "user_id",
          money(col("value")), saltFrom = col("event_id"))
        .select(col("user_id"),
          moneyOut(col("total").cast("decimal(18,2)")).as("total"))
        .orderBy("user_id")
    },
      // the salt must be invisible: plain group-by is the oracle
      oracle =
      s"""SELECT user_id,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("value")}) AS DECIMAL(18,2))")} AS total
          FROM events
          GROUP BY user_id
          ORDER BY user_id"""),

    // Range join: value-tier banding via θ-join against a broadcast
    // 3-row range table.
    Query("q72_range_join", scale = true, build = { (s, dir) =>
      Events.tierTotals(TestData.events(s, dir))
    }, oracle = Events.tierTotalsSql),
  )
}
