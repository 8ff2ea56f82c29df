package graft.operators

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BankFunctions._
import graft.sources.BankAdapter

/** The reference ETL (`etl_pipeline/etl.py`) as one lazy Spark DAG:
  * cleaning → star-schema dimensions → fact — no materialization between
  * steps, no IDENTITY read-back round-trip (keys are computed in the DAG,
  * [[SurrogateKeys]]), and the reference's O(n·m) per-row MCC dictionary
  * scans (`etl.py:201-203`) become one broadcast hash join.
  *
  * Joins: dimension sides that are provably bounded (merchant vocabulary,
  * country list, MCC dictionary) carry explicit `broadcast` hints; the
  * data-sized joins (accounts, customers) are left to Catalyst/AQE, which
  * picks broadcast at test scale and shuffled hash join at cluster scale.
  */
object BankEtl {

  /** Age asOf pinned for reproducibility (reference uses wall-clock `now`,
    * `etl.py:145` — a hidden input we make explicit).
    */
  val defaultAsOf: Date = Date.valueOf("2026-01-01")
  val defaultAsOfSql: String = "DATE '2026-01-01'"

  // ---------------------------------------------------------------- inputs

  final case class Bank(
      customers: DataFrame,
      accounts: DataFrame,
      transactions: DataFrame,
      mcc: DataFrame)

  def read(spark: SparkSession, dir: String): Bank = Bank(
    BankAdapter.customers(spark, dir),
    BankAdapter.accounts(spark, dir),
    BankAdapter.transactions(spark, dir),
    BankAdapter.mccMapping(spark, dir))

  // -------------------------------------------------------------- cleaning

  /** J1+P2 (etl.py:105-110): drop accounts opened on/before the owner's
    * birth date (strict `>` keeps the boundary row OUT).
    */
  def cleanAccounts(accounts: DataFrame, customers: DataFrame): DataFrame =
    accounts
      .join(customers.select("CustomerID", "BirthDate"), Seq("CustomerID"))
      .filter(col("OpenDate") > col("BirthDate"))
      .select("AccountID", "CustomerID", "AccountType", "OpenDate")

  /** J2 (etl.py:117-121): keep only customers that own a surviving account. */
  def cleanCustomers(customers: DataFrame, cleanAccounts: DataFrame): DataFrame =
    customers.join(cleanAccounts.select("CustomerID"), Seq("CustomerID"), "left_semi")

  /** J3+P4+P5 (etl.py:124-134): inner join doubles as the orphan filter;
    * `>=` KEEPS a transaction at the exact open instant.
    */
  def cleanTransactions(transactions: DataFrame, cleanAccounts: DataFrame): DataFrame =
    transactions
      .join(cleanAccounts.select("AccountID", "OpenDate"), Seq("AccountID"))
      .filter(col("TransactionTimestamp") >= col("OpenDate"))
      .select("TransactionID", "AccountID", "MerchantName", "Amount",
        "TransactionTimestamp", "TransactionCountry", "BeneficiaryName",
        "TransactionDescription")

  // ---------------------------------------------------- merchant classifier

  /** J4+D5+D6: counterparty name coalesce + category resolution. MCC
    * dictionary probe is a broadcast left join (first occurrence wins via
    * the adapter's already-distinct dictionary); misses fall through to the
    * keyword classifier over the description — including the reference's
    * str(NaN)="nan" quirk for POS rows with no dictionary entry.
    */
  def classified(cleanTx: DataFrame, mcc: DataFrame): DataFrame =
    cleanTx
      .join(broadcast(mcc), Seq("MerchantName"), "left")
      .withColumn("Final_Name", coalesce(col("MerchantName"), col("BeneficiaryName")))
      .withColumn("Category_Final",
        when(col("MerchantName").isNotNull && col("Category").isNotNull, col("Category"))
          .otherwise(categoryFromDescription(col("TransactionDescription"))))

  // ------------------------------------------------------------ dimensions

  /** Dim_Customer (etl.py:143-167): D1 age, D2 bucket, D3 name concat. */
  def dimCustomer(cleanCust: DataFrame, asOf: Date = defaultAsOf): DataFrame =
    SurrogateKeys.dense(
      cleanCust.select(
        col("CustomerID").as("CustomerID_Source"),
        concat(col("FirstName"), lit(" "), col("LastName")).as("CustomerName"),
        ageGroup(age(col("BirthDate"), lit(asOf))).as("Age_Group"),
        col("Gender"), col("City"), col("Country"), col("BirthDate")),
      "Customer_Key", col("CustomerID_Source"))

  /** Dim_Account (etl.py:169-171). */
  def dimAccount(cleanAcc: DataFrame): DataFrame =
    SurrogateKeys.dense(
      cleanAcc.select(
        col("AccountID").as("AccountID_Source"),
        col("AccountType").as("Account_Type"),
        col("OpenDate").as("Account_Open_Date")),
      "Account_Key", col("AccountID_Source"))

  /** Dim_Merchant (etl.py:186-229): keep-FIRST category per counterparty.
    * pandas keeps first in row order; we make that deterministic as
    * min-by-(TransactionID, Category), computed with `min_by`
    * (partial-aggregatable — no single-partition window, no skew blowup on
    * popular merchants). The Category component of the ordering key makes
    * the pick a TOTAL order, so correctness never rests on TransactionID
    * uniqueness — the sf0.1 data proved ids can collide.
    *
    * The ordering key is a struct — field-by-field comparison, no per-row
    * string allocation. The DuckDB oracle can't order a struct in arg_min,
    * so it keeps the equivalent zero-padded composite string
    * (lexicographic on `lpad(tid,20,'0')||'|'||category` == (tid numeric,
    * category) — both are total orders with identical argmin).
    */
  def dimMerchant(classifiedTx: DataFrame): DataFrame =
    SurrogateKeys.dense(
      classifiedTx
        .groupBy(col("Final_Name").as("MerchantName_Source"))
        .agg(min_by(col("Category_Final"),
          struct(col("TransactionID"), col("Category_Final"))).as("Category")),
      "Merchant_Key", col("MerchantName_Source"))

  /** Dim_Location (etl.py:173-183): A1 distinct + D4 region bucket. */
  def dimLocation(cleanTx: DataFrame): DataFrame =
    SurrogateKeys.dense(
      cleanTx.select(col("TransactionCountry").as("Transaction_Country")).distinct()
        .withColumn("Transaction_Region", region(col("Transaction_Country"))),
      "Location_Key", col("Transaction_Country"))

  /** Dim_Date (etl.py:232-270): hourly grain. Distinct FIRST on the
    * truncated hour (cheap, partial-aggregatable), then the D7-D12
    * derivations run once per distinct hour instead of once per row.
    */
  def dimDate(cleanTx: DataFrame): DataFrame = {
    val hourly = cleanTx
      .select(date_trunc("hour", col("TransactionTimestamp")).as("ts_hour"))
      .distinct()
    val dow = dayOfWeekVn(col("ts_hour"))
    hourly.select(
      dateKey(col("ts_hour")).as("Date_Key"),
      to_date(col("ts_hour")).as("Full_Date"),
      dow.as("Day_Of_Week"),
      dayName(dow).as("Day_Name"),
      isWeekend(dow).as("Is_Weekend"),
      month(col("ts_hour")).as("Month"),
      monthName(month(col("ts_hour"))).as("Month_Name"),
      quarter(col("ts_hour")).as("Quarter"),
      year(col("ts_hour")).as("Year"),
      hour(col("ts_hour")).as("Hour_Of_Day"))
  }

  // ------------------------------------------------------------------ fact

  /** Fact_Spending (etl.py:329-379): J5-J9 surrogate-key resolution, D12
    * Date_Key, D13 unit count measure, P7 projection, plus the
    * `Transaction_Key BIGINT IDENTITY` PK (`schema.sql:116`). The reference's
    * IDENTITY assigns in arbitrary load order; we pin a deterministic TOTAL
    * order — TransactionID first (the OLTP PK), then every other fact column
    * as tie-breaks, because the source ids are not guaranteed unique
    * (see [[dimMerchant]]: the sf0.1 data proved ids can collide). On a full
    * tie all remaining columns are equal too, so the rows are
    * indistinguishable and any key↔row pairing yields the same result set.
    * Assigned at fact scale via range-partition + zipWithIndex
    * ([[SurrogateKeys.dense]] — never a single-partition global window).
    */
  def factSpending(
      classifiedTx: DataFrame,
      cleanAcc: DataFrame,
      dimCust: DataFrame,
      dimAcc: DataFrame,
      dimMerch: DataFrame,
      dimLoc: DataFrame): DataFrame = {
    val joined = classifiedTx
      .join(dimAcc.select(col("Account_Key"), col("AccountID_Source")),
        col("AccountID") === col("AccountID_Source"))
      .join(cleanAcc.select("AccountID", "CustomerID"), Seq("AccountID"))
      .join(dimCust.select(col("Customer_Key"), col("CustomerID_Source")),
        col("CustomerID") === col("CustomerID_Source"))
      .join(broadcast(dimMerch.select(col("Merchant_Key"), col("MerchantName_Source"))),
        col("Final_Name") === col("MerchantName_Source"))
      .join(broadcast(dimLoc.select(col("Location_Key"), col("Transaction_Country"))),
        col("TransactionCountry") === col("Transaction_Country"))
      .select(
        col("TransactionID"),
        dateKey(col("TransactionTimestamp")).as("Date_Key"),
        col("Customer_Key"), col("Account_Key"), col("Merchant_Key"), col("Location_Key"),
        col("Amount").as("Amount_Spent"),
        lit(1).as("Transaction_Count"))
    SurrogateKeys.dense(joined, "Transaction_Key",
        col("TransactionID"), col("Date_Key"), col("Customer_Key"), col("Account_Key"),
        col("Merchant_Key"), col("Location_Key"), col("Amount_Spent"))
      .drop("TransactionID")
  }

  // ------------------------------------------------------------- pipeline

  /** Lazily-constructed star schema. Members are `lazy val`s because
    * surrogate-key assignment (RDD.zipWithIndex) runs its partition-count
    * job EAGERLY at RDD construction — an eager Warehouse would execute
    * four key-assignment jobs even for a caller that only wants the
    * cleaned accounts.
    */
  final class Warehouse(bankSrc: () => Bank, asOf: Date, cache: Boolean) {
    private lazy val bank = bankSrc()
    // feeds Dim_Account, the customer semi-join AND two fact joins
    lazy val cleanAccounts: DataFrame =
      cached(BankEtl.cleanAccounts(bank.accounts, bank.customers))
    lazy val cleanCustomers: DataFrame = BankEtl.cleanCustomers(bank.customers, cleanAccounts)
    lazy val cleanTransactions: DataFrame =
      BankEtl.cleanTransactions(bank.transactions, cleanAccounts)
    lazy val classifiedTx: DataFrame = classified(cleanTransactions, bank.mcc)
    // What gets cached is a NARROW projection: the union of the columns its
    // four readers (dimDate, dimMerchant, dimLocation, fact) actually use.
    // Caching the full classified set materializes the wide string columns
    // (MerchantName/Beneficiary/Description — needed only by the q22
    // boundary query) and measured SLOWER than pruned parquet recomputes
    // (3.1 s fill + 1.8 s per read vs 0.6 s per recompute at sf0.1); the
    // 7-column slice keeps the reuse without the width.
    private lazy val classifiedSlim: DataFrame = cached(classifiedTx.select(
      "TransactionID", "AccountID", "Amount", "TransactionTimestamp",
      "TransactionCountry", "Final_Name", "Category_Final"))
    // Dims and fact are cached too (when `cache`): surrogate-key assignment
    // is an RDD zipWithIndex round-trip that exits Tungsten — recomputing it
    // per dashboard query re-runs that job AND the 5-way fact join each time
    // (measured: q30/q31 were 3.4 s/4.5 s uncached, dominated by re-assembly).
    private def cached(df: => DataFrame): DataFrame = if (cache) df.cache() else df
    lazy val dimDate: DataFrame = cached(BankEtl.dimDate(classifiedSlim))
    lazy val dimCustomer: DataFrame = cached(BankEtl.dimCustomer(cleanCustomers, asOf))
    lazy val dimAccount: DataFrame = cached(BankEtl.dimAccount(cleanAccounts))
    lazy val dimMerchant: DataFrame = cached(BankEtl.dimMerchant(classifiedSlim))
    lazy val dimLocation: DataFrame = cached(BankEtl.dimLocation(classifiedSlim))
    lazy val fact: DataFrame = cached(
      factSpending(classifiedSlim, cleanAccounts, dimCustomer, dimAccount, dimMerchant, dimLocation))

    /** The star schema by warehouse table name — single source of truth
      * for every consumer that enumerates it (JDBC load, data-quality
      * sweep, round-trip tests); add a dimension HERE and all of them
      * see it.
      */
    lazy val tables: Map[String, DataFrame] = Map(
      "Dim_Date" -> dimDate,
      "Dim_Customer" -> dimCustomer,
      "Dim_Account" -> dimAccount,
      "Dim_Merchant" -> dimMerchant,
      "Dim_Location" -> dimLocation,
      "Fact_Spending" -> fact)
  }

  /** Full star-schema build as one lazy DAG. `cache` materializes the
    * cleaned-accounts and classified-transaction sets once — they feed
    * multiple dims AND the fact (the reference recomputes them,
    * SURVEY.md §4).
    */
  def build(spark: SparkSession, dir: String, asOf: Date = defaultAsOf,
      cache: Boolean = false): Warehouse =
    new Warehouse(() => read(spark, dir), asOf, cache)

  /** Star schema over caller-provided OLTP inputs — e.g. the reference's
    * own seed data via [[graft.sources.SeedSql.bank]].
    */
  def buildFrom(bank: Bank, asOf: Date = defaultAsOf, cache: Boolean = false): Warehouse =
    new Warehouse(() => bank, asOf, cache)

  /** Session-scoped warehouse memo: the fact and the three dashboards all
    * need the same star schema — materialize it once per (session, dir,
    * asOf) like a warehouse would keep its conformed dimensions resident,
    * instead of re-running the cleaning joins four times.
    */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Date), Warehouse]()

  def buildCached(spark: SparkSession, dir: String, asOf: Date = defaultAsOf): Warehouse =
    memo.computeIfAbsent((spark, dir, asOf), _ => build(spark, dir, asOf, cache = true))

  // ------------------------------------------------------ SQL entry surface

  /** Register the star schema under the warehouse DDL's table names
    * (`schema.sql:71-135`), making the engine usable from pure SQL text —
    * the reference's actual analytics entry point (`dashboard.py:34-67` is
    * SQL strings shipped to SQL Server).
    */
  def registerViews(w: Warehouse): Unit = {
    w.dimDate.createOrReplaceTempView("Dim_Date")
    w.dimCustomer.createOrReplaceTempView("Dim_Customer")
    w.dimAccount.createOrReplaceTempView("Dim_Account")
    w.dimMerchant.createOrReplaceTempView("Dim_Merchant")
    w.dimLocation.createOrReplaceTempView("Dim_Location")
    w.fact.createOrReplaceTempView("Fact_Spending")
  }

  /** The three dashboard queries as literal Spark SQL strings over the
    * [[registerViews]] views — `dashboard.py:34-43,47-55,59-67` verbatim up
    * to dialect (`TOP 5` → `LIMIT 5`, T-SQL string concat → format_string,
    * money rendered DOUBLE at the boundary, deterministic tie-breaks).
    * Each goes through the full SQL lifecycle: parse → analyze → optimize →
    * execute, and must produce exactly what the DataFrame twins
    * ([[dashTrend]]/[[dashTopCategories]]/[[dashAgeGroups]]) produce —
    * asserted by SqlSurfaceSpec's differentials.
    */
  object DashboardSql {
    val trend: String =
      """SELECT d.Year, d.Month,
        |       format_string('%d-%02d', d.Year, d.Month) AS YearMonth,
        |       CAST(CAST(SUM(f.Amount_Spent) AS DECIMAL(18,2)) AS DOUBLE) AS Total_Spent
        |FROM Fact_Spending f JOIN Dim_Date d ON f.Date_Key = d.Date_Key
        |GROUP BY d.Year, d.Month
        |ORDER BY d.Year, d.Month""".stripMargin

    val topCategories: String =
      """SELECT m.Category,
        |       CAST(CAST(SUM(f.Amount_Spent) AS DECIMAL(18,2)) AS DOUBLE) AS Total_Spent
        |FROM Fact_Spending f JOIN Dim_Merchant m ON f.Merchant_Key = m.Merchant_Key
        |GROUP BY m.Category
        |ORDER BY Total_Spent DESC, m.Category
        |LIMIT 5""".stripMargin

    val ageGroups: String =
      """SELECT c.Age_Group,
        |       CAST(CAST(SUM(f.Amount_Spent) AS DECIMAL(18,2)) AS DOUBLE) AS Total_Spent
        |FROM Fact_Spending f JOIN Dim_Customer c ON f.Customer_Key = c.Customer_Key
        |GROUP BY c.Age_Group
        |ORDER BY Total_Spent DESC, c.Age_Group""".stripMargin
  }

  // ----------------------------------------------------- dashboard queries

  /** Q1 monthly spend trend (dashboard.py:34-43): A4 + O1 + D14.
    * Aggregation is exact decimal; Total_Spent leaves as DOUBLE
    * ([[graft.functions.OracleSafe.moneyOut]]).
    */
  def dashTrend(fact: DataFrame, dimDate: DataFrame): DataFrame =
    fact.join(dimDate.select("Date_Key", "Year", "Month"), Seq("Date_Key"))
      .groupBy("Year", "Month")
      .agg(sum(col("Amount_Spent")).cast("decimal(18,2)").cast("double").as("Total_Spent"))
      .select(col("Year"), col("Month"),
        yearMonth(col("Year"), col("Month")).as("YearMonth"), col("Total_Spent"))
      .orderBy("Year", "Month")

  /** Q2 top-5 categories (dashboard.py:47-55): A5 + O2, deterministic
    * tie-break on Category added (reference order is engine-arbitrary).
    */
  def dashTopCategories(fact: DataFrame, dimMerchant: DataFrame): DataFrame =
    fact.join(broadcast(dimMerchant.select("Merchant_Key", "Category")), Seq("Merchant_Key"))
      .groupBy("Category")
      .agg(sum(col("Amount_Spent")).cast("decimal(18,2)").cast("double").as("Total_Spent"))
      .orderBy(desc("Total_Spent"), asc("Category"))
      .limit(5)

  /** Q3 spend by age group (dashboard.py:59-67): A6 + O3 + tie-break. */
  def dashAgeGroups(fact: DataFrame, dimCustomer: DataFrame): DataFrame =
    fact.join(dimCustomer.select("Customer_Key", "Age_Group"), Seq("Customer_Key"))
      .groupBy("Age_Group")
      .agg(sum(col("Amount_Spent")).cast("decimal(18,2)").cast("double").as("Total_Spent"))
      .orderBy(desc("Total_Spent"), asc("Age_Group"))
}
