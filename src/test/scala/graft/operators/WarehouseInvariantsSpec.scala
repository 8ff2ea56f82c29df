package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end invariants of the star-schema build (SURVEY.md §5.4): the
  * properties the reference could only enforce via SQL Server FK
  * constraints, checked structurally here.
  */
class WarehouseInvariantsSpec extends SparkSpec {

  private lazy val w = BankEtl.buildCached(spark, sf)
  private lazy val b = BankEtl.read(spark, sf)
  private lazy val cleanTx = BankEtl.cleanTransactions(
    b.transactions, BankEtl.cleanAccounts(b.accounts, b.customers))

  test("every fact foreign key resolves in its dimension") {
    assert(w.fact.join(w.dimCustomer, Seq("Customer_Key"), "left_anti").count() == 0)
    assert(w.fact.join(w.dimAccount, Seq("Account_Key"), "left_anti").count() == 0)
    assert(w.fact.join(w.dimMerchant, Seq("Merchant_Key"), "left_anti").count() == 0)
    assert(w.fact.join(w.dimLocation, Seq("Location_Key"), "left_anti").count() == 0)
    assert(w.fact.join(w.dimDate, Seq("Date_Key"), "left_anti").count() == 0)
  }

  test("fact row count == cleaned transaction count (no joins drop or duplicate)") {
    assert(w.fact.count() == cleanTx.count())
  }

  test("total spend is preserved from cleaned transactions to the fact") {
    val a = cleanTx.agg(sum("Amount")).head().getDecimal(0)
    val f = w.fact.agg(sum("Amount_Spent")).head().getDecimal(0)
    assert(a.compareTo(f) == 0)
  }

  test("Date_Key is bijective with (date, hour)") {
    val bad = w.dimDate.groupBy("Full_Date", "Hour_Of_Day")
      .agg(countDistinct("Date_Key").as("n")).filter(col("n") > 1).count()
    assert(bad == 0)
    assert(w.dimDate.select("Date_Key").distinct().count() == w.dimDate.count())
  }

  test("dimension keys are contiguous 1..N") {
    for (dim <- Seq(w.dimCustomer -> "Customer_Key", w.dimAccount -> "Account_Key",
        w.dimMerchant -> "Merchant_Key", w.dimLocation -> "Location_Key")) {
      val (df, key) = dim
      val n = df.count()
      val stats = df.agg(min(col(key)), max(col(key)), countDistinct(col(key))).head()
      assert(stats.getLong(0) == 1L && stats.getLong(1) == n && stats.getLong(2) == n,
        s"$key not contiguous")
    }
  }

  test("dashboard SQL-vs-DataFrame differential (SURVEY.md §5.5)") {
    w.fact.createOrReplaceTempView("Fact_Spending")
    w.dimMerchant.createOrReplaceTempView("Dim_Merchant")
    // the reference's Q2 as literal SQL (TOP 5 → LIMIT 5)
    val viaSql = spark.sql(
      """SELECT m.Category,
        |       CAST(CAST(SUM(f.Amount_Spent) AS DECIMAL(18,2)) AS DOUBLE) AS Total_Spent
        |FROM Fact_Spending f JOIN Dim_Merchant m ON f.Merchant_Key = m.Merchant_Key
        |GROUP BY m.Category ORDER BY Total_Spent DESC, m.Category LIMIT 5""".stripMargin)
    val viaDf = BankEtl.dashTopCategories(w.fact, w.dimMerchant)
    assert(viaSql.collect().toSeq == viaDf.collect().toSeq)
  }
}
