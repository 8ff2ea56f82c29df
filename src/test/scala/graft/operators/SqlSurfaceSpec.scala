package graft.operators

import graft.SparkSpec

/** The SQL-text entry surface (SURVEY.md §3, `dashboard.py:34-67`): all
  * three dashboards as literal `spark.sql(...)` strings over
  * [[BankEtl.registerViews]] must produce exactly what the DataFrame
  * builds produce — same rows, same order, same schema.
  */
class SqlSurfaceSpec extends SparkSpec {

  private lazy val w = {
    val wh = BankEtl.buildCached(spark, sf)
    BankEtl.registerViews(wh)
    wh
  }

  private def differential(sql: String, viaDf: org.apache.spark.sql.DataFrame): Unit = {
    val viaSql = spark.sql(sql)
    assert(viaSql.schema == viaDf.schema)
    assert(viaSql.collect().toSeq == viaDf.collect().toSeq)
  }

  test("Q1 monthly trend: SQL text == DataFrame build") {
    differential(BankEtl.DashboardSql.trend, BankEtl.dashTrend(w.fact, w.dimDate))
  }

  test("Q2 top-5 categories: SQL text == DataFrame build") {
    differential(BankEtl.DashboardSql.topCategories,
      BankEtl.dashTopCategories(w.fact, w.dimMerchant))
  }

  test("Q3 age groups: SQL text == DataFrame build") {
    differential(BankEtl.DashboardSql.ageGroups, BankEtl.dashAgeGroups(w.fact, w.dimCustomer))
  }

  test("registerViews exposes all six warehouse tables to SQL") {
    for (v <- Seq("Dim_Date", "Dim_Customer", "Dim_Account", "Dim_Merchant",
        "Dim_Location", "Fact_Spending")) {
      assert(spark.sql(s"SELECT count(*) AS n FROM $v").head().getLong(0) > 0, v)
    }
  }
}
