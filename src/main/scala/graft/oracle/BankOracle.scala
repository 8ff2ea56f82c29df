package graft.oracle

import graft.functions.BankFunctions._
import graft.operators.BankEtl
import graft.sources.BankAdapter

/** DuckDB-SQL twin of [[graft.operators.BankEtl]]: the whole star-schema
  * build as a CTE chain, generated from the SAME Scala constants (keyword
  * lists, labels, bucket edges) the Spark expressions use — engine and
  * oracle cannot drift. DuckDB only evaluates the CTEs a query references.
  */
object BankOracle {

  private val asOf = BankEtl.defaultAsOfSql

  val prelude: String = {
    val descClassifier = categoryFromDescriptionSql("t.TransactionDescription")
    s"""WITH ${BankAdapter.ctes},
       |clean_accounts AS (
       |  SELECT a.AccountID, a.CustomerID, a.AccountType, a.OpenDate
       |  FROM bank_accounts a JOIN bank_customers c USING (CustomerID)
       |  WHERE a.OpenDate > c.BirthDate),
       |clean_customers AS (
       |  SELECT c.* FROM bank_customers c
       |  WHERE EXISTS (SELECT 1 FROM clean_accounts a WHERE a.CustomerID = c.CustomerID)),
       |clean_transactions AS (
       |  SELECT t.TransactionID, t.AccountID, t.MerchantName, t.Amount,
       |         t.TransactionTimestamp, t.TransactionCountry, t.BeneficiaryName,
       |         t.TransactionDescription
       |  FROM bank_transactions t JOIN clean_accounts a USING (AccountID)
       |  WHERE t.TransactionTimestamp >= a.OpenDate),
       |tx_classified AS (
       |  SELECT t.*,
       |         COALESCE(t.MerchantName, t.BeneficiaryName) AS Final_Name,
       |         CASE WHEN t.MerchantName IS NOT NULL AND m.Category IS NOT NULL
       |              THEN m.Category
       |              ELSE $descClassifier END AS Category_Final
       |  FROM clean_transactions t
       |  LEFT JOIN bank_mcc m ON t.MerchantName = m.MerchantName),
       |dim_customer AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY CustomerID) AS Customer_Key,
       |         CustomerID AS CustomerID_Source,
       |         FirstName || ' ' || LastName AS CustomerName,
       |         ${ageGroupSql(ageSql("BirthDate", asOf))} AS Age_Group,
       |         Gender, City, Country, BirthDate
       |  FROM clean_customers),
       |dim_account AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY AccountID) AS Account_Key,
       |         AccountID AS AccountID_Source,
       |         AccountType AS Account_Type,
       |         OpenDate AS Account_Open_Date
       |  FROM clean_accounts),
       |dim_merchant AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY MerchantName_Source) AS Merchant_Key,
       |         MerchantName_Source, Category
       |  FROM (SELECT Final_Name AS MerchantName_Source,
       |               arg_min(Category_Final,
       |                 lpad(CAST(TransactionID AS VARCHAR), 20, '0') || '|' || Category_Final)
       |                 AS Category
       |        FROM tx_classified GROUP BY Final_Name)),
       |dim_location AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY Transaction_Country) AS Location_Key,
       |         Transaction_Country,
       |         ${regionSql("Transaction_Country")} AS Transaction_Region
       |  FROM (SELECT DISTINCT TransactionCountry AS Transaction_Country
       |        FROM clean_transactions)),
       |dim_date AS (
       |  SELECT ${dateKeySql("ts_hour")} AS Date_Key,
       |         CAST(ts_hour AS DATE) AS Full_Date,
       |         ${dayOfWeekVnSql("ts_hour")} AS Day_Of_Week,
       |         ${dayNameSql(dayOfWeekVnSql("ts_hour"))} AS Day_Name,
       |         ${isWeekendSql(dayOfWeekVnSql("ts_hour"))} AS Is_Weekend,
       |         CAST(month(ts_hour) AS INT) AS Month,
       |         ${monthNameSql("month(ts_hour)")} AS Month_Name,
       |         CAST(quarter(ts_hour) AS INT) AS Quarter,
       |         CAST(year(ts_hour) AS INT) AS Year,
       |         CAST(hour(ts_hour) AS INT) AS Hour_Of_Day
       |  FROM (SELECT DISTINCT date_trunc('hour', TransactionTimestamp) AS ts_hour
       |        FROM clean_transactions)),
       |fact_spending AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY t.TransactionID,
       |           ${dateKeySql("t.TransactionTimestamp")}, dc.Customer_Key,
       |           da.Account_Key, dm.Merchant_Key, dl.Location_Key, t.Amount)
       |           AS Transaction_Key,
       |         ${dateKeySql("t.TransactionTimestamp")} AS Date_Key,
       |         dc.Customer_Key, da.Account_Key, dm.Merchant_Key, dl.Location_Key,
       |         t.Amount AS Amount_Spent,
       |         1 AS Transaction_Count
       |  FROM tx_classified t
       |  JOIN dim_account da ON t.AccountID = da.AccountID_Source
       |  JOIN clean_accounts ca ON t.AccountID = ca.AccountID
       |  JOIN dim_customer dc ON ca.CustomerID = dc.CustomerID_Source
       |  JOIN dim_merchant dm ON t.Final_Name = dm.MerchantName_Source
       |  JOIN dim_location dl ON t.TransactionCountry = dl.Transaction_Country)""".stripMargin
  }
}
