package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Constraint validation — the engine's substitute for the reference's SQL
  * Server PK/FK constraints (`schema.sql:130-134`; SURVEY.md §7.4-8).
  * Each check is an anti-join / aggregation returning VIOLATION COUNTS, so
  * a pipeline can assert emptiness cheaply after a build.
  */
object DataQuality {

  final case class Violations(check: String, count: Long)

  /** One row per dim: (display name, oracle CTE name, surrogate key).
    * [[checksDf]] and q37's DuckDB oracle both iterate THIS list,
    * so the check set cannot drift between engine and oracle.
    */
  val dimKeys: Seq[(String, String, String)] = Seq(
    ("Dim_Date", "dim_date", "Date_Key"),
    ("Dim_Customer", "dim_customer", "Customer_Key"),
    ("Dim_Account", "dim_account", "Account_Key"),
    ("Dim_Merchant", "dim_merchant", "Merchant_Key"),
    ("Dim_Location", "dim_location", "Location_Key"))

  /** All FK/PK checks as ONE lazy DataFrame of (check_name, violations):
    * every fact key resolves (anti-join counts) and dim keys are unique
    * (count − count-distinct). Each branch is a distributed aggregate over
    * a pruned single-column projection, so the whole sweep is a handful of
    * shuffle-light jobs even on a 100 TB fact.
    */
  def checksDf(w: BankEtl.Warehouse): DataFrame = {
    val branches = dimKeys.flatMap { case (name, _, key) =>
      val dim = w.tables(name)
      Seq(
        w.fact.join(dim.select(col(key)), Seq(key), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit(s"fact.$key orphans").as("check_name"), col("violations")),
        dim.agg((count(col(key)) - countDistinct(col(key))).as("violations"))
          .select(lit(s"$name dup keys").as("check_name"), col("violations")))
    }
    branches.reduce(_.unionByName(_)).orderBy("check_name")
  }

  /** FK checks: every fact key resolves; PK checks: dim keys unique. */
  def warehouseChecks(w: BankEtl.Warehouse): Seq[Violations] =
    checksDf(w).collect().toSeq
      .map(r => Violations(r.getString(0), r.getLong(1)))

  /** Order-independent table checksum — the 100 TB answer to "is the
    * replica byte-identical to the source?" without sorting either side:
    * per row, a 32-bit integer from md5 over the '|'-joined column values;
    * the table fingerprint is (row count, SUM of row hashes). Addition is
    * commutative/associative, so the aggregate map-side-combines and the
    * result is independent of partitioning, task order, and row order.
    * A fingerprint MISMATCH proves the tables differ; a match makes
    * equality overwhelmingly likely but is not a proof (32-bit row hashes
    * can collide, and sums of differing hash multisets can coincide) —
    * the usual checksum contract. 32-bit row hashes
    * keep the BIGINT sum overflow-free (ANSI mode would throw) up to
    * 2×10⁹ rows per fingerprint; beyond that, fingerprint partition-wise
    * or widen to DECIMAL(38,0) sums.
    *
    * Caller contract: pass engine-stable string columns only (integers,
    * strings, epoch millis, quantized decimals) — raw DOUBLE or TIMESTAMP
    * rendering differs across engines and would break cross-engine
    * comparison (the same rule the oracle twins follow everywhere else).
    * Both engines' concat_ws skip NULL values identically.
    */
  def fingerprint(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.select(conv(substring(md5(concat_ws("|", cols: _*)), 1, 8), 16, 10)
        .cast("long").as("h"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))

  /** DuckDB twin of [[fingerprint]] over the given SQL value expressions
    * (DuckDB's integer SUM yields HUGEINT — cast back to BIGINT).
    */
  def fingerprintSql(table: String, exprs: Seq[String]): String =
    s"""SELECT COUNT(*) AS n_rows, CAST(SUM(h) AS BIGINT) AS checksum
       |FROM (SELECT ('0x' || substring(md5(concat_ws('|', ${exprs.mkString(", ")})), 1, 8))::BIGINT AS h
       |      FROM $table)""".stripMargin

  def assertClean(w: BankEtl.Warehouse): Unit = {
    val bad = warehouseChecks(w).filter(_.count > 0)
    require(bad.isEmpty, s"constraint violations: ${bad.mkString(", ")}")
  }

  /** Functional-dependency audit: for each declared FD lhs → rhs, how many
    * lhs groups exist, how many VIOLATE the dependency (more than one
    * distinct rhs), and the worst fan-out. The discovery pass schema
    * inference and dedup keying both rely on ("is this column a key for
    * that one?") — run as plain distributed aggregates: one
    * shuffle per FD on the lhs key, map-side combinable, no row output.
    */
  def fdAudit(df: DataFrame, fds: Seq[(String, String, String)]): DataFrame = {
    require(fds.nonEmpty && fds.map(_._1).distinct.size == fds.size,
      s"FD names must be non-empty and distinct: ${fds.map(_._1)}")
    fds.map { case (name, lhs, rhs) =>
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("nd"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("nd")).as("max_fanout"))
        .select(lit(name).as("fd"), col("n_groups"), col("n_violating"),
          col("max_fanout"))
    }.reduce(_.unionByName(_))
  }

  /** DuckDB twin of [[fdAudit]] over a named table. */
  def fdAuditSql(table: String, fds: Seq[(String, String, String)]): String =
    fds.map { case (name, lhs, rhs) =>
      s"""SELECT '$name' AS fd, COUNT(*) AS n_groups,
         |       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         |       MAX(nd) AS max_fanout
         |FROM (SELECT $lhs, CAST(COUNT(DISTINCT $rhs) AS BIGINT) AS nd
         |      FROM $table GROUP BY $lhs) g""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The row-wise expectation rules over `orders`, declared ONCE as
    * (rule type, target, Spark violation predicate, SQL violation
    * predicate) — both engines compile from this list, so the suite
    * cannot drift (the BankFunctions shared-constants pattern). Each
    * predicate marks a VIOLATING row.
    */
  val orderExpectations: Seq[(String, String, org.apache.spark.sql.Column, String)] = Seq(
    ("not_null", "o_custkey",
      col("o_custkey").isNull, "o_custkey IS NULL"),
    ("accepted_values", "o_orderstatus",
      !col("o_orderstatus").isin("O", "F", "P"),
      "o_orderstatus NOT IN ('O', 'F', 'P')"),
    ("positive", "o_totalprice",
      col("o_totalprice") <= 0.0, "o_totalprice <= 0.0"),
    ("pattern", "o_orderpriority",
      !col("o_orderpriority").rlike("^[1-5]-"),
      "NOT regexp_matches(o_orderpriority, '^[1-5]-')"))

  /** Expectation-suite data contract (the dbt-test / Great-Expectations
    * shape) evaluated the way a 100 TB table can afford: every ROW-WISE
    * rule ([[orderExpectations]]) plus the uniqueness check compile into
    * ONE map-side-combinable aggregate over one scan — a per-rule pass
    * (N scans for N rules, the naive test-runner plan) is the difference
    * between one job and a nightly backlog. The long-form report is
    * restored AFTER aggregation by exploding a literal struct array over
    * the 1-row result. The relationship rule (every o_custkey resolves
    * in customer) is inherently a second plan — a broadcast anti-join
    * count, the q37 FK pattern.
    */
  def expectationSuite(orders: DataFrame, customer: DataFrame): DataFrame = {
    val rowRules = orderExpectations.zipWithIndex.map { case ((_, _, c, _), i) =>
      sum(when(c, 1L).otherwise(0L)).as(s"v$i")
    }
    val uniq = (count(col("o_orderkey")) - countDistinct(col("o_orderkey")))
      .as("v_uniq")
    val agg = orders.agg(count(lit(1)).as("n_rows"), rowRules :+ uniq: _*)
    val entries = orderExpectations.zipWithIndex.map { case ((n, t, _, _), i) =>
      struct(lit(n).as("expectation"), lit(t).as("target"),
        col(s"v$i").as("n_violations"))
    } :+ struct(lit("unique").as("expectation"), lit("o_orderkey").as("target"),
      col("v_uniq").as("n_violations"))
    val rowReport = agg
      .select(col("n_rows"), explode(array(entries: _*)).as("e"))
      .select(col("e.expectation").as("expectation"), col("e.target").as("target"),
        col("n_rows"), col("e.n_violations").as("n_violations"))
    val rel = orders.join(broadcast(customer.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(broadcast(orders.agg(count(lit(1)).as("n_rows"))))
      .select(lit("relationship").as("expectation"),
        lit("o_custkey->customer").as("target"), col("n_rows"),
        col("n_violations"))
    rowReport.unionByName(rel)
      .withColumn("pass", col("n_violations") === 0L)
  }

  /** DuckDB twin of [[expectationSuite]] — compiled from the same
    * [[orderExpectations]] list; embed after `WITH ` and select from
    * `expectation_suite`.
    */
  def expectationSuiteSql(): String = {
    val rowAgg = orderExpectations.zipWithIndex.map { case ((_, _, _, p), i) =>
      s"CAST(SUM(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS v$i"
    }.mkString(",\n|         ")
    val rowSelects = orderExpectations.zipWithIndex.map { case ((n, t, _, _), i) =>
      s"""  SELECT '$n' AS expectation, '$t' AS target, n_rows,
         |         v$i AS n_violations FROM es_agg""".stripMargin
    }
    val uniqSelect =
      s"""  SELECT 'unique' AS expectation, 'o_orderkey' AS target, n_rows,
         |         v_uniq AS n_violations FROM es_agg""".stripMargin
    val relSelect =
      s"""  SELECT 'relationship' AS expectation, 'o_custkey->customer' AS target,
         |         (SELECT COUNT(*) FROM orders) AS n_rows,
         |         (SELECT COUNT(*) FROM orders o
         |          WHERE NOT EXISTS (SELECT 1 FROM customer c
         |                            WHERE c.c_custkey = o.o_custkey))
         |           AS n_violations""".stripMargin
    s"""es_agg AS (
       |  SELECT COUNT(*) AS n_rows,
       |         $rowAgg,
       |         COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v_uniq
       |  FROM orders),
       |expectation_suite AS (
       |  SELECT expectation, target, n_rows, n_violations,
       |         n_violations = 0 AS pass
       |  FROM (
       |${(rowSelects :+ uniqSelect :+ relSelect).mkString("\n  UNION ALL\n")}) u)""".stripMargin
  }
}
