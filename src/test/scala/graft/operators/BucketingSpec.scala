package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TestData

class BucketingSpec extends SparkSpec {

  test("co-bucketed tables join without a shuffle exchange") {
    val orders = TestData.orders(spark, sf)
    val lineitem = TestData.lineitem(spark, sf)
    Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", 4)
    Bucketing.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 4)

    // the merge hint sits on a join relation, so Spark honours it: no
    // broadcast, and the sort-merge join exercises the bucketing
    val joined = spark.table("b_orders").hint("merge")
      .join(spark.table("b_lineitem"), Seq("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join in:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected no shuffle exchange in:\n$plan")
    // and it still computes the right thing
    val expected = orders.join(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), Seq("o_orderkey")).count()
    assert(joined.count() == expected)
  }

  test("db-qualified rewrite never touches the look-alike default-db path") {
    val nation = TestData.nation(spark, sf)
    spark.sql("CREATE DATABASE IF NOT EXISTS bdb")
    // a directory whose name matches the OLD hand-derived path
    // <warehouse>/<'bdb.btab'.toLowerCase> — a correct implementation must
    // leave it alone
    val wh = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val lookAlike = new java.io.File(wh, "bdb.btab")
    lookAlike.mkdirs()
    val sentinel = new java.io.File(lookAlike, "sentinel")
    sentinel.createNewFile()
    // and stale files at the REAL managed location (<warehouse>/bdb.db/btab)
    // with no catalog entry — the previous-session leftover that makes
    // saveAsTable refuse with LOCATION_ALREADY_EXISTS unless cleared
    val staleReal = new java.io.File(new java.io.File(wh, "bdb.db"), "btab")
    staleReal.mkdirs()
    new java.io.File(staleReal, "stale").createNewFile()

    Bucketing.writeBucketed(nation, "bdb.btab", "n_nationkey", 2)
    // overwrite again: exercises the tableExists → catalog-resolved path
    Bucketing.writeBucketed(nation, "bdb.btab", "n_nationkey", 2)
    assert(spark.table("bdb.btab").count() == nation.count())
    assert(sentinel.exists(), "unrelated look-alike directory was deleted")
    spark.sql("DROP TABLE bdb.btab")
    spark.sql("DROP DATABASE bdb")
  }

  test("external table AT the default managed path is refused, files intact") {
    // adopting existing files at the managed location: a rewrite cannot
    // both preserve them (DROP semantics) and clear the directory for the
    // managed write — it must refuse BEFORE any destructive step
    val nation = TestData.nation(spark, sf)
    val target = new java.io.File(spark.sessionState.catalog
      .defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier("adopt_btab")))
    nation.write.parquet(target.toString)
    spark.sql(s"CREATE TABLE adopt_btab USING parquet LOCATION '${target.toURI}'")
    val e = intercept[IllegalArgumentException] {
      Bucketing.writeBucketed(nation, "adopt_btab", "n_nationkey", 2)
    }
    assert(e.getMessage.contains("default"))
    assert(spark.table("adopt_btab").count() == nation.count(), "data untouched")
    assert(target.exists(), "files untouched")
    spark.sql("DROP TABLE adopt_btab")
  }

  test("external table's custom-location files are never deleted (self-rewrite safe)") {
    val nation = TestData.nation(spark, sf)
    val custom = java.nio.file.Files.createTempDirectory("ext-loc").resolve("t")
    nation.write.parquet(custom.toString)
    spark.sql(
      s"CREATE TABLE ext_btab USING parquet LOCATION '${custom.toUri}'")
    assert(spark.table("ext_btab").count() == nation.count())

    // rewrite the table FROM ITSELF: the df lazily re-reads the external
    // files, so deleting them before the write would destroy both the
    // table and its source — the delete must target only the new managed
    // location
    Bucketing.writeBucketed(spark.table("ext_btab"), "ext_btab", "n_nationkey", 2)
    assert(spark.table("ext_btab").count() == nation.count())
    assert(custom.toFile.exists(),
      "external source files must survive the rewrite (DROP preserves them by design)")
    spark.sql("DROP TABLE ext_btab")
  }
}
