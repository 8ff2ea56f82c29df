package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TestData

class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  test("matches the row_number window formulation exactly on real data") {
    val orders = TestData.orders(spark, sf)
    val viaOp = TopK.perKey(orders, Seq("o_custkey"),
      Seq(TopK.asc("o_orderdate"), TopK.asc("o_orderkey")), k = 3)
      .select("o_custkey", "o_orderkey", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // row_number's definition, computed on the driver: sort each key
    // group, number its rows from 1, keep the first 3
    val expected = orders
      .select(col("o_custkey"), col("o_orderdate").cast("string"), col("o_orderkey"))
      .as[(Long, String, Long)].collect().toSeq
      .groupBy(_._1).values
      .flatMap(_.sortBy(r => (r._2, r._3)).take(3).zipWithIndex
        .map { case ((c, _, o), i) => (c, o, i + 1) })
      .toSet
    assert(viaOp.nonEmpty)
    assert(viaOp == expected)
  }

  test("descending order + tie-break, k larger than some groups") {
    val df = Seq(
      ("a", 3), ("a", 9), ("a", 9), ("a", 1),
      ("b", 5)).toDF("key", "v").withColumn("id", monotonically_increasing_id())
    val top = TopK.perKey(df, Seq("key"), Seq(TopK.desc("v"), TopK.asc("id")), k = 2)
      .select("key", "v", "rank").orderBy("key", "rank")
      .as[(String, Int, Int)].collect()
    assert(top.toSeq == Seq(("a", 9, 1), ("a", 9, 2), ("b", 5, 1)))
  }

  test("plans a partial WindowGroupLimit below the hash exchange") {
    val orders = TestData.orders(spark, sf)
    val lines = TopK.perKey(orders, Seq("o_custkey"), Seq(TopK.asc("o_orderkey")), 2)
      .queryExecution.executedPlan.toString.split("\n").toSeq
    val exchange = lines.indexWhere(_.contains("Exchange hashpartitioning(o_custkey"))
    val partial = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(exchange >= 0 && partial > exchange,
      s"expected a partial group limit below the exchange:\n${lines.mkString("\n")}")
  }
}
