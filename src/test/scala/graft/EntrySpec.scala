package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Driver-contract smoke: entry() returns rows; every declared query has an
  * oracle; names match between the two derived maps; every query runs, and
  * starts a stream exactly when its family is streaming.
  */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle entry has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query has an oracle (full-strength correctness for all ops)") {
    val weak = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(weak.isEmpty, s"queries with rows-only checks: $weak")
  }

  test("q140: referential checks are clean; the audit still REPORTS data truth") {
    val rows = SparkEntry.queries("q140_tpch_integrity")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.size == 9)
    // every FK resolves in the synthetic feed
    rows.filter(_._1.endsWith("orphans")).foreach { case (name, v) =>
      assert(v == 0L, s"$name = $v")
    }
    // the generator does NOT enforce the lineitem compound PK — the audit
    // must report that fact, not hide it
    assert(rows("lineitem pk dups") > 0L)
  }

  test("all queries run and are non-degenerate on sf0.001") {
    val allowedEmpty = Set("q47_embedding_near_dups") // no near-dup pairs at this sf
    // the family rule checked by behaviour: a streaming-family query starts
    // a stream, no other query does. onQueryStarted is posted on the
    // starting thread, so the count is settled when the query returns.
    val started = new java.util.concurrent.atomic.AtomicLong()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val streaming = graft.queries.Streaming.queries.map(_.name).toSet
    spark.streams.addListener(listener)
    try SparkEntry.queries.foreach { case (name, fn) =>
      val before = started.get()
      val n = fn(spark, sf).count()
      assert(n > 0 || allowedEmpty(name), s"$name returned 0 rows")
      val streams = started.get() - before
      if (streaming(name)) assert(streams > 0, s"$name is streaming but starts no stream")
      else assert(streams == 0, s"$name starts $streams streams outside the streaming family")
    } finally spark.streams.removeListener(listener)
  }

  test("q148: the limit(10) keeps exactly the 10 best of the full ranking") {
    val top = SparkEntry.queries("q148_shipping_priority")(spark, sf)
      .select("l_orderkey", "revenue")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.length == 10)
    // revenue non-increasing, ties broken by orderkey ascending
    top.sliding(2).foreach { case Array((k1, r1), (k2, r2)) =>
      assert(r1 > r2 || (r1 == r2 && k1 < k2), s"order violated: ($k1,$r1) ($k2,$r2)")
    }
  }

  test("q149 matches a brute-force correlated evaluation on exact cents") {
    import spark.implicits._
    val spend = graft.sources.TestData.customer(spark, sf)
      .join(graft.sources.TestData.orders(spark, sf),
        col("c_custkey") === col("o_custkey"), "left")
      .selectExpr("c_custkey", "c_nationkey",
        "COALESCE(CAST(FLOOR(o_totalprice * 100) AS BIGINT), 0) AS cents")
      .as[(Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sum).toMap
    val byNation = spend.groupBy(_._1._2).view
      .mapValues(v => (v.values.sum, v.size.toLong)).toMap
    val want = spend.filter { case ((_, nk), cents) =>
      val (tot, n) = byNation(nk); cents * n > 2 * tot
    }.keys.map(_._1).toSeq.sorted
    val got = SparkEntry.queries("q149_above_nation_avg")(spark, sf)
      .select("c_custkey").as[Long].collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("q151: grid-based weighted median equals the brute-force unit expansion") {
    import spark.implicits._
    val rows = graft.sources.TestData.lineitem(spark, sf)
      .selectExpr("l_returnflag",
        "CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents",
        "CAST(l_quantity AS INT) AS q")
      .as[(String, Long, Int)].collect()
    // expanding each row into q unit rows reduces the weighted median to
    // the plain lower median of the expanded multiset
    val want = rows.groupBy(_._1).view.mapValues { rs =>
      val expanded = rs.flatMap(r => Seq.fill(r._3)(r._2)).sorted
      expanded((expanded.length + 1) / 2 - 1)
    }.toMap
    val got = SparkEntry.queries("q151_weighted_median")(spark, sf)
      .select("flag", "weighted_median").as[(String, Double)].collect()
      .map { case (f, m) => f -> math.round(m * 100) }.toMap
    assert(got == want)
    assert(got.size == 3)
  }
}
