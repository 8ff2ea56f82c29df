package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q333 — storage-partitioned join: manifest-planned per-partition
  * branches, per-partition broadcast decisions, equality with the
  * generic shuffled join.
  */
class ColocatedJoinSpec extends SparkSpec {
  import spark.implicits._

  private def publishBoth(out: java.nio.file.Path): (String, String) = {
    val a = s"$out/a"
    val b = s"$out/b"
    val facts = Seq(
      ("x", 1L, 10L), ("x", 1L, 50L), ("x", 2L, 30L),
      ("y", 1L, 100L), ("y", 3L, 7L), ("z", 9L, 1L))
      .toDF("event_type", "user_id", "cents")
    ManifestTable.appendPartitionedDelta(facts, a, 1L, "event_type")
    val agg = facts.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"))
    ManifestTable.appendPartitionedDelta(agg, b, 1L, "event_type")
    (a, b)
  }

  test("q333 equals the generic join, and the broadcast path has no shuffle exchange") {
    val out = java.nio.file.Files.createTempDirectory("graft-coloc")
    try {
      val (a, b) = publishBoth(out)
      val joined = ColocatedJoin.colocatedJoin(spark, a, b,
        "event_type", Seq("user_id"))
      assert(joined.count() == 6L)
      val rows = joined.select("event_type", "user_id", "cents", "cnt",
          "sum_cents").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(rows.contains(("x", 1L, 10L, 2L, 60L)))
      assert(rows.contains(("z", 9L, 1L, 1L, 1L)))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"per-partition slices must broadcast:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-located join must not shuffle either side:\n$plan")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q333 oversized slices fall back to an in-branch join with identical rows") {
    val out = java.nio.file.Files.createTempDirectory("graft-coloc2")
    try {
      val (a, b) = publishBoth(out)
      val wide = ColocatedJoin.colocatedJoin(spark, a, b,
        "event_type", Seq("user_id"))
      val tight = ColocatedJoin.colocatedJoin(spark, a, b,
        "event_type", Seq("user_id"), broadcastMaxBytes = 1L)
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("event_type", "user_id", "cents", "cnt", "sum_cents")
          .collect().map(_.toSeq).toSet
      assert(key(wide) == key(tight),
        "strategy choice must never change the result")
      // over-threshold slices get NO hint — within-branch strategy is
      // Catalyst's call (it may still broadcast from its own stats, as
      // it does on this tiny fixture); what the planner owns is the
      // branch structure: one dir-scoped scan per partition per side
      val plan = tight.queryExecution.executedPlan.toString
      Seq("x", "y", "z").foreach { p =>
        assert(plan.contains(s"event_type=$p]"),
          s"expected a dir-scoped scan of partition $p:\n$plan")
      }
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q333 join covers only common partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft-coloc3")
    try {
      val a = s"$out/a"
      val b = s"$out/b"
      ManifestTable.appendPartitionedDelta(
        Seq(("x", 1L, 10L), ("w", 2L, 5L)).toDF("event_type", "user_id", "cents"),
        a, 1L, "event_type")
      ManifestTable.appendPartitionedDelta(
        Seq(("x", 1L, 1L, 10L)).toDF("event_type", "user_id", "cnt", "sum_cents"),
        b, 1L, "event_type")
      val joined = ColocatedJoin.colocatedJoin(spark, a, b,
        "event_type", Seq("user_id"))
      assert(joined.select("event_type").collect().map(_.getString(0)).toSeq
        == Seq("x"), "partition 'w' has no match side and must be pruned")
    } finally graft.Scratch.rmTree(out.toFile)
  }
}
