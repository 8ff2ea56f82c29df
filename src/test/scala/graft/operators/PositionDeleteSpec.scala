package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q331 — position-delete merge-on-read: delete commits are
  * `(partition, src_version, pos)` triples, the read applies them with a
  * broadcast anti-join over only the touched partitions, and compaction
  * folds everything back to one physical snapshot.
  */
class PositionDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def dirBytes(d: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(d))
  }

  test("q331 lifecycle: predicate→positions, overlapping deletes, compaction, time travel") {
    val out = java.nio.file.Files.createTempDirectory("graft-pdel")
    try {
      val tbl = s"$out/tbl"
      val base = Seq(
        (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0), (4L, "a", 4.0),
        (5L, "b", 5.0), (6L, "b", 6.0), (7L, "c", 7.0))
        .toDF("event_id", "event_type", "value")
      ManifestTable.appendPartitionedDelta(ManifestTable.withRowIds(base),
        tbl, 1L, "event_type")
      def ids(v: Long): Set[Long] =
        ManifestTable.readPartitionedMoR(spark, tbl, "event_type", v)
          .select("event_id").collect().map(_.getLong(0)).toSet
      assert(ids(1L) == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
      def positionsWhere(pred: org.apache.spark.sql.Column) =
        ManifestTable.readPartitionedMoR(spark, tbl, "event_type",
            ManifestTable.currentVersion(spark, tbl).get, rowIds = true)
          .filter(pred)
          .select(col("event_type"), col("_src_version"), col("_pos"))
      // v2: DELETE WHERE event_id IN (2, 5)
      ManifestTable.appendPositionDeletes(
        positionsWhere(col("event_id").isin(2L, 5L)), tbl, 2L, "event_type")
      assert(ids(2L) == Set(1L, 3L, 4L, 6L, 7L))
      // v3: DELETE WHERE event_id IN (2, 3) — id 2 is already gone; the
      // survivor scan finds nothing for it, and even a raw re-delete of
      // the same position would be idempotent under the anti-join
      ManifestTable.appendPositionDeletes(
        positionsWhere(col("event_id").isin(2L, 3L)), tbl, 3L, "event_type")
      assert(ids(3L) == Set(1L, 4L, 6L, 7L))
      // manifest shape: partition a has 2 delete versions, b has 1, c none
      val m = ManifestTable.readManifest(spark, tbl, 3L).parts
      assert(m("a").dels == Seq("v2", "v3") && m("b").dels == Seq("v2")
        && m("c").dels.isEmpty)
      // time travel: v2's view is untouched by v3's commit
      assert(ids(2L) == Set(1L, 3L, 4L, 6L, 7L))
      // compaction: same rows, serving lists collapse to base-only
      ManifestTable.compactPartitionedMoR(spark, tbl, 4L, "event_type")
      assert(ids(4L) == Set(1L, 4L, 6L, 7L))
      val mc = ManifestTable.readManifest(spark, tbl, 4L).parts
      assert(mc.values.forall(e => e.dirs == Seq("v4") && e.dels.isEmpty))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q331 scale contract: delete bytes ∝ |deleted rows|; read is a broadcast anti-join with no shuffle of the base") {
    val out = java.nio.file.Files.createTempDirectory("graft-pdelsc")
    try {
      val tbl = s"$out/tbl"
      // 50k-row hot partition plus a clean partition; delete 100 rows
      val base = spark.range(50000L)
        .select(col("id").as("event_id"),
          when(col("id") % 10 === 0, "cold").otherwise("hot")
            .as("event_type"),
          (col("id") % 97 * 1.5).as("value"))
      ManifestTable.appendPartitionedDelta(ManifestTable.withRowIds(base),
        tbl, 1L, "event_type")
      val dels = ManifestTable.readPartitionedMoR(spark, tbl, "event_type", 1L,
          rowIds = true)
        .filter(col("event_type") === "hot" && col("event_id") < 112L)
        .select(col("event_type"), col("_src_version"), col("_pos"))
      ManifestTable.appendPositionDeletes(dels, tbl, 2L, "event_type")
      // the delete commit wrote ~100 triples, not the 45k-row partition
      val baseBytes = dirBytes(s"$tbl/data/v1")
      val delBytes = dirBytes(s"$tbl/data/v2")
      assert(delBytes * 5 < baseBytes,
        s"delete commit must be delete-sized: del=$delBytes base=$baseBytes")
      val read = ManifestTable.readPartitionedMoR(spark, tbl, "event_type", 2L)
      assert(read.count() == 50000L - 100L)
      // plan shape: deletes broadcast into a LeftAnti hash join; the base
      // scan reaches the join with NO shuffle exchange anywhere
      val plan = read.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"expected a broadcast anti-join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"position-delete read must not shuffle the base:\n$plan")
      // a delete set past the broadcast gate gets NO hint — Catalyst
      // owns the strategy; the rows must be identical either way
      val unhinted = ManifestTable.readPartitionedMoR(spark, tbl,
        "event_type", 2L, broadcastMaxBytes = 1L)
      assert(unhinted.count() == 50000L - 100L,
        "strategy choice must never change the result")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q331 expiry: vacuum reclaims compacted delete dirs") {
    val out = java.nio.file.Files.createTempDirectory("graft-pdelvac")
    try {
      val tbl = s"$out/tbl"
      val base = spark.range(1, 200L)
        .select(col("id").as("event_id"),
          when(col("id") % 3 === 0, "a").otherwise("b").as("event_type"),
          (col("id") * 10).as("cents"))
      ManifestTable.appendPartitionedDelta(ManifestTable.withRowIds(base),
        tbl, 1L, "event_type")
      // the q331 lifecycle: two DELETE WHERE commits, then a compaction
      Seq(2L -> 7, 3L -> 5).foreach { case (v, mod) =>
        ManifestTable.appendPositionDeletes(
          ManifestTable.readPartitionedMoR(spark, tbl, "event_type", v - 1,
              rowIds = true)
            .filter(col("event_id") % mod === 0),
          tbl, v, "event_type")
      }
      def totals(): (Long, Long) = {
        val r = ManifestTable.readPartitioned(spark, tbl, "event_type")
          .agg(count(lit(1)), sum("cents")).head()
        (r.getLong(0), r.getLong(1))
      }
      val before = totals()
      assert(before._1 == (1 until 200).count(i => i % 7 != 0 && i % 5 != 0))
      ManifestTable.compactPartitionedMoR(spark, tbl, 4L, "event_type")
      assert(ManifestTable.vacuumPartitionedMoR(spark, tbl, keep = 1)
        == Seq(1L, 2L, 3L))
      Seq("v1", "v2", "v3").foreach { d =>
        assert(!new java.io.File(s"$tbl/data/$d").exists(),
          s"expired base or delete dir $d must be reclaimed")
      }
      assert(totals() == before, "the compacted read serves the same totals")
    } finally graft.Scratch.rmTree(out.toFile)
  }
}
