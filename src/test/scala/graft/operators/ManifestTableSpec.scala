package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TestData

/** q241: the manifest-pointer commit protocol — crash-window isolation,
  * pointer atomicity debris, recovery-by-rerun, and the compaction
  * actually shrinking the file count.
  */
class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def totals(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.groupBy("event_type").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("a crash between data-write and pointer-swap leaves the old snapshot fully readable") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-spec")
    try {
      val tbl = s"$out/tbl"
      val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
        .toDF("event_id", "event_type", "value")
      ManifestTable.publish(v1, tbl, 1L)
      assert(ManifestTable.currentVersion(spark, tbl).contains(1L))
      val v2 = v1.filter(col("event_id") =!= 2L)
      intercept[ManifestTable.InjectedCrash] {
        ManifestTable.publish(v2, tbl, 2L, crashBeforeSwap = true)
      }
      // pointer untouched; reader resolves v1 with v1's exact content
      assert(ManifestTable.currentVersion(spark, tbl).contains(1L))
      assert(totals(ManifestTable.read(spark, tbl)) == Map("a" -> 2L, "b" -> 1L))
      // the half-published snapshot exists as debris, invisible to readers
      assert(new java.io.File(s"$tbl/data/v2").isDirectory,
        "crash window must leave the landed data dir behind")
      // recovery = re-run; the pointer flips and v2 serves
      ManifestTable.publish(v2, tbl, 2L)
      assert(ManifestTable.currentVersion(spark, tbl).contains(2L))
      assert(totals(ManifestTable.read(spark, tbl)) == Map("a" -> 2L))
      // commit leaves no tmp pointer debris
      assert(!new java.io.File(s"$tbl/CURRENT.tmp").exists())
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("a pinned reader keeps its snapshot across a later publish (snapshot isolation)") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-spec")
    try {
      val tbl = s"$out/tbl"
      ManifestTable.publish(
        Seq((1L, "a", 1.0)).toDF("event_id", "event_type", "value"), tbl, 1L)
      val pinned = ManifestTable.read(spark, tbl) // resolves v1 NOW
      ManifestTable.publish(
        Seq((9L, "z", 9.0)).toDF("event_id", "event_type", "value"), tbl, 2L)
      assert(totals(pinned) == Map("a" -> 1L),
        "a frame resolved before the publish must still read its snapshot")
      assert(totals(ManifestTable.read(spark, tbl)) == Map("z" -> 1L),
        "a fresh resolve must see the new snapshot")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("vacuum reclaims old versions physically but never the live snapshot") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-spec")
    try {
      val tbl = s"$out/tbl"
      for (v <- 1L to 4L)
        ManifestTable.publish(
          Seq((v, "a", v.toDouble)).toDF("event_id", "event_type", "value"),
          tbl, v)
      assert(ManifestTable.versions(spark, tbl) == Seq(1L, 2L, 3L, 4L))
      assert(ManifestTable.vacuum(spark, tbl, keep = 2) == Seq(1L, 2L))
      assert(ManifestTable.versions(spark, tbl) == Seq(3L, 4L))
      assert(!new java.io.File(s"$tbl/data/v1").exists())
      // the live snapshot is retained even under keep=1 pointing at it
      assert(ManifestTable.vacuum(spark, tbl, keep = 1) == Seq(3L))
      assert(totals(ManifestTable.read(spark, tbl)) == Map("a" -> 1L))
      // time travel to a retained version still works
      assert(ManifestTable.readVersion(spark, tbl, 4L).count() == 1L)
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("the q241 run compacts physically: v2 has fewer data files than v1") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-spec")
    try {
      val tbl = s"$out/tbl"
      val res = ManifestTable
        .atomicCompactionPublish(TestData.events(spark, sf), tbl)
      val stages = res.collect()
        .map(r => (r.getString(0), r.getLong(1))).distinct.sorted
      assert(stages.map(_._1).toSeq ==
        Seq("a_v1_published", "b_crash_window", "c_republished"))
      assert(stages.map(_._2).toSeq == Seq(1L, 1L, 2L),
        "crash window must resolve v1; republish must resolve v2")
      def nParquet(d: String): Int =
        new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
      assert(nParquet(s"$tbl/data/v2") < nParquet(s"$tbl/data/v1"),
        "the compacted snapshot must have fewer files")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q248 CAS: of N threads racing one commit slot, exactly one wins") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-spec")
    try {
      val tbl = s"$out/tbl"
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0))
        .toDF("event_id", "event_type", "value")
      ManifestTable.publish(base, tbl, 1L)
      // a REAL race: 8 threads stage + CAS the same v2 slot concurrently
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val attempts = Await.result(
        Future.sequence((0 until 8).map { i =>
          Future(i -> ManifestTable.tryCommit(
            base.withColumn("value", col("value") + i),
            tbl, 2L, s"writer_$i"))
        }), 2.minutes)
      val winners = attempts.filter(_._2)
      assert(winners.size == 1, s"exactly one CAS winner, got $winners")
      // the pointer names v2, the winner's dir exists, and every loser's
      // staged debris is gone
      assert(ManifestTable.currentVersion(spark, tbl).contains(2L))
      assert(new java.io.File(s"$tbl/data/v2").isDirectory)
      val stageDir = new java.io.File(s"$tbl/stage")
      val leftover =
        if (stageDir.isDirectory) stageDir.listFiles().map(_.getName).toSeq
        else Seq.empty
      assert(leftover.isEmpty, s"losers' staged dirs must be deleted: $leftover")
      // the committed snapshot is the winner's candidate, complete
      val w = winners.head._1
      val got = ManifestTable.read(spark, tbl)
        .select(sum(col("value"))).head().getDouble(0)
      assert(got == (1.0 + w) + (2.0 + w),
        s"v2 must hold writer $w's complete candidate, saw sum $got")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q249 change feed: insert/delete/update images, and same-cent rewrites are not updates") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-spec")
    try {
      val tbl = s"$out/tbl"
      val v1 = Seq(
        (1L, "a", 1.00), (2L, "b", 2.00), (3L, "c", 3.00),
        (4L, "d", 0.004)) // 0.4 cents — floor-quantizes to 0
        .toDF("event_id", "event_type", "value")
      // v2: row 2 deleted, row 3 updated to 4.00, row 4 rewritten to
      // 0.009 (SAME cent: 0 → 0 — must NOT be an update), row 5 inserted
      val v2 = Seq(
        (1L, "a", 1.00), (3L, "c", 4.00), (4L, "d", 0.009),
        (5L, "e", 5.00))
        .toDF("event_id", "event_type", "value")
      ManifestTable.publish(v1, tbl, 1L)
      ManifestTable.publish(v2, tbl, 2L)
      val feed = ManifestTable.changeFeed(spark, tbl, 1L, 2L).collect()
        .map(r => (r.getAs[String]("change_type"), r.getAs[Long]("event_id")) ->
          r.getAs[Long]("cents")).toMap
      assert(feed == Map(
        ("delete", 2L) -> 200L,
        ("update_pre", 3L) -> 300L,
        ("update_post", 3L) -> 400L,
        ("insert", 5L) -> 500L),
        s"feed must carry exactly these images: $feed")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q253 evolution: each group prunes by ITS spec, and the union is layout-invariant") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-spec")
    try {
      val tbl = s"$out/tbl"
      // 60 days, one event per day: days 0-29 under the 30-day spec
      // (one block, p=0), days 30-59 under the 7-day spec (p = 4..8)
      val base = (0L until 60L).map(d => (d, "t", 1.0 + d, d))
        .toDF("event_id", "event_type", "value", "day")
      ManifestTable.writeGroup(base.filter(col("day") < 30), s"$tbl/groups/d30", 30)
      ManifestTable.writeGroup(base.filter(col("day") >= 30), s"$tbl/groups/d7", 7)
      ManifestTable.publish(
        Seq(("groups/d30", 30), ("groups/d7", 7)).toDF("group_dir", "grain_days"),
        tbl, 1L)
      // range [15, 44] straddles the evolution point
      val got = ManifestTable.readEvolved(spark, tbl, 15L, 44L)
      assert(got.count() == 30L, "days 15..44 inclusive")
      assert(got.agg(min("day"), max("day")).head() ==
        org.apache.spark.sql.Row(15L, 44L))
      // physical pruning, per spec: d7 holds p = 4..8 but the range only
      // needs 15/7=2 .. 44/7=6 → dirs 4, 5, 6 open — 3 of its 5
      val d7 = spark.read.parquet(s"$tbl/groups/d7")
        .filter(col("p").between(15 / 7, 44 / 7)).filter(col("day").between(15, 44))
      d7.collect()
      val opened = d7.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }.sum
      assert(opened == 3, s"the 7-day group must open 3 of 5 dirs, opened $opened")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q254 MoR: the delete commit never touches data files, and the purge drops the sidecar") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-spec")
    try {
      val tbl = s"$out/tbl"
      def fileState(d: String): Map[String, Long] = {
        val dir = new java.io.File(d)
        if (!dir.isDirectory) Map.empty
        else dir.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }
      val ev = TestData.events(spark, sf)
      // run the protocol, then inspect the physical layout it left
      val res = ManifestTable.mergeOnReadDelete(ev, tbl).collect()
      // (a) the delete was merge-on-read: base data files survived the
      // whole run unmodified (same names — they were written once and
      // never rewritten; a CoW delete would have replaced them)
      val base = fileState(s"$tbl/files/base")
      assert(base.nonEmpty, "base data files must exist")
      // (b) the sidecar holds exactly the deleted keys
      val nErrors = ev.filter(col("event_type") === "error").count()
      assert(spark.read.parquet(s"$tbl/files/dv2").count() == nErrors)
      // (c) v2 resolves {data, delete_keys}; v3 resolves data only —
      // the purged snapshot carries no sidecar
      def kinds(v: Long): Set[String] =
        ManifestTable.readVersion(spark, tbl, v).collect()
          .map(_.getAs[String]("kind")).toSet
      assert(kinds(2L) == Set("data", "delete_keys"))
      assert(kinds(3L) == Set("data"))
      // (d) the MoR read and the purged read agree stage-for-stage
      val byStage = res.groupBy(_.getAs[String]("stage")).map { case (s, rows) =>
        s -> rows.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"),
          r.getAs[Long]("total_cents"))).toSet
      }
      assert(byStage("b_v2_mor_delete") == byStage("c_v3_purged"),
        "purge must be invisible to readers")
      assert(byStage("a_v1_full") != byStage("b_v2_mor_delete"),
        "the delete must actually mask rows")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q263 forget: erasure is complete, others untouched, and the forget is physical") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-spec")
    try {
      val tbl = s"$out/tbl"
      // user 7 is the heaviest spender and must be the derived target
      val ev = Seq(
        (1L, 7L, "buy", 0L, 900.0), (2L, 7L, "view", 1L, 50.0),
        (3L, 2L, "buy", 2L, 10.0), (4L, 3L, "view", 3L, 20.0),
        (5L, 2L, "buy", 4L, 30.0))
        .toDF("event_id", "user_id", "event_type", "ms", "value")
        .selectExpr("event_id", "user_id", "event_type",
          "ms * 1000000 AS ts_ns", "value")
      val r = ManifestTable.forgetUser(ev, tbl).collect()
      assert(r.forall(_.getAs[Long]("target_user") == 7L), "derived target")
      val byStage = r.groupBy(_.getAs[String]("stage"))
      // remnant measured at zero
      val rem = byStage("d_remnant").head
      assert(rem.getAs[Long]("n") == 0L && rem.getAs[Long]("total_cents") == 0L)
      // the rollup served the same post-erasure totals as the fact
      def tot(s: String) = byStage(s)
        .map(x => x.getAs[String]("event_type") ->
          (x.getAs[Long]("n"), x.getAs[Long]("total_cents"))).toMap
      assert(tot("b_v2_fact") == tot("c_v2_rollup"), "IVM rollup must agree")
      assert(tot("b_v2_fact") == Map("buy" -> ((2L, 4000L)), "view" -> ((1L, 2000L))))
      assert(tot("e_post_vacuum") == tot("b_v2_fact"))
      // physical: v1's data dir is gone, so time travel to the user's
      // data is impossible — nothing less counts as forgotten
      assert(!new java.io.File(s"$tbl/fact/data/v1").exists(), "v1 reclaimed")
      assert(new java.io.File(s"$tbl/fact/data/v2").exists())
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q264 multi-table: the half-written transaction is invisible and the pair stays consistent") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-spec")
    try {
      val tx = s"$out/tx"
      val ev = Seq((1L, "a", 10.0), (2L, "error", 5.0), (3L, "a", 2.5),
          (4L, "b", 1.0))
        .toDF("event_id", "event_type", "value")
      val r = ManifestTable.multiTableCommit(ev, tx).collect()
      val byStage = r.groupBy(_.getAs[String]("stage"))
      // every stage, every type: fact side == rollup side
      assert(r.forall(_.getAs[Int]("consistent") == 1), "pair consistency")
      // the crash window resolved the v1·v1 pair even though fact/v2
      // data was already on disk when the writer died — the measured
      // orphan count witnesses exactly that half-written dir
      val b = byStage("b_crash_window")
      assert(b.forall(x => x.getAs[Long]("fact_v") == 1L
        && x.getAs[Long]("rollup_v") == 1L
        && x.getAs[Long]("orphaned_dirs") == 1L))
      assert(byStage("a_v1_committed")
        .forall(_.getAs[Long]("orphaned_dirs") == 0L))
      assert(b.map(_.getAs[String]("event_type")).toSet ==
        Set("a", "b", "error"), "crash window still serves v1 incl. errors")
      val c = byStage("c_recovered")
      assert(c.forall(_.getAs[Long]("fact_v") == 2L))
      assert(c.map(_.getAs[String]("event_type")).toSet == Set("a", "b"))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q266 MoR update: sidecars never touch the base files; stack composes; purge is invisible") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-spec")
    try {
      val tbl = s"$out/tbl"
      val ev = Seq((1L, "purchase", 10.0), (2L, "error", 5.0),
          (3L, "view", 2.0), (4L, "purchase", 1.5))
        .toDF("event_id", "event_type", "value")
      def baseFiles() =
        new java.io.File(s"$tbl/files/base").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
      val r = ManifestTable.mergeOnReadUpdate(ev, tbl).collect()
      def tot(s: String) = r.filter(_.getAs[String]("stage") == s)
        .map(x => x.getAs[String]("event_type") ->
          (x.getAs[Long]("n"), x.getAs[Long]("total_cents"))).toMap
      // v2: purchases re-priced (10→20, 1.5→3), others untouched
      assert(tot("b_v2_mor_update") == Map(
        "purchase" -> ((2L, 2300L)), "error" -> ((1L, 500L)),
        "view" -> ((1L, 200L))))
      // v3: the delete sidecar stacks ON TOP of the update
      assert(tot("c_v3_upd_del") == Map(
        "purchase" -> ((2L, 2300L)), "view" -> ((1L, 200L))))
      // purge invisible to readers
      assert(tot("d_v4_purged") == tot("c_v3_upd_del"))
      // base data files exist untouched through every sidecar commit
      // (the compaction wrote to files/purged, not files/base)
      assert(baseFiles().nonEmpty)
      val v1 = ManifestTable.readMoRVersion(spark, tbl, 1L)
      assert(v1.count() == 4L, "v1 still serves the original rows")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q280: a lease pins its snapshot through vacuum; release reclaims it") {
    val out = java.nio.file.Files.createTempDirectory("graft-lease-spec")
    try {
      val tbl = s"$out/tbl"
      for (v <- 1L to 3L)
        ManifestTable.publish(
          Seq((v, "a", v.toDouble)).toDF("event_id", "event_type", "value"),
          tbl, v)
      def v1Exists = new java.io.File(s"$tbl/data/v1").exists()
      // two readers lease v1 independently
      ManifestTable.acquireLease(spark, tbl, 1L, "r1")
      ManifestTable.acquireLease(spark, tbl, 1L, "r2")
      assert(ManifestTable.vacuumLeased(spark, tbl, keep = 1) == Seq(2L))
      assert(v1Exists, "leased v1 must survive a keep-1 vacuum")
      assert(ManifestTable.readVersion(spark, tbl, 1L).count() == 1L)
      // one release is not enough — r2 still holds it
      ManifestTable.releaseLease(spark, tbl, 1L, "r1")
      assert(ManifestTable.vacuumLeased(spark, tbl, keep = 1).isEmpty)
      assert(v1Exists, "v1 still leased by r2")
      ManifestTable.releaseLease(spark, tbl, 1L, "r2")
      assert(ManifestTable.vacuumLeased(spark, tbl, keep = 1) == Seq(1L))
      assert(!v1Exists, "fully released v1 must be reclaimed")
      // the live snapshot serves throughout
      assert(ManifestTable.read(spark, tbl).count() == 1L)
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q283: a warm hit never opens the data files; a publish invalidates the key") {
    val out = java.nio.file.Files.createTempDirectory("graft-rc-spec")
    try {
      val (tbl, cache) = (s"$out/tbl", s"$out/cache")
      ManifestTable.publish(
        Seq((1L, "a", 1.0), (2L, "b", 2.5), (3L, "a", 0.5))
          .toDF("event_id", "event_type", "value"), tbl, 1L)
      val (r1, hit1, v1) = ManifestTable.cachedTypeTotals(spark, tbl, cache)
      assert(!hit1 && v1 == 1L)
      val cold = r1.collect().map(_.toSeq).toSet
      assert(cold == Set(Seq("a", 2L, 150L), Seq("b", 1L, 250L)))
      // destroy the snapshot's data: only the cache can answer now —
      // a hit that touched the table would throw, not serve
      graft.Scratch.rmTree(new java.io.File(s"$tbl/data/v1"))
      val (r2, hit2, _) = ManifestTable.cachedTypeTotals(spark, tbl, cache)
      assert(hit2, "second lookup must hit the version-keyed entry")
      assert(r2.collect().map(_.toSeq).toSet == cold)
      // a publish rotates the key: the stale entry is unreachable
      ManifestTable.publish(
        Seq((9L, "z", 9.0)).toDF("event_id", "event_type", "value"), tbl, 2L)
      val (r3, hit3, v3) = ManifestTable.cachedTypeTotals(spark, tbl, cache)
      assert(!hit3 && v3 == 2L, "new version must miss and recompute")
      assert(r3.collect().map(_.toSeq).toSet == Set(Seq("z", 1L, 900L)))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q288 manifest growth is bounded by maintenance: purge caps refs, vacuum caps versions") {
    // The reader's driver-side `.collect()` of the manifest is bounded
    // only if maintenance actually bounds BOTH growth axes of a
    // long-lived table: refs-per-version (grows one sidecar per MoR
    // commit) and versions-on-disk (grows one per commit). This pins
    // the post-maintenance bounds as a contract, not a convention.
    val out = java.nio.file.Files.createTempDirectory("graft-bound-spec")
    try {
      val tbl = s"$out/tbl"
      val n = 20
      val base = (1L to 100L).map(i =>
        (i, if (i % 2 == 0) "a" else "b", i.toDouble))
        .toDF("event_id", "event_type", "value")
      base.write.parquet(s"$tbl/files/base")
      ManifestTable.publish(
        Seq(("files/base", "data")).toDF("ref", "kind"), tbl, 1L)
      var refs = Seq(("files/base", "data"))
      for (v <- 2L to (n + 1L)) { // each commit stacks one delete sidecar
        Seq(v - 1L).toDF("event_id").write.parquet(s"$tbl/files/dv$v")
        refs = refs :+ ((s"files/dv$v", "delete_keys"))
        ManifestTable.publish(refs.toDF("ref", "kind"), tbl, v)
      }
      // the unbounded shape: refs and versions both linear in commits
      assert(ManifestTable.readVersion(spark, tbl, n + 1L).count() == n + 1L)
      assert(ManifestTable.versions(spark, tbl).size == n + 1)
      assert(ManifestTable.readMoRVersion(spark, tbl, n + 1L).count()
        == 100L - n)
      // maintenance: purge collapses the live manifest to ONE data ref
      ManifestTable.readMoRVersion(spark, tbl, n + 1L)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$tbl/files/purged")
      ManifestTable.publish(
        Seq(("files/purged", "data")).toDF("ref", "kind"), tbl, n + 2L)
      // ... and vacuum caps the versions the table can ever hold
      val dropped = ManifestTable.vacuum(spark, tbl, keep = 2)
      assert(dropped.size == n, s"vacuum must reclaim the history: $dropped")
      assert(ManifestTable.versions(spark, tbl).size == 2)
      // the bounds the reader's collect holds after maintenance:
      // one manifest row, and the same masked rows served
      assert(ManifestTable.read(spark, tbl).count() == 1L)
      assert(ManifestTable.readMoRVersion(spark, tbl, n + 2L).count()
        == 100L - n)
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q283 a publish landing between cache-read and serve: the pinned version serves (snapshot semantics)") {
    // The interleaving q283's four stages don't cover: a reader resolves
    // CURRENT (v1), the cache fills under that key, and THEN a publish
    // lands before the reader materializes its answer. Serving the v1
    // entry is CORRECT — the read pinned its snapshot when it resolved,
    // exactly like a pinned readVersion; publishes invalidate by key
    // ROTATION for the next lookup, never by mutating a live entry.
    // This spec makes that a documented choice, not an accident.
    val out = java.nio.file.Files.createTempDirectory("graft-rcpub-spec")
    try {
      val (tbl, cache) = (s"$out/tbl", s"$out/cache")
      ManifestTable.publish(
        Seq((1L, "a", 1.0), (2L, "b", 2.5), (3L, "a", 0.5))
          .toDF("event_id", "event_type", "value"), tbl, 1L)
      val (r1, hit1, v1) = ManifestTable.cachedTypeTotals(spark, tbl, cache)
      assert(!hit1 && v1 == 1L)
      // the publish lands BETWEEN the resolve above and the serve below
      ManifestTable.publish(
        Seq((9L, "z", 9.0)).toDF("event_id", "event_type", "value"), tbl, 2L)
      val served = r1.collect().map(_.toSeq).toSet
      assert(served == Set(Seq("a", 2L, 150L), Seq("b", 1L, 250L)),
        s"the pinned v1 answer must serve despite the racing publish: $served")
      // the racing publish did not clobber the v1 entry, it rotated the
      // key: the NEXT lookup resolves v2, misses, and recomputes
      val (r2, hit2, v2) = ManifestTable.cachedTypeTotals(spark, tbl, cache)
      assert(!hit2 && v2 == 2L, "next lookup must miss under the new key")
      assert(r2.collect().map(_.toSeq).toSet == Set(Seq("z", 1L, 900L)))
      // and both entries now coexist under their own keys
      val (r3, hit3, _) = ManifestTable.cachedTypeTotals(spark, tbl, cache)
      assert(hit3 && r3.collect().map(_.toSeq).toSet
        == Set(Seq("z", 1L, 900L)))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q290 refs: a tag can never move, a backward ff is refused, branches are isolated") {
    val out = java.nio.file.Files.createTempDirectory("graft-refs-spec")
    try {
      val tbl = s"$out/tbl"
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0))
        .toDF("event_id", "event_type", "value")
      ManifestTable.publish(base, tbl, 1L)
      ManifestTable.setBranch(spark, tbl, "main", 1L)
      // tag immutability: the CAS refuses a re-create at another version
      assert(ManifestTable.createTag(spark, tbl, "rel", 1L))
      base.write.parquet(s"$tbl/data/v2")
      assert(!ManifestTable.createTag(spark, tbl, "rel", 2L),
        "a tag must never move")
      assert(ManifestTable.refVersion(spark, tbl, "tag_rel").contains(1L))
      // branch isolation: advancing dev leaves main untouched
      ManifestTable.setBranch(spark, tbl, "dev", 1L)
      ManifestTable.setBranch(spark, tbl, "dev", 2L)
      assert(ManifestTable.refVersion(spark, tbl, "branch_main")
        .contains(1L), "a dev advance must not move main")
      // ff: forward applies; backward and no-op are refused untouched
      assert(ManifestTable.fastForwardBranch(spark, tbl, "main", 2L))
      assert(!ManifestTable.fastForwardBranch(spark, tbl, "main", 1L),
        "a backward ff must be refused")
      assert(!ManifestTable.fastForwardBranch(spark, tbl, "main", 2L),
        "a no-op ff must be refused")
      assert(ManifestTable.refVersion(spark, tbl, "branch_main")
        .contains(2L))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q298 GC protects committed history, CAS commits, and ref'd versions; reclaims only debris") {
    val out = java.nio.file.Files.createTempDirectory("graft-gc-spec")
    try {
      val tbl = s"$out/tbl"
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0))
        .toDF("event_id", "event_type", "value")
      // committed history below the pointer is vacuum's domain, not GC's
      ManifestTable.publish(base, tbl, 1L)
      ManifestTable.publish(base, tbl, 2L)
      assert(ManifestTable.orphanVersions(spark, tbl).isEmpty,
        "time-travel history must never be GC candidates")
      // a CAS-committed version above the pointer... cannot exist via
      // tryCommit (it swaps the pointer), but a claimed slot alone must
      // protect: simulate a committer that claimed v4 and wrote data but
      // died before its swap — NOT debris, its slot says it owns v4
      base.write.parquet(s"$tbl/data/v4")
      assert(ManifestTable.claimCommit(spark, tbl, 4L, "w"))
      assert(ManifestTable.orphanVersions(spark, tbl).isEmpty,
        "a claimed commit slot protects its version dir")
      // a branch above the pointer protects its snapshot (q290 dev)
      base.write.parquet(s"$tbl/data/v5")
      ManifestTable.setBranch(spark, tbl, "dev", 5L)
      assert(ManifestTable.orphanVersions(spark, tbl).isEmpty,
        "a ref'd version above the pointer is not debris")
      // true debris: landed data, no pointer/slot/ref names it
      base.write.parquet(s"$tbl/data/v7")
      assert(ManifestTable.orphanVersions(spark, tbl) == Seq(7L))
      assert(ManifestTable.gcOrphansSafe(spark, tbl, graceMs = 0L) == Seq(7L))
      assert(!new java.io.File(s"$tbl/data/v7").exists())
      for (v <- Seq(1L, 2L, 4L, 5L))
        assert(new java.io.File(s"$tbl/data/v$v").isDirectory, s"v$v ate")
      // an unborn table GCs nothing
      val fresh = s"$out/fresh"
      base.write.parquet(s"$fresh/data/v1")
      assert(ManifestTable.orphanVersions(spark, fresh).isEmpty,
        "no pointer -> no committed frontier -> GC nothing")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q287 both interleavings: compactor-first and appender-first converge on the same table") {
    val out = java.nio.file.Files.createTempDirectory("graft-cva-spec")
    try {
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0),
        (4L, "b", 4.0)).toDF("event_id", "event_type", "value")
      val delta = Seq((100L, "c", 9.0))
        .toDF("event_id", "event_type", "value")
      def nFiles(tbl: String, v: Long): Int =
        new java.io.File(s"$tbl/data/v$v").listFiles()
          .count(_.getName.endsWith(".parquet"))
      // interleaving 1 (the operator's order): compactor claims v2 first
      val t1 = s"$out/compact_first"
      ManifestTable.publish(base.repartition(4), t1, 1L)
      assert(ManifestTable.tryCommit(
        ManifestTable.readVersion(spark, t1, 1L).repartition(1),
        t1, 2L, "compactor"), "compactor races alone, must win")
      assert(!ManifestTable.tryCommit(
        ManifestTable.readVersion(spark, t1, 1L).unionByName(delta),
        t1, 2L, "appender"), "stale append must lose the CAS")
      // the refused append is invisible: CURRENT is the compacted base
      assert(ManifestTable.currentVersion(spark, t1).contains(2L))
      assert(ManifestTable.read(spark, t1).count() == 4L)
      assert(nFiles(t1, 2L) < nFiles(t1, 1L), "compaction must shrink v2")
      assert(ManifestTable.tryCommit(
        ManifestTable.read(spark, t1).unionByName(delta),
        t1, 3L, "appender"), "rebased append races alone, must win")
      // interleaving 2 (mirrored): the appender claims v2 first
      val t2 = s"$out/append_first"
      ManifestTable.publish(base.repartition(4), t2, 1L)
      assert(ManifestTable.tryCommit(
        ManifestTable.readVersion(spark, t2, 1L).unionByName(delta),
        t2, 2L, "appender"), "appender races alone, must win")
      assert(!ManifestTable.tryCommit(
        ManifestTable.readVersion(spark, t2, 1L).repartition(1),
        t2, 2L, "compactor"), "stale compaction must lose the CAS")
      // rebase = compact the NEW current (base + delta), not the pin
      assert(ManifestTable.tryCommit(
        ManifestTable.read(spark, t2).repartition(1),
        t2, 3L, "compactor"), "rebased compaction races alone, must win")
      assert(nFiles(t2, 3L) == 1, "rebased compaction lands one file")
      // serial-replay equality: both interleavings end at v3 holding
      // exactly base UNION delta — order of winner is irrelevant
      val want = base.unionByName(delta).collect().map(_.toSeq).toSet
      for (t <- Seq(t1, t2)) {
        assert(ManifestTable.currentVersion(spark, t).contains(3L))
        val got = ManifestTable.read(spark, t).collect().map(_.toSeq).toSet
        assert(got == want, s"$t final table diverged: $got")
      }
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q302 interleaving 1: writer stages -> GC runs -> writer commits; nothing reclaimed, commit serves") {
    val out = java.nio.file.Files.createTempDirectory("graft-sgc-spec")
    try {
      val tbl = s"$out/tbl"
      val hour = 3600L * 1000
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
        .toDF("event_id", "event_type", "value")
      assert(ManifestTable.publishWithIntent(base, tbl, 1L, "w1"))
      // the writer is mid-publish: intent held, data landed, no swap yet
      val v2 = base.filter(col("event_id") =!= 2L)
      assert(ManifestTable.claimIntent(spark, tbl, 2L, "w2"))
      v2.write.parquet(s"$tbl/data/v2")
      // the naive classifier calls it debris — the bug being closed
      assert(ManifestTable.orphanVersions(spark, tbl) == Seq(2L))
      // the safe GC under the grace window reclaims NOTHING
      assert(ManifestTable.gcOrphansSafe(spark, tbl, hour).isEmpty)
      assert(new java.io.File(s"$tbl/data/v2").isDirectory,
        "the live writer's staged files must survive the GC")
      // the writer commits; its snapshot serves exactly
      ManifestTable.swapPointer(spark, tbl, 2L)
      ManifestTable.releaseIntent(spark, tbl, 2L)
      assert(ManifestTable.currentVersion(spark, tbl).contains(2L))
      assert(totals(ManifestTable.read(spark, tbl)) == Map("a" -> 2L))
      // second safety net, same window: a writer that never claimed an
      // intent (legacy publish path) is protected by data-dir AGE alone
      base.write.parquet(s"$tbl/data/v3")
      assert(ManifestTable.orphanVersions(spark, tbl) == Seq(3L))
      assert(ManifestTable.safeOrphanVersions(spark, tbl, hour).isEmpty,
        "a fresh no-intent dir is inside the grace window — protected")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q302 interleaving 2: writer stages -> crashes -> grace expires; GC reclaims exactly the debris") {
    val out = java.nio.file.Files.createTempDirectory("graft-sgc2-spec")
    try {
      val tbl = s"$out/tbl"
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0))
        .toDF("event_id", "event_type", "value")
      assert(ManifestTable.publishWithIntent(base, tbl, 1L, "w1"))
      // crashed writer: intent + data left, no swap ever comes
      assert(ManifestTable.claimIntent(spark, tbl, 2L, "dead"))
      base.write.parquet(s"$tbl/data/v2")
      // a second writer cannot steal the version while the intent stands
      assert(!ManifestTable.claimIntent(spark, tbl, 2L, "thief"),
        "the intent CAS must hold until purged")
      // grace 0 = the intent has aged out; exactly the debris goes —
      // data dir AND the dead intent file
      assert(ManifestTable.gcOrphansSafe(spark, tbl, 0L) == Seq(2L))
      assert(!new java.io.File(s"$tbl/data/v2").exists())
      assert(!new java.io.File(s"$tbl/intents/v2").exists(),
        "the dead intent must be purged with its snapshot")
      // the committed table never wobbled, and the retry can re-claim
      assert(totals(ManifestTable.read(spark, tbl)) ==
        Map("a" -> 1L, "b" -> 1L))
      assert(ManifestTable.publishWithIntent(
        base.filter(col("event_id") =!= 2L), tbl, 2L, "retry"),
        "the purged intent must be claimable by the retry")
      assert(totals(ManifestTable.read(spark, tbl)) == Map("a" -> 1L))
      // GC never touches committed history whatever the grace
      assert(ManifestTable.gcOrphansSafe(spark, tbl, 0L).isEmpty)
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q304: a lagging checkpoint splices an incrementally-probed tail; CAS race and fallback behave") {
    val out = java.nio.file.Files.createTempDirectory("graft-cp-spec")
    try {
      val tbl = s"$out/tbl"
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0))
        .toDF("event_id", "event_type", "value")
      // no checkpoint at all: resolve falls back to probing from v1
      ManifestTable.publish(base, tbl, 1L)
      ManifestTable.publish(base, tbl, 2L)
      assert(ManifestTable.versionsViaCheckpoint(spark, tbl) ==
        ((Seq(1L, 2L), -1L, 2L)))
      // first checkpoint covers the head; resolve needs ONE probe (miss)
      assert(ManifestTable.writeCheckpoint(spark, tbl).contains((1L, 2L)))
      assert(ManifestTable.versionsViaCheckpoint(spark, tbl) ==
        ((Seq(1L, 2L), 2L, 0L)))
      // the head moves twice past the checkpoint: the covered prefix
      // comes from the file, exactly the 2-version tail is probed
      ManifestTable.publish(base, tbl, 3L)
      ManifestTable.publish(base, tbl, 4L)
      assert(ManifestTable.versionsViaCheckpoint(spark, tbl) ==
        ((Seq(1L, 2L, 3L, 4L), 2L, 2L)))
      // a concurrent checkpointer already claimed the next seq: the
      // loser returns None and the winner's file stands untorn
      val stolen = s"$tbl/checkpoints/cp_2"
      java.nio.file.Files.write(java.nio.file.Paths.get(stolen),
        "4\n1\n2\n3\n4\n".getBytes("UTF-8"))
      assert(ManifestTable.writeCheckpoint(spark, tbl).isEmpty,
        "losing the checkpoint-seq CAS must return None")
      // the maintenance-order contract, both halves: a checkpoint
      // written BEFORE a vacuum over-reports (documented staleness)...
      java.nio.file.Files.delete(java.nio.file.Paths.get(stolen))
      assert(ManifestTable.writeCheckpoint(spark, tbl).contains((2L, 4L)))
      assert(ManifestTable.vacuum(spark, tbl, keep = 2) == Seq(1L, 2L))
      val (stale, _, _) = ManifestTable.versionsViaCheckpoint(spark, tbl)
      assert(stale == Seq(1L, 2L, 3L, 4L),
        "pre-vacuum checkpoint over-reports until refreshed — the contract")
      // ...and the post-vacuum refresh restores listing equality
      assert(ManifestTable.writeCheckpoint(spark, tbl).contains((3L, 4L)))
      assert(ManifestTable.versionsViaCheckpoint(spark, tbl) ==
        ((Seq(3L, 4L), 4L, 0L)))
      assert(ManifestTable.versions(spark, tbl) == Seq(3L, 4L))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q306: overwrite rewrites only its partitions, empty overwrite deletes, vacuum honors references") {
    val out = java.nio.file.Files.createTempDirectory("graft-po-spec")
    try {
      val tbl = s"$out/tbl"
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
        .toDF("event_id", "event_type", "value")
      ManifestTable.appendPartitionedDelta(base, tbl, 1L, "event_type")
      assert(ManifestTable.partitionValues(spark, tbl, "v1", "event_type")
        == Seq("a", "b"))
      // overwrite partition a: v2 lands ONLY the a dir
      ManifestTable.overwritePartitions(
        base.filter(col("event_type") === "a")
          .withColumn("value", col("value") * 10),
        tbl, 2L, "event_type", Seq("a"))
      assert(ManifestTable.partitionValues(spark, tbl, "v2", "event_type")
        == Seq("a"), "only the replaced partition may land files")
      assert(!new java.io.File(s"$tbl/data/v2/event_type=b").exists(),
        "the untouched partition must have NO new files")
      val served = ManifestTable.readPartitioned(spark, tbl, "event_type")
        .groupBy("event_type")
        .agg(sum(expr("CAST(value * 10 AS BIGINT)")).as("t")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(served == Map("a" -> 400L, "b" -> 20L),
        s"a re-priced x10, b by reference: $served")
      // rows outside the replaced set must be refused loudly
      intercept[IllegalArgumentException] {
        ManifestTable.overwritePartitions(base, tbl, 9L, "event_type",
          Seq("a"))
      }
      // empty overwrite = partition delete
      ManifestTable.overwritePartitions(base.filter(lit(false)), tbl, 3L,
        "event_type", Seq("b"))
      val afterDel = ManifestTable.readPartitioned(spark, tbl, "event_type")
        .select("event_type").distinct().collect().map(_.getString(0)).toSet
      assert(afterDel == Set("a"), s"b must be gone: $afterDel")
      // reachability vacuum: the live manifest maps a->2 (and v1 is
      // still referenced by v2's manifest if retained... here keep=1
      // retains v3 whose manifest references v2 only)
      val dropped = ManifestTable.vacuumPartitionedMoR(spark, tbl, keep = 1)
      assert(dropped == Seq(1L),
        s"v1 is unreferenced by the live manifest after the b delete: $dropped")
      val finalServed = ManifestTable
        .readPartitioned(spark, tbl, "event_type").count()
      assert(finalServed == 2L, "the surviving partitions still serve")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q306 a publish landing between resolve and collect: the pinned mapped snapshot serves") {
    val out = java.nio.file.Files.createTempDirectory("graft-po2-spec")
    try {
      val tbl = s"$out/tbl"
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0))
        .toDF("event_id", "event_type", "value")
      ManifestTable.appendPartitionedDelta(base, tbl, 1L, "event_type")
      // resolve NOW (pointer + manifest read eagerly), collect LATER
      val pinned = ManifestTable.readPartitioned(spark, tbl, "event_type")
      ManifestTable.overwritePartitions(
        base.filter(col("event_type") === "a")
          .withColumn("value", col("value") * 10),
        tbl, 2L, "event_type", Seq("a"))
      // the lazy frame still serves v1 exactly — snapshot semantics
      val got = pinned.agg(sum(expr("CAST(value AS BIGINT)"))).head().getLong(0)
      assert(got == 3L, s"the pinned read must serve v1: $got")
      // a fresh resolve serves the overwrite
      val fresh = ManifestTable.readPartitioned(spark, tbl, "event_type")
        .agg(sum(expr("CAST(value AS BIGINT)"))).head().getLong(0)
      assert(fresh == 12L, s"the fresh read must serve v2: $fresh")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q308: a failing audit never moves main, and the rejected snapshot is swept once its branch drops") {
    val out = java.nio.file.Files.createTempDirectory("graft-wap-spec")
    try {
      val tbl = s"$out/tbl"
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0))
        .toDF("event_id", "event_type", "value")
      ManifestTable.publish(base, tbl, 1L)
      ManifestTable.setBranch(spark, tbl, "main", 1L)
      // corrupt candidate staged on the audit branch
      base.withColumn("value", -col("value"))
        .write.parquet(s"$tbl/data/v2")
      ManifestTable.setBranch(spark, tbl, "audit", 2L)
      val (ok, bad) = ManifestTable.auditSnapshot(spark, tbl, 2L)
      assert(!ok && bad == 2L, s"negatives must fail the audit: $ok/$bad")
      // main untouched; the candidate never serves
      assert(ManifestTable.refVersion(spark, tbl, "branch_main")
        .contains(1L))
      assert(ManifestTable.currentVersion(spark, tbl).contains(1L))
      // while the audit branch stands, the snapshot is ref-protected
      assert(ManifestTable.gcOrphansSafe(spark, tbl, 0L).isEmpty,
        "a branch-referenced candidate is never debris")
      // drop the branch -> orphan -> swept
      ManifestTable.dropBranch(spark, tbl, "audit")
      assert(ManifestTable.gcOrphansSafe(spark, tbl, 0L) == Seq(2L))
      assert(!new java.io.File(s"$tbl/data/v2").exists())
      // a clean candidate passes and promotes
      base.write.parquet(s"$tbl/data/v2")
      ManifestTable.setBranch(spark, tbl, "audit", 2L)
      val (ok2, bad2) = ManifestTable.auditSnapshot(spark, tbl, 2L)
      assert(ok2 && bad2 == 0L)
      assert(ManifestTable.fastForwardBranch(spark, tbl, "main", 2L))
      ManifestTable.swapPointer(spark, tbl, 2L)
      assert(ManifestTable.read(spark, tbl).count() == 2L)
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q312: rollback is a metadata-only roll-forward commit, itself revertible, vacuum-safe") {
    val out = java.nio.file.Files.createTempDirectory("graft-rb-spec")
    try {
      val tbl = s"$out/tbl"
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
        .toDF("event_id", "event_type", "value")
      def servedSum(): Long = ManifestTable
        .readPartitioned(spark, tbl, "event_type")
        .agg(sum(expr("CAST(value AS BIGINT)"))).head().getLong(0)
      ManifestTable.appendPartitionedDelta(base, tbl, 1L, "event_type")
      ManifestTable.overwritePartitions(
        base.filter(col("event_type") === "a")
          .withColumn("value", col("value") * 10),
        tbl, 2L, "event_type", Seq("a"))
      assert(servedSum() == 42L) // a re-priced x10: 10 + 30 + 2
      // roll back to v1: a NEW commit, zero data movement
      val v3 = ManifestTable.rollbackPartitioned(spark, tbl, 1L)
      assert(v3 == 3L)
      assert(ManifestTable.currentVersion(spark, tbl).contains(3L))
      assert(ManifestTable.versions(spark, tbl) == Seq(1L, 2L),
        "the rollback commit must create NO data dir")
      assert(ManifestTable.readManifest(spark, tbl, 3L)
        == ManifestTable.readManifest(spark, tbl, 1L),
        "the rollback manifest is an exact copy of the target's")
      assert(servedSum() == 6L, "the serve path is back to v1's data")
      // the bad snapshot stays time-travelable for the audit
      val audit = ManifestTable
        .readPartitionedMoR(spark, tbl, "event_type", 2L)
        .agg(sum(expr("CAST(value AS BIGINT)"))).head().getLong(0)
      assert(audit == 42L, "the rolled-back version must stay readable")
      // history is append-only: the rollback itself reverts forward
      val v4 = ManifestTable.rollbackPartitioned(spark, tbl, 2L)
      assert(v4 == 4L && servedSum() == 42L,
        "rolling back a rollback re-serves the overwrite as v4")
      // reachability vacuum never tears files out of a rollback commit
      val dropped = ManifestTable.vacuumPartitionedMoR(spark, tbl, keep = 1)
      assert(dropped.isEmpty,
        s"v1 and v2 are referenced by live manifests: $dropped")
      assert(servedSum() == 42L)
      // a target without a manifest is refused loudly
      intercept[IllegalArgumentException] {
        ManifestTable.rollbackPartitioned(spark, tbl, 9L)
      }
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q319 race: a change-feed tail crossing a live compaction commit presents the same rows") {
    val out = java.nio.file.Files.createTempDirectory("graft-mt-race")
    try {
      val (tbl, log, sink, ck) = (s"$out/tbl", s"$out/log", s"$out/sink",
        s"$out/ck")
      val slim = Seq((1L, "purchase", 10.0), (2L, "view", 5.0),
        (3L, "click", 1.0), (4L, "purchase", 0.004))
        .toDF("event_id", "event_type", "value")
      // every commit appends a one-row log entry with forced-monotone
      // mtimes (the q289 tail protocol)
      var mtime = (System.currentTimeMillis() / 60000L) * 60000L
      def logCommit(version: Long): Unit = {
        val before = Option(new java.io.File(log).listFiles())
          .map(_.map(_.getName).toSet).getOrElse(Set.empty)
        Seq(version).toDF("version").coalesce(1)
          .write.mode("append").parquet(log)
        mtime += 1000L
        new java.io.File(log).listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
          .foreach(f => assert(f.setLastModified(mtime)))
      }
      def runTail(): Unit = {
        val q = spark.readStream
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "version BIGINT"))
          .option("maxFilesPerTrigger", "1")
          .parquet(log)
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.select("version").collect().map(_.getLong(0))
              .filter(_ >= 2L).foreach { v =>
                ManifestTable
                  .changeFeedPartitioned(spark, tbl, "event_type", v - 1, v)
                  .coalesce(1)
                  .write.mode("overwrite").parquet(s"$sink/v$v")
              }
            ()
          }
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.processAllAvailable(); q.awaitTermination()
      }
      ManifestTable.appendPartitionedDelta(slim, tbl, 1L, "event_type")
      logCommit(1L)
      ManifestTable.overwritePartitions(
        slim.filter(col("event_type") === "purchase")
          .withColumn("value", col("value") * 2),
        tbl, 2L, "event_type", Seq("purchase"))
      logCommit(2L)
      ManifestTable.overwritePartitions(
        slim.filter(col("event_type") === "view")
          .withColumn("value", col("value") * 3),
        tbl, 3L, "event_type", Seq("view"))
      logCommit(3L)
      runTail() // the consumer is live: v2/v3 consumed, checkpoint held
      // the compaction commit lands while the consumer is mid-stream
      ManifestTable.compactPartitionedMoR(spark, tbl, 4L, "event_type")
      logCommit(4L)
      runTail() // resumes from the checkpoint, consumes the compaction
      // the compaction batch presented ZERO change rows
      assert(spark.read.parquet(s"$sink/v4").count() == 0L,
        "compaction rewrites files, never rows")
      // and the tail's union across the commit equals the batch feed
      val served = Seq(2L, 3L, 4L).map(v => spark.read.parquet(s"$sink/v$v"))
        .reduce(_ unionByName _)
        .orderBy("version", "change_type", "event_id").collect().toSeq
      val batch = ManifestTable
        .changeFeedPartitioned(spark, tbl, "event_type", 1L, 4L)
        .orderBy("version", "change_type", "event_id").collect().toSeq
      assert(served == batch,
        "the stream across the compaction must present the batch feed's rows")
      // the same-cent reprice (0.004 -> 0.008) minted no phantom update
      assert(!served.exists(_.getAs[Long]("event_id") == 4L))
      // retention vs consumer: AFTER the tail passed the boundary the
      // vacuum may reclaim the sprawl...
      assert(ManifestTable.vacuumPartitionedMoR(spark, tbl, keep = 1)
        == Seq(1L, 2L, 3L))
      // ...but a consumer still BEHIND the boundary is now broken — the
      // expire-snapshots-vs-CDC ordering contract, observed:
      intercept[Exception] {
        ManifestTable.changeFeedPartitioned(spark, tbl, "event_type", 3L, 4L)
          .collect()
      }
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q324 primitive: idempotent partitioned append across every crash window") {
    val out = java.nio.file.Files.createTempDirectory("graft-ppa")
    try {
      val tbl = s"$out/tbl"
      def rows(ids: Seq[(Long, String, Double)]) =
        ids.toDF("event_id", "event_type", "value")
      def served() = ManifestTable.readPartitioned(spark, tbl, "event_type")
        .groupBy("event_type").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // bootstrap commit
      assert(ManifestTable.appendPartitionedIdempotent(
        rows(Seq((1L, "a", 1.0), (2L, "b", 2.0))), tbl, 1L, "event_type"))
      assert(served() == Map("a" -> 1L, "b" -> 1L))
      // v2 crashes BETWEEN manifest write and pointer swap
      intercept[ManifestTable.InjectedCrash] {
        ManifestTable.appendPartitionedIdempotent(
          rows(Seq((3L, "a", 3.0))), tbl, 2L, "event_type",
          Some(ManifestTable.BeforePointer))
      }
      // readers still resolve v1; the manifest landed before the crash
      assert(ManifestTable.currentVersion(spark, tbl).contains(1L))
      assert(served() == Map("a" -> 1L, "b" -> 1L))
      // the replay detects the manifest, COMPLETES the swap, skips the
      // write — rows are never doubled
      assert(!ManifestTable.appendPartitionedIdempotent(
        rows(Seq((3L, "a", 3.0))), tbl, 2L, "event_type"))
      assert(ManifestTable.currentVersion(spark, tbl).contains(2L))
      assert(served() == Map("a" -> 2L, "b" -> 1L))
      // untouched partition b is carried by REFERENCE to v1
      assert(ManifestTable.readDeltaManifest(spark, tbl, 2L)
        == Map("a" -> Seq(2L), "b" -> Seq(1L)))
      // a second replay is a pure no-op
      assert(!ManifestTable.appendPartitionedIdempotent(
        rows(Seq((3L, "a", 3.0))), tbl, 2L, "event_type"))
      assert(served() == Map("a" -> 2L, "b" -> 1L))
      // after v3 commits, a late v2 replay must NOT move the pointer back
      assert(ManifestTable.appendPartitionedIdempotent(
        rows(Seq((4L, "c", 4.0))), tbl, 3L, "event_type"))
      assert(!ManifestTable.appendPartitionedIdempotent(
        rows(Seq((3L, "a", 3.0))), tbl, 2L, "event_type"))
      assert(ManifestTable.currentVersion(spark, tbl).contains(3L))
      assert(served() == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q326 primitive: delta append across every crash window; compaction folds the splice") {
    val out = java.nio.file.Files.createTempDirectory("graft-ppd")
    try {
      val tbl = s"$out/tbl"
      def rows(ids: Seq[(Long, String, Double)]) =
        ids.toDF("event_id", "event_type", "value")
      def served() = {
        val v = ManifestTable.currentVersion(spark, tbl).get
        ManifestTable.readPartitionedMoR(spark, tbl, "event_type", v)
          .groupBy("event_type").agg(count(lit(1)).as("n")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      assert(ManifestTable.appendPartitionedDelta(
        rows(Seq((1L, "a", 1.0), (2L, "b", 2.0))), tbl, 1L, "event_type"))
      assert(served() == Map("a" -> 1L, "b" -> 1L))
      // v2 crashes BETWEEN delta-manifest write and pointer swap
      intercept[ManifestTable.InjectedCrash] {
        ManifestTable.appendPartitionedDelta(
          rows(Seq((3L, "a", 3.0))), tbl, 2L, "event_type",
          Some(ManifestTable.BeforePointer))
      }
      assert(ManifestTable.currentVersion(spark, tbl).contains(1L))
      assert(served() == Map("a" -> 1L, "b" -> 1L))
      // the replay detects the delta manifest, completes the swap, skips
      assert(!ManifestTable.appendPartitionedDelta(
        rows(Seq((3L, "a", 3.0))), tbl, 2L, "event_type"))
      assert(ManifestTable.currentVersion(spark, tbl).contains(2L))
      assert(served() == Map("a" -> 2L, "b" -> 1L))
      // partition a is now SPLICED from v1+v2; b served from v1 alone
      assert(ManifestTable.readDeltaManifest(spark, tbl, 2L)
        == Map("a" -> Seq(1L, 2L), "b" -> Seq(1L)))
      // a second replay is a pure no-op
      assert(!ManifestTable.appendPartitionedDelta(
        rows(Seq((3L, "a", 3.0))), tbl, 2L, "event_type"))
      assert(served() == Map("a" -> 2L, "b" -> 1L))
      // a late v2 replay after v3 must not move the pointer back
      assert(ManifestTable.appendPartitionedDelta(
        rows(Seq((4L, "c", 4.0))), tbl, 3L, "event_type"))
      assert(!ManifestTable.appendPartitionedDelta(
        rows(Seq((3L, "a", 3.0))), tbl, 2L, "event_type"))
      assert(ManifestTable.currentVersion(spark, tbl).contains(3L))
      assert(served() == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
      // compaction folds every partition to ONE serving version with
      // identical totals (the q309 contract on the delta manifest)
      ManifestTable.compactPartitionedMoR(spark, tbl, 4L, "event_type")
      assert(ManifestTable.currentVersion(spark, tbl).contains(4L))
      assert(served() == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
      assert(ManifestTable.readDeltaManifest(spark, tbl, 4L)
        == Map("a" -> Seq(4L), "b" -> Seq(4L), "c" -> Seq(4L)))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q330 txn protocol: tag-keyed idempotence across the crash window, versions CAS-allocated") {
    val out = java.nio.file.Files.createTempDirectory("graft-txn")
    try {
      val tbl = s"$out/tbl"
      def rows(ids: Seq[(Long, String, Double)]) =
        ids.toDF("event_id", "event_type", "value")
      def servedIds(): Set[Long] = {
        val v = ManifestTable.currentVersion(spark, tbl).get
        ManifestTable.readPartitionedMoR(spark, tbl, "event_type", v)
          .select("event_id").collect().map(_.getLong(0)).toSet
      }
      assert(ManifestTable.appendDeltaTxn(
        rows(Seq((1L, "a", 1.0))), tbl, "app", 0L, "event_type")
        == ((1L, true)))
      // batch 1 crashes AFTER its manifest commit, before the pointer
      intercept[ManifestTable.InjectedCrash] {
        ManifestTable.appendDeltaTxn(rows(Seq((2L, "b", 2.0))), tbl,
          "app", 1L, "event_type", Some(ManifestTable.BeforePointer))
      }
      // data staged before metadata: the committed-but-unpointed v2 is
      // already complete — a reader pinned to it would serve
      assert(ManifestTable.readPartitionedMoR(spark, tbl, "event_type", 2L)
        .count() == 2L)
      // the replay finds the txn tag: same version back, no double rows,
      // pointer completed
      assert(ManifestTable.appendDeltaTxn(
        rows(Seq((2L, "b", 2.0))), tbl, "app", 1L, "event_type")
        == ((2L, false)))
      assert(ManifestTable.currentVersion(spark, tbl).contains(2L))
      assert(servedIds() == Set(1L, 2L))
      // a second app's batch 0 is a DIFFERENT txn — it must commit,
      // CAS-allocating v3 (no collision with app's batch numbering)
      assert(ManifestTable.appendDeltaTxn(
        rows(Seq((3L, "a", 3.0))), tbl, "app2", 0L, "event_type")
        == ((3L, true)))
      assert(servedIds() == Set(1L, 2L, 3L))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("every partitioned commit path survives an injected crash") {
    import ManifestTable.{BeforeManifest, BeforePointer, CrashPoint, Entry}
    def rows(n: Int) = (n match {
      case 1 => Seq((1L, "a"), (2L, "b"))
      case 2 => Seq((3L, "a"))
      case _ => Seq((4L, "c"))
    }).map { case (i, p) => (i, p, i * 10) }
      .toDF("event_id", "event_type", "cents")
    // commit n deletes id 2, then id 1, by position in the version below
    def doomed(tbl: String, n: Int) = ManifestTable
      .readPartitionedMoR(spark, tbl, "event_type", n - 1L, rowIds = true)
      .filter(col("event_id") === (if (n == 2) 2L else 1L))
    val appended = Map(1 -> Set(1L, 2L), 2 -> Set(1L, 2L, 3L),
      3 -> Set(1L, 2L, 3L, 4L))
    // path, commit n (returns whether it committed now), the ids served
    // after commit n, and the manifest commit 2 publishes
    val paths: Seq[(String, (String, Int, Option[CrashPoint]) => Boolean,
        Map[Int, Set[Long]], Map[String, Entry])] = Seq(
      ("COW append", (t, n, c) => ManifestTable.appendPartitionedIdempotent(
          rows(n), t, n.toLong, "event_type", c),
        appended, Map("a" -> Entry(Seq("v2")), "b" -> Entry(Seq("v1")))),
      ("MoR append", (t, n, c) => ManifestTable.appendPartitionedDelta(
          rows(n), t, n.toLong, "event_type", c),
        appended, Map("a" -> Entry(Seq("v1", "v2")), "b" -> Entry(Seq("v1")))),
      ("stats append", (t, n, c) => ManifestTable.appendPartitionedDelta(
          rows(n), t, n.toLong, "event_type", c, statCol = Some("cents")),
        appended, Map("a" -> Entry(Seq("v1", "v2"), stats = Some((2L, 40L))),
          "b" -> Entry(Seq("v1"), stats = Some((1L, 20L))))),
      // commit 3 is a second app's batch 0: the txn path owns no versions,
      // the CAS still allocates it v3
      ("txn append", (t, n, c) => ManifestTable.appendDeltaTxn(rows(n), t,
          if (n == 3) "app2" else "app", if (n == 3) 0L else n - 1L,
          "event_type", c)._2,
        appended, Map("a" -> Entry(Seq("t_app_b0", "t_app_b1")),
          "b" -> Entry(Seq("t_app_b0")))),
      ("position-delete append", (t, n, c) =>
        if (n == 1) ManifestTable.appendPartitionedDelta(
          ManifestTable.withRowIds(rows(1)), t, 1L, "event_type")
        else ManifestTable.appendPositionDeletes(doomed(t, n), t, n.toLong,
          "event_type", c),
        Map(1 -> Set(1L, 2L), 2 -> Set(1L), 3 -> Set.empty[Long]),
        Map("a" -> Entry(Seq("v1")), "b" -> Entry(Seq("v1"), Seq("v2")))))
    for ((path, commit, served, v2) <- paths;
         point <- Seq(BeforeManifest, BeforePointer)) {
      val out = java.nio.file.Files.createTempDirectory("graft-crash")
      try {
        val tbl = s"$out/tbl"
        val at = s"$path, crash $point"
        def ids(v: Long): Set[Long] = ManifestTable
          .readPartitionedMoR(spark, tbl, "event_type", v)
          .select("event_id").collect().map(_.getLong(0)).toSet
        def live(v: Long): Boolean =
          ManifestTable.currentVersion(spark, tbl).contains(v)
        // every file a published manifest records exists, at its size
        def recordedFilesExist(): Unit =
          ManifestTable.manifestVersions(spark, tbl).foreach { v =>
            for ((d, r) <- ManifestTable.readManifest(spark, tbl, v).catalog;
                 (p, files) <- r.files; f <- files) {
              val file = new java.io.File(s"$tbl/data/$d/event_type=" +
                s"${ManifestTable.partitionDir(p)}/${f.name}")
              assert(file.isFile && file.length == f.bytes, s"$at: v$v records $file")
            }
          }
        assert(commit(tbl, 1, None), at)
        intercept[ManifestTable.InjectedCrash](commit(tbl, 2, Some(point)))
        recordedFilesExist()
        // readers still resolve the last acknowledged commit
        assert(live(1L) && ids(1L) == served(1), at)
        // past the commit point the data is complete before the pointer
        // names it
        if (point == BeforePointer) assert(ids(2L) == served(2), at)
        // the replay completes the commit: a fresh commit when the crash
        // hit before the manifest, the pointer swap alone after it
        assert(commit(tbl, 2, None) == (point == BeforeManifest), at)
        recordedFilesExist()
        assert(live(2L) && ids(2L) == served(2), at)
        assert(ManifestTable.readManifest(spark, tbl, 2L).parts == v2, at)
        // a second replay is a no-op, and a late one never moves the
        // pointer back
        assert(!commit(tbl, 2, None) && ids(2L) == served(2), at)
        assert(commit(tbl, 3, None) && !commit(tbl, 2, None), at)
        assert(live(3L) && ids(3L) == served(3), at)
      } finally graft.Scratch.rmTree(out.toFile)
    }
  }

  test("hostile partition values round-trip on every tier") {
    val values = Seq("plain", "a/b", "k=v", "50%", "x:y", "t\tab", "n\nl",
      "#txn")
    // NULL and "" both land in Spark's default partition dir and read
    // back as NULL: the NULL partition, keyed `null` in the manifest
    def batch(n: Int) = (values ++ Seq(null, "")).zipWithIndex
      .map { case (p, i) => (100L * n + i, p, n.toLong) }
      .toDF("event_id", "event_type", "cents")
    def served(tbl: String): Map[String, (Long, Long)] = ManifestTable
      .readPartitioned(spark, tbl, "event_type")
      .groupBy("event_type").agg(count(lit(1)), sum("cents")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the position-delete tier lands batches 1, 2 and 9 with row ids,
    // then deletes batch 9's rows by position
    def withPositions(t: String, n: Int): Unit =
      if (n == 1) ManifestTable.appendPartitionedDelta(ManifestTable
          .withRowIds(batch(1).union(batch(2)).union(batch(9))), t, 1L,
        "event_type", statCol = Some("cents"))
      else ManifestTable.appendPositionDeletes(ManifestTable
          .readPartitionedMoR(spark, t, "event_type", 1L, rowIds = true)
          .filter(col("cents") === 9L)
          .select("event_type", "_src_version", "_pos", "cents"),
        t, 2L, "event_type", statCol = Some("cents"))
    // tier, commit n, compact into v3, the dir the compaction lands,
    // whether the commits keep stats
    val tiers: Seq[(String, (String, Int) => Unit, String => Unit, String,
        Boolean)] =
      Seq(
        ("MoR", (t, n) => ManifestTable.appendPartitionedDelta(batch(n), t,
            n.toLong, "event_type", statCol = Some("cents")),
          t => ManifestTable.compactPartitionedMoR(spark, t, 3L, "event_type"),
          "v3", true),
        ("COW", (t, n) => ManifestTable.appendPartitionedIdempotent(batch(n),
            t, n.toLong, "event_type"),
          t => ManifestTable.compactPartitionedMoR(spark, t, 3L, "event_type"),
          "v3", false),
        ("txn", (t, n) => ManifestTable.appendDeltaTxn(batch(n), t, "app",
            n.toLong, "event_type"),
          t => ManifestTable.compactPartitionedTxn(spark, t, "event_type"),
          "c_v2", false),
        ("position-delete", withPositions,
          t => ManifestTable.compactPartitionedMoR(spark, t, 3L, "event_type"),
          "v3", true))
    for ((tier, append, compact, folded, stats) <- tiers) {
      val out = java.nio.file.Files.createTempDirectory("graft-hostile")
      try {
        val tbl = s"$out/tbl"
        append(tbl, 1)
        append(tbl, 2)
        val both = values.map(_ -> (2L, 3L)).toMap + ((null: String) -> (4L, 6L))
        def check(v: Long, at: String): Unit = {
          assert(served(tbl) == both, s"$tier $at")
          if (stats) {
            assert(ManifestTable.statsAt(spark, tbl, v) == both, s"$tier $at")
            assert(ManifestTable.metadataAggregate(spark, tbl, v).collect()
              .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
              .toMap == both, s"$tier $at")
          }
        }
        assert(ManifestTable.readManifest(spark, tbl, 2L).parts.keySet
          == values.toSet + null, tier)
        check(2L, "after the commits")
        compact(tbl)
        assert(ManifestTable.readManifest(spark, tbl, 3L).parts.values
          .forall(_.dirs == Seq(folded)), tier)
        check(3L, "after the compaction")
        ManifestTable.vacuumPartitionedMoR(spark, tbl, keep = 1)
        assert(new java.io.File(s"$tbl/data").list().toSet == Set(folded),
          s"$tier: only the compacted dir may survive the vacuum")
        check(3L, "after the vacuum")
      } finally graft.Scratch.rmTree(out.toFile)
    }
  }

  test("q327 disjoint writers racing on REAL threads both commit; manifests merge") {
    val out = java.nio.file.Files.createTempDirectory("graft-cpc")
    try {
      val tbl = s"$out/tbl"
      val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("event_id", "event_type", "value")
      ManifestTable.appendPartitionedDelta(base, tbl, 1L, "event_type")
      // both writers stage from the same pinned base, then race the
      // commit loop on real threads — whatever the interleaving, both
      // must land (disjoint partitions), one of them paying >=1 CAS loss
      // or arriving after the head moved (both are valid schedules)
      ManifestTable.stagePartitions(
        Seq((10L, "a", 10.0)).toDF("event_id", "event_type", "value"),
        tbl, "event_type", "wa")
      ManifestTable.stagePartitions(
        Seq((20L, "b", 20.0)).toDF("event_id", "event_type", "value"),
        tbl, "event_type", "wb")
      val results = new java.util.concurrent.ConcurrentHashMap[String,
        Option[ManifestTable.PartitionCommit]]()
      val ts = Seq("wa" -> "a", "wb" -> "b").map { case (w, p) =>
        new Thread(() => results.put(w,
          ManifestTable.commitStagedPartitions(spark, tbl, "event_type",
            Seq(p), w, 1L)))
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      val (ra, rb) = (results.get("wa"), results.get("wb"))
      assert(ra.isDefined && rb.isDefined,
        s"disjoint writers must both commit: a=$ra b=$rb")
      assert(Set(ra.get.version, rb.get.version) == Set(2L, 3L),
        "the two commits must land consecutive versions")
      // the merged head serves BOTH writers' rows plus the untouched c
      val head = ManifestTable.currentVersion(spark, tbl).get
      assert(head == 3L)
      val got = ManifestTable
        .readPartitionedMoR(spark, tbl, "event_type", 3L)
        .groupBy("event_type").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
      val ids = ManifestTable
        .readPartitionedMoR(spark, tbl, "event_type", 3L)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(10L, 20L, 3L),
        "each writer's overwrite and the untouched partition must all serve")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q327 overlapping writers serialize: the stale one is refused until it re-derives") {
    val out = java.nio.file.Files.createTempDirectory("graft-cpc2")
    try {
      val tbl = s"$out/tbl"
      ManifestTable.appendPartitionedDelta(
        Seq((1L, "a", 1.0), (2L, "b", 2.0))
          .toDF("event_id", "event_type", "value"),
        tbl, 1L, "event_type")
      // both replace partition a from the same base
      ManifestTable.stagePartitions(
        Seq((10L, "a", 10.0)).toDF("event_id", "event_type", "value"),
        tbl, "event_type", "wa")
      ManifestTable.stagePartitions(
        Seq((30L, "a", 30.0)).toDF("event_id", "event_type", "value"),
        tbl, "event_type", "wc")
      assert(ManifestTable.commitStagedPartitions(spark, tbl,
        "event_type", Seq("a"), "wa", 1L)
        .contains(ManifestTable.PartitionCommit(2L, 0)))
      // the stale overlapping commit must be REFUSED, not merged
      assert(ManifestTable.commitStagedPartitions(spark, tbl,
        "event_type", Seq("a"), "wc", 1L).isEmpty)
      // ...and still refused however often it retries from the stale base
      assert(ManifestTable.commitStagedPartitions(spark, tbl,
        "event_type", Seq("a"), "wc", 1L).isEmpty)
      // serialization: re-stage against the live head, commit on top
      ManifestTable.stagePartitions(
        Seq((31L, "a", 31.0)).toDF("event_id", "event_type", "value"),
        tbl, "event_type", "wc")
      val head = ManifestTable.currentVersion(spark, tbl).get
      assert(ManifestTable.commitStagedPartitions(spark, tbl,
        "event_type", Seq("a"), "wc", head)
        .contains(ManifestTable.PartitionCommit(3L, 0)))
      val ids = ManifestTable
        .readPartitionedMoR(spark, tbl, "event_type", 3L)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(31L, 2L), "the serialized overwrite must win cleanly")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q329 keyed MoR: latest image wins, tombstones mask, vacuum honors delta references") {
    val out = java.nio.file.Files.createTempDirectory("graft-mur")
    try {
      val tbl = s"$out/tbl"
      def rows(ids: Seq[(Long, String, Double, Boolean)]) =
        ids.toDF("event_id", "event_type", "value", "deleted")
      def served(): Map[Long, Double] = {
        val v = ManifestTable.currentVersion(spark, tbl).get
        ManifestTable.readPartitionedMoRKeyed(spark, tbl,
            "event_type", "event_id", v)
          .select("event_id", "value").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      assert(ManifestTable.appendPartitionedDelta(
        rows(Seq((1L, "a", 1.0, false), (2L, "a", 2.0, false),
          (3L, "b", 3.0, false))), tbl, 1L, "event_type"))
      assert(served() == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
      // v2 upserts key 1; v3 re-upserts key 1 AND tombstones key 2 —
      // the latest image must win through a two-deep chain
      assert(ManifestTable.appendPartitionedDelta(
        rows(Seq((1L, "a", 10.0, false))), tbl, 2L, "event_type"))
      assert(served() == Map(1L -> 10.0, 2L -> 2.0, 3L -> 3.0))
      assert(ManifestTable.appendPartitionedDelta(
        rows(Seq((1L, "a", 100.0, false), (2L, "a", 0.0, true))),
        tbl, 3L, "event_type"))
      assert(served() == Map(1L -> 100.0, 3L -> 3.0))
      // vacuum BEFORE compaction: the live manifest references v1..v3 —
      // nothing reclaimable
      assert(ManifestTable.vacuumPartitionedMoR(spark, tbl, keep = 1)
        .isEmpty)
      assert(served() == Map(1L -> 100.0, 3L -> 3.0))
      // compaction applies upserts + tombstones physically; the
      // tombstone row must be GONE from the files, not just masked
      ManifestTable.compactPartitionedMoR(spark, tbl, 4L, "event_type",
        keyCol = Some("event_id"))
      assert(served() == Map(1L -> 100.0, 3L -> 3.0))
      assert(spark.read.parquet(s"$tbl/data/v4").count() == 2L,
        "compaction must drop tombstoned rows physically")
      // vacuum AFTER compaction reclaims exactly the unpinned chain
      assert(ManifestTable.vacuumPartitionedMoR(spark, tbl, keep = 1)
        == Seq(1L, 2L, 3L))
      assert(served() == Map(1L -> 100.0, 3L -> 3.0))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q330 compactor races a live append on real threads; both land, nothing lost") {
    val out = java.nio.file.Files.createTempDirectory("graft-txr")
    try {
      val tbl = s"$out/tbl"
      def rows(ids: Seq[(Long, String, Double)]) =
        ids.toDF("event_id", "event_type", "value")
      assert(ManifestTable.appendDeltaTxn(
        rows(Seq((1L, "a", 1.0), (2L, "b", 2.0))), tbl, "s", 0L,
        "event_type")._2)
      assert(ManifestTable.appendDeltaTxn(
        rows(Seq((3L, "a", 3.0))), tbl, "s", 1L, "event_type")._2)
      // a compactor and a fresh append race the v3 slot on real threads;
      // whichever loses must rebase/re-resolve — in EVERY interleaving
      // both commit and the final read serves all four rows exactly once
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = Seq(
        new Thread(() =>
          try ManifestTable.compactPartitionedTxn(spark, tbl, "event_type")
          catch { case t: Throwable => errs.add(t) }),
        new Thread(() =>
          try ManifestTable.appendDeltaTxn(rows(Seq((4L, "c", 4.0))), tbl,
            "s", 2L, "event_type")
          catch { case t: Throwable => errs.add(t) }))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(errs.isEmpty, s"racing committers must not fail: $errs")
      assert(ManifestTable.manifestVersions(spark, tbl)
        == Seq(1L, 2L, 3L, 4L))
      val v = ManifestTable.currentVersion(spark, tbl).get
      assert(v == 4L)
      val ids = ManifestTable.readPartitionedMoR(spark, tbl, "event_type", v)
        .select("event_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == Seq(1L, 2L, 3L, 4L),
        "every row exactly once, whatever the interleaving")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q326 scale contract: per-batch delta bytes ∝ |delta|, COW bytes ∝ |touched partition|") {
    val out = java.nio.file.Files.createTempDirectory("graft-ppb")
    try {
      def dirBytes(d: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length()
          else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        walk(new java.io.File(d))
      }
      // skewed fixture: a hot partition with 50k accumulated rows, then
      // a 100-row delta touching it
      val hot = spark.range(50000L)
        .select(col("id").as("event_id"), lit("hot").as("event_type"),
          (col("id") % 97 * 1.5).as("value"))
      val delta = spark.range(50000L, 50100L)
        .select(col("id").as("event_id"), lit("hot").as("event_type"),
          lit(1.0).as("value"))
      val cow = s"$out/cow"
      val mor = s"$out/mor"
      assert(ManifestTable.appendPartitionedIdempotent(hot, cow, 1L, "event_type"))
      assert(ManifestTable.appendPartitionedDelta(hot, mor, 1L, "event_type"))
      assert(ManifestTable.appendPartitionedIdempotent(delta, cow, 2L, "event_type"))
      assert(ManifestTable.appendPartitionedDelta(delta, mor, 2L, "event_type"))
      val cowBytes = dirBytes(s"$cow/data/v2")
      val morBytes = dirBytes(s"$mor/data/v2")
      // the COW commit rewrote the whole hot partition (50,100 rows); the
      // MoR commit wrote the 100 delta rows — at least a 5x byte gap here,
      // and ∝ partition-size/delta-size in general
      assert(morBytes * 5 < cowBytes,
        s"delta commit must be delta-sized: mor=$morBytes cow=$cowBytes")
      // both serve identical totals
      def n(tbl: String, mor: Boolean): Long = {
        val v = ManifestTable.currentVersion(spark, tbl).get
        val df = if (mor) ManifestTable.readPartitionedMoR(spark, tbl, "event_type", v)
          else ManifestTable.readPartitioned(spark, tbl, "event_type")
        df.count()
      }
      assert(n(cow, mor = false) == 50100L)
      assert(n(mor, mor = true) == 50100L)
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q335 commit-time stats: additive across commits, replay-stable, equal to a physical scan") {
    val out = java.nio.file.Files.createTempDirectory("graft-stats")
    try {
      val tbl = s"$out/tbl"
      def rows(ids: Seq[(Long, String, Long)]) =
        ids.toDF("event_id", "event_type", "cents")
      def append(v: Long, ids: Seq[(Long, String, Long)],
          statCol: Option[String] = Some("cents")) =
        ManifestTable.appendPartitionedDelta(rows(ids), tbl, v, "event_type",
          statCol = statCol)
      assert(append(1L, Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))))
      assert(ManifestTable.statsAt(spark, tbl, 1L)
        == Map("a" -> (2L, 30L), "b" -> (1L, 5L)))
      assert(append(2L, Seq((4L, "a", 100L), (5L, "c", 7L))))
      // cumulative: a folds forward, untouched b carries, c appears
      assert(ManifestTable.statsAt(spark, tbl, 2L)
        == Map("a" -> (3L, 130L), "b" -> (1L, 5L), "c" -> (1L, 7L)))
      // a replayed commit must not double-fold the stats
      assert(!append(2L, Seq((4L, "a", 100L), (5L, "c", 7L))))
      assert(ManifestTable.statsAt(spark, tbl, 2L)
        == Map("a" -> (3L, 130L), "b" -> (1L, 5L), "c" -> (1L, 7L)))
      // metadata answer == physical scan answer, via the public reader
      val meta = ManifestTable.metadataAggregate(spark, tbl, 2L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      val scan = ManifestTable.readPartitionedMoR(spark, tbl,
          "event_type", 2L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(meta == scan)
      // time travel: v1's manifest still serves v1's answer
      assert(ManifestTable.metadataAggregate(spark, tbl, 1L)
        .count() == 2L)
      // a commit without stats leaves its partitions inexact: the
      // metadata answer is refused rather than served stale
      assert(append(3L, Seq((6L, "a", 1L)), statCol = None))
      assert(ManifestTable.readManifest(spark, tbl, 3L).parts("b").stats
        == Some((1L, 5L)))
      intercept[IllegalArgumentException](
        ManifestTable.metadataAggregate(spark, tbl, 3L))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q336 delete-folded stats: exact through deletes, incl. a fully-deleted partition") {
    val out = java.nio.file.Files.createTempDirectory("graft-statsdel")
    try {
      val tbl = s"$out/tbl"
      val base = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
        .toDF("event_id", "event_type", "cents")
      assert(ManifestTable.appendPartitionedDelta(
        ManifestTable.withRowIds(base), tbl, 1L, "event_type",
        statCol = Some("cents")))
      assert(ManifestTable.statsAt(spark, tbl, 1L)
        == Map("a" -> (2L, 30L), "b" -> (1L, 5L)))
      // DELETE WHERE event_type = 'b' — wipes partition b entirely
      val doomed = ManifestTable.readPartitionedMoR(spark, tbl,
          "event_type", 1L, rowIds = true)
        .filter(col("event_type") === "b")
      assert(ManifestTable.appendPositionDeletes(doomed, tbl, 2L,
        "event_type", statCol = Some("cents")))
      // metadata keeps the exact (0, 0) row for the emptied partition;
      // the physical read simply has no group for it
      assert(ManifestTable.statsAt(spark, tbl, 2L)
        == Map("a" -> (2L, 30L), "b" -> (0L, 0L)))
      val phys = ManifestTable.readPartitionedMoR(spark, tbl, "event_type", 2L)
        .groupBy("event_type").agg(count(lit(1)).as("n"), sum("cents").as("s"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(phys == Map("a" -> (2L, 30L)))
      assert(ManifestTable.statsAt(spark, tbl, 2L)
        .filter(_._2._1 > 0L) == phys)
    } finally graft.Scratch.rmTree(out.toFile)
  }
}
