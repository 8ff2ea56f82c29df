package graft.operators

import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{DEFAULT_PARTITION_NAME, escapePathName, unescapePathName}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.functions.OracleSafe

/** Manifest-pointer table commits (q241) — the write-audit-publish
  * protocol that closes q88's documented non-atomic swap
  * (`WarehouseSink.compact`: "front with a table format for that").
  * This IS the minimal table format: the commit protocol of
  * Delta/Iceberg reduced to its essential mechanism.
  *
  * Layout under `tableDir`:
  * {{{
  *   data/v<N>/…parquet   immutable snapshot dirs (write-once, never edited)
  *   CURRENT              the pointer — one small file naming the live N
  *   manifest/v<N>        partitioned tier only: one line per partition,
  *                        `<escaped value>\t<dir>,<dir>[\tdel:<dir>,…]
  *                        [\tstats:<rows>,<sum>]`, under an optional
  *                        `#txn\t<app>\t<batch>` header; dirs are under
  *                        `data/` (`v<N>`, or `t_<app>_b<batch>` and
  *                        `c_v<N>` for txn-tagged commits). Then the
  *                        record of every data or delete dir the lines
  *                        name: `#dir\t<dir>\t<schema json>` (the schema
  *                        of the frame the dir was landed from) and one
  *                        `#file\t<dir>\t<escaped value>\t<bytes>\t<name>`
  *                        per data file. A dir's record is made once, by
  *                        the one recursive listing of the commit that
  *                        lands it, and later manifests carry it forward
  *                        while they name the dir
  * }}}
  *
  * Partitioned reads are planned from one manifest read alone: the
  * records become a [[FileIndex]] behind one relation per read, so no
  * directory is listed, no footer is read for schema inference and no
  * Spark job runs until the frame is executed.
  *
  * Protocol: (1) land the new snapshot's data files under `data/v<N>` —
  * an idempotent overwrite of a dir NO reader resolves yet; (2) commit by
  * swapping the pointer in ONE atomic rename
  * (`FileContext.rename(…, Options.Rename.OVERWRITE)` — atomic on HDFS
  * and on POSIX local filesystems). Readers resolve `CURRENT` first and
  * then read only the named snapshot dir, so every reader sees exactly
  * one complete snapshot at every instant: a crash anywhere before the
  * swap leaves the OLD snapshot fully readable (the half-published data
  * dir is invisible debris), and recovery is simply re-running the
  * publish — step 1 overwrites the debris, step 2 commits.
  *
  * Scale: the commit cost is one tiny-file write + one metadata rename
  * regardless of data size — the data move itself is the normal
  * distributed parquet write. Snapshot reads pin their version at
  * resolve time (driver-side, once per query), which is snapshot
  * isolation for free; old versions are reclaimable the moment no
  * pinned reader remains (not automated here — a deployment would keep
  * k versions, exactly like table formats' vacuum).
  */
object ManifestTable {

  /** Thrown by the fault-injection hook between data-write and pointer
    * swap — the crash window the protocol must survive.
    */
  final class InjectedCrash extends RuntimeException(
    "injected crash: snapshot data written, pointer never swapped")

  private[operators] def fc(spark: SparkSession, dir: String): FileContext =
    FileContext.getFileContext(new Path(dir).toUri,
      spark.sparkContext.hadoopConfiguration)

  private[operators] def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Versions named `v<N>…` directly under `tableDir/sub` (`data`,
    * `manifest`, `commits`, `leases`, `smanifest`), ascending; empty when
    * the dir is absent.
    */
  private[operators] def listVersions(spark: SparkSession, tableDir: String,
      sub: String): Seq[Long] = {
    val fs = fileSystem(spark, tableDir)
    val dir = new Path(s"$tableDir/$sub")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v"))
      .flatMap(n => scala.util.Try(
        n.stripPrefix("v").takeWhile(_.isDigit).toLong).toOption)
      .sorted
  }

  /** The version the pointer names right now, if any. Resolved eagerly —
    * a reader that holds the returned version is PINNED to that snapshot
    * whatever publishes happen after.
    */
  def currentVersion(spark: SparkSession, tableDir: String): Option[Long] =
    readPointer(spark, s"$tableDir/CURRENT").map(_.trim.toLong)

  /** Replace the small pointer file `path` with `text`: write `path.tmp`,
    * then one atomic rename over `path` — readers see the old or the new
    * content, never a torn write.
    */
  private def writePointer(spark: SparkSession, path: String,
      text: String): Unit = {
    val ctx = fc(spark, path)
    val tmp = new Path(s"$path.tmp")
    val out = ctx.create(tmp,
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      CreateOpts.createParent())
    try out.write(text.getBytes("UTF-8")) finally out.close()
    ctx.rename(tmp, new Path(path), Options.Rename.OVERWRITE)
  }

  /** The content of the small pointer file `path`, or None if absent. */
  private def readPointer(spark: SparkSession, path: String): Option[String] = {
    val ctx = fc(spark, path)
    val p = new Path(path)
    if (!ctx.util.exists(p)) None else Some(readFully(ctx, p))
  }

  /** [[currentVersion]] of a table that must already be published. */
  private[operators] def live(spark: SparkSession, tableDir: String): Long =
    currentVersion(spark, tableDir).getOrElse(
      sys.error(s"no published snapshot under $tableDir"))

  /** Publish `df` as snapshot `version`: land the data, then commit with
    * one atomic pointer rename. Re-running a crashed publish completes
    * it (the data write is an idempotent overwrite). `crashBeforeSwap`
    * injects a failure inside the crash window for the q241 proof.
    */
  def publish(df: DataFrame, tableDir: String, version: Long,
      crashBeforeSwap: Boolean = false): Unit = {
    val spark = df.sparkSession
    df.write.mode(SaveMode.Overwrite).parquet(s"$tableDir/data/v$version")
    if (crashBeforeSwap) throw new InjectedCrash
    swapPointer(spark, tableDir, version)
  }

  /** Monotone count of pointer swaps in this JVM — every commit path
    * (publish, partitioned, delta, rollback, …) funnels through
    * [[swapPointer]], so a before/after delta is the COMMIT-FLOOR count
    * a measured run paid. ScaleBench emits it beside each floor-shaped
    * query's scale row so the artifact explains its own ratio
    * (fixed-floor vs data-growth) without prose attribution.
    */
  private val commitCount = new java.util.concurrent.atomic.AtomicLong(0L)
  def commitsSoFar: Long = commitCount.get()

  /** Commit the pointer to `version` with the standard tmp-write +
    * atomic rename — the second half of [[publish]], factored out so
    * staged-publish flows (q302's in-flight writer) can land data and
    * commit as separate observable steps.
    */
  def swapPointer(spark: SparkSession, tableDir: String,
      version: Long): Unit = {
    commitCount.incrementAndGet()
    writePointer(spark, s"$tableDir/CURRENT", s"$version\n")
  }

  /** Read the live snapshot through the pointer. The version is resolved
    * NOW; the returned (lazy) frame reads only that snapshot's dir.
    */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(s"$tableDir/data/v${live(spark, tableDir)}")

  /** q241 — the q88 compaction re-run under the manifest protocol, with
    * the crash injected in its window: publish the fragmented events as
    * v1, attempt the compacted v2 publish that DIES between data-write
    * and pointer-swap, prove readers still resolve v1 with exact totals,
    * then re-run the publish and prove v2 serves the same totals
    * (compaction invisible in the data — the q88 contract, now atomic).
    * Output: per-stage, per-type counts and cent totals plus the version
    * each stage resolved; the oracle pins the versions (1, 1, 2) and
    * computes the totals from the raw events — equal totals at every
    * stage IS the atomicity proof.
    */
  def atomicCompactionPublish(events: DataFrame, tableDir: String,
      targetBytes: Long = 1L << 20): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    publish(slim.repartition(64), tableDir, 1L)
    def stageTotals(stage: String): DataFrame = {
      val v = currentVersion(spark, tableDir).getOrElse(
        sys.error("stage read before any publish"))
      read(spark, tableDir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(stage).as("stage"), lit(v).as("version"),
          col("event_type"), col("n"), col("total_cents"))
    }
    val s1 = stageTotals("a_v1_published")
    val fs = fileSystem(spark, tableDir)
    val bytes = fs.getContentSummary(new Path(s"$tableDir/data/v1")).getLength
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val compacted = spark.read.parquet(s"$tableDir/data/v1")
      .repartition(nFiles)
    val crashed =
      try { publish(compacted, tableDir, 2L, crashBeforeSwap = true); false }
      catch { case _: InjectedCrash => true }
    require(crashed, "the injected crash must fire inside the window")
    val s2 = stageTotals("b_crash_window") // must still resolve v1
    publish(compacted, tableDir, 2L) // recovery = re-run the same publish
    val s3 = stageTotals("c_republished") // resolves v2
    s1.unionByName(s2).unionByName(s3).orderBy("stage", "event_type")
  }

  /** Read a specific historical snapshot — time travel. The caller is
    * responsible for the version still being retained (see [[vacuum]]).
    */
  def readVersion(spark: SparkSession, tableDir: String,
      version: Long): DataFrame =
    spark.read.parquet(s"$tableDir/data/v$version")

  /** List the snapshot versions physically present under the table. */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] =
    listVersions(spark, tableDir, "data")

  /** Reclaim history: delete every snapshot older than the newest
    * `keep`, never touching the pointer's target (the live version is
    * always retained whatever `keep` says). Returns the versions
    * deleted. The table-format vacuum: safe because publishes only ever
    * ADD version dirs, so a concurrent reader can lose its snapshot only
    * if it pinned a version older than the retention window — the same
    * documented contract as Delta's VACUUM.
    */
  def vacuum(spark: SparkSession, tableDir: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 1, s"must keep at least the live snapshot: $keep")
    val live = currentVersion(spark, tableDir)
    val all = versions(spark, tableDir)
    val retained = all.takeRight(keep).toSet ++ live
    val fs = fileSystem(spark, tableDir)
    val dropped = all.filterNot(retained)
    dropped.foreach(v => fs.delete(new Path(s"$tableDir/data/v$v"), true))
    dropped
  }

  /** q244 — version history end to end: publish the full events as v1,
    * publish a DELETE (drop every 'error' row) as v2, then (a) time-
    * travel v1 — the pre-delete totals must still serve; (b) read
    * CURRENT — the post-delete totals; (c) [[vacuum]] keep-last-1 — v1
    * physically gone, CURRENT still serves v2 exactly. Output: per-stage
    * per-type totals with the resolved version and the retained-version
    * count per stage; the oracle pins versions (1, 2, 2) and retention
    * (2, 2, 1) and computes both totals from the raw events.
    */
  def timeTravelVacuum(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    publish(slim, tableDir, 1L)
    publish(slim.filter(col("event_type") =!= "error"), tableDir, 2L)
    def totalsOf(df: DataFrame, stage: String, v: Long): DataFrame = df
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
      .select(lit(stage).as("stage"), lit(v).as("version"),
        lit(versions(spark, tableDir).size.toLong).as("n_versions"),
        col("event_type"), col("n"), col("total_cents"))
    // time travel resolves BEFORE the vacuum; both reads materialize into
    // their stage frames lazily but pin their snapshot dirs eagerly
    val s1 = totalsOf(readVersion(spark, tableDir, 1L), "a_time_travel_v1", 1L)
      .localCheckpoint() // materialize: v1's files are gone after vacuum
    val s2 = totalsOf(read(spark, tableDir), "b_current_v2", 2L)
      .localCheckpoint()
    val dropped = vacuum(spark, tableDir, keep = 1)
    require(dropped == Seq(1L), s"vacuum must reclaim exactly v1: $dropped")
    val s3 = totalsOf(read(spark, tableDir), "c_post_vacuum", 2L)
    s1.unionByName(s2).unionByName(s3).orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[timeTravelVacuum]]: pre-delete totals for the
    * time-travel stage, post-delete totals for the current and
    * post-vacuum stages, versions and retention counts pinned. Embed
    * after `WITH ` and select from `time_travel`.
    */
  def timeTravelVacuumSql(): String =
    s"""tt_all AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |tt_live AS (
       |  SELECT event_type, n, total_cents FROM tt_all
       |  WHERE event_type <> 'error'),
       |time_travel AS (
       |  SELECT 'a_time_travel_v1' AS stage, CAST(1 AS BIGINT) AS version,
       |         CAST(2 AS BIGINT) AS n_versions, event_type, n, total_cents
       |  FROM tt_all
       |  UNION ALL
       |  SELECT 'b_current_v2', 2, 2, event_type, n, total_cents FROM tt_live
       |  UNION ALL
       |  SELECT 'c_post_vacuum', 2, 1, event_type, n, total_cents
       |  FROM tt_live)""".stripMargin

  /** Atomically claim commit slot `version`: an EXCLUSIVE create of
    * `commits/v<version>` naming the writer — the compare-and-swap every
    * optimistic table-format committer serializes through (Delta's
    * `N.json` put-if-absent, Iceberg's metadata swap). Exactly one
    * caller per slot ever returns true, whatever the interleaving: the
    * filesystem's create-no-overwrite is the arbiter.
    */
  def claimCommit(spark: SparkSession, tableDir: String, version: Long,
      writer: String): Boolean =
    putIfAbsent(spark, new Path(s"$tableDir/commits/v$version"),
      s"$writer\n")

  /** Atomic put-if-absent — the one primitive the commit protocol needs
    * from storage, and (exactly as Delta's LogStore abstraction found)
    * the one that needs a PER-FILESYSTEM implementation: HDFS's
    * create-no-overwrite is arbitrated at the NameNode and is atomic,
    * but Hadoop's LOCAL filesystem implements it as exists-then-create —
    * two racing threads can both pass the check (observed in this spec's
    * 8-thread race before this branch existed). Local paths therefore go
    * through NIO's `CREATE_NEW` (O_CREAT|O_EXCL — atomic on POSIX).
    */
  private[operators] def putIfAbsent(spark: SparkSession, path: Path,
      content: String): Boolean = {
    val uri = path.toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      val p = java.nio.file.Paths.get(uri.getPath)
      java.nio.file.Files.createDirectories(p.getParent)
      try {
        java.nio.file.Files.write(p, content.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      val ctx = fc(spark, path.toString)
      try {
        val out = ctx.create(path, EnumSet.of(CreateFlag.CREATE),
          CreateOpts.createParent())
        try out.write(content.getBytes("UTF-8")) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      }
    }
  }

  /** One optimistic commit attempt: stage the candidate's data files
    * (unpublished — no reader resolves the stage dir), CAS the commit
    * slot, and only the winner promotes its staged dir to `data/v<N>`
    * and swaps the pointer. A loser's staged files are deleted — debris,
    * never published. Returns whether the CAS won.
    */
  def tryCommit(df: DataFrame, tableDir: String, version: Long,
      writer: String): Boolean = {
    val spark = df.sparkSession
    val staged = s"$tableDir/stage/v$version-$writer"
    df.write.mode(SaveMode.Overwrite).parquet(staged)
    val won = claimCommit(spark, tableDir, version, writer)
    val ctx = fc(spark, tableDir)
    if (won) {
      ctx.rename(new Path(staged), new Path(s"$tableDir/data/v$version"),
        Options.Rename.OVERWRITE)
      swapPointer(spark, tableDir, version)
    } else {
      ctx.delete(new Path(staged), true)
    }
    won
  }

  /** q248 — optimistic concurrency on the manifest table: two writers
    * race from the SAME pinned snapshot. Writer A (doubles every
    * purchase's value) commits v2; writer B (drops every view) then
    * attempts v2 with its now-stale candidate and the CAS REFUSES it —
    * the exclusive-create actually fails, B's staged files are deleted
    * unpublished; B rebases by re-reading CURRENT and re-applying its
    * change on A's result, and commits v3. The final table is the SERIAL
    * application f_B(f_A(base)) — write skew is impossible because every
    * commit's base is certified by the slot it claims. Output: per-stage
    * per-type totals with the resolved version and a conflict flag; the
    * oracle pins versions (1, 2, 2, 3) and the single conflict, and
    * computes all three table states from the raw events. The refused
    * stage's totals EQUAL writer A's — the loser's data was never
    * visible.
    */
  def concurrentCommitters(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    publish(slim, tableDir, 1L)
    def writerA(base: DataFrame): DataFrame =
      base.withColumn("value",
        when(col("event_type") === "purchase", col("value") * 2)
          .otherwise(col("value")))
    def writerB(base: DataFrame): DataFrame =
      base.filter(col("event_type") =!= "view")
    // both writers pin the SAME base snapshot — the race
    val baseV = currentVersion(spark, tableDir).get
    val candA = writerA(readVersion(spark, tableDir, baseV))
    val candB = writerB(readVersion(spark, tableDir, baseV))
    require(tryCommit(candA, tableDir, baseV + 1, "writer_a"),
      "writer A races alone for v2 and must win")
    val bStaleWon = tryCommit(candB, tableDir, baseV + 1, "writer_b")
    require(!bStaleWon, "writer B's stale v2 attempt must lose the CAS")
    val refusedStageV = currentVersion(spark, tableDir).get
    require(tryCommit(writerB(read(spark, tableDir)), tableDir,
        refusedStageV + 1, "writer_b"),
      "writer B's rebased v3 attempt races alone and must win")
    def stage(name: String, v: Long, conflict: Int): DataFrame =
      readVersion(spark, tableDir, v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(conflict).as("conflict"), col("event_type"), col("n"),
          col("total_cents"))
    stage("a_base", 1L, 0)
      .unionByName(stage("b_writer_a", 2L, 0))
      .unionByName(stage("c_writer_b_refused", refusedStageV, 1))
      .unionByName(stage("d_writer_b_rebased", 3L, 0))
      .orderBy("stage", "event_type")
  }

  /** Row-level change feed between two published versions — the
    * `table_changes(from, to)` surface of the manifest table (Delta's
    * CDF shape: insert / delete / update_preimage / update_postimage
    * rows, each tagged with the commit version that produced it). The
    * manifest log stores snapshots, not row deltas, so the feed derives
    * each consecutive pair's changes with ONE full-outer hash join on
    * the key — O(|v| + |v+1|) per step, the standard reconstruction
    * when a log lacks write-time CDF (q186/q242 cover the apply side).
    * Change detection compares cent-quantized values, so fp noise can
    * never mint a phantom update and both engines agree bit-for-bit.
    */
  def changeFeed(spark: SparkSession, tableDir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion, s"empty range: $fromVersion..$toVersion")
    (fromVersion until toVersion).map { v =>
      rowDiff(readVersion(spark, tableDir, v),
        readVersion(spark, tableDir, v + 1), v + 1)
    }.reduce(_ unionByName _)
  }

  /** One version-step row diff — shared by [[changeFeed]] (snapshot
    * dirs) and [[changeFeedPartitioned]] (partition-mapped reads).
    * Emits the Delta-CDF change rows tagged with `version`.
    */
  private def rowDiff(oldDf: DataFrame, newDf: DataFrame,
      version: Long): DataFrame = {
    val old = oldDf
      .select(col("event_id"), col("event_type").as("o_type"),
        OracleSafe.quant(col("value"), 100).as("o_cents"))
    val nw = newDf
      .select(col("event_id"), col("event_type").as("n_type"),
        OracleSafe.quant(col("value"), 100).as("n_cents"))
    val j = old.join(nw, Seq("event_id"), "full_outer")
      .select(col("event_id"),
        coalesce(col("n_type"), col("o_type")).as("event_type"),
        col("o_cents"), col("n_cents"))
      .localCheckpoint() // one diff pass feeds all four change branches
    val deletes = j.filter(col("n_cents").isNull)
      .select(col("event_id"), col("event_type"),
        lit("delete").as("change_type"), col("o_cents").as("cents"))
    val inserts = j.filter(col("o_cents").isNull)
      .select(col("event_id"), col("event_type"),
        lit("insert").as("change_type"), col("n_cents").as("cents"))
    val updated = j.filter(col("o_cents").isNotNull &&
      col("n_cents").isNotNull && col("o_cents") =!= col("n_cents"))
    val pre = updated.select(col("event_id"), col("event_type"),
      lit("update_pre").as("change_type"), col("o_cents").as("cents"))
    val post = updated.select(col("event_id"), col("event_type"),
      lit("update_post").as("change_type"), col("n_cents").as("cents"))
    deletes.unionByName(inserts).unionByName(pre).unionByName(post)
      .select(lit(version).as("version"), col("change_type"),
        col("event_id"), col("event_type"), col("cents"))
  }

  /** [[changeFeed]] over the PARTITION-MAPPED table: each step diffs
    * consecutive [[readPartitionedMoR]] reads at the row grain.
    * Requires every version in [fromVersion, toVersion] to still be
    * resolvable — i.e. retention (vacuum) must not outrun the consumer,
    * the exact ordering contract [[compactionChangeFeed]]'s spec pins.
    */
  def changeFeedPartitioned(spark: SparkSession, tableDir: String,
      partCol: String, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion, s"empty range: $fromVersion..$toVersion")
    (fromVersion until toVersion).map { v =>
      rowDiff(readPartitionedMoR(spark, tableDir, partCol, v),
        readPartitionedMoR(spark, tableDir, partCol, v + 1), v + 1)
    }.reduce(_ unionByName _)
  }

  /** q249 — the change feed end to end: publish v1 (the raw events), v2
    * (errors deleted, purchase values doubled — one commit carrying both
    * deletes and updates), v3 (every click cloned under a shifted key —
    * inserts), then summarize [[changeFeed]](1, 3) per (version,
    * change_type, event_type). The oracle derives the identical feed
    * logically from the raw events, including the subtlety that a
    * purchase whose doubled value lands on the SAME cent is NOT an
    * update — both engines compare on the quantized grid.
    */
  def changeFeedSummary(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    publish(slim, tableDir, 1L)
    val v2 = slim.filter(col("event_type") =!= "error")
      .withColumn("value",
        when(col("event_type") === "purchase", col("value") * 2)
          .otherwise(col("value")))
    publish(v2, tableDir, 2L)
    val clones = v2.filter(col("event_type") === "click")
      .withColumn("event_id", col("event_id") + 1000000000L)
    publish(v2.unionByName(clones), tableDir, 3L)
    changeFeed(spark, tableDir, 1L, 3L)
      .groupBy("version", "change_type", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .orderBy("version", "change_type", "event_type")
  }

  /** DuckDB twin of [[changeFeedSummary]] — the same three snapshots
    * diffed logically. Embed after `WITH ` and select from
    * `change_feed`.
    */
  def changeFeedSummarySql(): String = {
    val cents = OracleSafe.quantSql("value", 100)
    val cents2 = OracleSafe.quantSql("value * 2", 100)
    s"""change_feed AS (
       |  SELECT CAST(2 AS BIGINT) AS version, 'delete' AS change_type,
       |         event_type, COUNT(*) AS n,
       |         CAST(SUM($cents) AS BIGINT) AS total_cents
       |  FROM events WHERE event_type = 'error' GROUP BY 3
       |  UNION ALL
       |  SELECT 2, 'update_pre', event_type, COUNT(*),
       |         CAST(SUM($cents) AS BIGINT)
       |  FROM events
       |  WHERE event_type = 'purchase' AND $cents2 <> $cents GROUP BY 3
       |  UNION ALL
       |  SELECT 2, 'update_post', event_type, COUNT(*),
       |         CAST(SUM($cents2) AS BIGINT)
       |  FROM events
       |  WHERE event_type = 'purchase' AND $cents2 <> $cents GROUP BY 3
       |  UNION ALL
       |  SELECT 3, 'insert', event_type, COUNT(*),
       |         CAST(SUM($cents) AS BIGINT)
       |  FROM events WHERE event_type = 'click' GROUP BY 3)""".stripMargin
  }

  /** DuckDB twin of [[concurrentCommitters]]: the three table states
    * computed from the raw events, versions and the conflict flag
    * pinned. Embed after `WITH ` and select from `concurrent_commits`.
    */
  def concurrentCommittersSql(): String =
    s"""cc_states AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS base_cents,
       |         CAST(SUM(${OracleSafe.quantSql(
                  "CASE WHEN event_type = 'purchase' THEN value * 2 " +
                    "ELSE value END", 100)}) AS BIGINT) AS a_cents
       |  FROM events GROUP BY 1),
       |concurrent_commits AS (
       |  SELECT 'a_base' AS stage, CAST(1 AS BIGINT) AS version,
       |         0 AS conflict, event_type, n, base_cents AS total_cents
       |  FROM cc_states
       |  UNION ALL
       |  SELECT 'b_writer_a', 2, 0, event_type, n, a_cents FROM cc_states
       |  UNION ALL
       |  SELECT 'c_writer_b_refused', 2, 1, event_type, n, a_cents
       |  FROM cc_states
       |  UNION ALL
       |  SELECT 'd_writer_b_rebased', 3, 0, event_type, n, a_cents
       |  FROM cc_states WHERE event_type <> 'view')""".stripMargin

  /** q287 — COMPACTION RACING A LIVE APPEND through the CAS path: the
    * Iceberg "rewrite + append conflict" story, composing q241's atomic
    * publish with q248's put-if-absent arbitration. A compactor rewrites
    * the base snapshot's rows into fewer files while an appender —
    * pinned to the SAME base — tries to commit new rows; both race for
    * the same commit slot, the filesystem's exclusive-create picks
    * exactly one winner (here: the compactor), the loser's staged files
    * are deleted unpublished, and the loser REBASES against the new
    * CURRENT and commits the next slot. The final table equals the
    * serial replay append∘compact(base) — which, because a compaction
    * is data-identical by contract, is just base ∪ delta whichever
    * writer won (the spec proves the mirrored interleaving too).
    *
    * Output: per-stage per-type counts and cent totals with the resolved
    * version and a conflict flag. The oracle pins versions (1, 2, 2, 3)
    * and the single conflict and computes every stage's totals from the
    * raw events — the compacted stage's totals EQUAL the base's (the
    * rewrite is invisible in the data; the file-count shrink is asserted
    * engine-side with a require and in `ManifestTableSpec`), and the
    * refused stage's equal them too (the loser was never visible).
    */
  def compactionVsAppend(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    publish(slim.repartition(16), tableDir, 1L)
    val baseV = currentVersion(spark, tableDir).get
    // both writers pin the SAME base snapshot — the race
    val compactCand = readVersion(spark, tableDir, baseV).repartition(1)
    // the append delta: every signup re-arrives with a disjoint id block
    val delta = slim.filter(col("event_type") === "signup")
      .withColumn("event_id", col("event_id") + lit(1000000000000L))
    val appendCand = readVersion(spark, tableDir, baseV).unionByName(delta)
    // interleaving under test: the compactor's exclusive-create lands
    // first (the spec drives the mirrored order through the same API)
    require(tryCommit(compactCand, tableDir, baseV + 1, "compactor"),
      "the compactor races alone for v2 and must win")
    val appendStaleWon = tryCommit(appendCand, tableDir, baseV + 1, "appender")
    require(!appendStaleWon, "the appender's stale v2 attempt must lose")
    val fs = fileSystem(spark, tableDir)
    def nDataFiles(v: Long): Int = fs
      .listStatus(new Path(s"$tableDir/data/v$v"))
      .count(_.getPath.getName.endsWith(".parquet"))
    require(nDataFiles(2L) < nDataFiles(1L),
      s"compaction must shrink the file count: " +
        s"${nDataFiles(1L)} -> ${nDataFiles(2L)}")
    val refusedV = currentVersion(spark, tableDir).get
    // rebase: re-apply the append on the NEW current (the compacted
    // snapshot — data-identical to the pinned base, so the delta
    // composes unchanged; a rebase after a data-changing commit would
    // re-derive it, the q248 path)
    require(tryCommit(read(spark, tableDir).unionByName(delta), tableDir,
        refusedV + 1, "appender"),
      "the appender's rebased v3 attempt races alone and must win")
    def stage(name: String, v: Long, conflict: Int): DataFrame =
      readVersion(spark, tableDir, v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(conflict).as("conflict"), col("event_type"), col("n"),
          col("total_cents"))
    stage("a_base", 1L, 0)
      .unionByName(stage("b_compacted", 2L, 0))
      .unionByName(stage("c_append_refused", refusedV, 1))
      .unionByName(stage("d_append_rebased", 3L, 0))
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[compactionVsAppend]]: base totals for the first
    * three stages (a compaction changes no data and the refused append
    * was never visible), signup-doubled totals for the rebased append,
    * versions and the one conflict pinned. Embed after `WITH ` and
    * select from `compact_vs_append`.
    */
  def compactionVsAppendSql(): String =
    s"""cva_all AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |cva_app AS (
       |  SELECT event_type,
       |         CAST(n * CASE WHEN event_type = 'signup' THEN 2 ELSE 1 END
       |           AS BIGINT) AS n,
       |         CAST(total_cents * CASE WHEN event_type = 'signup' THEN 2
       |           ELSE 1 END AS BIGINT) AS total_cents
       |  FROM cva_all),
       |compact_vs_append AS (
       |  SELECT 'a_base' AS stage, CAST(1 AS BIGINT) AS version,
       |         0 AS conflict, event_type, n, total_cents
       |  FROM cva_all
       |  UNION ALL
       |  SELECT 'b_compacted', 2, 0, event_type, n, total_cents FROM cva_all
       |  UNION ALL
       |  SELECT 'c_append_refused', 2, 1, event_type, n, total_cents
       |  FROM cva_all
       |  UNION ALL
       |  SELECT 'd_append_rebased', 3, 0, event_type, n, total_cents
       |  FROM cva_app)""".stripMargin

  /** q253 — partition-spec EVOLUTION under the manifest: the capability
    * that separates a table format from a directory convention. A live
    * table's layout changes (here: 30-day blocks → 7-day blocks, the
    * coarse-to-fine re-grain) WITHOUT rewriting history — the snapshot's
    * manifest lists each file group WITH the spec it was written under,
    * old files stay in the old layout, new files land in the new one,
    * and a reader prunes EACH group by its own spec before applying the
    * row-level filter. (Iceberg §4 "partition evolution" is exactly this
    * mechanism: specs are metadata per file group, not a property of the
    * whole table.)
    *
    * The query: a day-range aggregate over the evolved table whose range
    * straddles the old/new boundary, so BOTH layouts prune and both
    * contribute rows. The oracle filters the raw events directly — the
    * result must be layout-INVARIANT, which is the whole contract; the
    * physical half (each group opening only its in-range partition dirs)
    * is asserted in `ManifestTableSpec`. Partition grains are integer
    * day-blocks (`day DIV g`), so both engines' arithmetic is exact with
    * no calendar or timezone in the compare path.
    */
  def evolvedPartitionRead(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val dayC = OracleSafe.intDiv(expr("ts_ns DIV 1000000"), lit(86400000L))
    val base = events.select(col("event_id"), col("event_type"), col("value"),
      dayC.as("day"))
    val mm = base.agg(min("day").as("lo"), max("day").as("hi")).head()
    val (lo0, hi0) = (mm.getAs[Long]("lo"), mm.getAs[Long]("hi"))
    // group A: history, written under the 30-day spec; group B: the rows
    // after the evolution point, written under the 7-day spec
    val split = lo0 + (hi0 - lo0) / 2
    writeGroup(base.filter(col("day") < split), s"$tableDir/groups/d30", 30)
    writeGroup(base.filter(col("day") >= split), s"$tableDir/groups/d7", 7)
    import spark.implicits._
    val manifest = Seq(("groups/d30", 30), ("groups/d7", 7))
      .toDF("group_dir", "grain_days")
    publish(manifest, tableDir, 1L)
    // the straddling query range: the middle half of the day span
    val (lo, hi) = (lo0 + (hi0 - lo0) / 4, lo0 + 3 * (hi0 - lo0) / 4)
    readEvolved(spark, tableDir, lo, hi)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
      .orderBy("event_type")
  }

  /** One file group of an evolved table: `day DIV grainDays` is the
    * partition value its spec prunes on.
    */
  def writeGroup(df: DataFrame, dir: String, grainDays: Int): Unit =
    df.withColumn("p", OracleSafe.intDiv(col("day"), lit(grainDays.toLong)))
      .repartition(col("p"))
      .write.mode(SaveMode.Overwrite).partitionBy("p").parquet(dir)

  /** Read `[loDay, hiDay]` through the evolved table: resolve the
    * manifest, prune EACH group by ITS OWN spec (`p` between the range's
    * block ids under that group's grain — only those partition dirs
    * open), then apply the exact row filter. The manifest is the bounded
    * driver-side decision frame every file-skipping reader holds.
    */
  def readEvolved(spark: SparkSession, tableDir: String,
      loDay: Long, hiDay: Long): DataFrame = {
    val groups = read(spark, tableDir).collect()
      .map(r => (r.getAs[String]("group_dir"), r.getAs[Int]("grain_days")))
    groups.map { case (dir, grain) =>
      spark.read.parquet(s"$tableDir/$dir")
        .filter(col("p").between(loDay / grain, hiDay / grain))
        .filter(col("day").between(loDay, hiDay))
        .select("event_id", "event_type", "value", "day")
    }.reduce(_ unionByName _)
  }

  /** q254 — MERGE-ON-READ row-level deletes: the other half of the
    * copy-on-write / merge-on-read split every table format exposes
    * (Delta's deletion vectors, Iceberg's delete files). Every delete so
    * far in this suite rewrote the snapshot (copy-on-write: q244's v2);
    * here the data files are NEVER rewritten — the commit lands only a
    * key-list SIDECAR, the manifest references {data files, delete
    * vector} per version, and the read path masks deleted rows with one
    * anti-join. A later PURGE compaction applies the vector physically
    * (the maintenance job MoR deployments schedule), after which reads
    * drop the anti-join entirely — with identical results, which is the
    * purge's correctness contract. `ManifestTableSpec` asserts the
    * physical halves: the base data files are byte-identical across the
    * MoR delete, and the purged snapshot carries no sidecar.
    *
    * Scale: the delete commit costs O(deleted keys), not O(table) — the
    * entire point at 100 TB, where copy-on-write of a wide snapshot for
    * a 0.1% delete is the anti-pattern; the read-side anti-join streams
    * the data once against a broadcast-size vector until the purge
    * amortizes it away.
    */
  def mergeOnReadDelete(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    slim.write.mode(SaveMode.Overwrite).parquet(s"$tableDir/files/base")
    publish(Seq(("files/base", "data")).toDF("ref", "kind"), tableDir, 1L)
    // the MoR delete: a key-list sidecar, data untouched
    slim.filter(col("event_type") === "error").select("event_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/files/dv2")
    publish(Seq(("files/base", "data"), ("files/dv2", "delete_keys"))
      .toDF("ref", "kind"), tableDir, 2L)
    def stage(name: String, v: Long): DataFrame =
      readMoRVersion(spark, tableDir, v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          col("event_type"), col("n"), col("total_cents"))
    val s1 = stage("a_v1_full", 1L)
    val s2 = stage("b_v2_mor_delete", 2L)
    // the purge: apply the vector physically, drop the sidecar
    readMoRVersion(spark, tableDir, 2L)
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/files/purged")
    publish(Seq(("files/purged", "data")).toDF("ref", "kind"), tableDir, 3L)
    val s3 = stage("c_v3_purged", 3L)
    s1.unionByName(s2).unionByName(s3).orderBy("stage", "event_type")
  }

  /** Resolve a merge-on-read snapshot: union its data refs, patch with
    * its update sidecars (one broadcast left join, new value wins), then
    * mask with its delete vectors (one anti-join) — or stream the data
    * straight through when the snapshot carries no sidecar. Sidecars are
    * delta-sized by construction (they hold only changed/deleted keys),
    * which is what licenses the broadcasts.
    */
  def readMoRVersion(spark: SparkSession, tableDir: String,
      version: Long): DataFrame = {
    val refs = readVersion(spark, tableDir, version).collect()
      .map(r => (r.getAs[String]("ref"), r.getAs[String]("kind")))
    val data = refs.collect { case (ref, "data") =>
      spark.read.parquet(s"$tableDir/$ref") }.reduce(_ unionByName _)
    val ups = refs.collect { case (ref, "update_rows") =>
      spark.read.parquet(s"$tableDir/$ref") }
    val patched = if (ups.isEmpty) data
    else data.join(broadcast(ups.reduce(_ unionByName _)
        .withColumnRenamed("value", "__patch_value")),
      Seq("event_id"), "left")
      .withColumn("value", coalesce(col("__patch_value"), col("value")))
      .drop("__patch_value")
    val dvs = refs.collect { case (ref, "delete_keys") =>
      spark.read.parquet(s"$tableDir/$ref") }
    if (dvs.isEmpty) patched
    else patched.join(broadcast(dvs.reduce(_ unionByName _)),
      Seq("event_id"), "left_anti")
  }

  /** q266 — MERGE-ON-READ row-level UPDATES, completing the q254 story
    * (deletes were one sidecar kind; real tables also take value
    * corrections without rewriting data files). A patch sidecar holds
    * (key, new value) for the changed rows only; the read path applies
    * it as a broadcast left join with coalesce. The run then STACKS a
    * delete sidecar on top — v3 resolves base ⊕ updates ⊖ deletes in one
    * plan — and finally compacts everything into a clean v4 whose totals
    * must be identical to v3 (the purge contract, again carried by the
    * oracle's hash). Data files are never touched until the compaction;
    * the spec pins that physically.
    */
  def mergeOnReadUpdate(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    slim.write.mode(SaveMode.Overwrite).parquet(s"$tableDir/files/base")
    publish(Seq(("files/base", "data")).toDF("ref", "kind"), tableDir, 1L)
    // the MoR update: a (key, new value) sidecar — purchases re-priced
    slim.filter(col("event_type") === "purchase")
      .select(col("event_id"), (col("value") * 2).as("value"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/files/up2")
    publish(Seq(("files/base", "data"), ("files/up2", "update_rows"))
      .toDF("ref", "kind"), tableDir, 2L)
    // a delete sidecar STACKS on top of the update
    slim.filter(col("event_type") === "error").select("event_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/files/dv3")
    publish(Seq(("files/base", "data"), ("files/up2", "update_rows"),
      ("files/dv3", "delete_keys")).toDF("ref", "kind"), tableDir, 3L)
    def stage(name: String, v: Long): DataFrame =
      readMoRVersion(spark, tableDir, v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          col("event_type"), col("n"), col("total_cents"))
    val s1 = stage("a_v1_full", 1L)
    val s2 = stage("b_v2_mor_update", 2L)
    val s3 = stage("c_v3_upd_del", 3L)
    // compaction: apply every sidecar physically, publish clean data
    readMoRVersion(spark, tableDir, 3L)
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/files/purged")
    publish(Seq(("files/purged", "data")).toDF("ref", "kind"), tableDir, 4L)
    val s4 = stage("d_v4_purged", 4L)
    s1.unionByName(s2).unionByName(s3).unionByName(s4)
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[mergeOnReadUpdate]]: full totals at v1, re-priced
    * purchases at v2, re-priced minus errors at v3 and v4 (identical by
    * the purge contract). Embed after `WITH ` and select from
    * `mor_update`.
    */
  def mergeOnReadUpdateSql(): String =
    s"""moru_base AS (
       |  SELECT event_type,
       |         ${OracleSafe.quantSql("value", 100)} AS cents,
       |         ${OracleSafe.quantSql("value * 2", 100)} AS cents2
       |  FROM events),
       |moru_all AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS total_cents
       |  FROM moru_base GROUP BY 1),
       |moru_upd AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents2
       |                       ELSE cents END) AS BIGINT) AS total_cents
       |  FROM moru_base GROUP BY 1),
       |mor_update AS (
       |  SELECT 'a_v1_full' AS stage, CAST(1 AS BIGINT) AS version,
       |         event_type, n, total_cents
       |  FROM moru_all
       |  UNION ALL
       |  SELECT 'b_v2_mor_update', 2, event_type, n, total_cents
       |  FROM moru_upd
       |  UNION ALL
       |  SELECT 'c_v3_upd_del', 3, event_type, n, total_cents
       |  FROM moru_upd WHERE event_type <> 'error'
       |  UNION ALL
       |  SELECT 'd_v4_purged', 4, event_type, n, total_cents
       |  FROM moru_upd WHERE event_type <> 'error')""".stripMargin

  /** DuckDB twin of [[mergeOnReadDelete]]: full totals at v1, error-
    * masked totals at v2 (merge-on-read) and v3 (purged) — identical by
    * the purge contract — versions pinned. Embed after `WITH ` and
    * select from `mor_delete`.
    */
  def mergeOnReadDeleteSql(): String =
    s"""mor_all AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |mor_delete AS (
       |  SELECT 'a_v1_full' AS stage, CAST(1 AS BIGINT) AS version,
       |         event_type, n, total_cents
       |  FROM mor_all
       |  UNION ALL
       |  SELECT 'b_v2_mor_delete', 2, event_type, n, total_cents
       |  FROM mor_all WHERE event_type <> 'error'
       |  UNION ALL
       |  SELECT 'c_v3_purged', 3, event_type, n, total_cents
       |  FROM mor_all WHERE event_type <> 'error')""".stripMargin

  /** DuckDB twin of [[evolvedPartitionRead]]: the same straddling range
    * derived with the same integer arithmetic, filtered directly on the
    * raw events — layout invariance IS the oracle. Embed after `WITH `
    * and select from `evolved_read`.
    */
  def evolvedPartitionReadSql(): String = {
    val dayDiv = OracleSafe.intDivSql("epoch_ms(ts)", "86400000")
    s"""pe_base AS (
       |  SELECT event_type, value, $dayDiv AS day FROM events),
       |pe_range AS (
       |  SELECT MIN(day) + (MAX(day) - MIN(day)) // 4 AS lo,
       |         MIN(day) + (3 * (MAX(day) - MIN(day))) // 4 AS hi
       |  FROM pe_base),
       |evolved_read AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM pe_base, pe_range
       |  WHERE day BETWEEN lo AND hi
       |  GROUP BY 1)""".stripMargin
  }

  /** DuckDB twin of [[atomicCompactionPublish]]: the per-type totals from
    * the raw events, cross-joined with the PINNED stage→version frame —
    * the crash window must resolve version 1 and the republish version 2,
    * with identical totals throughout. Embed after `WITH ` and select
    * from `atomic_publish`.
    */
  def atomicCompactionPublishSql(): String =
    s"""ap_totals AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |atomic_publish AS (
       |  SELECT s.stage, CAST(s.version AS BIGINT) AS version,
       |         t.event_type, t.n, t.total_cents
       |  FROM (VALUES ('a_v1_published', 1), ('b_crash_window', 1),
       |               ('c_republished', 2)) s(stage, version)
       |  CROSS JOIN ap_totals t)""".stripMargin

  /** q263 — RIGHT TO BE FORGOTTEN, end to end under the manifest: erase
    * one user from the fact table AND from a derived rollup, prove the
    * erasure is complete and everyone else's data is untouched, then
    * make the forget PHYSICAL by vacuuming the pre-erasure version. The
    * pieces this composes, each already proven alone, are exactly what a
    * GDPR art. 17 pipeline needs together: versioned publish (q244),
    * delta propagation through a derived aggregate (q256 — the rollup is
    * adjusted from the TARGET'S ROWS ONLY, never rebuilt), and physical
    * vacuum (time travel to the user's data must stop working, or
    * nothing was forgotten).
    *
    * The target user is derived from the data (heaviest spender, id
    * tie-break) so the oracle can derive the same one. Stages:
    *  a_v1_fact     — pre-erasure totals (the user still present),
    *  b_v2_fact     — post-erasure fact totals (copy-on-write anti-join),
    *  c_v2_rollup   — the SAME totals served from the incrementally
    *                  adjusted rollup artifact (b == c is the IVM proof),
    *  d_remnant     — measured count of target rows visible at v2: the
    *                  oracle pins ZERO, so any leak hash-mismatches,
    *  e_post_vacuum — v1 physically reclaimed (n_versions drops to 1),
    *                  current totals unchanged.
    */
  def forgetUser(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val factDir = s"$tableDir/fact"; val rollDir = s"$tableDir/rollup"
    val slim = events.select(col("event_id"), col("user_id"),
      col("event_type"), OracleSafe.quant(col("value"), 100).as("cents"))
    publish(slim, factDir, 1L)
    publish(slim.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("total_cents")),
      rollDir, 1L)
    // the erasure request, derived from the LOADED v1 artifact
    val v1 = readVersion(spark, factDir, 1L)
    val target = v1.groupBy("user_id").agg(sum("cents").as("s"))
      .orderBy(col("s").desc, col("user_id")).limit(1)
      .select(col("user_id").as("target_user"))
      .localCheckpoint() // e_post_vacuum still joins it after v1's files go
    // copy-on-write erasure of the fact ...
    publish(v1.join(broadcast(target),
      col("user_id") === col("target_user"), "left_anti"), factDir, 2L)
    // ... and delta propagation into the rollup: adjustments come from
    // the target's rows alone, the base is never re-aggregated
    val deltas = v1.join(broadcast(target),
        col("user_id") === col("target_user"), "left_semi")
      .groupBy("event_type")
      .agg(count(lit(1)).as("dn"), sum("cents").as("dc"))
    publish(readVersion(spark, rollDir, 1L)
      .join(deltas, Seq("event_type"), "left")
      .select(col("event_type"),
        (col("n") - coalesce(col("dn"), lit(0L))).as("n"),
        (col("total_cents") - coalesce(col("dc"), lit(0L))).as("total_cents"))
      .filter(col("n") > 0), rollDir, 2L)
    def stage(df: DataFrame, name: String, v: Long, nv: Long): DataFrame = df
      .crossJoin(broadcast(target))
      .select(lit(name).as("stage"), lit(v).as("version"),
        lit(nv).as("n_versions"), col("target_user"),
        col("event_type"), col("n"), col("total_cents"))
    def totals(df: DataFrame): DataFrame = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
    val a = stage(totals(readVersion(spark, factDir, 1L)), "a_v1_fact", 1L, 2L)
      .localCheckpoint() // v1's files are gone after the vacuum below
    val b = stage(totals(readVersion(spark, factDir, 2L)), "b_v2_fact", 2L, 2L)
    val c = stage(readVersion(spark, rollDir, 2L), "c_v2_rollup", 2L, 2L)
    // the measured remnant: any target row still visible at v2 leaks here
    val d = stage(readVersion(spark, factDir, 2L)
      .join(broadcast(target), col("user_id") === col("target_user"), "left_semi")
      .agg(count(lit(1)).as("n"),
        coalesce(sum("cents"), lit(0L)).as("total_cents"))
      .select(lit("_all").as("event_type"), col("n"), col("total_cents")),
      "d_remnant", 2L, 2L)
    val abcd = a.unionByName(b).unionByName(c).unionByName(d).localCheckpoint()
    val dropped = vacuum(spark, factDir, keep = 1)
    require(dropped == Seq(1L), s"vacuum must reclaim exactly v1: $dropped")
    val e = stage(totals(read(spark, factDir)), "e_post_vacuum", 2L, 1L)
    abcd.unionByName(e).orderBy("stage", "event_type")
  }

  /** q264 — CROSS-TABLE atomic transactions: one commit spanning N
    * tables, because per-table pointers (q241) cannot give readers a
    * CONSISTENT PAIR — a crash between the fact publish and the derived
    * rollup publish leaves fact⋈rollup readers seeing v2 data explained
    * by a v1 aggregate. Here the transaction manifest maps every table
    * to its version in ONE file, swapped with one atomic rename; table
    * data dirs are just storage, unreadable except through the
    * transaction pointer (the multi-table commit model of the
    * open-table-format proposals layered above single-table logs).
    *
    * The run injects the exact failure the protocol exists for: the v2
    * fact data lands on disk, then the writer DIES before the rollup
    * write and the pointer swap. Stage b reads through the pointer and
    * must see the CONSISTENT v1 pair (the orphaned fact/v2 dir is
    * invisible); re-running the transaction completes it idempotently.
    * Every stage's output carries fact-side and rollup-side totals
    * side by side — their equality IS the cross-table consistency
    * measurement, and the oracle pins it at every stage — plus a
    * MEASURED count of data dirs the pointer does not reference: 0
    * before the crash, exactly 1 in the crash window (the orphaned
    * fact/v2), 2 after recovery (the superseded v1 dirs, history
    * awaiting vacuum).
    */
  def multiTableCommit(events: DataFrame, txDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"),
      OracleSafe.quant(col("value"), 100).as("cents"))
    def rollupOf(df: DataFrame): DataFrame = df.groupBy("event_type")
      .agg(count(lit(1)).as("rn"), sum("cents").as("rcents"))
    def writeTable(df: DataFrame, table: String, v: Long): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$txDir/$table/v$v")
    // the manifest: every table pinned to the transaction's version
    def commitTx(v: Long): Unit =
      writePointer(spark, s"$txDir/TX", s"fact:$v\nrollup:$v\n")
    def resolve(): Map[String, Long] = {
      val text = readFully(fc(spark, txDir), new Path(s"$txDir/TX"))
      text.linesIterator.filter(_.nonEmpty).map { l =>
        val Array(t, v) = l.split(":"); t -> v.toLong
      }.toMap
    }
    def runTx(v: Long, df: DataFrame, crashAfterFact: Boolean): Unit = {
      writeTable(df, "fact", v)
      if (crashAfterFact) throw new InjectedCrash
      writeTable(rollupOf(df), "rollup", v)
      commitTx(v)
    }
    runTx(1L, slim, crashAfterFact = false)
    val v2data = slim.filter(col("event_type") =!= "error")
    def stage(name: String): DataFrame = {
      val m = resolve()
      // measured orphan count: data dirs on disk the pointer does NOT
      // reference — stage b must report exactly the half-written fact/v2
      val orphans = Seq("fact", "rollup").map { t =>
        Option(new java.io.File(s"$txDir/$t").listFiles()).toSeq.flatten
          .count(f => f.isDirectory && f.getName != s"v${m(t)}")
      }.sum.toLong
      val fact = spark.read.parquet(s"$txDir/fact/v${m("fact")}")
      val roll = spark.read.parquet(s"$txDir/rollup/v${m("rollup")}")
      rollupOf(fact)
        .withColumnRenamed("rn", "fact_n").withColumnRenamed("rcents", "fact_cents")
        .join(roll, Seq("event_type"), "full_outer")
        .select(lit(name).as("stage"), lit(m("fact")).as("fact_v"),
          lit(m("rollup")).as("rollup_v"), lit(orphans).as("orphaned_dirs"),
          col("event_type"),
          coalesce(col("fact_n"), lit(0L)).as("fact_n"),
          coalesce(col("fact_cents"), lit(0L)).as("fact_cents"),
          (coalesce(col("fact_n"), lit(0L)) === coalesce(col("rn"), lit(0L)) &&
           coalesce(col("fact_cents"), lit(0L)) === coalesce(col("rcents"), lit(0L)))
            .cast("int").as("consistent"))
    }
    val a = stage("a_v1_committed").localCheckpoint()
    val crashed =
      try { runTx(2L, v2data, crashAfterFact = true); false }
      catch { case _: InjectedCrash => true }
    require(crashed, "the injected crash must fire")
    // crash window: fact/v2 sits on disk, the pointer still maps v1·v1
    val b = stage("b_crash_window").localCheckpoint()
    runTx(2L, v2data, crashAfterFact = false) // idempotent recovery
    val c = stage("c_recovered")
    a.unionByName(b).unionByName(c).orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[multiTableCommit]]: v1 totals for the committed
    * and crash-window stages (the half-written transaction must be
    * invisible), v2 totals after recovery, consistency pinned to 1
    * everywhere. Embed after `WITH ` and select from `multi_table`.
    */
  def multiTableCommitSql(): String =
    s"""mt_all AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS cents
       |  FROM events GROUP BY 1),
       |mt_live AS (SELECT * FROM mt_all WHERE event_type <> 'error'),
       |multi_table AS (
       |  SELECT 'a_v1_committed' AS stage, CAST(1 AS BIGINT) AS fact_v,
       |         CAST(1 AS BIGINT) AS rollup_v,
       |         CAST(0 AS BIGINT) AS orphaned_dirs, event_type,
       |         n AS fact_n, cents AS fact_cents, 1 AS consistent
       |  FROM mt_all
       |  UNION ALL
       |  SELECT 'b_crash_window', 1, 1, 1, event_type, n, cents, 1
       |  FROM mt_all
       |  UNION ALL
       |  SELECT 'c_recovered', 2, 2, 2, event_type, n, cents, 1
       |  FROM mt_live)""".stripMargin

  /** DuckDB twin of [[forgetUser]]: same target derivation, pre/post
    * totals from the raw events, remnant pinned to ZERO. Embed after
    * `WITH ` and select from `forget_user`.
    */
  def forgetUserSql(): String =
    s"""fu_slim AS (
       |  SELECT user_id, event_type,
       |         ${OracleSafe.quantSql("value", 100)} AS cents
       |  FROM events),
       |fu_target AS (
       |  SELECT user_id AS target_user FROM fu_slim
       |  GROUP BY user_id ORDER BY SUM(cents) DESC, user_id LIMIT 1),
       |fu_all AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS total_cents
       |  FROM fu_slim GROUP BY 1),
       |fu_kept AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS total_cents
       |  FROM fu_slim, fu_target WHERE user_id <> target_user GROUP BY 1),
       |forget_user AS (
       |  SELECT 'a_v1_fact' AS stage, CAST(1 AS BIGINT) AS version,
       |         CAST(2 AS BIGINT) AS n_versions, target_user,
       |         event_type, n, total_cents
       |  FROM fu_all, fu_target
       |  UNION ALL
       |  SELECT 'b_v2_fact', 2, 2, target_user, event_type, n, total_cents
       |  FROM fu_kept, fu_target
       |  UNION ALL
       |  SELECT 'c_v2_rollup', 2, 2, target_user, event_type, n, total_cents
       |  FROM fu_kept, fu_target
       |  UNION ALL
       |  SELECT 'd_remnant', 2, 2, target_user, '_all',
       |         CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM fu_target
       |  UNION ALL
       |  SELECT 'e_post_vacuum', 2, 1, target_user, event_type, n, total_cents
       |  FROM fu_kept, fu_target)""".stripMargin

  // ---------------------------------------------------------------- q280

  /** Register a reader lease on snapshot `version`: an exclusive-create
    * marker under `leases/` naming the owner. Leases are the missing
    * coordination between time travel and [[vacuum]]: q244's contract
    * ("a reader loses its snapshot if it pinned beyond retention") is
    * exactly what a lease suspends.
    */
  def acquireLease(spark: SparkSession, tableDir: String, version: Long,
      owner: String): Unit = {
    val ctx = fc(spark, tableDir)
    val out = ctx.create(new Path(s"$tableDir/leases/v${version}_$owner"),
      EnumSet.of(CreateFlag.CREATE), CreateOpts.createParent())
    try out.write(s"$owner\n".getBytes("UTF-8")) finally out.close()
  }

  def releaseLease(spark: SparkSession, tableDir: String, version: Long,
      owner: String): Unit =
    fc(spark, tableDir).delete(
      new Path(s"$tableDir/leases/v${version}_$owner"), false)

  /** Versions currently under at least one reader lease. */
  def leasedVersions(spark: SparkSession, tableDir: String): Set[Long] =
    listVersions(spark, tableDir, "leases").toSet

  /** [[vacuum]] that honors reader leases: a leased version survives
    * retention no matter how old. Returns the versions deleted.
    */
  def vacuumLeased(spark: SparkSession, tableDir: String,
      keep: Int = 2): Seq[Long] = {
    require(keep >= 1, s"must keep at least the live snapshot: $keep")
    val live = currentVersion(spark, tableDir)
    val all = versions(spark, tableDir)
    val retained = all.takeRight(keep).toSet ++ live ++
      leasedVersions(spark, tableDir)
    val fs = fileSystem(spark, tableDir)
    val dropped = all.filterNot(retained)
    dropped.foreach(v => fs.delete(new Path(s"$tableDir/data/v$v"), true))
    dropped
  }

  /** q280 — LEASE-PROTECTED VACUUM, the serving-side coordination the
    * q244 contract leaves open: three snapshots are published (full,
    * minus errors, minus errors+clicks), a reader takes a lease on v1,
    * and a keep-1 vacuum runs — it may reclaim only the unleased,
    * non-live v2. The leased v1 is then READ — physically, after the
    * vacuum, from files the vacuum provably left on disk (no checkpoint
    * shields it; a lease bug fails the read, not an assert). The lease
    * is released, the same vacuum runs again, and now v1 is reclaimed;
    * the live snapshot serves throughout. This is Iceberg/Delta snapshot
    * expiry with reader refs, made measurable: vacuumed-version lists
    * are require-pinned, per-stage totals + the surviving version count
    * are hash-checked against the raw-data oracle.
    */
  def leasedVacuum(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    publish(slim, tableDir, 1L)
    publish(slim.filter(col("event_type") =!= "error"), tableDir, 2L)
    publish(slim.filter(col("event_type") =!= "error"
      && col("event_type") =!= "click"), tableDir, 3L)
    acquireLease(spark, tableDir, 1L, "reader_a")
    val d1 = vacuumLeased(spark, tableDir, keep = 1)
    require(d1 == Seq(2L), s"first vacuum must reclaim exactly v2: $d1")
    def totalsOf(df: DataFrame, stage: String, v: Long): DataFrame = df
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
      .select(lit(stage).as("stage"), lit(v).as("version"),
        lit(versions(spark, tableDir).size.toLong).as("n_versions"),
        col("event_type"), col("n"), col("total_cents"))
    // the leased read happens AFTER the vacuum, from surviving files
    val a = totalsOf(readVersion(spark, tableDir, 1L), "a_leased_v1", 1L)
      .localCheckpoint() // materialize before the lease is dropped below
    val b = totalsOf(read(spark, tableDir), "b_current_v3", 3L)
      .localCheckpoint()
    releaseLease(spark, tableDir, 1L, "reader_a")
    val d2 = vacuumLeased(spark, tableDir, keep = 1)
    require(d2 == Seq(1L), s"post-release vacuum must reclaim v1: $d2")
    val c = totalsOf(read(spark, tableDir), "c_post_release", 3L)
    a.unionByName(b).unionByName(c).orderBy("stage", "event_type")
  }

  // ---------------------------------------------------------------- q283

  /** Serve the per-type-totals query through a VERSION-KEYED result
    * cache: the cache entry's key is (query, snapshot version), so a
    * publish invalidates by construction — no TTLs, no explicit purge
    * messages, the pointer IS the invalidation. Returns the result
    * frame and whether it was a hit. On a miss the result is computed
    * from the pinned snapshot and written to `cache/<v>` before serving
    * (so the first reader warms the cache for everyone).
    */
  def cachedTypeTotals(spark: SparkSession, tableDir: String,
      cacheDir: String): (DataFrame, Boolean, Long) = {
    val v = live(spark, tableDir)
    val entry = s"$cacheDir/v$v"
    val fs = fileSystem(spark, cacheDir)
    val hit = fs.exists(new Path(s"$entry/_SUCCESS"))
    if (!hit) {
      readVersion(spark, tableDir, v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .write.mode(SaveMode.Overwrite).parquet(entry)
    }
    (spark.read.parquet(entry), hit, v)
  }

  /** q283 — RESULT CACHE with manifest invalidation, end to end: v1 is
    * published and the totals query runs cold (computed from the
    * snapshot, cached under its version), then warm (served from the
    * cache — `ResultCacheSpec` proves the hit never opens the data dir
    * by DELETING the snapshot files first), then v2 is published — the
    * version key makes the old entry unreachable, the query misses and
    * recomputes from v2 — then warm again. Four stages, each carrying
    * the hit verdict and resolved version, hash-checked against the
    * raw-data oracle with the hit pattern pinned (miss, hit, miss, hit).
    *
    * Scale: this is the serving-tier discipline that makes dashboards
    * O(result) instead of O(fact) — correctness rides entirely on the
    * version key, which the atomic pointer (q241) already provides.
    */
  def resultCache(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val cacheDir = s"$tableDir/result_cache"
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    publish(slim, tableDir, 1L)
    def stage(name: String): DataFrame = {
      val (res, hit, v) = cachedTypeTotals(spark, tableDir, cacheDir)
      res.select(lit(name).as("stage"), lit(v).as("version"),
          lit(if (hit) "cache" else "table").as("served_from"),
          col("event_type"), col("n"), col("total_cents"))
        .localCheckpoint() // pin the stage's answer before the next publish
    }
    val a = stage("a_cold_v1")
    val b = stage("b_warm_v1")
    publish(slim.filter(col("event_type") =!= "error"), tableDir, 2L)
    val c = stage("c_cold_v2")
    val d = stage("d_warm_v2")
    a.unionByName(b).unionByName(c).unionByName(d)
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[resultCache]]: stage totals from the raw events,
    * versions and the miss/hit/miss/hit pattern pinned. Embed after
    * `WITH ` and select from `result_cache`.
    */
  def resultCacheSql(): String =
    s"""rc_all AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |rc_v2 AS (
       |  SELECT event_type, n, total_cents FROM rc_all
       |  WHERE event_type <> 'error'),
       |result_cache AS (
       |  SELECT 'a_cold_v1' AS stage, CAST(1 AS BIGINT) AS version,
       |         'table' AS served_from, event_type, n, total_cents
       |  FROM rc_all
       |  UNION ALL
       |  SELECT 'b_warm_v1', 1, 'cache', event_type, n, total_cents
       |  FROM rc_all
       |  UNION ALL
       |  SELECT 'c_cold_v2', 2, 'table', event_type, n, total_cents
       |  FROM rc_v2
       |  UNION ALL
       |  SELECT 'd_warm_v2', 2, 'cache', event_type, n, total_cents
       |  FROM rc_v2)""".stripMargin

  /** DuckDB twin of [[leasedVacuum]]: per-stage totals from the raw
    * events with versions and retention counts pinned. Embed after
    * `WITH ` and select from `leased_vacuum`.
    */
  def leasedVacuumSql(): String =
    s"""lv_all AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |lv_v3 AS (
       |  SELECT event_type, n, total_cents FROM lv_all
       |  WHERE event_type NOT IN ('error', 'click')),
       |leased_vacuum AS (
       |  SELECT 'a_leased_v1' AS stage, CAST(1 AS BIGINT) AS version,
       |         CAST(2 AS BIGINT) AS n_versions, event_type, n, total_cents
       |  FROM lv_all
       |  UNION ALL
       |  SELECT 'b_current_v3', 3, 2, event_type, n, total_cents FROM lv_v3
       |  UNION ALL
       |  SELECT 'c_post_release', 3, 1, event_type, n, total_cents
       |  FROM lv_v3)""".stripMargin

  /** Orphan snapshot dirs: version dirs on disk that no pointer, ref,
    * or claimed commit slot names — the debris a writer leaves when it
    * dies between data-write and pointer-swap (q241's crash window) or
    * between staging and its CAS. Deleting them is the GC every
    * deployment schedules beside vacuum: vacuum reclaims COMMITTED
    * history, orphan GC reclaims what was NEVER committed.
    *
    * This is the q298 frontier/ref classification alone: it cannot tell
    * a LIVE writer inside the q241 window from crash debris, so never
    * delete from this set directly — [[safeOrphanVersions]] layers its
    * intent + grace clauses on it.
    */
  private[operators] def orphanVersions(spark: SparkSession,
      tableDir: String): Seq[Long] = {
    // an unborn table (no pointer yet) has no committed frontier to
    // judge against — GC nothing rather than eat an in-flight bootstrap
    val live = currentVersion(spark, tableDir) match {
      case Some(v) => v
      case None => return Seq.empty
    }
    val fs = fileSystem(spark, tableDir)
    // versions <= live are committed history — the pointer advanced past
    // them, so they are vacuum's domain, never GC's. A crashed publish's
    // debris is always ABOVE the pointer (the swap never happened).
    val committed = listVersions(spark, tableDir, "commits").toSet
    // refs protect by CONTENT (the version a branch/tag file names),
    // since a dev branch may sit above the main pointer (q290)
    val referenced: Set[Long] = {
      val dir = new Path(s"$tableDir/refs")
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filterNot(_.endsWith(".tmp"))
        .flatMap(n => refVersion(spark, tableDir, n)).toSet
    }
    versions(spark, tableDir)
      .filter(v => v > live && !committed(v) && !referenced(v))
  }

  /** q298 — ORPHAN GC end to end, the maintenance op beside vacuum:
    * publish v1, then a v2 publish DIES in the q241 crash window (data
    * landed, pointer never swapped, no commit slot claimed) — the table
    * still serves v1, but the dead writer's snapshot dir sits on disk
    * as unaccounted storage. [[gcOrphansSafe]] reclaims exactly that dir
    * (the pointer's target and CAS-committed versions are never
    * candidates), after which the retried v2 publish commits cleanly —
    * GC is the OTHER recovery from the crash q241 recovers by re-run,
    * and composing them proves neither path can eat a committed
    * snapshot. Output: per-stage totals with the resolved version, the
    * on-disk version-dir count, and the orphan count the GC saw.
    *
    * Scale: GC is one listing + set arithmetic over version ids
    * (metadata-scale); the reclaim deletes dirs, never reads data.
    */
  def orphanGc(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    publish(slim, tableDir, 1L)
    def stage(name: String, orphansSeen: Long): DataFrame = {
      val v = currentVersion(spark, tableDir).get
      read(spark, tableDir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(versions(spark, tableDir).size.toLong).as("n_version_dirs"),
          lit(orphansSeen).as("n_orphans"), col("event_type"), col("n"),
          col("total_cents"))
    }
    val s1 = stage("a_v1_published", 0L)
    val v2 = slim.filter(col("event_type") =!= "error")
    val crashed =
      try { publish(v2, tableDir, 2L, crashBeforeSwap = true); false }
      catch { case _: InjectedCrash => true }
    require(crashed, "the injected crash must fire inside the window")
    val orphans = orphanVersions(spark, tableDir)
    require(orphans == Seq(2L), s"exactly the dead v2 is orphaned: $orphans")
    val s2 = stage("b_crash_debris", orphans.size.toLong)
    val reclaimed = gcOrphansSafe(spark, tableDir, graceMs = 0L)
    require(reclaimed == Seq(2L), s"GC must reclaim exactly v2: $reclaimed")
    val s3 = stage("c_post_gc", 0L)
    publish(v2, tableDir, 2L) // the retried publish commits cleanly
    val s4 = stage("d_republished", 0L)
    s1.unionByName(s2).unionByName(s3).unionByName(s4)
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[orphanGc]]: base totals while v1 serves (the dead
    * snapshot never visible), error-free totals once the retried v2
    * commits; versions, dir counts, and orphan counts pinned. Embed
    * after `WITH ` and select from `orphan_gc`.
    */
  def orphanGcSql(): String =
    s"""og_all AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |og_v2 AS (
       |  SELECT event_type, n, total_cents FROM og_all
       |  WHERE event_type <> 'error'),
       |orphan_gc AS (
       |  SELECT 'a_v1_published' AS stage, CAST(1 AS BIGINT) AS version,
       |         CAST(1 AS BIGINT) AS n_version_dirs,
       |         CAST(0 AS BIGINT) AS n_orphans, event_type, n, total_cents
       |  FROM og_all
       |  UNION ALL
       |  SELECT 'b_crash_debris', 1, 2, 1, event_type, n, total_cents
       |  FROM og_all
       |  UNION ALL
       |  SELECT 'c_post_gc', 1, 1, 0, event_type, n, total_cents
       |  FROM og_all
       |  UNION ALL
       |  SELECT 'd_republished', 2, 2, 0, event_type, n, total_cents
       |  FROM og_v2)""".stripMargin

  /** Create an IMMUTABLE tag naming `version`. Tags go through the same
    * put-if-absent CAS as commit slots, so a tag can never be moved —
    * re-creating it returns false and leaves the original untouched
    * (Iceberg's tag semantics). Returns whether the tag was created.
    */
  def createTag(spark: SparkSession, tableDir: String, name: String,
      version: Long): Boolean =
    putIfAbsent(spark, new Path(s"$tableDir/refs/tag_$name"), s"$version\n")

  /** Point branch `name` at `version` with the same tmp-write + atomic
    * rename the CURRENT pointer uses — a branch is just a second named
    * pointer into the shared version history.
    */
  def setBranch(spark: SparkSession, tableDir: String, name: String,
      version: Long): Unit =
    writePointer(spark, s"$tableDir/refs/branch_$name", s"$version\n")

  /** Resolve a ref file (`tag_<name>` or `branch_<name>`) to its
    * version, or None if the ref does not exist.
    */
  def refVersion(spark: SparkSession, tableDir: String,
      refFile: String): Option[Long] =
    readPointer(spark, s"$tableDir/refs/$refFile").map(_.trim.toLong)

  /** Fast-forward branch `name` to `toVersion`: allowed only when the
    * move is FORWARD along the (linear) version history — a backward or
    * no-op move is refused and the ref left untouched, the same
    * ancestor-only rule git and Iceberg enforce for ff merges. Returns
    * whether the branch moved.
    */
  def fastForwardBranch(spark: SparkSession, tableDir: String,
      name: String, toVersion: Long): Boolean = {
    val cur = refVersion(spark, tableDir, s"branch_$name").getOrElse(
      sys.error(s"no branch '$name' under $tableDir"))
    if (toVersion > cur) { setBranch(spark, tableDir, name, toVersion); true }
    else false
  }

  /** q290 — NAMED REFS over the manifest table: branches and tags, the
    * multi-pointer surface (Iceberg refs / Delta's planned branch
    * semantics) that turns one linear snapshot history into isolated
    * lines of development. `main` and `dev` are both just named
    * pointers; a TAG is a pointer created through the commit-slot CAS
    * so it can never be moved. The scenario: v1 publishes, tag
    * `release_1` pins it, branch `dev` forks at it, a dev commit lands
    * v2 (purchases re-priced) and advances ONLY the dev pointer — main
    * still serves v1 (write isolation between branches is free because
    * snapshots are immutable and refs are independent pointers) — then
    * main FAST-FORWARDS to dev's head (a pure pointer move, no data
    * copied: the linear-ancestor check is what makes the merge trivial)
    * while the tag still resolves v1 through it all.
    *
    * Output: per-stage per-type totals with the serving ref and the
    * version it resolved. The oracle pins (ref, version) per stage and
    * computes the base/re-priced totals from the raw events. The
    * immutability and ff-refusal halves live in `ManifestTableSpec`.
    *
    * Scale: refs are O(1) metadata files; every read is one pointer
    * resolve + a snapshot-dir scan, and a branch fork costs zero data
    * movement at any table size.
    */
  def branchTagReads(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    publish(slim, tableDir, 1L) // main = the CURRENT pointer -> v1
    setBranch(spark, tableDir, "main", 1L)
    require(createTag(spark, tableDir, "release_1", 1L),
      "the tag must not pre-exist")
    setBranch(spark, tableDir, "dev", 1L) // fork: a pointer copy, no data
    // the dev commit: land v2, advance ONLY the dev pointer
    slim.withColumn("value",
        when(col("event_type") === "purchase", col("value") * 2)
          .otherwise(col("value")))
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/data/v2")
    setBranch(spark, tableDir, "dev", 2L)
    def refTotals(stage: String, ref: String, refFile: String): DataFrame = {
      val v = refVersion(spark, tableDir, refFile).get
      readVersion(spark, tableDir, v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(stage).as("stage"), lit(ref).as("ref"),
          lit(v).as("version"), col("event_type"), col("n"),
          col("total_cents"))
    }
    val a = refTotals("a_main_v1", "main", "branch_main")
    val b = refTotals("b_tag_release_1", "release_1", "tag_release_1")
    val c = refTotals("c_dev_v2", "dev", "branch_dev")
    // main is UNTOUCHED by the dev commit — the isolation claim, pinned
    require(refVersion(spark, tableDir, "branch_main").contains(1L),
      "the dev commit must not move main")
    val devHead = refVersion(spark, tableDir, "branch_dev").get
    require(fastForwardBranch(spark, tableDir, "main", devHead),
      "main is a strict ancestor of dev's head — the ff must apply")
    val d = refTotals("d_main_after_ff", "main", "branch_main")
    val e = refTotals("e_tag_after_ff", "release_1", "tag_release_1")
    a.unionByName(b).unionByName(c).unionByName(d).unionByName(e)
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[branchTagReads]]: base totals wherever a ref
    * resolves v1, re-priced totals where it resolves v2, (ref, version)
    * pinned per stage. Embed after `WITH ` and select from
    * `branch_tags`.
    */
  def branchTagReadsSql(): String =
    s"""bt_states AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS base_cents,
       |         CAST(SUM(${OracleSafe.quantSql(
                  "CASE WHEN event_type = 'purchase' THEN value * 2 " +
                    "ELSE value END", 100)}) AS BIGINT) AS dev_cents
       |  FROM events GROUP BY 1),
       |branch_tags AS (
       |  SELECT 'a_main_v1' AS stage, 'main' AS ref,
       |         CAST(1 AS BIGINT) AS version, event_type, n,
       |         base_cents AS total_cents
       |  FROM bt_states
       |  UNION ALL
       |  SELECT 'b_tag_release_1', 'release_1', 1, event_type, n,
       |         base_cents
       |  FROM bt_states
       |  UNION ALL
       |  SELECT 'c_dev_v2', 'dev', 2, event_type, n, dev_cents
       |  FROM bt_states
       |  UNION ALL
       |  SELECT 'd_main_after_ff', 'main', 2, event_type, n, dev_cents
       |  FROM bt_states
       |  UNION ALL
       |  SELECT 'e_tag_after_ff', 'release_1', 1, event_type, n,
       |         base_cents
       |  FROM bt_states)""".stripMargin

  // ---------------------------------------------------------------- q302

  /** Grace window the q302 flow uses for "assume alive": any real
    * publish finishes well inside an hour, and the flow's own stages
    * run in seconds — so an intent younger than this is a LIVE writer
    * by construction, never a flaky-clock accident.
    */
  private val IntentGraceMs = 3600L * 1000

  /** Claim a WRITER INTENT on snapshot `version` BEFORE staging any
    * data: an exclusive-create marker under `intents/` naming the
    * writer. The intent is what lets orphan GC tell a LIVE mid-publish
    * writer from crash debris — without it a staged-but-uncommitted
    * snapshot looks exactly like q298's crash case, and a racing
    * orphan GC would delete the data out from under the publish
    * (then the pointer swap would land CURRENT on a deleted snapshot).
    * Exactly one writer per version can hold the intent (the same
    * put-if-absent CAS as commit slots); [[releaseIntent]] retires it
    * after the pointer swap. A crashed writer leaves its intent behind,
    * and the file's AGE against the GC's grace window is what finally
    * declares it dead — Iceberg's `remove_orphan_files(older_than)`
    * contract, composed with the q280 lease idea on the writer side.
    */
  def claimIntent(spark: SparkSession, tableDir: String, version: Long,
      writer: String): Boolean =
    putIfAbsent(spark, new Path(s"$tableDir/intents/v$version"),
      s"$writer\n")

  def releaseIntent(spark: SparkSession, tableDir: String,
      version: Long): Unit =
    fc(spark, tableDir).delete(
      new Path(s"$tableDir/intents/v$version"), false)

  /** Versions whose intent file is younger than `graceMs` — writers the
    * GC must assume alive. An intent at or beyond the grace age is
    * EXPIRED: its writer is declared crashed and its staged snapshot
    * becomes reclaimable (`graceMs = 0` expires everything — the spec's
    * deterministic "crashed long ago"; a deployment uses hours).
    */
  def liveIntentVersions(spark: SparkSession, tableDir: String,
      graceMs: Long): Set[Long] = {
    val fs = fileSystem(spark, tableDir)
    val dir = new Path(s"$tableDir/intents")
    if (!fs.exists(dir)) Set.empty
    else {
      val now = System.currentTimeMillis()
      fs.listStatus(dir).toSeq
        .filter(st => now - st.getModificationTime < graceMs)
        .map(_.getPath.getName)
        .filter(_.startsWith("v"))
        .flatMap(n => scala.util.Try(n.stripPrefix("v").toLong).toOption)
        .toSet
    }
  }

  /** [[orphanVersions]] made safe against an IN-FLIGHT publish (the
    * ADVICE-r13 race): a version is a reclaim candidate only if, beyond
    * the q298 rules (above the pointer, no CAS slot, no ref), it ALSO
    * (a) carries no live intent, and (b) its data dir itself is older
    * than the grace window. Clause (b) is the pure age threshold that
    * protects even writers that never claimed an intent — the legacy
    * [[publish]] path stays safe under a grace-window GC too.
    */
  def safeOrphanVersions(spark: SparkSession, tableDir: String,
      graceMs: Long): Seq[Long] = {
    val live = liveIntentVersions(spark, tableDir, graceMs)
    val fs = fileSystem(spark, tableDir)
    val now = System.currentTimeMillis()
    orphanVersions(spark, tableDir).filterNot { v =>
      live(v) || {
        val p = new Path(s"$tableDir/data/v$v")
        fs.exists(p) && now - fs.getFileStatus(p).getModificationTime < graceMs
      }
    }
  }

  /** Delete the EXPIRED orphans — data dirs plus their dead intent
    * files (purging the intent is what lets a retry of the same version
    * re-claim it). Returns the versions reclaimed. Under a held (live)
    * intent or inside the grace window this reclaims NOTHING — the
    * safety contract [[ManifestTableSpec]] drives through both
    * interleavings.
    */
  def gcOrphansSafe(spark: SparkSession, tableDir: String,
      graceMs: Long): Seq[Long] = {
    val orphans = safeOrphanVersions(spark, tableDir, graceMs)
    val fs = fileSystem(spark, tableDir)
    orphans.foreach { v =>
      fs.delete(new Path(s"$tableDir/data/v$v"), true)
      fs.delete(new Path(s"$tableDir/intents/v$v"), false)
    }
    orphans
  }

  /** Publish through the intent protocol: claim → stage data → swap
    * pointer → release. Returns false (nothing written) when another
    * writer holds the version's intent.
    */
  def publishWithIntent(df: DataFrame, tableDir: String, version: Long,
      writer: String): Boolean = {
    val spark = df.sparkSession
    if (!claimIntent(spark, tableDir, version, writer)) false
    else {
      df.write.mode(SaveMode.Overwrite).parquet(s"$tableDir/data/v$version")
      swapPointer(spark, tableDir, version)
      releaseIntent(spark, tableDir, version)
      true
    }
  }

  /** q302 — ORPHAN GC SAFE AGAINST AN IN-FLIGHT PUBLISH, the race q298
    * leaves open (its own scaladoc now says so): five stages drive BOTH
    * interleavings end to end.
    *
    *  - v1 publishes through the intent protocol (claim/stage/swap/
    *    release);
    *  - writer W claims the v2 intent and lands v2's data but has NOT
    *    yet swapped the pointer — the exact instant a naive GC would
    *    eat the snapshot ([[orphanVersions]] classifies it as debris;
    *    require-pinned in the flow) — and the SAFE GC under the grace
    *    window reclaims NOTHING;
    *  - writer W completes its pointer swap: the publish it would have
    *    lost under naive GC commits cleanly, v2 serves;
    *  - writer X claims the v3 intent, lands data, and CRASHES (no
    *    swap, intent left behind); the safe GC with the grace expired
    *    reclaims EXACTLY the dead v3 — data dir and intent file both;
    *  - the retried v3 publish re-claims the purged intent (pinned: the
    *    claim must succeed again) and commits.
    *
    * Output: per-stage per-type totals with the resolved version, the
    * on-disk version-dir count, the live-intent count, and how many
    * versions the preceding GC run reclaimed. The oracle pins all four
    * per stage and computes the three table states from the raw events.
    *
    * Scale: intents are O(1) metadata files per in-flight writer; the
    * GC stays one listing + set arithmetic over version ids, now with
    * one `getFileStatus` per candidate (candidates, not versions — the
    * committed history below the pointer is never even examined).
    */
  def safeOrphanGc(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    def stage(name: String, reclaimed: Long): DataFrame = {
      val v = currentVersion(spark, tableDir).get
      read(spark, tableDir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(versions(spark, tableDir).size.toLong).as("n_version_dirs"),
          lit(liveIntentVersions(spark, tableDir, IntentGraceMs).size.toLong)
            .as("n_live_intents"),
          lit(reclaimed).as("n_reclaimed"), col("event_type"), col("n"),
          col("total_cents"))
    }
    require(publishWithIntent(slim, tableDir, 1L, "writer_v1"),
      "v1 races alone and must claim its intent")
    val s1 = stage("a_v1_published", 0L)
    // writer W, mid-publish: intent claimed, data landed, pointer NOT yet
    // swapped — the crash-window instant, but the writer is ALIVE
    val v2 = slim.filter(col("event_type") =!= "error")
    require(claimIntent(spark, tableDir, 2L, "writer_w"),
      "writer W races alone for the v2 intent")
    v2.write.mode(SaveMode.Overwrite).parquet(s"$tableDir/data/v2")
    // the naive classifier WOULD call the live writer's snapshot debris —
    // the exact race this operator closes
    require(orphanVersions(spark, tableDir) == Seq(2L),
      "naive GC must (wrongly) see the in-flight v2 as debris")
    val gcDuring = gcOrphansSafe(spark, tableDir, IntentGraceMs)
    require(gcDuring.isEmpty,
      s"safe GC under a live intent must reclaim nothing: $gcDuring")
    require(versions(spark, tableDir) == Seq(1L, 2L),
      "the in-flight snapshot's files must survive the GC")
    val s2 = stage("b_gc_during_publish", 0L)
    // writer W completes — the publish a naive GC would have corrupted
    swapPointer(spark, tableDir, 2L)
    releaseIntent(spark, tableDir, 2L)
    val s3 = stage("c_publish_committed", 0L)
    // writer X crashes after staging: intent + data left behind
    val v3 = slim.filter(col("event_type") =!= "error"
      && col("event_type") =!= "click")
    require(claimIntent(spark, tableDir, 3L, "writer_x"),
      "writer X races alone for the v3 intent")
    v3.write.mode(SaveMode.Overwrite).parquet(s"$tableDir/data/v3")
    // grace 0 = the intent has expired (writer X declared dead)
    val reclaimed = gcOrphansSafe(spark, tableDir, graceMs = 0L)
    require(reclaimed == Seq(3L),
      s"expired-intent GC must reclaim exactly v3: $reclaimed")
    require(versions(spark, tableDir) == Seq(1L, 2L),
      "only the dead snapshot's files may go")
    val s4 = stage("d_crashed_reclaimed", 1L)
    // the retry: the purged intent must be claimable again
    require(publishWithIntent(v3, tableDir, 3L, "writer_x_retry"),
      "the retried v3 publish must re-claim the purged intent")
    val s5 = stage("e_republished", 0L)
    s1.unionByName(s2).unionByName(s3).unionByName(s4).unionByName(s5)
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[safeOrphanGc]]: base totals while v1 serves,
    * error-free totals once v2 commits, error-and-click-free totals
    * once the retried v3 commits; versions, dir counts, live-intent
    * counts, and reclaim counts pinned per stage. Embed after `WITH `
    * and select from `safe_orphan_gc`.
    */
  def safeOrphanGcSql(): String =
    s"""sog_all AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |sog_v2 AS (
       |  SELECT event_type, n, total_cents FROM sog_all
       |  WHERE event_type <> 'error'),
       |sog_v3 AS (
       |  SELECT event_type, n, total_cents FROM sog_all
       |  WHERE event_type NOT IN ('error', 'click')),
       |safe_orphan_gc AS (
       |  SELECT 'a_v1_published' AS stage, CAST(1 AS BIGINT) AS version,
       |         CAST(1 AS BIGINT) AS n_version_dirs,
       |         CAST(0 AS BIGINT) AS n_live_intents,
       |         CAST(0 AS BIGINT) AS n_reclaimed, event_type, n, total_cents
       |  FROM sog_all
       |  UNION ALL
       |  SELECT 'b_gc_during_publish', 1, 2, 1, 0, event_type, n,
       |         total_cents
       |  FROM sog_all
       |  UNION ALL
       |  SELECT 'c_publish_committed', 2, 2, 0, 0, event_type, n,
       |         total_cents
       |  FROM sog_v2
       |  UNION ALL
       |  SELECT 'd_crashed_reclaimed', 2, 2, 0, 1, event_type, n,
       |         total_cents
       |  FROM sog_v2
       |  UNION ALL
       |  SELECT 'e_republished', 3, 3, 0, 0, event_type, n, total_cents
       |  FROM sog_v3)""".stripMargin

  // ---------------------------------------------------------------- q304

  private[operators] def readFully(ctx: FileContext, p: Path): String = {
    val in = ctx.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Newest checkpoint sequence number, via the O(1) LAST locator. */
  def lastCheckpointSeq(spark: SparkSession, tableDir: String): Option[Long] =
    readPointer(spark, s"$tableDir/checkpoints/LAST").map(_.trim.toLong)

  /** Write a MANIFEST CHECKPOINT: one metadata file naming the covered
    * head and every version dir on disk at write time — the compaction
    * of the table's metadata log (Delta's `N.checkpoint` +
    * `_last_checkpoint`, Iceberg's metadata snapshot list) that makes
    * resolve O(1) at extreme version counts instead of an O(versions)
    * directory listing per read. Checkpoint ids are a monotone sequence
    * claimed through the same put-if-absent CAS as commit slots, so two
    * concurrent checkpointers can never tear one file (the loser
    * returns None and simply retries later — checkpoints are caches,
    * losing one race loses nothing); the LAST locator then moves with
    * the CURRENT-style tmp-write + atomic rename. Returns (seq, head).
    *
    * Maintenance order contract: run AFTER vacuum/GC, never before —
    * a checkpoint written before a vacuum over-reports until the next
    * refresh (the spec pins exactly this staleness and its repair).
    */
  def writeCheckpoint(spark: SparkSession,
      tableDir: String): Option[(Long, Long)] = {
    val all = versions(spark, tableDir)
    if (all.isEmpty) return None
    val head = all.max
    val seq = lastCheckpointSeq(spark, tableDir).getOrElse(0L) + 1
    val body = (head +: all).mkString("", "\n", "\n")
    if (!putIfAbsent(spark, new Path(s"$tableDir/checkpoints/cp_$seq"),
        body)) None
    else {
      writePointer(spark, s"$tableDir/checkpoints/LAST", s"$seq\n")
      Some((seq, head))
    }
  }

  /** Read the newest checkpoint: (seq, covered head, version list). */
  def readCheckpoint(spark: SparkSession,
      tableDir: String): Option[(Long, Long, Seq[Long])] = {
    val ctx = fc(spark, tableDir)
    lastCheckpointSeq(spark, tableDir).map { seq =>
      val lines = readFully(ctx, new Path(s"$tableDir/checkpoints/cp_$seq"))
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong)
        .toSeq
      (seq, lines.head, lines.tail.sorted)
    }
  }

  /** Resolve the version list THROUGH the checkpoint: the covered
    * prefix comes from one small-file read, and only the tail ABOVE the
    * covered head is discovered against storage — by probing the dense
    * version sequence one `exists` at a time (the portable equivalent
    * of an object store's startAfter listing; version ids are dense by
    * the linear-history invariant every publish flow here maintains).
    * With a fresh checkpoint that is ONE probe total, whatever the
    * version count. Returns (versions, checkpoint head or -1 when no
    * checkpoint exists, tail count discovered by probing).
    */
  def versionsViaCheckpoint(spark: SparkSession,
      tableDir: String): (Seq[Long], Long, Long) = {
    val fs = fileSystem(spark, tableDir)
    val cp = readCheckpoint(spark, tableDir)
    val (cpHead, cpList) = cp match {
      case Some((_, h, vs)) => (h, vs)
      case None => (0L, Seq.empty[Long])
    }
    val tail = Iterator.iterate(cpHead + 1)(_ + 1)
      .takeWhile(v => fs.exists(new Path(s"$tableDir/data/v$v")))
      .toSeq
    ((cpList ++ tail).sorted, cp.fold(-1L)(_._2), tail.size.toLong)
  }

  /** q304 — MANIFEST CHECKPOINT end to end, the O(1)-resolve metadata
    * mechanism: three snapshots publish and a checkpoint covers them;
    * a fourth publish makes the checkpoint LAG the head — resolve must
    * splice the covered prefix with an incrementally-probed tail and
    * match the full listing EXACTLY (require-pinned every stage); a
    * refresh (new CAS-claimed sequence) brings the tail back to zero.
    * Output: per-stage per-type totals through the pointer plus the
    * resolved version, version count, checkpoint seq + covered head,
    * and the probed tail size; the oracle pins all five per stage.
    *
    * Scale: resolve cost goes from one O(versions) listing per read to
    * two small-file reads + (lag+1) existence probes — the exact
    * mechanism that keeps million-commit tables readable; the
    * checkpoint write itself is one listing, amortized across reads.
    */
  def checkpointResolve(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    def stage(name: String): DataFrame = {
      val listed = versions(spark, tableDir)
      val (viaCp, cpHead, nTail) = versionsViaCheckpoint(spark, tableDir)
      require(viaCp == listed,
        s"checkpoint resolve diverged: $viaCp vs listing $listed")
      val cpSeq = lastCheckpointSeq(spark, tableDir).getOrElse(-1L)
      val v = currentVersion(spark, tableDir).get
      read(spark, tableDir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(listed.size.toLong).as("n_versions"),
          lit(cpSeq).as("cp_seq"), lit(cpHead).as("cp_head"),
          lit(nTail).as("n_tail"), col("event_type"), col("n"),
          col("total_cents"))
    }
    publish(slim, tableDir, 1L)
    publish(slim.filter(col("event_type") =!= "error"), tableDir, 2L)
    val v3 = slim.filter(col("event_type") =!= "error"
      && col("event_type") =!= "click")
    publish(v3, tableDir, 3L)
    require(writeCheckpoint(spark, tableDir).contains((1L, 3L)),
      "the first checkpoint claims seq 1 covering head 3")
    val s1 = stage("a_cp_at_head")
    // the head moves past the checkpoint — resolve now splices a tail
    publish(v3.withColumn("value",
        when(col("event_type") === "purchase", col("value") * 2)
          .otherwise(col("value"))), tableDir, 4L)
    val s2 = stage("b_cp_lagging")
    require(writeCheckpoint(spark, tableDir).contains((2L, 4L)),
      "the refresh claims seq 2 covering head 4")
    val s3 = stage("c_cp_refreshed")
    s1.unionByName(s2).unionByName(s3).orderBy("stage", "event_type")
  }

  // ------------------------------------------------ the partitioned tier

  /** One partition of a partitioned-tier snapshot: the dirs under `data/`
    * whose files serve it, oldest first (one dir for a copy-on-write
    * table, base + deltas for merge-on-read); the dirs holding position
    * deletes against those files; and its cumulative `(rows, sum)` stats
    * while every commit touching it has kept them exact.
    */
  final case class Entry(dirs: Seq[String], dels: Seq[String] = Nil,
      stats: Option[(Long, Long)] = None)

  /** One data file of a landed dir: its name inside the partition's
    * Hive-style dir, and its size in bytes.
    */
  final case class DataFile(name: String, bytes: Long)

  /** The record of one landed dir, made once when it lands: the schema
    * of the frame it was written from, and each partition's data files.
    */
  final case class DirRecord(schema: StructType,
      files: Map[String, Seq[DataFile]]) {
    def partitions: Seq[String] = files.keys.toSeq.sorted(keyOrder)
  }

  /** A partitioned-tier snapshot: partition value → [[Entry]], the
    * `(appId, batchId)` tag of the txn commit that wrote it, if any, and
    * the [[DirRecord]] of every dir the entries name (a commit may carry
    * more; [[encode]] keeps only the named ones).
    */
  final case class Manifest(parts: Map[String, Entry],
      txn: Option[(String, Long)] = None,
      catalog: Map[String, DirRecord] = Map.empty) {

    /** Partition `p`'s data files in `dirs`, each with its dir. */
    def files(p: String, dirs: Seq[String]): Seq[(String, DataFile)] =
      dirs.flatMap(d => catalog(d).files.getOrElse(p, Nil).map(d -> _))

    /** Total bytes of partition `p`'s data files in `dirs`. */
    def bytes(p: String, dirs: Seq[String]): Long =
      files(p, dirs).map(_._2.bytes).sum
  }

  /** Where an injected crash fires inside a partitioned commit: after its
    * data landed but before its manifest is published, or after the
    * manifest (the commit point) but before the pointer moves.
    */
  sealed trait CrashPoint
  case object BeforeManifest extends CrashPoint
  case object BeforePointer extends CrashPoint

  private def manifestPath(tableDir: String, version: Long): Path =
    new Path(s"$tableDir/manifest/v$version")

  private def versionOf(dir: String): Long = dir.stripPrefix("v").toLong

  /** Serving-dir order: `v2` before `v10`. */
  private val dirOrder: Ordering[String] = Ordering.by(d => (d.length, d))

  /** A partition value as its Hive-style dir name, escaped the way Spark
    * writes it. NULL and `""` both land in Spark's default partition dir,
    * which Spark reads back as NULL: that is the NULL partition, keyed
    * `null` in a [[Manifest]].
    */
  def partitionDir(value: String): String =
    if (value == null || value.isEmpty) DEFAULT_PARTITION_NAME
    else escapePathName(value)

  /** The partition key a [[partitionDir]] name stands for. */
  private def partitionKey(dirName: String): String =
    if (dirName == DEFAULT_PARTITION_NAME) null else unescapePathName(dirName)

  /** The partition key a row's raw `partCol` value lands under. */
  private def partitionKeyOf(value: Any): String =
    Option(value).map(_.toString).filter(_.nonEmpty).orNull

  /** Partition keys in order, the NULL partition first. */
  private val keyOrder: Ordering[String] = Ordering.by(Option(_: String))

  /** Rows of the partitions `keys`; `isin` never matches NULL, so the NULL
    * partition adds an `isNull` test.
    */
  private def inPartitions(partCol: String, keys: Seq[String]): Column = {
    val in = col(partCol).isin(keys.filter(_ != null).distinct.sorted: _*)
    if (keys.contains(null)) in || col(partCol).isNull else in
  }

  /** The manifest codec (layout in the object doc). A partition value is
    * stored as its [[partitionDir]] name — the raw bytes for plain
    * values, and never a tab, newline or `#` — and decoded on read, so
    * callers and filters only ever see raw values or the NULL key. Only
    * the records of the dirs the entries name are written, and every
    * named dir must have one.
    */
  private def encode(m: Manifest): String = {
    val named = m.parts.values.flatMap(e => e.dirs ++ e.dels).toSeq.distinct
      .sorted(dirOrder)
    val unrecorded = named.filterNot(m.catalog.contains)
    require(unrecorded.isEmpty, s"no record of ${unrecorded.mkString(", ")}")
    (m.txn.map { case (app, b) => s"#txn\t$app\t$b" } ++
      m.parts.toSeq.sortBy(_._1)(keyOrder).map { case (p, e) =>
        (Seq(partitionDir(p), e.dirs.mkString(",")) ++
          (if (e.dels.isEmpty) None else Some(e.dels.mkString("del:", ",", ""))) ++
          e.stats.map { case (n, s) => s"stats:$n,$s" }).mkString("\t")
      } ++
      named.flatMap { d =>
        val r = m.catalog(d)
        s"#dir\t$d\t${r.schema.json}" +: r.partitions.flatMap(p => r.files(p)
          .map(f => s"#file\t$d\t${partitionDir(p)}\t${f.bytes}\t${f.name}"))
      }).mkString("", "\n", "\n")
  }

  /** The manifest of `version`, decoded from [[encode]]'s layout. */
  def readManifest(spark: SparkSession, tableDir: String,
      version: Long): Manifest = {
    val lines = readFully(fc(spark, tableDir), manifestPath(tableDir, version))
      .split("\n").toSeq.filter(_.nonEmpty)
    def list(s: String): Seq[String] =
      if (s.isEmpty) Nil else s.split(",").toSeq
    def records(tag: String): Seq[Array[String]] =
      lines.filter(_.startsWith(s"#$tag\t")).map(_.split("\t", -1).drop(1))
    val files = records("file").groupMap(_(0)) { f =>
      partitionKey(f(1)) -> DataFile(f(3), f(2).toLong)
    }
    Manifest(
      lines.filterNot(_.startsWith("#")).map { line =>
        val f = line.split("\t", -1)
        val tagged = f.drop(2).map(t => t.span(_ != ':')).toMap
        partitionKey(f(0)) -> Entry(list(f(1)),
          tagged.get("del").fold(Seq.empty[String])(d => list(d.drop(1))),
          tagged.get("stats").map { s =>
            val Array(n, sum) = s.drop(1).split(",")
            (n.toLong, sum.toLong)
          })
      }.toMap,
      records("txn").headOption.map { case Array(app, b) => (app, b.toLong) },
      records("dir").map { case Array(d, json) =>
        d -> DirRecord(DataType.fromJson(json).asInstanceOf[StructType],
          files.getOrElse(d, Nil).groupMap(_._1)(_._2))
      }.toMap)
  }

  /** The commit log of a partitioned table: the versions with a manifest
    * (a metadata-only commit such as a rollback has no data dir).
    */
  def manifestVersions(spark: SparkSession, tableDir: String): Seq[Long] =
    listVersions(spark, tableDir, "manifest")

  /** Serving lists as versions, for tables whose dirs are all `v<N>`. */
  def readDeltaManifest(spark: SparkSession, tableDir: String,
      version: Long): Map[String, Seq[Long]] =
    readManifest(spark, tableDir, version).parts
      .map { case (p, e) => p -> e.dirs.map(versionOf) }

  /** The manifest of `version`, or the empty one before the first. */
  private def manifestAt(spark: SparkSession, tableDir: String,
      version: Long): Manifest =
    if (version == 0L) Manifest(Map.empty)
    else readManifest(spark, tableDir, version)

  /** Partition keys landed under `data/<dir>`: its `partCol=` dir
    * names, decoded — a listing, for checks of what a commit wrote.
    */
  private[operators] def partitionValues(spark: SparkSession,
      tableDir: String, dir: String, partCol: String): Seq[String] = {
    val fs = fileSystem(spark, tableDir)
    val path = new Path(s"$tableDir/data/$dir")
    val prefix = s"${escapePathName(partCol)}="
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .map(n => partitionKey(n.stripPrefix(prefix))).sorted(keyOrder)
  }

  /** Land `df` under `data/<dir>` partitioned by `partCol` — an
    * idempotent overwrite of a dir no published manifest names yet — and
    * return its record.
    */
  private def land(df: DataFrame, tableDir: String, dir: String,
      partCol: String): DirRecord = {
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(s"$tableDir/data/$dir")
    recordDir(df.sparkSession, tableDir, dir, partCol, df.schema)
  }

  /** The record of the just-written `data/<dir>`, from its one recursive
    * listing: every file one `partCol=` dir deep. Names starting with `_`
    * or `.` (job markers, checksums, sidecars) are not data, as for
    * Spark's own file index.
    */
  private def recordDir(spark: SparkSession, tableDir: String, dir: String,
      partCol: String, schema: StructType): DirRecord = {
    val fs = fileSystem(spark, tableDir)
    val root = fs.makeQualified(new Path(s"$tableDir/data/$dir"))
    val prefix = s"${escapePathName(partCol)}="
    val listed = fs.listFiles(root, true)
    val files = Seq.newBuilder[(String, DataFile)]
    while (listed.hasNext) {
      val f = listed.next()
      val (part, name) = (f.getPath.getParent, f.getPath.getName)
      if (part.getParent.toUri.getPath == root.toUri.getPath &&
          part.getName.startsWith(prefix) && !name.startsWith("_") &&
          !name.startsWith("."))
        files += partitionKey(part.getName.stripPrefix(prefix)) ->
          DataFile(name, f.getLen)
    }
    DirRecord(schema, files.result().groupMap(_._1)(_._2)
      .map { case (p, fs) => p -> fs.sortBy(_.name) })
  }

  /** Per-partition `(rows, sum(statCol))` of `df`: one aggregate job,
    * bounded by |partitions| — paid only by commits that keep stats.
    */
  private def statsBy(df: DataFrame, partCol: String,
      statCol: String): Map[String, (Long, Long)] =
    df.groupBy(partCol).agg(count(lit(1)), sum(col(statCol))).collect()
      .toSeq.groupMapReduce(r => partitionKeyOf(r.get(0)))(
        r => (r.getLong(1), r.getLong(2))) { case ((n, s), (m, t)) => (n + m, s + t) }

  /** `prev` after a commit that lands `dir` for the `landed` partitions,
    * as a data dir or, with `deletes`, as a delete dir. Stats stay exact
    * only when the commit supplies its `delta` (added, or subtracted for
    * deletes) and the partition's stats were exact before; a new
    * partition starts from zero.
    */
  private def extend(prev: Map[String, Entry], landed: Seq[String],
      dir: String, deletes: Boolean = false,
      delta: Option[Map[String, (Long, Long)]] = None): Map[String, Entry] =
    prev ++ landed.map { p =>
      val e = prev.getOrElse(p, Entry(Nil, stats = Some((0L, 0L))))
      val sign = if (deletes) -1 else 1
      val stats = for {
        d <- delta
        (n0, s0) <- e.stats
        (n, s) = d.getOrElse(p, (0L, 0L))
      } yield (n0 + sign * n, s0 + sign * s)
      p -> (if (deletes) e.copy(dels = e.dels :+ dir, stats = stats)
        else e.copy(dirs = e.dirs :+ dir, stats = stats))
    }

  /** Put-if-absent `m` as `manifest/v<version>` — the commit point of
    * every partitioned commit. Returns whether this call published.
    */
  private def publishManifest(spark: SparkSession, tableDir: String,
      version: Long, m: Manifest, crash: Option[CrashPoint]): Boolean = {
    if (crash.contains(BeforeManifest)) throw new InjectedCrash
    val won = putIfAbsent(spark, manifestPath(tableDir, version), encode(m))
    if (won && crash.contains(BeforePointer)) throw new InjectedCrash
    won
  }

  private def advancePointer(spark: SparkSession, tableDir: String,
      version: Long): Unit =
    if (currentVersion(spark, tableDir).forall(_ < version))
      swapPointer(spark, tableDir, version)

  /** Commit at a caller-chosen `version` (version = batchId + 1 makes a
    * streaming commit a pure function of its batch). A manifest already
    * at `version` means an earlier run of this commit passed its commit
    * point: the replay only completes a lagging pointer — never moving it
    * backwards — and returns false. Otherwise `stage` lands the data and
    * derives the manifest, which is published before the pointer swap. A
    * crash before the publish leaves debris no reader resolves, which
    * the replay overwrites. Returns true when this call committed.
    */
  private def commitAt(spark: SparkSession, tableDir: String, version: Long,
      crash: Option[CrashPoint])(stage: => Manifest): Boolean =
    if (fileSystem(spark, tableDir).exists(manifestPath(tableDir, version))) {
      advancePointer(spark, tableDir, version)
      false
    } else {
      require(publishManifest(spark, tableDir, version, stage, crash),
        s"manifest v$version under $tableDir already exists")
      swapPointer(spark, tableDir, version)
      true
    }

  /** Commit at the NEXT free version, for writers that do not own the
    * version sequence (txn-tagged appends, compactors): derive the
    * manifest from the head's, put-if-absent the slot above, and on a
    * lost slot derive again from the winner's. The pointer only ever
    * advances. Returns the version won.
    */
  private def commitNext(spark: SparkSession, tableDir: String,
      crash: Option[CrashPoint], maxTries: Int)(derive: Long => Manifest): Long = {
    var tries = 0
    while (tries < maxTries) {
      val head = manifestVersions(spark, tableDir).lastOption.getOrElse(0L)
      if (publishManifest(spark, tableDir, head + 1, derive(head), crash)) {
        advancePointer(spark, tableDir, head + 1)
        return head + 1
      }
      tries += 1
    }
    sys.error(s"no commit slot won in $maxTries tries under contention: $tableDir")
  }

  /** A manifest's files as Spark's file index: each
    * [[PartitionDirectory]] holds exactly the files the manifest records
    * for its partition values, and [[listFiles]] prunes on partition
    * filters the way `PartitioningAwareFileIndex.prunePartitions` does.
    * Nothing is listed.
    */
  private final class ManifestFileIndex(root: Path,
      override val partitionSchema: StructType,
      partitions: Seq[PartitionDirectory]) extends FileIndex {
    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val names = partitionSchema.fieldNames
      val pruning = partitionFilters
        .filter(_.references.forall(a => names.contains(a.name)))
      if (pruning.isEmpty) partitions
      else {
        val keep = Predicate.createInterpreted(pruning.reduce(And).transform {
          case a: AttributeReference =>
            val i = names.indexOf(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        partitions.filter(d => keep.eval(d.values))
      }
    }
    override def inputFiles: Array[String] =
      partitions.flatMap(_.files.map(_.getPath.toString)).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = partitions.flatMap(_.files).map(_.getLen).sum
  }

  /** The files `dirsOf` picks from each partition of `m`, as ONE
    * relation over a [[ManifestFileIndex]] built from `m` alone. The data
    * schema is the dirs' recorded one, read as nullable the way Spark
    * reads files (the dirs must agree on it); the partition column's
    * type comes from the same record; and `tag` adds a second partition
    * column holding each file's dir version (`v<N>` dirs only), which
    * filters prune like the partition value.
    */
  private def scan(spark: SparkSession, tableDir: String, partCol: String,
      m: Manifest, dirsOf: Entry => Seq[String],
      tag: Option[String]): DataFrame = {
    val dirs = m.parts.values.flatMap(dirsOf).toSeq.distinct.sorted(dirOrder)
    val schemas = dirs.map(d =>
      StructType(m.catalog(d).schema.fields.map(_.copy(nullable = true))))
    require(schemas.forall(_.fields.toSet == schemas.head.fields.toSet),
      s"dirs ${dirs.mkString(",")} under $tableDir disagree on their schema")
    val (keyField, data) = schemas.head.fields.partition(_.name == partCol)
    require(keyField.nonEmpty, s"no $partCol column in ${schemas.head}")
    val partSchema = StructType(keyField ++ tag.map(StructField(_, LongType)))
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    def value(p: String): Any =
      if (p == null) null else Cast(Literal(p), keyField.head.dataType, tz).eval()
    val root = fileSystem(spark, tableDir)
      .makeQualified(new Path(s"$tableDir/data"))
    val partDir = escapePathName(partCol)
    val partitions = m.parts.toSeq.sortBy(_._1)(keyOrder).flatMap { case (p, e) =>
      val files = m.files(p, dirsOf(e)).map { case (d, f) =>
        d -> FileStatusWithMetadata(new FileStatus(f.bytes, false, 0, 0, 0,
          new Path(s"$root/$d/$partDir=${partitionDir(p)}/${f.name}")), Map.empty)
      }
      if (tag.isEmpty) Seq(PartitionDirectory(InternalRow(value(p)), files.map(_._2)))
      else files.groupMap(_._1)(_._2).toSeq.sortBy(_._1)(dirOrder).map {
        case (d, fs) => PartitionDirectory(InternalRow(value(p), versionOf(d)), fs)
      }
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(root, partSchema, partitions), partSchema,
      StructType(data), None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Resolve snapshot `version` of a partitioned table, whichever
    * commits built it; the manifest is read now, so the lazy frame is
    * pinned to that snapshot. The rows are one [[scan]] of the data
    * files. The partitions with position deletes are taken from it with
    * their `_src_version` tags and anti-joined against their delete
    * triples `(partCol, _src_version, _pos)`, one scan of the delete
    * files, so the join's probe side is ∝ touched partitions and its
    * build side ∝ |deleted rows since the last compaction|. The build is
    * broadcast only while the bytes the manifest records for it fit
    * `broadcastMaxBytes` (the [[ColocatedJoin]] discipline): past the
    * gate Catalyst picks the strategy, with identical rows. `rowIds`
    * keeps `_src_version` on every row — the form a DELETE-WHERE scans
    * to turn its predicate into positions.
    */
  def readPartitionedMoR(spark: SparkSession, tableDir: String,
      partCol: String, version: Long, rowIds: Boolean = false,
      broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    val m = readManifest(spark, tableDir, version)
    require(m.parts.nonEmpty, s"empty manifest v$version under $tableDir")
    val (touched, clean) = m.parts.keys.toSeq.partition(m.parts(_).dels.nonEmpty)
    val rows = scan(spark, tableDir, partCol, m, _.dirs,
      Option.when(rowIds || touched.nonEmpty)("_src_version"))
    if (touched.isEmpty) rows
    else {
      val dels = scan(spark, tableDir, partCol, m, _.dels, None)
        .select(col(partCol), col("_src_version"), col("_pos"))
      val delBytes = touched.map(p => m.bytes(p, m.parts(p).dels)).sum
      val build = if (delBytes <= broadcastMaxBytes) broadcast(dels) else dels
      val probe = rows.filter(inPartitions(partCol, touched))
      // `<=>` on the partition, so deletes in the NULL partition match
      val kept = probe.join(build,
        probe(partCol) <=> build(partCol) &&
          probe("_src_version") === build("_src_version") &&
          probe("_pos") === build("_pos"), "left_anti")
      val all = if (clean.isEmpty) kept
        else rows.filter(inPartitions(partCol, clean)).unionByName(kept)
      if (rowIds) all else all.drop("_src_version")
    }
  }

  /** [[readPartitionedMoR]] of the live snapshot. */
  def readPartitioned(spark: SparkSession, tableDir: String,
      partCol: String): DataFrame =
    readPartitionedMoR(spark, tableDir, partCol, live(spark, tableDir))

  /** The one vacuum of the partitioned tier — reachability-based snapshot
    * expiry (Iceberg's expire-snapshots): the newest `keep` manifests and
    * the live one are retained, and every data or delete dir they list
    * is kept; every other dir an expired manifest listed, and an expired
    * version's own `data/v<N>`, is deleted. Before a compaction the live
    * manifest still lists the whole delta chain, so nothing goes; after
    * one, the chain goes in one sweep. Expired snapshots stop resolving
    * once their files go. Dirs no manifest ever listed — an in-flight or
    * crashed writer's data — are orphan GC's domain, never this one's.
    * Reads one manifest per version. Returns the versions of the
    * reclaimed `v<N>` dirs; txn-named dirs go by the same rule.
    */
  def vacuumPartitionedMoR(spark: SparkSession, tableDir: String,
      keep: Int = 2): Seq[Long] = {
    require(keep >= 1, s"must keep at least the live snapshot: $keep")
    val all = manifestVersions(spark, tableDir)
    val retained = all.takeRight(keep).toSet ++ currentVersion(spark, tableDir)
    def dirsOf(v: Long): Seq[String] = readManifest(spark, tableDir, v)
      .parts.values.flatMap(e => e.dirs ++ e.dels).toSeq
    val kept = retained.flatMap(dirsOf)
    val fs = fileSystem(spark, tableDir)
    all.filterNot(retained).flatMap(v => s"v$v" +: dirsOf(v)).distinct
      .filterNot(kept)
      .filter(d => fs.delete(new Path(s"$tableDir/data/$d"), true)) // existed
      .collect { case d if d.matches("v\\d+") => versionOf(d) }.sorted
  }

  /** Fold `resolved` — snapshot `from`'s rows, however resolved — into
    * ONE dir per partition under `data/<dir>`, holding one file per
    * partition (the rows are hash-partitioned on `partCol` first, so the
    * file count follows the partitions, not the read's split packing):
    * every serving list collapses to it, row ids are re-assigned (they
    * need only be unique within a dir), and stats carry over, since
    * compaction changes layout, never rows (the q88/q287/q309 invariant).
    */
  private def fold(resolved: DataFrame, tableDir: String, from: Long,
      dir: String, partCol: String): Manifest = {
    val prev = readManifest(resolved.sparkSession, tableDir, from).parts
    val rows = if (resolved.columns.contains("_pos")) withRowIds(resolved)
      else resolved
    val rec = land(rows.repartition(col(partCol)), tableDir, dir, partCol)
    Manifest(rec.partitions.map(p =>
      p -> Entry(Seq(dir), stats = prev.get(p).flatMap(_.stats))).toMap,
      catalog = Map(dir -> rec))
  }

  /** `prev` after a commit that lands `dir` (recorded as `rec`) as the one
    * dir of every partition it wrote, and drops the other `replaced`
    * partitions.
    */
  private def replace(prev: Manifest, replaced: Seq[String], dir: String,
      rec: DirRecord): Manifest =
    Manifest((prev.parts -- replaced) ++ rec.partitions.map(_ -> Entry(Seq(dir))),
      catalog = prev.catalog + (dir -> rec))

  /** Compact the live snapshot into `version`: after it, reads open one
    * dir per partition and [[vacuumPartitionedMoR]] can reclaim the
    * sprawl. Totals are unchanged by contract. With `keyCol` the table is
    * keyed: the fold is the [[readPartitionedMoRKeyed]] resolution, so
    * upserts are applied and tombstones dropped physically (they have
    * served their purpose once no older snapshot needs them).
    */
  def compactPartitionedMoR(spark: SparkSession, tableDir: String,
      version: Long, partCol: String, keyCol: Option[String] = None): Unit = {
    val from = live(spark, tableDir)
    commitAt(spark, tableDir, version, None)(fold(
      keyCol.fold(readPartitionedMoR(spark, tableDir, partCol, from))(
        readPartitionedMoRKeyed(spark, tableDir, partCol, _, from)),
      tableDir, from, s"v$version", partCol))
  }

  /** `df` with a persisted `_pos` row id. A position delete names a row
    * as `(_src_version, _pos)`, so `_pos` need only be unique WITHIN a
    * dir: `monotonically_increasing_id` — task-local counters, no window,
    * no single-task bottleneck — is the 100-TB-safe assignment (Iceberg's
    * per-file ordinal is the same idea at file grain). The id is written
    * once and only read back, so its layout dependence is moot.
    */
  def withRowIds(df: DataFrame): DataFrame =
    df.withColumn("_pos", monotonically_increasing_id())

  // ---------------------------------------------------------------- q306

  /** DYNAMIC PARTITION OVERWRITE (Delta's `replaceWhere`, Hive/Spark's
    * dynamic-overwrite mode, Iceberg's `overwritePartitions`): commit a
    * new version that REWRITES only `replaced` partitions — `df` holds
    * the replacement rows (it may be empty: replacing a partition with
    * nothing is partition DELETE), every other partition is served by
    * REFERENCE to the dirs that serve it now, zero bytes copied.
    * The new manifest = previous manifest − replaced + whatever `df`
    * physically landed; the pointer swap is the same atomic commit.
    *
    * Scale: the write cost is O(replaced partitions' data) — a
    * 100 TB table re-prices one day-partition by writing one
    * partition, not by rewriting or copying the other 99.9%.
    */
  def overwritePartitions(df: DataFrame, tableDir: String, version: Long,
      partCol: String, replaced: Seq[String]): Unit = {
    val spark = df.sparkSession
    val prev = manifestAt(spark, tableDir, live(spark, tableDir))
    commitAt(spark, tableDir, version, None) {
      val dir = s"v$version"
      val rec = land(df, tableDir, dir, partCol)
      val landed = rec.partitions
      require(landed.forall(replaced.contains),
        s"rows outside the replaced partitions: ${landed.diff(replaced)}")
      replace(prev, replaced, dir, rec)
    }
  }

  /** COPY-ON-WRITE streaming append of a batch as `version`, IDEMPOTENTLY
    * — the commit primitive q324's stream uses: touched partitions are
    * rewritten as previous content ∪ batch rows (read BY VERSION
    * `version−1`, never through the pointer — after a
    * crash-after-commit the pointer already names this batch's own
    * output and reading it would double-apply), untouched partitions
    * are carried by reference. Replays follow [[commitAt]]. Returns true
    * when this call committed, false on a replay.
    *
    * Scale: per batch the write cost is O(touched partitions' data) —
    * the read-merge-write shape of a foreachBatch MERGE INTO; at
    * 100 TB the batch touches the partitions its rows name, never the
    * table.
    */
  def appendPartitionedIdempotent(df: DataFrame, tableDir: String,
      version: Long, partCol: String,
      crash: Option[CrashPoint] = None): Boolean = {
    val spark = df.sparkSession
    commitAt(spark, tableDir, version, crash) {
      val prev = manifestAt(spark, tableDir, version - 1)
      val touched = df.select(partCol).distinct().collect()
        .map(r => partitionKeyOf(r.get(0))).toSeq.distinct
        .sorted(keyOrder) // bounded by |partitions|
      val merged = if (prev.parts.isEmpty) df
        else readPartitionedMoR(spark, tableDir, partCol, version - 1)
          .filter(inPartitions(partCol, touched))
          .unionByName(df)
      val dir = s"v$version"
      replace(prev, touched, dir, land(merged, tableDir, dir, partCol))
    }
  }

  /** q306 — DYNAMIC PARTITION OVERWRITE end to end: v1 publishes all
    * five event-type partitions; v2 re-prices ONLY the purchase
    * partition (one new partition dir on disk — require-pinned — the
    * other four served from v1's files BY REFERENCE, zero copies); v3
    * replaces the error partition with nothing (partition delete: the
    * new version writes no files for it and the manifest drops the
    * entry); then a keep-1 [[vacuumPartitionedMoR]] runs and must retain
    * v1 and v2 — both referenced by the live manifest — reclaiming
    * NOTHING (the reachability contract), with the final read served
    * from three physical versions at once. Output: per-stage totals
    * through the mapped read with the resolved version, new-partition
    * and referenced-partition counts; the oracle pins all of it.
    */
  def partitionOverwrite(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    def stage(name: String): DataFrame = {
      val v = currentVersion(spark, tableDir).get
      val entries = readManifest(spark, tableDir, v).parts.values
      val nNew = entries.count(_.dirs == Seq(s"v$v")).toLong
      val nRef = entries.size - nNew
      readPartitioned(spark, tableDir, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(nNew).as("n_new_parts"), lit(nRef).as("n_ref_parts"),
          col("event_type"), col("n"), col("total_cents"))
    }
    appendPartitionedDelta(slim, tableDir, 1L, "event_type")
    val s1 = stage("a_full_publish")
    // re-price ONLY the purchase partition; everything else by reference
    overwritePartitions(
      slim.filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2),
      tableDir, 2L, "event_type", Seq("purchase"))
    require(partitionValues(spark, tableDir, "v2", "event_type") ==
      Seq("purchase"), "v2 must land exactly one partition dir")
    val s2 = stage("b_purchase_overwrite")
    // partition DELETE: replace the error partition with nothing
    overwritePartitions(slim.filter(lit(false)), tableDir, 3L,
      "event_type", Seq("error"))
    require(partitionValues(spark, tableDir, "v3", "event_type").isEmpty,
      "the delete version must land no partition dirs")
    val s3 = stage("c_error_deleted")
    // reachability: the live manifest references v1 AND v2 — a keep-1
    // vacuum must reclaim nothing
    val dropped = vacuumPartitionedMoR(spark, tableDir, keep = 1)
    require(dropped.isEmpty,
      s"vacuum must respect manifest references: dropped $dropped")
    val s4 = stage("d_post_vacuum")
    s1.unionByName(s2).unionByName(s3).unionByName(s4)
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[partitionOverwrite]]: base totals, then purchase
    * re-priced, then error gone; versions and partition counts pinned.
    * Embed after `WITH ` and select from `partition_overwrite`.
    */
  def partitionOverwriteSql(): String =
    s"""po_base AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |po_repriced AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql(
                  "CASE WHEN event_type = 'purchase' THEN value * 2 " +
                    "ELSE value END", 100)}) AS BIGINT) AS total_cents
       |  FROM events GROUP BY 1),
       |po_final AS (
       |  SELECT event_type, n, total_cents FROM po_repriced
       |  WHERE event_type <> 'error'),
       |partition_overwrite AS (
       |  SELECT 'a_full_publish' AS stage, CAST(1 AS BIGINT) AS version,
       |         CAST(5 AS BIGINT) AS n_new_parts,
       |         CAST(0 AS BIGINT) AS n_ref_parts, event_type, n,
       |         total_cents
       |  FROM po_base
       |  UNION ALL
       |  SELECT 'b_purchase_overwrite', 2, 1, 4, event_type, n,
       |         total_cents
       |  FROM po_repriced
       |  UNION ALL
       |  SELECT 'c_error_deleted', 3, 0, 4, event_type, n, total_cents
       |  FROM po_final
       |  UNION ALL
       |  SELECT 'd_post_vacuum', 3, 0, 4, event_type, n, total_cents
       |  FROM po_final)""".stripMargin

  /** q309 — COMPACTION of the partition-mapped table, closing q306's
    * lifecycle: repeated partition overwrites spread the live
    * partitions across source versions (here three — base, a purchase
    * re-price, a view re-price), which is correct but makes every read
    * splice N version dirs and pins all of them against vacuum. The
    * REWRITE commit materializes the mapped read into ONE full
    * snapshot (manifest: everything → the new version) — invisible in
    * the data, require-pinned by unchanged totals (the q88/q287
    * compaction contract) — after which the reachability vacuum can
    * finally reclaim the entire sprawl in one sweep. Iceberg's
    * `rewrite_data_files` + `expire_snapshots` pairing over this
    * tier's partition manifests. Output: per-stage totals with the
    * resolved version, on-disk dir count, and the number of DISTINCT
    * source versions the live manifest splices.
    *
    * Scale: the rewrite costs one full scan+write (scheduled, amortized
    * maintenance); reads before it stay correct, reads after it open
    * one version dir; the vacuum is metadata-only plus dir deletes.
    */
  def compactPartitioned(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    def stage(name: String): DataFrame = {
      val v = currentVersion(spark, tableDir).get
      val nSrc = readManifest(spark, tableDir, v).parts.values
        .flatMap(_.dirs).toSet.size.toLong
      readPartitioned(spark, tableDir, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(versions(spark, tableDir).size.toLong).as("n_version_dirs"),
          lit(nSrc).as("n_src_versions"), col("event_type"), col("n"),
          col("total_cents"))
    }
    appendPartitionedDelta(slim, tableDir, 1L, "event_type")
    overwritePartitions(
      slim.filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2),
      tableDir, 2L, "event_type", Seq("purchase"))
    overwritePartitions(
      slim.filter(col("event_type") === "view")
        .withColumn("value", col("value") * 3),
      tableDir, 3L, "event_type", Seq("view"))
    // materialize now: this stage reads the sprawl's dirs, which the
    // vacuum below physically reclaims (the q244/q280 discipline)
    val s1 = stage("a_sprawled").localCheckpoint()
    // the rewrite: materialize the mapped read as ONE full snapshot
    compactPartitionedMoR(spark, tableDir, 4L, "event_type")
    require(readDeltaManifest(spark, tableDir, 4L).values.toSet ==
      Set(Seq(4L)), "the rewrite must self-contain every partition")
    val s2 = stage("b_compacted") // same data, one source version
    // the sprawl is now unreferenced: ONE vacuum reclaims all of it
    val dropped = vacuumPartitionedMoR(spark, tableDir, keep = 1)
    require(dropped == Seq(1L, 2L, 3L),
      s"vacuum must reclaim the whole sprawl: $dropped")
    val s3 = stage("c_post_vacuum")
    s1.unionByName(s2).unionByName(s3).orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[compactPartitioned]]: one re-priced totals CTE
    * serves all three stages — equality across the rewrite and the
    * vacuum IS the invisibility proof; versions, dir counts, and
    * source-version counts pinned. Embed after `WITH ` and select from
    * `compact_partitioned`.
    */
  def compactPartitionedSql(): String =
    s"""cpz_cur AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql(
                  "CASE WHEN event_type = 'purchase' THEN value * 2 " +
                    "WHEN event_type = 'view' THEN value * 3 " +
                    "ELSE value END", 100)}) AS BIGINT) AS total_cents
       |  FROM events GROUP BY 1),
       |compact_partitioned AS (
       |  SELECT 'a_sprawled' AS stage, CAST(3 AS BIGINT) AS version,
       |         CAST(3 AS BIGINT) AS n_version_dirs,
       |         CAST(3 AS BIGINT) AS n_src_versions, event_type, n,
       |         total_cents
       |  FROM cpz_cur
       |  UNION ALL
       |  SELECT 'b_compacted', 4, 4, 1, event_type, n, total_cents
       |  FROM cpz_cur
       |  UNION ALL
       |  SELECT 'c_post_vacuum', 4, 1, 1, event_type, n, total_cents
       |  FROM cpz_cur)""".stripMargin

  /** q319 — the CHANGE FEED CROSSING A COMPACTION COMMIT: the one
    * table-format interleaving q309 (compaction) and q289 (change-feed
    * tail) left untested, and the exact production seam Iceberg's
    * `rewrite_data_files` + CDC consumers share. Runs the q309
    * lifecycle (v1 full publish, v2/v3 partition re-prices, v4 rewrite)
    * and derives the row-grain [[changeFeedPartitioned]] across ALL
    * commits including the rewrite: v2 and v3 present exactly their
    * re-priced rows as updates, and the COMPACTION version presents
    * ZERO change rows — compaction rewrites files, never rows, so a
    * version-keyed CDC consumer crossing the commit sees nothing. The
    * all-zero v4 row is pinned by the oracle; a compaction that leaked
    * phantom inserts/deletes (e.g. by dropping or duplicating a row in
    * the rewrite) would break the hash.
    *
    * Scale: each feed step is one full-outer key join between
    * consecutive mapped reads (O(|v| + |v+1|), the q249 cost); the
    * rollup is three bounded rows. The retention contract — vacuum
    * must not reclaim a version a consumer still needs to diff — is
    * driven in `ManifestTableSpec`'s tail-across-compaction race.
    */
  def compactionChangeFeed(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    appendPartitionedDelta(slim, tableDir, 1L, "event_type")
    overwritePartitions(
      slim.filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2),
      tableDir, 2L, "event_type", Seq("purchase"))
    overwritePartitions(
      slim.filter(col("event_type") === "view")
        .withColumn("value", col("value") * 3),
      tableDir, 3L, "event_type", Seq("view"))
    compactPartitionedMoR(spark, tableDir, 4L, "event_type")
    require(readDeltaManifest(spark, tableDir, 4L).values.toSet ==
      Set(Seq(4L)), "the rewrite must self-contain every partition")
    val agg = changeFeedPartitioned(spark, tableDir, "event_type", 1L, 4L)
      .groupBy("version").agg(
        sum(when(col("change_type") === "update_post", 1L).otherwise(0L))
          .as("u"),
        sum(when(col("change_type") === "update_pre", col("cents"))
          .otherwise(0L)).as("pre"),
        sum(when(col("change_type") === "update_post", col("cents"))
          .otherwise(0L)).as("post"),
        sum(when(col("change_type") === "insert", 1L).otherwise(0L)).as("i"),
        sum(when(col("change_type") === "delete", 1L).otherwise(0L)).as("d"))
    import spark.implicits._
    val spine = Seq(2L, 3L, 4L).toDF("version")
    spine.join(agg, Seq("version"), "left")
      .select(col("version"), (col("version") === 4L).as("is_compaction"),
        coalesce(col("u"), lit(0L)).as("n_update"),
        coalesce(col("pre"), lit(0L)).as("pre_cents"),
        coalesce(col("post"), lit(0L)).as("post_cents"),
        coalesce(col("i"), lit(0L)).as("n_insert"),
        coalesce(col("d"), lit(0L)).as("n_delete"))
      .orderBy("version")
  }

  /** DuckDB twin of [[compactionChangeFeed]] — v2/v3 updates derived
    * from the raw events on the same cent-quantized grid (a re-price
    * landing on the SAME cent is not an update, on both engines), v4
    * pinned all-zero. Embed after `WITH ` and select from
    * `compaction_change_feed`.
    */
  def compactionChangeFeedSql(): String = {
    val c1 = OracleSafe.quantSql("value", 100)
    def step(mult: Int, etype: String): String = {
      val c2 = OracleSafe.quantSql(s"value * $mult", 100)
      s"""SELECT COUNT(*) AS n,
         |       CAST(COALESCE(SUM($c1), 0) AS BIGINT) AS pre,
         |       CAST(COALESCE(SUM($c2), 0) AS BIGINT) AS post
         |FROM events
         |WHERE event_type = '$etype' AND $c2 <> $c1""".stripMargin
    }
    s"""ccf_p AS (${step(2, "purchase")}),
       |ccf_v AS (${step(3, "view")}),
       |compaction_change_feed AS (
       |  SELECT CAST(2 AS BIGINT) AS version, FALSE AS is_compaction,
       |         n AS n_update, pre AS pre_cents, post AS post_cents,
       |         CAST(0 AS BIGINT) AS n_insert, CAST(0 AS BIGINT) AS n_delete
       |  FROM ccf_p
       |  UNION ALL
       |  SELECT 3, FALSE, n, pre, post, 0, 0 FROM ccf_v
       |  UNION ALL
       |  SELECT 4, TRUE, 0, 0, 0, 0, 0)""".stripMargin
  }

  // ---------------------------------------------------------------- q312

  /** ROLL BACK the partition-mapped table to `toVersion` as a NEW
    * commit (Iceberg's `rollback_to_snapshot`): the new version's
    * manifest is a copy of `toVersion`'s and
    * the pointer swap is the same atomic commit — ZERO data files
    * written, moved, or deleted, and the bad snapshot stays fully
    * time-travelable for audit. Rolling the pointer backwards instead
    * would forge history (the bad version would look never-served) and
    * break the append-only commit log that q289's change-feed tail and
    * q304's checkpoints rely on; roll-FORWARD is what every table
    * format ships. Returns the new version.
    */
  def rollbackPartitioned(spark: SparkSession, tableDir: String,
      toVersion: Long): Long = {
    val mvs = manifestVersions(spark, tableDir)
    require(mvs.contains(toVersion),
      s"cannot roll back to v$toVersion: no manifest (have $mvs)")
    val newV = mvs.max + 1
    commitAt(spark, tableDir, newV, None)(
      readManifest(spark, tableDir, toVersion).copy(txn = None))
    newV
  }

  /** q312 — SNAPSHOT ROLLBACK end to end: v1 publishes all partitions;
    * v2 fat-fingers a 100× re-price of the purchase partition (the
    * bad-deploy scenario rollback exists for); the rollback commits v3
    * whose manifest is v1's copy — the serve path is back to the
    * pre-corruption totals while the table's version-dir count is
    * UNCHANGED (require-pinned: the metadata-only proof) — and the bad
    * v2 remains pinned-readable for the incident audit. Output:
    * per-stage totals with the resolved version, on-disk dir count,
    * and spliced source-version count; the oracle pins all of it.
    *
    * Scale: rollback cost is one small-manifest copy + one pointer
    * rename, independent of table size — reverting a bad commit on a
    * 100 TB table is O(metadata), never a restore job.
    */
  def snapshotRollback(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    def stageOf(df: DataFrame, name: String, v: Long): DataFrame = {
      val nSrc = readManifest(spark, tableDir, v).parts.values
        .flatMap(_.dirs).toSet.size.toLong
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(versions(spark, tableDir).size.toLong).as("n_version_dirs"),
          lit(nSrc).as("n_src_versions"), col("event_type"), col("n"),
          col("total_cents"))
    }
    def stage(name: String): DataFrame = {
      val v = currentVersion(spark, tableDir).get
      stageOf(readPartitioned(spark, tableDir, "event_type"), name, v)
    }
    appendPartitionedDelta(slim, tableDir, 1L, "event_type")
    val s1 = stage("a_published")
    // the bad deploy: purchase re-priced 100× — corruption in the data
    overwritePartitions(
      slim.filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 100),
      tableDir, 2L, "event_type", Seq("purchase"))
    val s2 = stage("b_corrupted")
    val v3 = rollbackPartitioned(spark, tableDir, 1L)
    require(v3 == 3L, s"rollback must commit as v3: $v3")
    require(versions(spark, tableDir) == Seq(1L, 2L),
      "rollback must write NO data dir — metadata only")
    require(readManifest(spark, tableDir, 3L) ==
      readManifest(spark, tableDir, 1L),
      "the rollback manifest must be an exact copy of the target's")
    val s3 = stage("c_rolled_back")
    // the bad snapshot stays pinned-readable for the audit
    val s4 = stageOf(
      readPartitionedMoR(spark, tableDir, "event_type", 2L),
      "d_audit_bad_v2", 2L)
    s1.unionByName(s2).unionByName(s3).unionByName(s4)
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[snapshotRollback]]: base totals serve the
    * published and rolled-back stages, corrupted totals the bad head
    * and its audit read; versions, dir counts, and source-version
    * counts pinned. Embed after `WITH ` and select from
    * `snapshot_rollback`.
    */
  def snapshotRollbackSql(): String =
    s"""srb_base AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |srb_bad AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql(
                  "CASE WHEN event_type = 'purchase' THEN value * 100 " +
                    "ELSE value END", 100)}) AS BIGINT) AS total_cents
       |  FROM events GROUP BY 1),
       |snapshot_rollback AS (
       |  SELECT 'a_published' AS stage, CAST(1 AS BIGINT) AS version,
       |         CAST(1 AS BIGINT) AS n_version_dirs,
       |         CAST(1 AS BIGINT) AS n_src_versions, event_type, n,
       |         total_cents
       |  FROM srb_base
       |  UNION ALL
       |  SELECT 'b_corrupted', 2, 2, 2, event_type, n, total_cents
       |  FROM srb_bad
       |  UNION ALL
       |  SELECT 'c_rolled_back', 3, 2, 1, event_type, n, total_cents
       |  FROM srb_base
       |  UNION ALL
       |  SELECT 'd_audit_bad_v2', 2, 2, 2, event_type, n, total_cents
       |  FROM srb_bad)""".stripMargin

  // ---------------------------------------------------------------- q308

  /** Drop a branch ref — the discard half of the WAP flow (a rejected
    * candidate's branch is dropped, orphaning its snapshot for GC).
    */
  def dropBranch(spark: SparkSession, tableDir: String,
      name: String): Unit =
    fc(spark, tableDir).delete(
      new Path(s"$tableDir/refs/branch_$name"), false)

  /** The q308 audit: a candidate snapshot passes iff it has no NULL
    * event types, no negative values, and a row count within 2× either
    * way of the serving snapshot. Returns (pass, n_bad_rows).
    */
  def auditSnapshot(spark: SparkSession, tableDir: String,
      candidateVersion: Long): (Boolean, Long) = {
    val cand = readVersion(spark, tableDir, candidateVersion)
    val agg = cand.agg(count(lit(1)).as("n"),
      sum(when(col("event_type").isNull || col("value") < 0, 1L)
        .otherwise(0L)).as("bad")).head()
    val (n, bad) = (agg.getLong(0), agg.getLong(1))
    val cur = read(spark, tableDir).count()
    (bad == 0L && n * 2 >= cur && n <= cur * 2, bad)
  }

  /** q308 — WRITE-AUDIT-PUBLISH, the Iceberg WAP pattern composed from
    * the suite's own parts (q290 branches + an expectation audit + the
    * q302 GC): a candidate is STAGED on an `audit` branch — fully
    * materialized, never serving — audited there, and only a PASSING
    * audit promotes main (a pure fast-forward pointer move, the data
    * already landed). A failing candidate leaves main untouched, its
    * branch is dropped, and the q302-safe orphan GC sweeps the
    * rejected snapshot once its grace expires. Four stages: publish,
    * a passing candidate promoted, a corrupt candidate (negated
    * values) rejected with main provably unmoved, and the rejected
    * snapshot reclaimed. Output: per-stage totals through main with
    * the audit verdict, bad-row count, and on-disk version-dir count;
    * the oracle computes the bad-row count from the raw events and
    * pins the rest.
    *
    * Scale: the audit costs one aggregate over the candidate; the
    * promotion costs two pointer writes regardless of data size — the
    * quality gate adds ZERO data movement to the publish path.
    */
  def writeAuditPublish(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    def stage(name: String, verdict: String, nBad: Long): DataFrame = {
      val v = refVersion(spark, tableDir, "branch_main").get
      require(currentVersion(spark, tableDir).contains(v),
        "CURRENT and branch_main must track together")
      read(spark, tableDir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(verdict).as("verdict"), lit(nBad).as("n_bad"),
          lit(versions(spark, tableDir).size.toLong).as("n_version_dirs"),
          col("event_type"), col("n"), col("total_cents"))
    }
    publish(slim, tableDir, 1L)
    setBranch(spark, tableDir, "main", 1L)
    val s1 = stage("a_published", "none", 0L)
    // candidate A: purchases re-priced — staged on the audit branch
    slim.withColumn("value",
        when(col("event_type") === "purchase", col("value") * 2)
          .otherwise(col("value")))
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/data/v2")
    setBranch(spark, tableDir, "audit", 2L)
    val (ok1, bad1) = auditSnapshot(spark, tableDir, 2L)
    require(ok1 && bad1 == 0L, s"the clean candidate must pass: $bad1 bad")
    // publish = promote the pointer; the data moved before the gate
    require(fastForwardBranch(spark, tableDir, "main", 2L))
    swapPointer(spark, tableDir, 2L)
    val s2 = stage("b_audit_pass_promoted", "pass", 0L)
    // candidate B: corrupt (values negated) — the audit must refuse it
    slim.withColumn("value", -col("value"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/data/v3")
    setBranch(spark, tableDir, "audit", 3L)
    val (ok2, bad2) = auditSnapshot(spark, tableDir, 3L)
    require(!ok2 && bad2 > 0L, "the corrupt candidate must fail")
    require(refVersion(spark, tableDir, "branch_main").contains(2L),
      "a failed audit must leave main untouched")
    val s3 = stage("c_audit_fail_rejected", "fail", bad2)
    // discard: drop the branch, let the safe GC sweep the orphan
    dropBranch(spark, tableDir, "audit")
    val swept = gcOrphansSafe(spark, tableDir, graceMs = 0L)
    require(swept == Seq(3L), s"GC must sweep exactly the reject: $swept")
    val s4 = stage("d_reject_swept", "swept", 0L)
    s1.unionByName(s2).unionByName(s3).unionByName(s4)
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[writeAuditPublish]]: base totals, re-priced
    * totals after the promotion (unchanged through rejection and
    * sweep); the bad-row count is the corrupt candidate's negative
    * rows, computed from the raw events. Embed after `WITH ` and
    * select from `wap`.
    */
  def writeAuditPublishSql(): String =
    s"""wap_base AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |wap_repriced AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql(
                  "CASE WHEN event_type = 'purchase' THEN value * 2 " +
                    "ELSE value END", 100)}) AS BIGINT) AS total_cents
       |  FROM events GROUP BY 1),
       |wap_bad AS (
       |  SELECT CAST(COUNT(*) FILTER (WHERE -value < 0) AS BIGINT)
       |           AS n_bad
       |  FROM events),
       |wap AS (
       |  SELECT 'a_published' AS stage, CAST(1 AS BIGINT) AS version,
       |         'none' AS verdict, CAST(0 AS BIGINT) AS n_bad,
       |         CAST(1 AS BIGINT) AS n_version_dirs, event_type, n,
       |         total_cents
       |  FROM wap_base
       |  UNION ALL
       |  SELECT 'b_audit_pass_promoted', 2, 'pass', 0, 2, event_type, n,
       |         total_cents
       |  FROM wap_repriced
       |  UNION ALL
       |  SELECT 'c_audit_fail_rejected', 2, 'fail', b.n_bad, 3,
       |         event_type, n, total_cents
       |  FROM wap_repriced CROSS JOIN wap_bad b
       |  UNION ALL
       |  SELECT 'd_reject_swept', 2, 'swept', 0, 2, event_type, n,
       |         total_cents
       |  FROM wap_repriced)""".stripMargin

  /** DuckDB twin of [[checkpointResolve]]: click-and-error-free totals
    * while v3 serves, purchase-doubled totals once v4 commits; resolved
    * versions, counts, checkpoint seq/head, and probed-tail sizes
    * pinned per stage. Embed after `WITH ` and select from
    * `checkpoint_resolve`.
    */
  def checkpointResolveSql(): String =
    s"""cr_v3 AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events WHERE event_type NOT IN ('error', 'click')
       |  GROUP BY 1),
       |cr_v4 AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql(
                  "CASE WHEN event_type = 'purchase' THEN value * 2 " +
                    "ELSE value END", 100)}) AS BIGINT) AS total_cents
       |  FROM events WHERE event_type NOT IN ('error', 'click')
       |  GROUP BY 1),
       |checkpoint_resolve AS (
       |  SELECT 'a_cp_at_head' AS stage, CAST(3 AS BIGINT) AS version,
       |         CAST(3 AS BIGINT) AS n_versions,
       |         CAST(1 AS BIGINT) AS cp_seq, CAST(3 AS BIGINT) AS cp_head,
       |         CAST(0 AS BIGINT) AS n_tail, event_type, n, total_cents
       |  FROM cr_v3
       |  UNION ALL
       |  SELECT 'b_cp_lagging', 4, 4, 1, 3, 1, event_type, n, total_cents
       |  FROM cr_v4
       |  UNION ALL
       |  SELECT 'c_cp_refreshed', 4, 4, 2, 4, 0, event_type, n,
       |         total_cents
       |  FROM cr_v4)""".stripMargin

  // ---------------------------------------------------------------- q326

  /** MERGE-ON-READ streaming append — [[appendPartitionedIdempotent]]'s
    * 100-TB sibling. The COW form rewrites every touched partition as
    * previous-content ∪ batch per commit, so a stream whose batches keep
    * hitting hot partitions pays write amplification ∝ partition size.
    * This form lands ONLY the batch rows as this version's partition
    * dirs and EXTENDS each touched partition's serving list — per-batch
    * bytes written ∝ |delta|, independent of how much data the
    * partition has accumulated (ManifestTableSpec pins the byte ratio
    * against the COW path on a skewed fixture). Reads splice the listed
    * dirs per partition ([[readPartitionedMoR]]) until a compaction
    * ([[compactPartitionedMoR]]) folds the sprawl back to one dir per
    * partition. Replays follow [[commitAt]]: version = batchId + 1 keeps
    * each commit a pure function of its batch. Returns true when this
    * call committed, false on a replay.
    *
    * With `statCol` (q335), the commit also folds the batch's
    * per-partition `(count, sum(statCol))` — one tiny aggregate of rows
    * the writer already holds — into the cumulative stats of the same
    * manifest, so the stats publish atomically with the data they
    * describe. Without it no stats are computed, and the partitions it
    * touches lose theirs.
    */
  def appendPartitionedDelta(df: DataFrame, tableDir: String,
      version: Long, partCol: String, crash: Option[CrashPoint] = None,
      statCol: Option[String] = None): Boolean =
    append(df, tableDir, version, partCol, crash, statCol, deletes = false)

  private def append(rows: DataFrame, tableDir: String, version: Long,
      partCol: String, crash: Option[CrashPoint], statCol: Option[String],
      deletes: Boolean): Boolean = {
    val spark = rows.sparkSession
    commitAt(spark, tableDir, version, crash) {
      val prev = manifestAt(spark, tableDir, version - 1)
      val delta = statCol.map(statsBy(rows, partCol, _))
      val dir = s"v$version"
      val data = if (!deletes) rows
        else rows.select(col(partCol), col("_src_version"), col("_pos"))
      val rec = land(data, tableDir, dir, partCol)
      Manifest(extend(prev.parts, rec.partitions, dir, deletes, delta),
        catalog = prev.catalog + (dir -> rec))
    }
  }

  // ---------------------------------------------------------------- q327

  /** Outcome of one optimistic partitioned commit: the version that
    * landed and how many CAS slots the writer lost on the way.
    */
  final case class PartitionCommit(version: Long, casLosses: Int)

  /** Stage a writer's replacement files under a WRITER-UNIQUE dir —
    * data lands exactly once however many times the metadata commit
    * retries (Iceberg writes data files first; only the metadata swap
    * is optimistic). Overwrite mode keeps a re-stage idempotent. The
    * frame's schema rides along as the `_schema` sidecar, for the
    * commit's dir record.
    */
  def stagePartitions(df: DataFrame, tableDir: String, partCol: String,
      writer: String): Unit = {
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .parquet(s"$tableDir/stage/$writer")
    writePointer(df.sparkSession, s"$tableDir/stage/$writer/_schema",
      df.schema.json)
  }

  /** Partitions MODIFIED by the commits in `(baseVersion, headVersion]`:
    * entries a manifest serves from its own version's dir (freshly
    * landed files) plus entries the previous manifest had that this one
    * dropped (partition deletes). This is the conflict-validation set
    * Iceberg's `validateNoConflictingData` walks over intervening
    * snapshots.
    */
  def partitionsModifiedSince(spark: SparkSession, tableDir: String,
      baseVersion: Long, headVersion: Long): Set[String] =
    ((baseVersion + 1) to headVersion).iterator.flatMap { v =>
      val cur = manifestAt(spark, tableDir, v).parts
      cur.collect { case (p, e) if e.dirs.contains(s"v$v") => p } ++
        (manifestAt(spark, tableDir, v - 1).parts.keySet -- cur.keySet)
    }.toSet

  /** Commit a writer's staged partition overwrite OPTIMISTICALLY from
    * its pinned `baseVersion` — the Iceberg concurrent-writer story on
    * the partition-mapped table. The loop: read the head; if any commit
    * since the writer's base modified one of its `replaced` partitions,
    * return None — the writer's staged data was derived from a state
    * another writer has since replaced, and publishing it would silently
    * drop that writer's change (write skew); the caller must re-derive
    * from the new head and try again — OVERLAPPING WRITERS SERIALIZE.
    * Otherwise CAS the next slot: the winner renames its staged dir to
    * the version dir (metadata-only move — the files were written once),
    * commits prev-manifest − replaced + landed, and advances the
    * pointer; a loser waits for the winner's pointer and retries the
    * validation at the new head — DISJOINT WRITERS BOTH COMMIT, each
    * paying only a metadata rebase for the slots it lost.
    */
  def commitStagedPartitions(spark: SparkSession, tableDir: String,
      partCol: String, replaced: Seq[String], writer: String,
      baseVersion: Long, maxRetries: Int = 8,
      onLoss: () => Unit = () => ()): Option[PartitionCommit] = {
    val ctx = fc(spark, tableDir)
    var losses = 0
    while (losses <= maxRetries) {
      val head = currentVersion(spark, tableDir).getOrElse(0L)
      val conflicts = partitionsModifiedSince(spark, tableDir,
        baseVersion, head).intersect(replaced.toSet)
      if (conflicts.nonEmpty) return None // serialize: re-derive from head
      val target = head + 1
      if (claimCommit(spark, tableDir, target, writer)) {
        commitAt(spark, tableDir, target, None) {
          val prev = manifestAt(spark, tableDir, head)
          val dir = s"v$target"
          ctx.rename(new Path(s"$tableDir/stage/$writer"),
            new Path(s"$tableDir/data/$dir"), Options.Rename.OVERWRITE)
          val rec = recordDir(spark, tableDir, dir, partCol,
            DataType.fromJson(readFully(ctx, new Path(s"$tableDir/data/$dir/_schema")))
              .asInstanceOf[StructType])
          val landed = rec.partitions
          require(landed.forall(replaced.contains),
            s"rows outside the replaced partitions: ${landed.diff(replaced)}")
          replace(prev, replaced, dir, rec)
        }
        return Some(PartitionCommit(target, losses))
      }
      losses += 1
      onLoss() // fault-injection hook (crashBeforeSwap's sibling): lets
      //          a deterministic driver play the winner's next move here
      // lost the slot: wait for the winner's pointer so the rebase reads
      // a COMPLETE head (manifest + pointer), bounded spin
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (currentVersion(spark, tableDir).getOrElse(0L) < target &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
    }
    sys.error(s"$writer exhausted $maxRetries commit retries under contention")
  }

  /** q327 — CONCURRENT WRITERS on the partition-mapped table, closing
    * the interleaving matrix (q248 proved CAS arbitration for
    * whole-snapshot commits; this proves it where commits carry
    * partition manifests that must MERGE). Writers A (re-price
    * purchase ×2) and B (re-price view ×3) stage from the SAME pinned
    * base and race for v2: A wins the slot, B loses the CAS, validates
    * that no commit since its base touched `view`, and lands v3 as a
    * METADATA-ONLY rebase — its staged files are renamed, never
    * rewritten (require-pinned), and the v3 manifest merges both
    * writers' partitions with the untouched three still served from v1
    * by reference. Then writer C re-prices `purchase` ×5 from the STALE
    * v1 base: validation sees A's intervening purchase commit and
    * REFUSES (None — publishing would silently drop A's re-price);
    * C re-derives from the live head and commits v4 — ×5 on top of ×2,
    * the serial result. Output: per-stage totals with version,
    * cas_losses, and conflict flags; the oracle pins versions (1,2,3,4),
    * B's single CAS loss, C's single conflict, and computes every
    * table state from the raw events.
    *
    * Scale: disjoint concurrent writers never rewrite data on conflict —
    * a lost slot costs one manifest read + one rename, independent of
    * data size; only a true partition overlap pays a re-derive, which
    * is the minimum serializable isolation allows.
    */
  def concurrentPartitionCommits(events: DataFrame,
      tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"), col("value"))
    appendPartitionedDelta(slim, tableDir, 1L, "event_type")
    val base = currentVersion(spark, tableDir).get
    def repriced(src: DataFrame, part: String, k: Int): DataFrame =
      src.filter(col("event_type") === part)
        .withColumn("value", col("value") * k)
    // both writers stage from the SAME pinned snapshot — the race
    val pinned = readPartitionedMoR(spark, tableDir, "event_type", base)
    stagePartitions(repriced(pinned, "purchase", 2), tableDir,
      "event_type", "writer_a")
    stagePartitions(repriced(pinned, "view", 3), tableDir,
      "event_type", "writer_b")
    val a = commitStagedPartitions(spark, tableDir, "event_type",
      Seq("purchase"), "writer_a", base)
    require(a.contains(PartitionCommit(2L, 0)),
      s"writer A races alone for v2 and must win: $a")
    // B's files were staged BEFORE A committed; the disjoint rebase must
    // not touch them — pin the staged bytes across the commit
    val bStagedFile = new java.io.File(
      s"$tableDir/stage/writer_b/event_type=view")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // exercise B's CAS-loss path deterministically: a third committer
    // claims the v3 slot NOW; B races for v3, loses the slot, and the
    // onLoss hook plays the winner's completion (a no-op commit: v2's
    // manifest re-committed as v3) at exactly that point — B then waits
    // out the (already satisfied) pointer, revalidates at the new head,
    // and lands v4. This is the live-winner interleaving; the
    // crashed-winner case is the spec's to drive.
    require(claimCommit(spark, tableDir, 3L, "writer_noop"),
      "pre-claiming the v3 slot must succeed")
    val b = commitStagedPartitions(spark, tableDir, "event_type",
      Seq("view"), "writer_b", base,
      onLoss = () => rollbackPartitioned(spark, tableDir, 2L))
    require(b.contains(PartitionCommit(4L, 1)),
      s"writer B must lose the pre-claimed slot once, then land v4: $b")
    val bLandedFile = new java.io.File(
      s"$tableDir/data/v4/event_type=view")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    require(bLandedFile == bStagedFile,
      "the disjoint rebase must rename B's staged files, never rewrite them")
    // writer C: OVERLAPPING overwrite from the stale base — must refuse
    stagePartitions(repriced(pinned, "purchase", 5), tableDir,
      "event_type", "writer_c")
    val cStale = commitStagedPartitions(spark, tableDir, "event_type",
      Seq("purchase"), "writer_c", base)
    require(cStale.isEmpty,
      s"C's stale overwrite of A's partition must be refused: $cStale")
    // serialize: re-derive from the live head and commit on top
    val head = currentVersion(spark, tableDir).get
    stagePartitions(
      repriced(readPartitionedMoR(spark, tableDir, "event_type", head),
        "purchase", 5), tableDir, "event_type", "writer_c")
    val c = commitStagedPartitions(spark, tableDir, "event_type",
      Seq("purchase"), "writer_c", head)
    require(c.contains(PartitionCommit(5L, 0)),
      s"C's rebased commit races alone and must land v5: $c")
    def stage(name: String, v: Long, losses: Int, conflict: Int): DataFrame =
      readPartitionedMoR(spark, tableDir, "event_type", v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(losses).as("cas_losses"), lit(conflict).as("conflict"),
          col("event_type"), col("n"), col("total_cents"))
    stage("a_base", 1L, 0, 0)
      .unionByName(stage("b_writer_a", 2L, 0, 0))
      .unionByName(stage("c_writer_b_rebased", 4L, 1, 0))
      .unionByName(stage("d_writer_c_serialized", 5L, 0, 1))
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[concurrentPartitionCommits]]: base totals, then
    * purchase ×2, then view ×3 stacked on it, then purchase ×10 (=×2
    * then ×5 — the serial proof) with view ×3; versions, CAS losses,
    * and conflicts pinned. Embed after `WITH ` and select from
    * `concurrent_partition_commits`.
    */
  def concurrentPartitionCommitsSql(): String =
    s"""cpc_base AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |cpc_a AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql(
                  "CASE WHEN event_type = 'purchase' THEN value * 2 " +
                    "ELSE value END", 100)}) AS BIGINT) AS total_cents
       |  FROM events GROUP BY 1),
       |cpc_ab AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql(
                  "CASE WHEN event_type = 'purchase' THEN value * 2 " +
                    "WHEN event_type = 'view' THEN value * 3 " +
                    "ELSE value END", 100)}) AS BIGINT) AS total_cents
       |  FROM events GROUP BY 1),
       |cpc_abc AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql(
                  "CASE WHEN event_type = 'purchase' THEN value * 10 " +
                    "WHEN event_type = 'view' THEN value * 3 " +
                    "ELSE value END", 100)}) AS BIGINT) AS total_cents
       |  FROM events GROUP BY 1),
       |concurrent_partition_commits AS (
       |  SELECT 'a_base' AS stage, CAST(1 AS BIGINT) AS version,
       |         0 AS cas_losses, 0 AS conflict, event_type, n, total_cents
       |  FROM cpc_base
       |  UNION ALL
       |  SELECT 'b_writer_a', 2, 0, 0, event_type, n, total_cents
       |  FROM cpc_a
       |  UNION ALL
       |  SELECT 'c_writer_b_rebased', 4, 1, 0, event_type, n, total_cents
       |  FROM cpc_ab
       |  UNION ALL
       |  SELECT 'd_writer_c_serialized', 5, 0, 1, event_type, n,
       |         total_cents
       |  FROM cpc_abc)""".stripMargin

  // ---------------------------------------------------------------- q329

  /** Resolve a KEYED merge-on-read snapshot: scan the delta files
    * ([[readPartitionedMoR]]'s relation) with each row tagged by the
    * version that committed it, keep the LATEST row per key
    * (`max_by(row, commit_version)` — upsert-wins, the Hudi MoR /
    * Iceberg equality-delete read), then drop rows whose latest image
    * is a tombstone (`deleted = true`). Writers never read or rewrite
    * base data — an upsert or delete is just a delta row — so the
    * write path stays O(|delta|); the read pays one key-grain
    * aggregation until a keyed [[compactPartitionedMoR]] applies the
    * deltas physically.
    *
    * Keys must be unique within a version (each delta upserts a key at
    * most once — the micro-batch grain), which makes `max_by`
    * deterministic with no tie to break.
    */
  def readPartitionedMoRKeyed(spark: SparkSession, tableDir: String,
      partCol: String, keyCol: String, version: Long): DataFrame = {
    val tagged = scan(spark, tableDir, partCol,
      readManifest(spark, tableDir, version), _.dirs, Some("_commit_version"))
    val cols = tagged.columns.filter(_ != "_commit_version")
    tagged
      .groupBy(col(keyCol).as("_k"))
      .agg(max_by(struct(cols.map(col): _*), col("_commit_version"))
        .as("_latest"))
      .select(cols.map(c => col(s"_latest.$c")): _*)
      .filter(!col("deleted"))
  }

  // ---------------------------------------------------------------- q330

  /** TXN-TAGGED appends: q326's streaming commits derive version =
    * batchId + 1, which is a pure function of the batch but COLLIDES the
    * moment any other committer (a compactor, a second stream) wants a
    * version — the two rules can't share one log. This form separates
    * the two concerns the way Delta's transaction log does: IDEMPOTENCE
    * comes from an (appId, batchId) txn tag recorded IN the commit's
    * manifest, VERSIONS are CAS-allocated by whoever commits next
    * ([[commitNext]]), and data lands under a txn-unique dir
    * `data/t_<app>_b<batch>` BEFORE the metadata commit — the manifest
    * names dirs, so there is no rename-after-commit window where a
    * published manifest names missing data (the q241 lesson,
    * strengthened: data first, one atomic metadata create, pointer
    * advance last and monotone). A CAS loss re-merges onto the winner's
    * manifest — append commutes with everything, so no conflict check is
    * needed. Returns (version, committedNow): a tag already in the log
    * short-circuits to (its version, false) — exactly-once under
    * crash-replay without owning the version sequence.
    */
  def appendDeltaTxn(df: DataFrame, tableDir: String, appId: String,
      batchId: Long, partCol: String,
      crash: Option[CrashPoint] = None): (Long, Boolean) = {
    val spark = df.sparkSession
    manifestVersions(spark, tableDir).reverseIterator
      .find(v => readManifest(spark, tableDir, v).txn.contains((appId, batchId)))
    match {
      case Some(v) =>
        advancePointer(spark, tableDir, v)
        (v, false)
      case None =>
        val dir = s"t_${appId}_b$batchId"
        val rec = land(df, tableDir, dir, partCol)
        (commitNext(spark, tableDir, crash, Int.MaxValue) { head =>
          val prev = manifestAt(spark, tableDir, head)
          Manifest(extend(prev.parts, rec.partitions, dir),
            Some((appId, batchId)), prev.catalog + (dir -> rec))
        }, true)
    }
  }

  /** Compaction as just another CAS committer: fold the head's spliced
    * read into `data/c_v<head>`, then race for the next slot like any
    * writer. A CAS loss means a concurrent append landed — the staged
    * fold is STALE (it lacks the new delta), so the compactor re-resolves
    * and re-stages rather than publishing a snapshot that silently drops
    * a commit (the Iceberg RewriteFiles revalidation). Returns the
    * version it committed.
    */
  def compactPartitionedTxn(spark: SparkSession, tableDir: String,
      partCol: String, maxRetries: Int = 8): Long =
    commitNext(spark, tableDir, None, maxRetries + 1) { head =>
      require(head > 0L, s"nothing to compact: $tableDir")
      fold(readPartitionedMoR(spark, tableDir, partCol, head), tableDir,
        head, s"c_v$head", partCol)
    }

  /** q329 — KEYED UPSERTS AND TOMBSTONES on the merge-on-read table,
    * the row-grain completion of q326 (whose deltas were pure inserts):
    * v1 lands the base rows; v2 upserts every purchase at ×2 (same
    * keys — the read must prefer the v2 image); v3 tombstones every
    * error row (`deleted = true` deltas — the Hudi `_hoodie_is_deleted`
    * / Iceberg equality-delete shape). Each commit writes ONLY its
    * delta rows. The keyed read resolves latest-wins then filters
    * tombstones; compaction applies both physically (totals unchanged —
    * require-pinned by the oracle hash); and the MoR-aware vacuum
    * proves the reachability contract both ways: keep-1 BEFORE
    * compaction reclaims nothing (the live manifest references
    * the whole chain), keep-1 AFTER reclaims exactly the three unpinned
    * delta dirs while the compacted read still serves. Output:
    * per-stage totals with version, spliced source-version count, and
    * dirs reclaimed.
    *
    * Scale: upsert/delete commits are O(|delta|) writes; the read-side
    * key aggregation is the MoR merge cost that scheduled compaction
    * amortizes; vacuum is metadata + dir deletes.
    */
  def morUpsertRead(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"),
      col("value"), lit(false).as("deleted"))
    def stage(name: String, reclaimed: Long): DataFrame = {
      val v = currentVersion(spark, tableDir).get
      val nSrc = readManifest(spark, tableDir, v).parts.values
        .flatMap(_.dirs).toSet.size.toLong
      readPartitionedMoRKeyed(spark, tableDir, "event_type", "event_id", v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(nSrc).as("n_src_versions"), lit(reclaimed).as("reclaimed"),
          col("event_type"), col("n"), col("total_cents"))
        // materialized NOW: the later vacuum stage legitimately deletes
        // dirs this stage's lazy plan would still reference
        .localCheckpoint()
    }
    require(appendPartitionedDelta(slim, tableDir, 1L, "event_type"))
    val s1 = stage("a_base", 0L)
    // v2: upsert deltas — purchases re-priced, SAME keys
    require(appendPartitionedDelta(
      slim.filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2),
      tableDir, 2L, "event_type"))
    val s2 = stage("b_upserted", 0L)
    // v3: tombstone deltas — every error row deleted
    require(appendPartitionedDelta(
      slim.filter(col("event_type") === "error")
        .withColumn("deleted", lit(true)),
      tableDir, 3L, "event_type"))
    val s3 = stage("c_tombstoned", 0L)
    // reachability, pre-compaction: keep-1 must reclaim NOTHING — the
    // live manifest references v1..v3
    val preDropped = vacuumPartitionedMoR(spark, tableDir, keep = 1)
    require(preDropped.isEmpty,
      s"pre-compaction vacuum must respect delta references: $preDropped")
    compactPartitionedMoR(spark, tableDir, 4L, "event_type",
      keyCol = Some("event_id"))
    val s4 = stage("d_compacted", 0L)
    // post-compaction: the chain unpins — keep-1 reclaims exactly v1..v3
    val dropped = vacuumPartitionedMoR(spark, tableDir, keep = 1)
    require(dropped == Seq(1L, 2L, 3L),
      s"post-compaction vacuum must reclaim exactly the delta chain: $dropped")
    val s5 = stage("e_post_vacuum", dropped.size.toLong)
    s1.unionByName(s2).unionByName(s3).unionByName(s4).unionByName(s5)
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[morUpsertRead]]: base totals, purchase ×2, errors
    * gone, identical after compaction and vacuum; versions,
    * source-version counts, and reclaim counts pinned. Embed after
    * `WITH ` and select from `mor_upsert_read`.
    */
  def morUpsertReadSql(): String =
    s"""mur_base AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM events GROUP BY 1),
       |mur_up AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql(
                  "CASE WHEN event_type = 'purchase' THEN value * 2 " +
                    "ELSE value END", 100)}) AS BIGINT) AS total_cents
       |  FROM events GROUP BY 1),
       |mor_upsert_read AS (
       |  SELECT 'a_base' AS stage, CAST(1 AS BIGINT) AS version,
       |         CAST(1 AS BIGINT) AS n_src_versions,
       |         CAST(0 AS BIGINT) AS reclaimed, event_type, n, total_cents
       |  FROM mur_base
       |  UNION ALL
       |  SELECT 'b_upserted', 2, 2, 0, event_type, n, total_cents
       |  FROM mur_up
       |  UNION ALL
       |  SELECT 'c_tombstoned', 3, 3, 0, event_type, n, total_cents
       |  FROM mur_up WHERE event_type <> 'error'
       |  UNION ALL
       |  SELECT 'd_compacted', 4, 1, 0, event_type, n, total_cents
       |  FROM mur_up WHERE event_type <> 'error'
       |  UNION ALL
       |  SELECT 'e_post_vacuum', 4, 1, 3, event_type, n, total_cents
       |  FROM mur_up WHERE event_type <> 'error')""".stripMargin

  // ---------------------------------------------------------------- q331

  /** Commit a batch of POSITION DELETES, Iceberg's second delete flavor
    * beside q329's equality deletes: a delete names the physical row it
    * kills as `(partCol, _src_version, _pos)` — Iceberg uses
    * `(file_path, pos)` — over rows written through [[withRowIds]]. The
    * triples land under `data/v<version>` — bytes written ∝ |deleted
    * rows|, never the touched partition — and extend each touched
    * partition's delete list; [[readPartitionedMoR]] applies them with an
    * anti-join against a delete set ∝ |deleted rows|, with no key-grain
    * aggregation over the base, where the keyed MoR read pays a
    * full-table `max_by` shuffle until compaction. With `statCol` (q336)
    * the commit subtracts the doomed rows' `(count, sum(statCol))` from
    * the partitions' stats; `deletes` must then still carry that column.
    * Replays follow [[commitAt]].
    */
  def appendPositionDeletes(deletes: DataFrame, tableDir: String,
      version: Long, partCol: String, crash: Option[CrashPoint] = None,
      statCol: Option[String] = None): Boolean =
    append(deletes, tableDir, version, partCol, crash, statCol, deletes = true)

  /** q331 — DELETE WHERE via position deletes, Iceberg's second delete
    * flavor beside q329's keyed/equality form: v1 publishes the base
    * with persisted row ids; v2 translates `DELETE WHERE event_id%7=0`
    * into `(partition, src_version, pos)` triples by scanning the
    * CURRENT resolved read (predicate → positions, exactly how engines
    * write position deletes); v3 deletes `event_id%5=0` from the
    * survivors; v4 compacts — totals unchanged. Each delete commit
    * writes bytes ∝ |deleted rows|; the read applies deletes with a
    * broadcast anti-join touching only partitions that HAVE deletes, so
    * the base is never shuffled or key-aggregated (the structural win
    * over the keyed read, pinned by PositionDeleteSpec).
    *
    * Output: per-stage totals with the manifest's base/delete version
    * counts pinned.
    */
  def positionDeleteRead(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"),
      col("value"))
    def stage(name: String): DataFrame = {
      val v = currentVersion(spark, tableDir).get
      val m = readManifest(spark, tableDir, v).parts.values
      val nBase = m.flatMap(_.dirs).toSet.size.toLong
      val nDel = m.flatMap(_.dels).toSet.size.toLong
      readPartitionedMoR(spark, tableDir, "event_type", v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(OracleSafe.quant(col("value"), 100)).as("total_cents"))
        .select(lit(name).as("stage"), lit(v).as("version"),
          lit(nBase).as("n_base"), lit(nDel).as("n_del"),
          col("event_type"), col("n"), col("total_cents"))
    }
    appendPartitionedDelta(withRowIds(slim), tableDir, 1L, "event_type")
    val s1 = stage("a_base")
    def positionsWhere(pred: org.apache.spark.sql.Column): DataFrame =
      readPartitionedMoR(spark, tableDir, "event_type",
          currentVersion(spark, tableDir).get, rowIds = true)
        .filter(pred)
        .select(col("event_type"), col("_src_version"), col("_pos"))
    appendPositionDeletes(positionsWhere(pmod(col("event_id"), lit(7)) === 0),
      tableDir, 2L, "event_type")
    val s2 = stage("b_del_mod7")
    appendPositionDeletes(positionsWhere(pmod(col("event_id"), lit(5)) === 0),
      tableDir, 3L, "event_type")
    val s3 = stage("c_del_mod5")
    compactPartitionedMoR(spark, tableDir, 4L, "event_type")
    val s4 = stage("d_compacted")
    s1.unionByName(s2).unionByName(s3).unionByName(s4)
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[positionDeleteRead]]: base totals, then minus
    * `event_id%7=0`, then also minus `event_id%5=0`, unchanged by
    * compaction; version and manifest counts pinned. Embed after
    * `WITH ` and select from `position_delete_read`.
    */
  def positionDeleteReadSql(): String =
    s"""pdr AS (
       |  SELECT event_type, event_id, value FROM events),
       |pdr_a AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM pdr GROUP BY 1),
       |pdr_b AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM pdr WHERE event_id % 7 <> 0 GROUP BY 1),
       |pdr_c AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${OracleSafe.quantSql("value", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM pdr WHERE event_id % 7 <> 0 AND event_id % 5 <> 0
       |  GROUP BY 1),
       |position_delete_read AS (
       |  SELECT 'a_base' AS stage, CAST(1 AS BIGINT) AS version,
       |         CAST(1 AS BIGINT) AS n_base, CAST(0 AS BIGINT) AS n_del,
       |         event_type, n, total_cents
       |  FROM pdr_a
       |  UNION ALL
       |  SELECT 'b_del_mod7', 2, 1, 1, event_type, n, total_cents
       |  FROM pdr_b
       |  UNION ALL
       |  SELECT 'c_del_mod5', 3, 1, 2, event_type, n, total_cents
       |  FROM pdr_c
       |  UNION ALL
       |  SELECT 'd_compacted', 4, 1, 0, event_type, n, total_cents
       |  FROM pdr_c)""".stripMargin

  // ---------------------------------------------------------------- q335

  /** Cumulative `(rows, sum)` per partition at `version`, answered from
    * the manifest alone — zero data files opened. This is how table
    * formats answer `COUNT(*)`/`SUM` instantly: Iceberg keeps per-file
    * value counts in manifests, Delta puts numRecords in the commit
    * stats. Refused unless every partition's stats are exact.
    */
  def statsAt(spark: SparkSession, tableDir: String,
      version: Long): Map[String, (Long, Long)] = {
    val parts = readManifest(spark, tableDir, version).parts
    require(parts.values.forall(_.stats.isDefined),
      s"v$version under $tableDir has partitions without exact stats")
    parts.map { case (p, e) => p -> e.stats.get }
  }

  /** Answer `GROUP BY partition: COUNT(*), SUM(statCol)` from METADATA
    * ONLY ([[statsAt]]). The returned plan is a local relation of
    * |partitions| rows.
    */
  def metadataAggregate(spark: SparkSession, tableDir: String,
      version: Long): DataFrame = {
    import spark.implicits._
    statsAt(spark, tableDir, version).toSeq.sortBy(_._1)(keyOrder)
      .map { case (p, (n, s)) => (p, n, s) }
      .toDF("partition", "n", "stat_sum")
  }

  /** q335 — metadata-only aggregation from commit-time stats: three
    * delta commits (split on `event_id % 3`) each fold their batch's
    * per-partition `(count, sum_cents)` into the cumulative stats of
    * their manifest; the per-type totals are then answered WITHOUT OPENING A
    * DATA FILE at every version — including time travel to v2 — and
    * equal the oracle's recomputation from raw events. A scan-based
    * recount of the head cross-checks the stats in-plan (`require`).
    *
    * Scale: the stats fold is O(|touched partitions|) metadata per
    * commit (the batch aggregate rides the write the way Delta's
    * numRecords does); the full-table COUNT/SUM at 100 TB is a
    * one-file metadata read instead of a full scan.
    */
  def metadataCountRead(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"),
      OracleSafe.quant(col("value"), 100).as("cents"))
    (0 to 2).foreach { m =>
      require(appendPartitionedDelta(
        slim.filter(pmod(col("event_id"), lit(3)) === m),
        tableDir, m + 1L, "event_type", statCol = Some("cents")))
    }
    // the head's stats must equal a physical recount — checked here so
    // the oracle row carries the cross-validated numbers
    val physical = statsBy(
      readPartitionedMoR(spark, tableDir, "event_type", 3L),
      "event_type", "cents")
    require(statsAt(spark, tableDir, 3L) == physical,
      "commit-time stats must equal the physical recount")
    def stage(name: String, v: Long): DataFrame =
      metadataAggregate(spark, tableDir, v)
        .select(lit(name).as("stage"), col("partition").as("event_type"),
          col("n"), col("stat_sum").as("total_cents"))
    stage("a_v2_time_travel", 2L).unionByName(stage("b_head", 3L))
      .orderBy("stage", "event_type")
  }

  /** q336 — commit-time stats kept EXACT through position deletes, the
    * composition of q335's commit-time stats with q331's delete flavor.
    * The reason it works is specific to POSITION deletes: a DELETE WHERE
    * translates its predicate into positions by SCANNING the doomed rows
    * (q331's flow), so the writer is already holding their stat values
    * and can fold the per-partition `(−count, −sum)` into the cumulative
    * stats at commit time — full-table COUNT/SUM stays a metadata read
    * at every version of the delete lifecycle. Equality deletes can't do
    * this: a keyed tombstone names a KEY, not a row image — maintaining
    * stats there would itself cost the key-grain read the MoR write path
    * exists to avoid (Iceberg marks stats inexact under such deletes;
    * the q329 tier leaves stats to compaction for the same reason).
    *
    * The stats ride in each commit's own manifest, so they publish
    * atomically with the deletes they price. Stages: base, two DELETE
    * WHERE commits,
    * compaction (stats carry forward unchanged — the q88/q309 totals
    * invariant, now visible in metadata). The head's stats are
    * cross-checked against a physical recount in-plan; the oracle
    * recomputes every stage from raw events.
    */
  def metadataStatsDeletes(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"),
      OracleSafe.quant(col("value"), 100).as("cents"))
    require(appendPartitionedDelta(withRowIds(slim), tableDir, 1L,
      "event_type", statCol = Some("cents")))
    def deleteWhere(v: Long, mod: Int): Unit = {
      // predicate → positions: the scan that names the doomed rows is
      // the same scan that prices the negative stats fold
      val doomed = readPartitionedMoR(spark, tableDir, "event_type", v - 1,
          rowIds = true)
        .filter(pmod(col("event_id"), lit(mod)) === 0)
        .localCheckpoint()
      require(appendPositionDeletes(doomed, tableDir, v, "event_type",
        statCol = Some("cents")))
    }
    deleteWhere(2L, 7)
    deleteWhere(3L, 5)
    // compaction changes layout, never totals: stats carry forward
    compactPartitionedMoR(spark, tableDir, 4L, "event_type")
    val physical = statsBy(
      readPartitionedMoR(spark, tableDir, "event_type", 4L),
      "event_type", "cents")
    require(statsAt(spark, tableDir, 4L).filter(_._2._1 > 0L) == physical,
      "delete-folded stats must equal the physical recount")
    def stage(name: String, v: Long): DataFrame =
      metadataAggregate(spark, tableDir, v)
        .select(lit(name).as("stage"), lit(v).as("version"),
          col("partition").as("event_type"), col("n"),
          col("stat_sum").as("total_cents"))
    stage("a_base", 1L).unionByName(stage("b_del_mod7", 2L))
      .unionByName(stage("c_del_mod5", 3L))
      .unionByName(stage("d_compacted", 4L))
      .orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[metadataStatsDeletes]] — q331's stage filters with
    * the stats answered per stage. Embed after `WITH ` and select from
    * `metadata_stats_deletes`.
    */
  def metadataStatsDeletesSql(): String =
    s"""msd AS (
       |  SELECT event_type, event_id,
       |         ${OracleSafe.quantSql("value", 100)} AS cents
       |  FROM events),
       |msd_a AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS total_cents
       |  FROM msd GROUP BY 1),
       |msd_b AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS total_cents
       |  FROM msd WHERE event_id % 7 <> 0 GROUP BY 1),
       |msd_c AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS total_cents
       |  FROM msd WHERE event_id % 7 <> 0 AND event_id % 5 <> 0
       |  GROUP BY 1),
       |metadata_stats_deletes AS (
       |  SELECT 'a_base' AS stage, CAST(1 AS BIGINT) AS version,
       |         event_type, n, total_cents
       |  FROM msd_a
       |  UNION ALL
       |  SELECT 'b_del_mod7', 2, event_type, n, total_cents FROM msd_b
       |  UNION ALL
       |  SELECT 'c_del_mod5', 3, event_type, n, total_cents FROM msd_c
       |  UNION ALL
       |  SELECT 'd_compacted', 4, event_type, n, total_cents
       |  FROM msd_c)""".stripMargin

  /** DuckDB twin of [[metadataCountRead]]: v2 covers `event_id%3 IN
    * (0,1)`, the head covers all rows. Embed after `WITH ` and select
    * from `metadata_count_read`.
    */
  def metadataCountReadSql(): String =
    s"""mcr AS (
       |  SELECT event_type, event_id,
       |         ${OracleSafe.quantSql("value", 100)} AS cents
       |  FROM events),
       |metadata_count_read AS (
       |  SELECT 'a_v2_time_travel' AS stage, event_type,
       |         COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total_cents
       |  FROM mcr WHERE event_id % 3 IN (0, 1) GROUP BY 2
       |  UNION ALL
       |  SELECT 'b_head', event_type, COUNT(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS total_cents
       |  FROM mcr GROUP BY 2)""".stripMargin
}
