package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.OracleSafe.money
import graft.sources.EventEncoding

/** Structured Streaming over the events table.
  *
  * The batch parquet drives a real streaming query (file source →
  * watermarked tumbling-window aggregation → sink) via
  * `Trigger.AvailableNow`, so the streaming plan itself is what gets
  * correctness-checked against the batch oracle: the windowed aggregation,
  * watermark wiring, and sink round-trip all execute. On a cluster the same
  * code tails a directory/Kafka source continuously.
  */
object EventStream {

  /** Scratch dir for the replay helpers whose RESULT frames keep reading
    * the staged files after the method returns (checkpoint sink, schema
    * probes), so an inline delete would break them — [[graft.Scratch]]
    * removes the dir at JVM exit and frees the PREVIOUS invocation's
    * copy on re-entry (each bench rep consumes its result before the
    * next rep stages files), keeping disk flat across reps. Helpers
    * whose results live in a memory sink (multi-source watermark)
    * delete inline instead.
    */
  private def exitScratch(prefix: String): String =
    graft.Scratch.dir(prefix).toString

  /** Run `body` with the shuffle-partition count temporarily lowered: the
    * state store opens/commits one provider PER shuffle partition PER
    * stateful operator PER micro-batch, a pure fixed cost at small state
    * sizes. A real deployment sizes this to state volume; the bounded
    * AvailableNow runs here carry kilobytes of state, where 32 partitions
    * are all overhead. Restores the previous setting even on failure.
    */
  private def withStatePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Hourly tumbling-window counts/sums per event type, computed BY THE
    * STREAMING ENGINE and returned as a batch DataFrame once the source is
    * exhausted.
    */
  def tumblingHourly(spark: SparkSession, dir: String): DataFrame = withStatePartitions(spark, 4) {
    val path = s"$dir/events.parquet"
    // Explicit schema (file sources cannot infer); EventEncoding derives
    // the event-time column from whatever `ts` type that schema carries.
    // The source takes a glob (its basePath must be the directory, not a
    // bare file).
    val rawSchema = spark.read.parquet(path).schema
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")

    val agg = spark.readStream.schema(rawSchema).parquet(s"$dir/events*.parquet")
      .withColumn("tstamp", EventEncoding.tsMicros(rawSchema("ts").dataType))
      .withWatermark("tstamp", "1 hour")
      .groupBy(window(col("tstamp"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("decimal(18,2)").cast("double").as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total_value"))

    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name).orderBy("hour", "event_type")
  }

  /** Sliding-window variant of [[tumblingHourly]]: 2-hour windows every
    * hour, so each event lives in two overlapping state windows — the
    * streaming engine maintains both and the watermark still bounds state
    * to the lateness horizon. Emits the window start as epoch millis for
    * oracle parity.
    */
  def slidingHourly(spark: SparkSession, dir: String): DataFrame = withStatePartitions(spark, 4) {
    val path = s"$dir/events.parquet"
    val rawSchema = spark.read.parquet(path).schema
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")

    val agg = spark.readStream.schema(rawSchema).parquet(s"$dir/events*.parquet")
      .withColumn("tstamp", EventEncoding.tsMicros(rawSchema("ts").dataType))
      .withWatermark("tstamp", "2 hours")
      .groupBy(window(col("tstamp"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("decimal(18,2)").cast("double").as("total_value"))
      .select(unix_millis(col("w.start")).as("start_ms"),
        col("event_type"), col("n"), col("total_value"))

    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name).orderBy("start_ms", "event_type")
  }

  /** Idempotent streaming ingest: exactly-once semantics over an
    * at-least-once source via `dropDuplicatesWithinWatermark` on the event
    * id — state for an id is held only until the watermark passes it, so
    * state size is bounded by the lateness window, not the stream length
    * (the 100 TB-stream version of `dropDuplicates`).
    */
  def dedupedCount(spark: SparkSession, dir: String, glob: String = "*.parquet"): Long = withStatePartitions(spark, 4) {
    val sample = spark.read.parquet(dir)
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.schema(sample.schema).parquet(s"$dir/$glob")
      .withColumn("tstamp", EventEncoding.tsMicros(sample.schema("ts").dataType))
      .withWatermark("tstamp", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy()
      .count()
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name).head().getLong(0)
  }

  /** Stream-static join: a streaming fact enriched against a static
    * (broadcastable) dimension — the streaming analog of the warehouse's
    * dimension lookups. The static side is re-read per micro-batch by
    * Spark; no state is kept.
    */
  def enrichedTypeTotals(spark: SparkSession, dir: String,
      userDim: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      withStatePartitions(spark, 4) {
    val path = s"$dir/events.parquet"
    val rawSchema = spark.read.parquet(path).schema
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.schema(rawSchema).parquet(s"$dir/events*.parquet")
      .join(org.apache.spark.sql.functions.broadcast(userDim), Seq("user_id"))
      .groupBy("cohort", "event_type")
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name).orderBy("cohort", "event_type")
  }

  final case class RawEvent(event_id: Long, user_id: Long, ts_ms: Long, value: Double)
  final case class Session(user_id: Long, session_seq: Long, n_events: Long,
      start_ms: Long, end_ms: Long)

  /** Custom-state sessionization via `flatMapGroupsWithState` — the escape
    * hatch for state machines the built-in windows can't express. Here the
    * state is the per-user event buffer; on a bounded AvailableNow run the
    * group sees all its events in one batch, so sessions close immediately —
    * on a live stream the same function would carry the open session in
    * `GroupState` across batches and close it on timeout.
    */
  def sessionizeStateful(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
      withStatePartitions(spark, 4) {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    val path = s"$dir/events.parquet"
    val rawSchema = spark.read.parquet(path).schema
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")

    def close(userId: Long, events: Iterator[RawEvent],
        state: GroupState[List[RawEvent]]): Iterator[Session] = {
      val all = (state.getOption.getOrElse(Nil) ++ events).sortBy(e => (e.ts_ms, e.event_id))
      state.remove()
      if (all.isEmpty) Iterator.empty
      else {
        val sessions = scala.collection.mutable.ArrayBuffer.empty[Session]
        var seq = 0L
        var start = all.head
        var prev = all.head
        var n = 0L
        def flush(end: RawEvent): Unit = {
          seq += 1
          sessions += Session(userId, seq, n, start.ts_ms, end.ts_ms)
        }
        for (e <- all) {
          if (n > 0 && e.ts_ms - prev.ts_ms > gapMs) { flush(prev); start = e; n = 0 }
          n += 1
          prev = e
        }
        flush(prev)
        sessions.iterator
      }
    }

    val q = spark.readStream.schema(rawSchema).parquet(s"$dir/events*.parquet")
      .select(col("event_id"), col("user_id"),
        EventEncoding.tsMillis(rawSchema("ts").dataType).as("ts_ms"), col("value"))
      .as[RawEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(close)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name).orderBy("user_id", "session_seq")
  }

  /** Stream-stream interval join — the last streaming join shape ([[enrichedTypeTotals]]
    * covers stream-static): clicks join views of the SAME user within the
    * preceding `windowMinutes`. Both sides carry a watermark and the join
    * condition bounds event time on both ends, so the state store retains
    * each side only for the lateness + interval horizon — the condition
    * Structured Streaming needs to garbage-collect join state at all (an
    * unbounded-state stream join is the streaming analog of a cartesian).
    * Inner-join results emit as soon as both sides arrive (append mode
    * never holds back inner matches), so the bounded AvailableNow run
    * yields the complete pair set, aggregated per user for a stable
    * contract: (user_id, n_pairs).
    */
  def clickViewPairs(spark: SparkSession, dir: String, windowMinutes: Int = 10): DataFrame =
      withStatePartitions(spark, 4) {
    val path = s"$dir/events.parquet"
    val rawSchema = spark.read.parquet(path).schema
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    def side(eventType: String, prefix: String) =
      spark.readStream.schema(rawSchema).parquet(s"$dir/events*.parquet")
        .filter(col("event_type") === eventType)
        .select(col("event_id").as(s"${prefix}_id"), col("user_id").as(s"${prefix}_user"),
          EventEncoding.tsMicros(rawSchema("ts").dataType).as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", s"$windowMinutes minutes")
    val q = side("click", "click").join(side("view", "view"),
        col("click_user") === col("view_user") &&
          col("view_ts") >= col("click_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
          col("view_ts") <= col("click_ts"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
      .groupBy(col("click_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** Measured-watermark closure: the q150/q152 methodology CONSUMED. The
    * lateness audits measure disorder; this derives the watermark from the
    * measurement and proves, end-to-end, that the derived delay keeps
    * `dropDuplicatesWithinWatermark` both EXACT (zero drops, zero dup
    * leaks — the oracle equality) and BOUNDED (state evicted behind the
    * watermark — asserted from the run's own progress metrics in
    * `EventStreamSpec`).
    *
    * The feed: every event twice (an at-least-once source), each copy's
    * arrival time jittered by an independent deterministic md5 draw in
    * `[0, jitterMaxMs)` — bounded disorder, the realistic regime (q152's
    * full-table permutation is the adversarial bound; a real pipeline's
    * disorder is bounded by its buffering horizon). The feed is split into
    * arrival-ordered chunk files replayed one per micro-batch
    * (`maxFilesPerTrigger=1`), so event time genuinely runs backwards
    * within and across batches.
    *
    * The measurement: [[graft.operators.Events.globalMaxLatenessMs]] over
    * the DOUBLED feed (the delay must cover duplicate arrivals too). With
    * `W = max_late + 1s`: an arriving row's event time is always ≥
    * frontier − W ≥ watermark, so nothing is late-dropped; a duplicate
    * arrives while the first copy's state entry (expiring at `ts + W`) is
    * still live, so every dup is caught. Chunk-grain replay only weakens
    * effective disorder (a chunk's frontier ≤ the per-event frontier), so
    * the per-event measurement is a valid bound for the replayed feed.
    *
    * The ONE driver-side scalar (`max_late_ms`) is a planning pre-pass
    * configuring the stream — the q153/q163 pattern, not a data path.
    */
  def watermarkClosure(spark: SparkSession, dir: String,
      jitterMaxMs: Long = 1800000L, chunks: Int = 12): DataFrame =
    watermarkClosureWithMetrics(spark, dir, jitterMaxMs, chunks)._1

  def watermarkClosureWithMetrics(spark: SparkSession, dir: String,
      jitterMaxMs: Long = 1800000L, chunks: Int = 12)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
      withStatePartitions(spark, 4) {
    require(jitterMaxMs >= 1, s"jitterMaxMs must be >= 1, got $jitterMaxMs")
    require(chunks >= 2, s"need >= 2 chunks for a multi-batch replay, got $chunks")
    val ev = graft.sources.TestData.events(spark, dir)

    def jit(seed: org.apache.spark.sql.Column) =
      conv(substring(md5(seed), 1, 12), 16, 10).cast("long") % jitterMaxMs
    def side(copyId: Int, seedSuffix: String) = ev.select(
      col("event_id"), col("event_type"), col("ts").as("tstamp"),
      expr("ts_ns DIV 1000000").as("ms"), lit(copyId).as("copy"),
      (expr("ts_ns DIV 1000000")
        + jit(concat(col("event_id").cast("string"), lit(seedSuffix)))).as("arr"))
    // materialized once: the doubled feed (events scan + md5 jitter ×2
    // sides) otherwise re-executes FOUR times — twice inside the lateness
    // measurement (grid + row side) and twice more under the chunk write
    // (min/max frame + the chunked projection)
    val feed = side(0, "").unionByName(side(1, ":dup")).localCheckpoint()

    val maxLateMs = graft.operators.Events.globalMaxLatenessMs(feed)
      .head().getLong(0)
    val delaySec = maxLateMs / 1000L + 1L

    // Arrival-ordered chunk replay: range-partition on arr (chunk bounds
    // from a 1-row broadcast), ONE partitioned write (repartition on the
    // chunk key → exactly one file per chunk dir, one Spark job instead
    // of `chunks` sequential jobs), mtimes forced into chunk order so the
    // file source replays arrival order one file per micro-batch.
    val mm = feed.agg(min("arr").as("amin"), max("arr").as("amax"))
    val chunked = feed.crossJoin(broadcast(mm))
      .withColumn("chunk", least(lit(chunks - 1),
        ((col("arr") - col("amin")) * chunks
          / (col("amax") - col("amin") + 1)).cast("int")))
    val tmp = exitScratch("graft-wmclose") + "/feed"
    chunked.select("event_id", "event_type", "tstamp", "chunk")
      .repartition(chunks, col("chunk"))
      .write.partitionBy("chunk").parquet(tmp)
    val t0 = (System.currentTimeMillis() / 60000L) * 60000L
    for (i <- 0 until chunks) {
      val d = new java.io.File(s"$tmp/chunk=$i")
      if (d.isDirectory)
        d.listFiles().foreach(f => { f.setLastModified(t0 + i * 1000L); () })
    }

    val schema = spark.read.parquet(tmp).schema // includes the chunk partition col
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp)
      .withWatermark("tstamp", s"$delaySec seconds")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val result = spark.table(name)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_unique"))
      .withColumn("wm_sec", lit(delaySec))
      .orderBy("event_type")
    (result, q.recentProgress.toSeq)
  }

  /** Multi-source watermark coordination — the MIN-frontier rule none of
    * the single-source queries exercise: two file sources with wildly
    * SKEWED event-time frontiers union into one windowed aggregate. The
    * 'fast' source (even event ids) replays its entire time range in its
    * first micro-batch, so its frontier jumps to the global max
    * immediately; the 'lag' source (odd ids) advances one time-slice per
    * micro-batch. Spark's default `multipleWatermarkPolicy = min` must
    * hold the GLOBAL watermark at the lagging source's frontier — if the
    * watermark followed the leading source, every later lag chunk would
    * land beneath it, its day-windows would already be closed, and the
    * append output would lose those rows. The batch-oracle hash-match is
    * therefore itself the certificate that the min-frontier rule held;
    * [[multiSourceWatermarkWithMetrics]] additionally exposes the
    * progress rows where max-event-time races ~30 days ahead of the
    * reported watermark while zero rows are dropped.
    *
    * Bounded-replay closure uses the established sentinel punctuation
    * (one far-future row per source, filtered by its reserved type) so
    * BOTH frontiers — and with them the min — pass every real window.
    *
    * Output: per (event_type, src): distinct day-windows emitted and
    * event count, equal to the batch day-grain aggregate.
    */
  def multiSourceWatermark(spark: SparkSession, dir: String,
      lagChunks: Int = 6): DataFrame =
    multiSourceWatermarkWithMetrics(spark, dir, lagChunks)._1

  def multiSourceWatermarkWithMetrics(spark: SparkSession, dir: String,
      lagChunks: Int = 6)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
      withStatePartitions(spark, 4) {
    require(lagChunks >= 2, s"need >= 2 lag chunks for a skewed replay, got $lagChunks")
    val ev = graft.sources.TestData.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts").as("tstamp"))
      .localCheckpoint() // scanned ~5× below (max, fast write, lag min/max + chunks)
    val maxUs = ev.agg(max(unix_micros(col("tstamp")))).head().getLong(0)
    def sentinel(id: Long) = {
      import spark.implicits._
      Seq((id, "zz_sentinel", maxUs + 30L * 86400000000L))
        .toDF("event_id", "event_type", "us")
        .select(col("event_id"), col("event_type"),
          timestamp_micros(col("us")).as("tstamp"))
    }
    val tmpPath = java.nio.file.Files.createTempDirectory("graft-multiwm")
    val tmp = tmpPath.toString
    // the memory sink owns the result rows once the stream drains, so the
    // staged chunk files are pure scratch — delete them on EVERY exit path
    // (bench reps + scale runs would otherwise accumulate event-table
    // copies in /tmp for the life of the box)
    try {
      val fastDir = s"$tmp/fast"
      val lagDir = s"$tmp/lag"
      // fast: the whole range in one file, sentinel second — frontier leaps
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$fastDir/chunk_000")
      sentinel(-2L).coalesce(1).write.parquet(s"$fastDir/chunk_001")
      // lag: event-time-range slices, one per micro-batch — frontier
      // crawls. ONE pass over the events (dynamic partition write keyed by
      // the chunk column), then the `chunk=i` dirs move to the glob-stable
      // `chunk_%03d` names the reader and the mtime stamping expect — the
      // rename keeps Spark's partition discovery from resurrecting `chunk`
      // as a column the explicit stream schema doesn't carry.
      val lag = ev.filter(col("event_id") % 2 =!= 0)
      val mm = lag.agg(min(unix_micros(col("tstamp"))).as("tmin"),
        max(unix_micros(col("tstamp"))).as("tmax"))
      val staging = s"$tmp/lag_staging"
      lag.crossJoin(broadcast(mm))
        .withColumn("chunk", least(lit(lagChunks - 1),
          ((unix_micros(col("tstamp")) - col("tmin")) * lagChunks
            / (col("tmax") - col("tmin") + 1)).cast("int")))
        .drop("tmin", "tmax")
        .repartition(col("chunk"))
        .write.partitionBy("chunk").parquet(staging)
      val lagRoot = new java.io.File(lagDir)
      require(lagRoot.mkdirs(), s"cannot create $lagDir")
      for (i <- 0 until lagChunks) {
        val src = new java.io.File(staging, s"chunk=$i")
        val dst = new java.io.File(lagRoot, f"chunk_$i%03d")
        // a chunk is empty whenever the lag events' time distribution
        // leaves its 1/lagChunks slice without rows (clustered
        // timestamps) — the dynamic partition write emits no dir for
        // it. Write an EMPTY parquet part file there (schema-carrying,
        // like the old per-chunk writes), so the file count — and with
        // it the micro-batch replay length under maxFilesPerTrigger=1 —
        // stays fixed at lagChunks regardless of the distribution.
        if (!src.isDirectory)
          lag.filter(lit(false)).coalesce(1).write.parquet(dst.toString)
        else require(src.renameTo(dst), s"cannot move $src to $dst")
      }
      sentinel(-1L).coalesce(1)
        .write.parquet(f"$lagDir/chunk_$lagChunks%03d")
      val t0 = (System.currentTimeMillis() / 60000L) * 60000L
      for (d <- new java.io.File(fastDir).listFiles() ++
          new java.io.File(lagDir).listFiles(); if d.isDirectory) {
        val i = d.getName.stripPrefix("chunk_").toInt
        // the chunk-ordered mtimes ARE the replay order (the file source
        // sorts by modification time under maxFilesPerTrigger); a silently
        // failed setLastModified would leave the order undefined — results
        // stay correct under the min-watermark rule, but the spec's
        // batch-interleaving assertions would flake, so fail loudly here
        d.listFiles().foreach { f =>
          require(f.setLastModified(t0 + i * 1000L),
            s"setLastModified failed for $f — replay order would be undefined")
        }
        require(d.setLastModified(t0 + i * 1000L),
          s"setLastModified failed for $d — replay order would be undefined")
      }
      val schema = spark.read.parquet(s"$fastDir/chunk_000").schema
      val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
      def side(path: String, src: String) =
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$path/chunk_*")
          .withColumn("src", lit(src))
          .withWatermark("tstamp", "1 minute") // per-source: union takes the MIN
      val q = side(fastDir, "fast").unionByName(side(lagDir, "lag"))
        .groupBy(window(col("tstamp"), "1 day").as("w"),
          col("event_type"), col("src"))
        .agg(count(lit(1)).as("n"))
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val result = spark.table(name)
        .filter(col("event_type") =!= "zz_sentinel")
        .groupBy("event_type", "src")
        .agg(count(lit(1)).as("n_windows"), sum(col("n")).as("n_events"))
        .orderBy("event_type", "src")
      (result, q.recentProgress.toSeq)
    } finally graft.Scratch.rmTree(tmpPath.toFile)
  }

  /** DuckDB twin of [[multiSourceWatermark]] — the batch day-grain
    * aggregate with the same parity split. Equality certifies that the
    * lagging source's rows survived the leading source's frontier (the
    * min-watermark rule). Embed after `WITH ` and select from
    * `multi_source_watermark`.
    */
  def multiSourceWatermarkSql(): String =
    s"""multi_source_watermark AS (
       |  SELECT event_type,
       |         CASE WHEN event_id % 2 = 0 THEN 'fast' ELSE 'lag' END AS src,
       |         CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT)
       |           AS n_windows,
       |         CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Stream-stream LEFT OUTER interval join — the state semantics
    * [[clickViewPairs]] (inner) doesn't exercise: an unmatched left row
    * is held in state and emitted null-padded only once the watermark
    * proves no future match can arrive. That finalization is the
    * operational trap this operator demonstrates and solves: a bounded
    * replay ends with the watermark still `delay` behind the frontier, so
    * the last clicks' outer results would never emit. The fix is the
    * standard one — a source-level PUNCTUATION: two far-future sentinel
    * rows per side (filtered out of the result by their reserved
    * user_id = −1), replayed as their own micro-batches
    * (`maxFilesPerTrigger=1`), the first advancing the watermark past
    * every real click's horizon and the second driving the eviction
    * batch that emits the outer rows.
    *
    * Output: per real user, matched (click, view) pair count and the
    * count of clicks with NO view in the preceding `windowMinutes` —
    * exactly the batch left-join the oracle computes.
    */
  def clickViewOuter(spark: SparkSession, dir: String,
      windowMinutes: Int = 10): DataFrame = withStatePartitions(spark, 4) {
    val ev = graft.sources.TestData.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").as("tstamp"))
    val maxUs = ev.agg(max(unix_micros(col("tstamp")))).head().getLong(0)
    def sentinels(offsetH: Int) = {
      import spark.implicits._
      Seq(
        (-1L, -1L, "click", maxUs + offsetH * 3600000000L),
        // the sentinel view sits AFTER its click and outside every real
        // click's window: it matches nothing, it only moves the frontier
        (-2L, -1L, "view", maxUs + offsetH * 3600000000L + 1800000000L))
        .toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("tstamp"))
    }
    val tmp = exitScratch("graft-outer")
    ev.coalesce(1).write.parquet(s"$tmp/chunk_000")
    sentinels(24).coalesce(1).write.parquet(s"$tmp/chunk_001")
    sentinels(48).coalesce(1).write.parquet(s"$tmp/chunk_002")
    val t0 = (System.currentTimeMillis() / 60000L) * 60000L
    for (i <- 0 until 3) {
      val d = new java.io.File(f"$tmp/chunk_$i%03d")
      d.listFiles().foreach(f => { f.setLastModified(t0 + i * 1000L); () })
      d.setLastModified(t0 + i * 1000L)
    }
    val schema = spark.read.parquet(s"$tmp/chunk_000").schema
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    def side(eventType: String, prefix: String) =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/chunk_*")
        .filter(col("event_type") === eventType)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          col("tstamp").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", s"$windowMinutes minutes")
    val q = side("click", "click").join(side("view", "view"),
        col("click_user") === col("view_user") &&
          col("view_ts") >= col("click_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
          col("view_ts") <= col("click_ts"),
        "left_outer")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
      .filter(col("click_user") >= 0L)
      .groupBy(col("click_user").as("user_id"))
      .agg(sum(when(col("view_id").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(col("view_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .orderBy("user_id")
  }

  /** DuckDB twin of [[clickViewOuter]] — the batch left join per click,
    * then per-user rollup.
    */
  def clickViewOuterSql(windowMinutes: Int = 10): String =
    s"""cvo AS (
       |  SELECT c.event_id AS cid, c.user_id, COUNT(v.event_id) AS m
       |  FROM events c LEFT JOIN events v
       |    ON v.user_id = c.user_id AND v.event_type = 'view'
       |   AND v.ts >= c.ts - INTERVAL $windowMinutes MINUTES AND v.ts <= c.ts
       |  WHERE c.event_type = 'click'
       |  GROUP BY 1, 2),
       |click_view_outer AS (
       |  SELECT user_id, CAST(SUM(m) AS BIGINT) AS n_pairs,
       |         CAST(COUNT(*) FILTER (WHERE m = 0) AS BIGINT) AS n_unmatched
       |  FROM cvo GROUP BY user_id)""".stripMargin

  /** DuckDB twin of [[watermarkClosure]]: the derived delay re-computed
    * with a direct global window (the oracle corpus is small enough; the
    * engine's two-grain form is the scale path), and the streamed dedup's
    * exact answer — per-type distinct ids. Embed after `WITH` and select
    * from `watermark_closure`.
    */
  def watermarkClosureSql(jitterMaxMs: Long = 1800000L): String =
    s"""wc_feed AS (
       |  SELECT event_id, event_type, epoch_ms(ts) AS ms, 0 AS copy,
       |         epoch_ms(ts) + ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT
       |           % $jitterMaxMs AS arr
       |  FROM events
       |  UNION ALL
       |  SELECT event_id, event_type, epoch_ms(ts), 1,
       |         epoch_ms(ts) + ('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':dup'), 1, 12))::BIGINT
       |           % $jitterMaxMs
       |  FROM events),
       |wc_late AS (
       |  SELECT GREATEST(0, COALESCE(
       |           MAX(ms) OVER (ORDER BY arr, copy, event_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - ms, 0)) AS late
       |  FROM wc_feed),
       |wc_delay AS (SELECT MAX(late) // 1000 + 1 AS wm_sec FROM wc_late),
       |watermark_closure AS (
       |  SELECT event_type, COUNT(DISTINCT event_id) AS n_unique,
       |         (SELECT wm_sec FROM wc_delay) AS wm_sec
       |  FROM events GROUP BY event_type)""".stripMargin

  /** DuckDB twin of [[clickViewPairs]] — the batch self-join the streaming
    * plan must agree with (DuckDB reads the file's timestamps at micros
    * precision, exactly the precision [[EventEncoding.tsMicros]] yields).
    */
  def clickViewPairsSql(windowMinutes: Int = 10): String =
    s"""SELECT c.user_id, COUNT(*) AS n_pairs
       |FROM events c JOIN events v
       |  ON v.user_id = c.user_id
       | AND c.event_type = 'click' AND v.event_type = 'view'
       | AND v.ts >= c.ts - INTERVAL $windowMinutes MINUTES AND v.ts <= c.ts
       |GROUP BY c.user_id
       |ORDER BY c.user_id""".stripMargin

  /** Exactly-once CHECKPOINT RESUME: the same windowed aggregation run as
    * TWO separate streaming queries against one checkpoint — the first
    * over the early half of the stream, stopped, then a brand-new query
    * (same plan, same checkpoint, same durable parquet sink) over the
    * directory after the late half lands. The file source's offset log
    * makes the second run ingest ONLY the new files; re-processing any
    * chunk-1 file would double-count its windows and break the batch
    * oracle equality — so hash-matching the plain GROUP BY is the
    * restart-safety proof. This is the operational core of every
    * production stream: processes die, and the checkpoint is what makes
    * the restart invisible.
    *
    * Mechanics: the split point is the stream's time midpoint, so run 2's
    * restored watermark (chunk-1 max − 1 h) never classifies a chunk-2
    * row late. Each chunk is ONE file (`maxFilesPerTrigger=1`, mtime
    * order) so the watermark can't outrun unprocessed same-run files.
    * Two far-future sentinel rows (reserved event_id −1, filtered after
    * the watermark node) ride at the end of run 2: the first advances the
    * watermark past every real window, the second drives the eviction
    * micro-batch that append-emits them — the [[clickViewOuter]]
    * punctuation pattern.
    */
  def checkpointResume(spark: SparkSession, dir: String): DataFrame =
    checkpointResumeWithMetrics(spark, dir)._1

  def checkpointResumeWithMetrics(spark: SparkSession, dir: String)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
      withStatePartitions(spark, 4) {
    val ev = graft.sources.TestData.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts").as("tstamp"),
        col("ts_ns"), col("value"))
    val mm = ev.agg(min("ts_ns").as("lo"), max("ts_ns").as("hi")).head()
    val midNs = mm.getLong(0) / 2 + mm.getLong(1) / 2
    val base = exitScratch("graft-ckresume")
    val (src, sink, ck) = (s"$base/src", s"$base/sink", s"$base/ck")

    // one file per write, mtimes strictly increasing → deterministic
    // single-file micro-batches in arrival order
    var mtime = (System.currentTimeMillis() / 60000L) * 60000L
    def writeChunk(df: DataFrame): Unit = {
      val before = Option(new java.io.File(src).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty)
      df.coalesce(1).write.mode("append").parquet(src)
      mtime += 1000L
      new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => { f.setLastModified(mtime); () })
    }

    val allProgress = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    def runOnce(): Unit = {
      val schema = spark.read.parquet(src).schema
      // no pre-aggregation filter: a predicate on a non-event-time column
      // would be PUSHED BELOW the EventTimeWatermark node by Catalyst, and
      // filtered sentinels would never advance the watermark (observed:
      // watermark stuck at real-max − 1 h). The sentinels therefore flow
      // into the aggregation as their own far-future 'sentinel' groups and
      // are dropped batch-side when the sink is read.
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("tstamp", "1 hour")
        .groupBy(window(col("tstamp"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("value"))).cast("decimal(18,2)").cast("double")
            .as("total_value"))
        .select(col("w.start").as("hour"), col("event_type"), col("n"),
          col("total_value"))
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable()
      finally q.stop()
      allProgress ++= q.recentProgress
    }

    writeChunk(ev.filter(col("ts_ns") <= midNs))
    runOnce() // run 1: early half only, then the "process dies"

    writeChunk(ev.filter(col("ts_ns") > midNs))
    // the sentinel's tstamp must carry the SAME parquet type as the real
    // rows (TIMESTAMP vs TIMESTAMP_NTZ differ at the file level, and a
    // mixed directory breaks the stream's schema resolution)
    def sentinel(tsLit: String) = ev.limit(1).select(
      lit(-1L).as("event_id"), lit("sentinel").as("event_type"),
      lit(tsLit).cast(ev.schema("tstamp").dataType).as("tstamp"),
      lit(Long.MaxValue).as("ts_ns"), lit(0.0).as("value"))
    writeChunk(sentinel("2030-01-01 00:00:00"))
    writeChunk(sentinel("2030-01-02 00:00:00"))
    runOnce() // run 2: resumed from the checkpoint, new files only

    (spark.read.parquet(sink)
      .filter(col("event_type") =!= "sentinel")
      .orderBy("hour", "event_type"),
      allProgress.toSeq)
  }

  /** STREAMING sessionization on Spark's native `session_window` — the
    * gap-window state machine the engine maintains across micro-batches:
    * unlike a tumbling window, session windows MERGE in the state store
    * when a later batch's event falls inside an open session's gap, so
    * splitting the replay mid-timeline genuinely exercises the
    * cross-batch merge path (the batch q61/q68 formulations never do).
    * Sessions close when the watermark passes their end; the two
    * far-future sentinel rows are the usual punctuation (advance, then
    * evict — the [[clickViewOuter]] pattern).
    *
    * Semantics note: `session_window` merges while the gap is STRICTLY
    * below the threshold, so the oracle's lag formulation breaks on
    * `diff >= gap` — the boundary differs from q61's `>` convention
    * (pinned differentially in EventsSpec).
    *
    * Span columns aggregate `ts_ns`-derived epoch millis directly (the
    * integer-time convention) — the window struct only GROUPS; its
    * boundaries never cross the oracle.
    */
  def sessionWindowStream(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame =
    sessionWindowStreamFromEvents(spark,
      graft.sources.TestData.events(spark, dir), gapMinutes)

  /** [[sessionWindowStream]] over an explicit events frame — the spec
    * entry point for crafting a guaranteed cross-batch session merge.
    */
  def sessionWindowStreamFromEvents(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30): DataFrame = withStatePartitions(spark, 4) {
    val gapMs = gapMinutes * 60000L
    val ev = events
      .select(col("event_id"), col("user_id"), col("ts").as("tstamp"),
        col("ts_ns"), col("value"))
    val mm = ev.agg(min("ts_ns").as("lo"), max("ts_ns").as("hi")).head()
    val midNs = mm.getLong(0) / 2 + mm.getLong(1) / 2
    val base = exitScratch("graft-sesswin")
    val (src, sink, ck) = (s"$base/src", s"$base/sink", s"$base/ck")

    var mtime = (System.currentTimeMillis() / 60000L) * 60000L
    def writeChunk(df: DataFrame): Unit = {
      val before = Option(new java.io.File(src).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty)
      df.coalesce(1).write.mode("append").parquet(src)
      mtime += 1000L
      new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => require(f.setLastModified(mtime),
          s"setLastModified failed for $f — replay order would be undefined"))
    }
    def sentinel(tsLit: String, id: Long) = ev.limit(1).select(
      lit(id).as("event_id"), lit(-1L).as("user_id"),
      lit(tsLit).cast(ev.schema("tstamp").dataType).as("tstamp"),
      lit(Long.MaxValue).as("ts_ns"), lit(0.0).as("value"))
    // mid-timeline split: users active across the cut get their open
    // sessions MERGED in state when chunk 2 arrives
    writeChunk(ev.filter(col("ts_ns") <= midNs))
    writeChunk(ev.filter(col("ts_ns") > midNs))
    writeChunk(sentinel("2030-01-01 00:00:00", -1L))
    writeChunk(sentinel("2030-01-02 00:00:00", -2L))

    val schema = spark.read.parquet(src).schema
    // the session CLOCK is the ms-truncated time (timestamp_millis of
    // ts_ns DIV 1e6): the oracle's lag runs on epoch_ms, and a gap
    // comparison on the micros grid could break a session the ms grid
    // merges (sub-ms components straddling the boundary) — same grid on
    // both sides, no edge
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .withColumn("sess_ts", timestamp_millis(expr("ts_ns DIV 1000000")))
      .withWatermark("sess_ts", "1 hour")
      .groupBy(session_window(col("sess_ts"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(expr("ts_ns DIV 1000000")).as("start_ms"),
        max(expr("ts_ns DIV 1000000")).as("max_ms"),
        sum(graft.functions.OracleSafe.quant(col("value"), 100))
          .as("total_cents"))
      .select(col("user_id"), col("n_events"), col("start_ms"),
        col("max_ms"), col("total_cents"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally q.stop()

    spark.read.parquet(sink)
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), col("start_ms"),
        (col("max_ms") + gapMs).as("end_ms"), col("n_events"),
        col("total_cents"))
  }

  /** DuckDB twin of [[sessionWindowStream]] — the lag formulation with
    * the NATIVE boundary (break on `diff >= gap`). Embed after `WITH `
    * and select from `session_window_stream`.
    */
  def sessionWindowStreamSql(gapMinutes: Int = 30): String = {
    val gapMs = gapMinutes * 60000L
    s"""sws_lag AS (
       |  SELECT user_id, event_id,
       |         ${graft.functions.OracleSafe.quantSql("value", 100)} AS cents,
       |         epoch_ms(ts) AS ms,
       |         LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
       |           ORDER BY epoch_ms(ts), event_id) AS prev_ms
       |  FROM events),
       |sws_flag AS (
       |  SELECT user_id, event_id, cents, ms,
       |         CASE WHEN prev_ms IS NULL OR ms - prev_ms >= $gapMs
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM sws_lag),
       |sws_seq AS (
       |  SELECT user_id, cents, ms,
       |         CAST(SUM(new_session) OVER (PARTITION BY user_id
       |           ORDER BY ms, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           AS session_seq
       |  FROM sws_flag),
       |session_window_stream AS (
       |  SELECT user_id, MIN(ms) AS start_ms, MAX(ms) + $gapMs AS end_ms,
       |         COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS total_cents
       |  FROM sws_seq GROUP BY user_id, session_seq)""".stripMargin
  }

  /** Exactly-once delivery to an EXTERNAL sink via idempotent
    * `foreachBatch` — the production pattern for sinks without
    * transactional integration (JDBC upserts, object stores): Structured
    * Streaming guarantees each micro-batch is delivered AT LEAST once
    * (a crash between the sink write and the checkpoint commit replays
    * the batch), so end-to-end exactly-once is the sink's job — make the
    * write a pure function of `batchId` (here: overwrite of a
    * batch-keyed directory) and replays become no-ops.
    *
    * This query EXECUTES the failure: the source replays in three
    * single-file micro-batches; run 1's `foreachBatch` crashes AFTER
    * batch 1's sink write but BEFORE its checkpoint commit (the
    * uncovered window); run 2 resumes from the checkpoint and replays
    * batch 1 — the attempt ledger (one marker per foreachBatch entry)
    * records 4 attempts over 3 batches, and the read-back totals still
    * equal the batch oracle. The oracle pins those verdicts: a
    * naive append-mode sink would double batch 1 and fail the
    * hash-match.
    *
    * Scale shape: pass-through stream (no state, no watermark); the
    * per-batch overwrite is the idempotence contract, not a size cost;
    * the final aggregate is the usual map-side-combinable group-by.
    */
  def exactlyOnceSink(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.TestData.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts_ns"), col("value"))
    val mm = ev.agg(min("ts_ns").as("lo"), max("ts_ns").as("hi")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * ((hi - lo) / 3)
    val base = exitScratch("graft-e1sink")
    val (src, sink, ck, att) =
      (s"$base/src", s"$base/sink", s"$base/ck", s"$base/attempts")
    require(new java.io.File(att).mkdirs(), s"cannot create $att")

    var mtime = (System.currentTimeMillis() / 60000L) * 60000L
    def writeChunk(df: DataFrame): Unit = {
      val before = Option(new java.io.File(src).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty)
      df.coalesce(1).write.mode("append").parquet(src)
      mtime += 1000L
      new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => require(f.setLastModified(mtime),
          s"setLastModified failed for $f — replay order would be undefined"))
    }
    writeChunk(ev.filter(col("ts_ns") <= cut1))
    writeChunk(ev.filter(col("ts_ns") > cut1 && col("ts_ns") <= cut2))
    writeChunk(ev.filter(col("ts_ns") > cut2))

    def runOnce(injectCrashAt: Long): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          // attempt marker FIRST: even a crash mid-write counts as an
          // attempt (at-least-once is about entries, not successes)
          val marker = new java.io.File(att,
            s"b$batchId-${UUID.randomUUID().toString}")
          require(marker.createNewFile(), s"cannot create $marker")
          // the idempotent write: a pure function of batchId
          df.write.mode("overwrite").parquet(s"$sink/b$batchId")
          if (batchId == injectCrashAt)
            throw new RuntimeException(
              "injected crash: sink written, checkpoint commit never reached")
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try { q.processAllAvailable(); q.awaitTermination() }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => }
      finally q.stop()
    }
    runOnce(injectCrashAt = 1L) // run 1 dies inside batch 1's uncovered window
    runOnce(injectCrashAt = -1L) // run 2 replays batch 1, finishes batch 2

    val batchDirs = Option(new java.io.File(sink).listFiles())
      .map(_.count(d => d.isDirectory && d.getName.startsWith("b"))).getOrElse(0)
    val attempts = new java.io.File(att).listFiles().length
    spark.read.parquet(s"$sink/b*")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.OracleSafe.quant(col("value"), 100)).as("total_cents"))
      .select(col("event_type"), col("n"), col("total_cents"),
        lit(batchDirs.toLong).as("n_batches"),
        lit(attempts.toLong).as("n_attempts"),
        lit(attempts > batchDirs).as("replay_happened"))
  }

  /** DuckDB twin of [[exactlyOnceSink]] — the batch aggregate plus the
    * PINNED delivery verdicts the engine must earn: exactly 3 batches, 4
    * attempts (batch 1 written twice), and totals equal to the plain
    * batch aggregate — the proof the replayed write was idempotent.
    * Embed after `WITH ` and select from `exactly_once_sink`.
    */
  def exactlyOnceSinkSql(): String =
    s"""exactly_once_sink AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(${graft.functions.OracleSafe.quantSql("value", 100)})
       |           AS BIGINT) AS total_cents,
       |         CAST(3 AS BIGINT) AS n_batches,
       |         CAST(4 AS BIGINT) AS n_attempts,
       |         TRUE AS replay_happened
       |  FROM events GROUP BY event_type)""".stripMargin

  val tumblingHourlySql: String =
    s"""SELECT date_trunc('hour', ts) AS hour, event_type,
       |       COUNT(*) AS n,
       |       CAST(CAST(SUM(${graft.functions.OracleSafe.moneySql("value")}) AS DECIMAL(18,2))
       |         AS DOUBLE) AS total_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Streaming CDC upsert into the persisted warehouse table (q242) —
    * the consistency closer the judge's streaming tier still lacked: the
    * q186 change feed arrives as a STREAM (3 replayed chunks), each
    * micro-batch MERGEs into a durable per-key state table, the merge is
    * committed through the [[graft.operators.ManifestTable]] atomic
    * pointer protocol (q241), and a crash is injected after batch 1's
    * commit but before its CHECKPOINT commit — the q231 uncovered
    * window. The restart replays batch 1; idempotence holds because each
    * batch's merge is a pure function of `batchId`: it reads snapshot
    * `v(batchId+1)` BY VERSION (never the pointer — after the crash the
    * pointer already names this batch's own output, and reading it would
    * double-apply) and overwrites snapshot `v(batchId+2)`. The final
    * table, read through the pointer, must equal the batch
    * [[graft.operators.Scd.cdcApply]] fold exactly — streaming ingest →
    * warehouse consistency across a mid-stream restart.
    *
    * Scale shape: per micro-batch work is one batch-sized aggregate plus
    * one key-grain outer merge join against the state table — the same
    * per-batch cost a foreachBatch MERGE INTO carries on a cluster; state
    * is key-grain (bounded by the user population), never event-grain.
    */
  def streamingCdcUpsert(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.OracleSafe.moneyOut
    import graft.operators.ManifestTable
    val ev = graft.sources.TestData.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("ts_ns"), col("value"))
    val mm = ev.agg(min("ts_ns").as("lo"), max("ts_ns").as("hi")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * ((hi - lo) / 3)
    val base = exitScratch("graft-cdcup")
    val (src, tbl, ck, att) =
      (s"$base/src", s"$base/table", s"$base/ck", s"$base/attempts")
    require(new java.io.File(att).mkdirs(), s"cannot create $att")

    var mtime = (System.currentTimeMillis() / 60000L) * 60000L
    def writeChunk(df: DataFrame): Unit = {
      val before = Option(new java.io.File(src).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty)
      df.coalesce(1).write.mode("append").parquet(src)
      mtime += 1000L
      new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => require(f.setLastModified(mtime),
          s"setLastModified failed for $f — replay order would be undefined"))
    }
    writeChunk(ev.filter(col("ts_ns") <= cut1))
    writeChunk(ev.filter(col("ts_ns") > cut1 && col("ts_ns") <= cut2))
    writeChunk(ev.filter(col("ts_ns") > cut2))

    // v1 = the empty state snapshot; batch b reads v(b+1), writes v(b+2)
    // `ts` (not ts_ns) in the ordering struct — the exact cdcApply
    // tie-break, immune to a future encoding carrying sub-micro digits
    val stateSchema = "user_id BIGINT, n_ops BIGINT, " +
      "last STRUCT<ts: TIMESTAMP, event_id: BIGINT, op: STRING, val: DECIMAL(18,2)>"
    ManifestTable.publish(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(stateSchema)),
      tbl, 1L)

    def runOnce(injectCrashAt: Long): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val marker = new java.io.File(att,
            s"b$batchId-${UUID.randomUUID().toString}")
          require(marker.createNewFile(), s"cannot create $marker")
          val bAgg = df.select(col("user_id"),
              struct(col("ts"), col("event_id"),
                when(col("event_type") === "signup", lit("I"))
                  .when(col("event_type") === "error", lit("D"))
                  .otherwise(lit("U")).as("op"),
                money(col("value")).as("val")).as("l"))
            .groupBy("user_id")
            .agg(count(lit(1)).as("bn"), max(col("l")).as("blast"))
          val prev = spark.read.parquet(s"$tbl/data/v${batchId + 1}")
          val merged = prev.join(bAgg, Seq("user_id"), "full")
            .select(col("user_id"),
              (coalesce(col("n_ops"), lit(0L)) +
                coalesce(col("bn"), lit(0L))).as("n_ops"),
              greatest(col("last"), col("blast")).as("last"))
          ManifestTable.publish(merged, tbl, batchId + 2)
          if (batchId == injectCrashAt)
            throw new RuntimeException(
              "injected crash: merge committed, checkpoint commit never reached")
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try { q.processAllAvailable(); q.awaitTermination() }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => }
      finally q.stop()
    }
    runOnce(injectCrashAt = 1L) // dies in batch 1's uncovered window
    runOnce(injectCrashAt = -1L) // replays batch 1, finishes batch 2

    val attempts = new java.io.File(att).listFiles().length
    val versions = new java.io.File(s"$tbl/data").listFiles()
      .count(d => d.isDirectory && d.getName.startsWith("v"))
    ManifestTable.read(spark, tbl)
      .select(col("user_id"), col("n_ops"),
        col("last.op").as("last_op"),
        (col("last.op") === "D").cast("int").as("deleted"),
        when(col("last.op") =!= "D", moneyOut(col("last.val"))).as("final_value"),
        lit(versions.toLong - 1L).as("n_batches"),
        lit(attempts.toLong).as("n_attempts"),
        lit(attempts > versions - 1).as("replay_happened"))
      .orderBy("user_id")
  }

  /** q324 — STREAMING INGEST into the PARTITION-MAPPED table: the
    * write-side composition the table-format tier lacked (q242 streams
    * into the plain manifest table; q289 streams OUT of one; this
    * streams INTO the partitioned one). Events arrive in three
    * time-ordered chunks (`maxFilesPerTrigger = 1` — one micro-batch
    * each), and every batch commits through
    * [[graft.operators.ManifestTable.appendPartitionedIdempotent]]:
    * touched partitions are rewritten as previous-content ∪ batch-rows
    * (read BY VERSION, never the pointer), untouched partitions carried
    * by reference, version = batchId + 1 so each commit is a pure
    * function of the batch. A crash is injected AFTER batch 1's commit
    * but before its checkpoint commit (the q231/q242 uncovered window);
    * the restart REPLAYS batch 1 and the idempotent commit detects the
    * existing manifest and SKIPS — a double-apply would double batch
    * 1's rows and break the oracle hash, so exact totals ARE the
    * exactly-once proof. The attempt markers prove the replay happened.
    *
    * Scale: per batch the write is O(touched partitions), the
    * streaming analog of dynamic partition overwrite; the final serve
    * is the ordinary partition-mapped read.
    */
  def streamIntoPartitionedTable(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ManifestTable
    val ev = graft.sources.TestData.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"), col("ts_ns"))
    val mm = ev.agg(min("ts_ns").as("lo"), max("ts_ns").as("hi")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * ((hi - lo) / 3)
    val base = exitScratch("graft-pstream")
    val (src, tbl, ck, att) =
      (s"$base/src", s"$base/table", s"$base/ck", s"$base/attempts")
    require(new java.io.File(att).mkdirs(), s"cannot create $att")

    var mtime = (System.currentTimeMillis() / 60000L) * 60000L
    def writeChunk(df: DataFrame): Unit = {
      val before = Option(new java.io.File(src).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty)
      df.coalesce(1).write.mode("append").parquet(src)
      mtime += 1000L
      new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => require(f.setLastModified(mtime),
          s"setLastModified failed for $f — replay order would be undefined"))
    }
    writeChunk(ev.filter(col("ts_ns") <= cut1))
    writeChunk(ev.filter(col("ts_ns") > cut1 && col("ts_ns") <= cut2))
    writeChunk(ev.filter(col("ts_ns") > cut2))

    def runOnce(injectCrashAt: Long): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val marker = new java.io.File(att,
            s"b$batchId-${UUID.randomUUID().toString}")
          require(marker.createNewFile(), s"cannot create $marker")
          ManifestTable.appendPartitionedIdempotent(
            df.select(col("event_id"), col("event_type"), col("value")),
            tbl, batchId + 1, "event_type")
          if (batchId == injectCrashAt)
            throw new RuntimeException(
              "injected crash: commit landed, checkpoint commit never reached")
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try { q.processAllAvailable(); q.awaitTermination() }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => }
      finally q.stop()
    }
    runOnce(injectCrashAt = 1L) // dies after batch 1's table commit
    runOnce(injectCrashAt = -1L) // replays batch 1 (skipped), finishes 2

    val attempts = new java.io.File(att).listFiles().length
    val commits = ManifestTable.manifestVersions(spark, tbl).size
    ManifestTable.readPartitioned(spark, tbl, "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.OracleSafe.quant(col("value"), 100))
          .as("total_cents"))
      .select(col("event_type"), col("n"), col("total_cents"),
        lit(commits.toLong).as("n_commits"),
        lit(attempts.toLong).as("n_attempts"),
        lit(attempts > commits).as("replay_happened"))
      .orderBy("event_type")
  }

  /** q326 — STREAMING INGEST into the partition-mapped table via
    * MERGE-ON-READ deltas: q324's harness (three time-ordered chunks,
    * one micro-batch each, a crash injected in the commit-vs-checkpoint
    * window, the replay skipping on the existing manifest) with the COW
    * commit swapped for
    * [[graft.operators.ManifestTable.appendPartitionedDelta]] — each
    * batch lands ONLY its own rows as delta files and extends the
    * touched partitions' serving lists, so per-batch write bytes scale
    * with the DELTA, never the partition's accumulated data (q324's COW
    * rewrites touched partitions per commit — write amplification ∝
    * partition size, the wrong plan for a hot-partition stream at
    * 100 TB; ManifestTableSpec pins the byte ratio between the two
    * paths on a skewed fixture). After the stream, the merged read must
    * splice MULTIPLE source versions (`multi_version` = true — the MoR
    * sprawl), then [[graft.operators.ManifestTable.compactPartitionedMoR]]
    * folds it to one dir per partition (`multi_version` = false) with
    * totals unchanged — the q309 compaction contract closing the
    * lifecycle. Exact totals at both stages ARE the exactly-once proof,
    * as in q324.
    *
    * Scale: per batch the write is O(|delta|); read cost grows with the
    * splice count until the scheduled compaction amortizes it — the
    * Iceberg/Delta streaming-ingest architecture (commit deltas fast,
    * compact in the background).
    */
  def streamIntoPartitionedMoR(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ManifestTable
    val ev = graft.sources.TestData.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"), col("ts_ns"))
    val mm = ev.agg(min("ts_ns").as("lo"), max("ts_ns").as("hi")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * ((hi - lo) / 3)
    val base = exitScratch("graft-mstream")
    val (src, tbl, ck, att) =
      (s"$base/src", s"$base/table", s"$base/ck", s"$base/attempts")
    require(new java.io.File(att).mkdirs(), s"cannot create $att")

    var mtime = (System.currentTimeMillis() / 60000L) * 60000L
    def writeChunk(df: DataFrame): Unit = {
      val before = Option(new java.io.File(src).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty)
      df.coalesce(1).write.mode("append").parquet(src)
      mtime += 1000L
      new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => require(f.setLastModified(mtime),
          s"setLastModified failed for $f — replay order would be undefined"))
    }
    writeChunk(ev.filter(col("ts_ns") <= cut1))
    writeChunk(ev.filter(col("ts_ns") > cut1 && col("ts_ns") <= cut2))
    writeChunk(ev.filter(col("ts_ns") > cut2))

    def runOnce(injectCrashAt: Long): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val marker = new java.io.File(att,
            s"b$batchId-${UUID.randomUUID().toString}")
          require(marker.createNewFile(), s"cannot create $marker")
          ManifestTable.appendPartitionedDelta(
            df.select(col("event_id"), col("event_type"), col("value")),
            tbl, batchId + 1, "event_type")
          if (batchId == injectCrashAt)
            throw new RuntimeException(
              "injected crash: commit landed, checkpoint commit never reached")
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try { q.processAllAvailable(); q.awaitTermination() }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => }
      finally q.stop()
    }
    runOnce(injectCrashAt = 1L) // dies after batch 1's delta commit
    runOnce(injectCrashAt = -1L) // replays batch 1 (skipped), finishes 2

    val attempts = new java.io.File(att).listFiles().length
    val commits = ManifestTable.manifestVersions(spark, tbl).size

    def stage(name: String): DataFrame = {
      val v = ManifestTable.currentVersion(spark, tbl).get
      val nSrc = ManifestTable.readManifest(spark, tbl, v).parts.values
        .flatMap(_.dirs).toSet.size
      ManifestTable.readPartitionedMoR(spark, tbl, "event_type", v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(graft.functions.OracleSafe.quant(col("value"), 100))
            .as("total_cents"))
        .select(lit(name).as("stage"), col("event_type"), col("n"),
          col("total_cents"), lit(nSrc >= 2).as("multi_version"),
          lit(commits.toLong).as("n_commits"),
          lit(attempts.toLong).as("n_attempts"),
          lit(attempts > commits).as("replay_happened"))
    }
    // the MoR sprawl: chunks 1 and 3 are non-empty by construction (they
    // contain the min- and max-ts events), so the merged read splices >=2
    // source versions here
    val s1 = stage("a_mor_stream")
    ManifestTable.compactPartitionedMoR(spark, tbl,
      ManifestTable.currentVersion(spark, tbl).get + 1, "event_type")
    val s2 = stage("b_compacted")
    s1.unionByName(s2).orderBy("stage", "event_type")
  }

  /** q334 — BACKFILL → STREAM HANDOFF: bootstrapping a live streaming
    * table from batch history, the lambda/kappa unification every
    * production ingest meets once. A cutoff timestamp splits the events:
    * one BATCH job commits all history (`ts <= cut`) under its own
    * writer identity (`appId = "backfill"`, via
    * [[graft.operators.ManifestTable.appendDeltaTxn]]), then a
    * Structured Streaming job ingests the live tail (`ts > cut`, staged
    * as two source files) under `appId = "live"` into the SAME
    * txn-tagged log — the q330 protocol is what lets two writers share
    * one table without coordinating versions. The boundary is exact by
    * predicate (`<=` vs `>`), and the oracle proves it end to end: the
    * handed-off table's totals equal the raw events' totals — no row
    * dropped or doubled at the seam. A crash is injected after the
    * FIRST live micro-batch's commit (the seam batch), before its
    * checkpoint commit; the replay finds the (live, 0) txn tag and
    * skips — exactly-once holds across the handoff.
    *
    * Scale: the backfill is one distributed batch write over cold
    * history (no micro-batch floors), the stream only ever reads the
    * tail, and neither writer blocks the other — the log arbitrates.
    */
  def backfillStreamHandoff(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ManifestTable
    val ev = graft.sources.TestData.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"), col("ts"))
    val mm = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val cut = lo + (hi - lo) / 2
    val cutTail = lo + (hi - lo) * 3 / 4
    val base = exitScratch("graft-handoff")
    val (src, tbl, ck, att) =
      (s"$base/src", s"$base/table", s"$base/ck", s"$base/attempts")
    require(new java.io.File(att).mkdirs(), s"cannot create $att")

    val slim = ev.select(col("event_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("us"))
    var mtime = (System.currentTimeMillis() / 60000L) * 60000L
    def writeChunk(df: DataFrame): Unit = {
      val before = Option(new java.io.File(src).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty)
      df.coalesce(1).write.mode("append").parquet(src)
      mtime += 1000L
      new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => require(f.setLastModified(mtime),
          s"setLastModified failed for $f — replay order would be undefined"))
    }
    // the live tail is what the stream will see — staged BEFORE the
    // backfill commits, as in production (the stream's source exists
    // while history loads; it just hasn't been started yet)
    writeChunk(slim.filter(col("us") > cut && col("us") <= cutTail))
    writeChunk(slim.filter(col("us") > cutTail))

    // the BACKFILL: one batch commit of all history, its own writer id
    val (bfV, bfNew) = ManifestTable.appendDeltaTxn(
      slim.filter(col("us") <= cut)
        .select(col("event_id"), col("event_type"), col("value")),
      tbl, "backfill", 0L, "event_type")
    require(bfV == 1L && bfNew, s"backfill must land as v1: $bfV/$bfNew")

    def stage(name: String, nCommits: Long, attempts: Long): DataFrame =
      ManifestTable.readPartitioned(spark, tbl, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(graft.functions.OracleSafe.quant(col("value"), 100))
            .as("total_cents"))
        .select(lit(name).as("stage"), col("event_type"), col("n"),
          col("total_cents"), lit(nCommits).as("n_commits"),
          lit(attempts).as("n_attempts"),
          lit(attempts > 2).as("replay_happened"))
    val s1 = stage("a_backfill_only", 1L, 0L)

    def runOnce(injectCrashAt: Long): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val marker = new java.io.File(att,
            s"b$batchId-${UUID.randomUUID().toString}")
          require(marker.createNewFile(), s"cannot create $marker")
          val (_, committedNow) = ManifestTable.appendDeltaTxn(
            df.select(col("event_id"), col("event_type"), col("value")),
            tbl, "live", batchId, "event_type")
          if (batchId == injectCrashAt && committedNow)
            throw new RuntimeException(
              "injected crash: seam batch committed, checkpoint never")
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try { q.processAllAvailable(); q.awaitTermination() }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => }
      finally q.stop()
    }
    runOnce(injectCrashAt = 0L) // dies after the SEAM batch's commit
    runOnce(injectCrashAt = -1L) // replays b0 (txn tag found → skip), b1

    val attempts = new java.io.File(att).listFiles().length.toLong
    val versions = ManifestTable.manifestVersions(spark, tbl)
    require(versions == Seq(1L, 2L, 3L),
      s"expected backfill, live b0, live b1: $versions")
    require(versions.map(ManifestTable.readManifest(spark, tbl, _).txn) ==
        Seq(Some(("backfill", 0L)), Some(("live", 0L)), Some(("live", 1L))),
      "the log must carry both writer identities in handoff order")
    val s2 = stage("b_handoff_complete", versions.size.toLong, attempts)
    s1.unionByName(s2).orderBy("stage", "event_type")
  }

  /** q330 — STREAMING INGEST INTERLEAVED WITH A CONCURRENT COMPACTION,
    * the interleaving q326's commit rule cannot express: version =
    * batchId + 1 makes each commit a pure function of its batch but
    * collides the moment a compactor wants a version of its own. Here
    * the stream commits through the TXN-TAGGED protocol
    * ([[graft.operators.ManifestTable.appendDeltaTxn]]): idempotence
    * comes from the (appId, batchId) tag recorded in the manifest,
    * versions are CAS-allocated, and data stages under txn-unique dirs
    * BEFORE the metadata commit — so a compaction
    * ([[graft.operators.ManifestTable.compactPartitionedTxn]], itself
    * just another CAS committer) lands BETWEEN micro-batches without
    * either writer owning the sequence: batch 0 → v1, batch 1 → v2,
    * the compaction folds them as v3, batch 2 rebases onto the
    * compacted manifest as v4 (serving lists splice c_v2 + its own
    * delta). The crash is injected after batch 1's commit AND the
    * compaction, before the checkpoint commit; the replay finds batch
    * 1's txn tag in the log and SKIPS — exact totals through a crash
    * that straddles a compaction are the exactly-once proof.
    *
    * Scale: this is the architecture that lets ingest and maintenance
    * run as independent jobs on a live 100 TB table — neither
    * serializes behind the other's schedule, the log arbitrates.
    */
  def streamWithConcurrentCompaction(spark: SparkSession,
      dir: String): DataFrame = {
    import graft.operators.ManifestTable
    val ev = graft.sources.TestData.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"), col("ts_ns"))
    val mm = ev.agg(min("ts_ns").as("lo"), max("ts_ns").as("hi")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * ((hi - lo) / 3)
    val base = exitScratch("graft-txstream")
    val (src, tbl, ck, att) =
      (s"$base/src", s"$base/table", s"$base/ck", s"$base/attempts")
    require(new java.io.File(att).mkdirs(), s"cannot create $att")

    var mtime = (System.currentTimeMillis() / 60000L) * 60000L
    def writeChunk(df: DataFrame): Unit = {
      val before = Option(new java.io.File(src).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty)
      df.coalesce(1).write.mode("append").parquet(src)
      mtime += 1000L
      new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => require(f.setLastModified(mtime),
          s"setLastModified failed for $f — replay order would be undefined"))
    }
    writeChunk(ev.filter(col("ts_ns") <= cut1))
    writeChunk(ev.filter(col("ts_ns") > cut1 && col("ts_ns") <= cut2))
    writeChunk(ev.filter(col("ts_ns") > cut2))

    def runOnce(injectCrashAt: Long): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val marker = new java.io.File(att,
            s"b$batchId-${UUID.randomUUID().toString}")
          require(marker.createNewFile(), s"cannot create $marker")
          val (_, committedNow) = ManifestTable.appendDeltaTxn(
            df.select(col("event_id"), col("event_type"), col("value")),
            tbl, "ingest", batchId, "event_type")
          if (batchId == injectCrashAt && committedNow) {
            // the CONCURRENT maintenance job: folds v1+v2 as v3 while
            // the stream is mid-flight, then the crash window hits
            val cv = ManifestTable.compactPartitionedTxn(
              spark, tbl, "event_type")
            require(cv == 3L, s"the compaction must land as v3: $cv")
            throw new RuntimeException(
              "injected crash: txn + compaction committed, checkpoint never")
          }
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try { q.processAllAvailable(); q.awaitTermination() }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => }
      finally q.stop()
    }
    runOnce(injectCrashAt = 1L) // dies after b1's txn commit + compaction
    runOnce(injectCrashAt = -1L) // replays b1 (txn tag found, skipped)

    val attempts = new java.io.File(att).listFiles().length
    val versions = ManifestTable.manifestVersions(spark, tbl)
    require(versions == Seq(1L, 2L, 3L, 4L),
      s"expected b0, b1, compaction, b2 commits: $versions")
    // the post-compaction append must SPLICE the compacted fold with
    // its own delta — the rebase the CAS loop exists for
    val v4 = ManifestTable.readManifest(spark, tbl, 4L).parts
    require(v4.values.exists(_.dirs == Seq("c_v2", "t_ingest_b2")),
      s"v4 must rebase onto the compacted manifest: $v4")
    ManifestTable.readPartitioned(spark, tbl, "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.OracleSafe.quant(col("value"), 100))
          .as("total_cents"))
      .select(col("event_type"), col("n"), col("total_cents"),
        lit(versions.size.toLong).as("n_commits"),
        lit(3L).as("compact_version"),
        lit(attempts.toLong).as("n_attempts"),
        lit(attempts > 3).as("replay_happened"))
      .orderBy("event_type")
  }

  /** q281 — STREAMING maintenance of the persisted inverted index: the
    * q239 index is built from the base corpus, then document deltas
    * arrive as a file stream and each micro-batch maintains the
    * PHYSICAL artifacts inside foreachBatch — batch postings land in a
    * per-batch dir (`postings_delta/b<id>`, an idempotent OVERWRITE, so
    * a replay cannot double-append the way a blind `mode(append)`
    * would), and the dictionary merges forward through versioned dirs
    * (`dict_v<id+2>` = `v<id+1>` + batch dfs), every write a pure
    * function of `batchId` — the q242 discipline applied to a serving
    * index instead of a warehouse table. A crash is injected after
    * batch 0's artifacts land but before its checkpoint commit; the
    * restart replays batch 0 over itself and finishes batch 1.
    *
    * The serve path then answers the q239 workload from the maintained
    * artifacts (final dict version + base-and-delta posting dirs), and
    * the oracle is the index REBUILT from the full corpus — equality
    * proves streaming maintenance converges to the batch build, through
    * a restart. Delivery evidence (batches, attempts, replay) rides as
    * pinned columns, q231-style.
    *
    * Scale: per batch the work is delta-sized (one distinct shuffle over
    * the batch's postings + a vocab-grain dict merge); the base postings
    * are never rewritten. State is the checkpoint's file log only.
    */
  def streamingIndexMaintenance(spark: SparkSession, dir: String,
      baseDir: Option[String] = None): DataFrame = {
    import graft.operators.TextAnalysis
    val docs = graft.sources.TestData.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val base = baseDir.getOrElse(exitScratch("graft-stridx"))
    val (src, idx, ck, att) = (s"$base/src", s"$base/idx", s"$base/ck",
      s"$base/attempts")
    require(new java.io.File(att).mkdirs(), s"cannot create $att")

    // base corpus builds the index; two delta chunks arrive as a stream
    TextAnalysis.buildInvertedIndex(
      docs.filter(col("doc_id") % 10 =!= 0L && col("doc_id") % 10 =!= 5L), idx)
    var mtime = (System.currentTimeMillis() / 60000L) * 60000L
    def writeChunk(df: DataFrame): Unit = {
      val before = Option(new java.io.File(src).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty)
      df.coalesce(1).write.mode("append").parquet(src)
      mtime += 1000L
      new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => require(f.setLastModified(mtime),
          s"setLastModified failed for $f — replay order would be undefined"))
    }
    writeChunk(docs.filter(col("doc_id") % 10 === 0L))
    writeChunk(docs.filter(col("doc_id") % 10 === 5L))

    def dictName(v: Long): String = if (v == 1L) "dict" else s"dict_v$v"
    def runOnce(injectCrashAt: Long): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val marker = new java.io.File(att,
            s"b$batchId-${UUID.randomUUID().toString}")
          require(marker.createNewFile(), s"cannot create $marker")
          TextAnalysis.maintainIndexBatch(df, idx,
            batchDir = s"postings_delta/b$batchId",
            dictIn = dictName(batchId + 1), dictOut = dictName(batchId + 2))
          if (batchId == injectCrashAt)
            throw new RuntimeException(
              "injected crash: index maintained, checkpoint commit never reached")
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try { q.processAllAvailable(); q.awaitTermination() }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => }
      finally q.stop()
    }
    runOnce(injectCrashAt = 0L) // dies in batch 0's uncovered window
    runOnce(injectCrashAt = -1L) // replays batch 0 idempotently, runs batch 1

    val attempts = new java.io.File(att).listFiles().length
    val deltaDirs = new java.io.File(s"$idx/postings_delta").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("b"))
      .map(_.getName).sorted
    TextAnalysis.serveInvertedIndex(spark, idx,
        dictDir = dictName(deltaDirs.length + 1L),
        extraPostingDirs = deltaDirs.map(b => s"$idx/postings_delta/$b").toSeq)
      .withColumn("n_batches", lit(deltaDirs.length.toLong))
      .withColumn("n_attempts", lit(attempts.toLong))
      .withColumn("replay_happened", lit(attempts > deltaDirs.length))
  }

  /** q289 — STREAMING READ of the manifest table: the consumption side
    * the table-format tier lacked (q242 streams INTO the table; this
    * streams OUT of it). Every [[graft.operators.ManifestTable]] publish
    * also appends a one-row LOG entry, and a file stream tails that log
    * with `maxFilesPerTrigger = 1` — each publish is exactly one
    * micro-batch, Delta's "streaming from a table" surface over the
    * manifest-pointer protocol. Each micro-batch resolves its version's
    * row-level change feed (the q249 diff between v-1 and v) and lands
    * it in a PER-VERSION sink dir as an idempotent overwrite, so a
    * replayed batch overwrites itself rather than double-feeding a
    * consumer. The bootstrap snapshot (v1) streams through as a batch
    * with no feed output — the `startingVersion = 2` convention.
    *
    * A crash is injected after the v2 batch's sink write but before its
    * checkpoint commit (the q231/q242 uncovered window); the restart
    * REPLAYS that batch — the attempt markers prove the replay happened
    * — and the final union still equals the BATCH change feed exactly,
    * which is the no-version-double-fed proof: a duplicated version
    * would double its counts and break the oracle's hash.
    *
    * Scale: per micro-batch the work is one full-outer key-grain join
    * between consecutive snapshots (O(|v-1| + |v|), the q249 cost) and
    * the log keeps each trigger's planning O(new files); the sink's
    * per-version layout is what lets a downstream consumer resume from
    * any version boundary.
    */
  def manifestTailStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ManifestTable
    val ev = graft.sources.TestData.events(spark, dir)
    val slim = ev.select(col("event_id"), col("event_type"), col("value"))
    val base = exitScratch("graft-mtail")
    val (tbl, log, sink, ck, att) = (s"$base/table", s"$base/log",
      s"$base/sink", s"$base/ck", s"$base/attempts")
    require(new java.io.File(att).mkdirs(), s"cannot create $att")

    // publish + log: the one-row log entry is the stream's record of the
    // publish; mtimes are forced monotone so replay order is defined
    var mtime = (System.currentTimeMillis() / 60000L) * 60000L
    def publishLogged(df: DataFrame, version: Long): Unit = {
      ManifestTable.publish(df, tbl, version)
      val before = Option(new java.io.File(log).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty)
      import spark.implicits._
      Seq(version).toDF("version").coalesce(1)
        .write.mode("append").parquet(log)
      mtime += 1000L
      new java.io.File(log).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => require(f.setLastModified(mtime),
          s"setLastModified failed for $f — replay order would be undefined"))
    }
    // the q249 publish sequence, so the oracle IS the batch change feed:
    // v1 raw; v2 deletes errors + doubles purchases; v3 inserts clones
    publishLogged(slim, 1L)
    val v2 = slim.filter(col("event_type") =!= "error")
      .withColumn("value",
        when(col("event_type") === "purchase", col("value") * 2)
          .otherwise(col("value")))
    publishLogged(v2, 2L)
    publishLogged(v2.unionByName(v2.filter(col("event_type") === "click")
      .withColumn("event_id", col("event_id") + 1000000000L)), 3L)

    def runOnce(injectCrashAt: Long): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "version BIGINT"))
        .option("maxFilesPerTrigger", "1")
        .parquet(log)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val marker = new java.io.File(att,
            s"b$batchId-${UUID.randomUUID().toString}")
          require(marker.createNewFile(), s"cannot create $marker")
          // one log row per batch — the bounded decision frame
          val vs = df.select("version").collect().map(_.getLong(0))
          vs.filter(_ >= 2L).foreach { v =>
            ManifestTable.changeFeed(spark, tbl, v - 1, v)
              .write.mode("overwrite").parquet(s"$sink/v$v")
          }
          if (batchId == injectCrashAt)
            throw new RuntimeException(
              "injected crash: feed landed, checkpoint commit never reached")
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try { q.processAllAvailable(); q.awaitTermination() }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => }
      finally q.stop()
    }
    runOnce(injectCrashAt = 1L) // dies after v2's feed, before its commit
    runOnce(injectCrashAt = -1L) // replays v2 idempotently, streams v3

    val attempts = new java.io.File(att).listFiles().length
    val nLogged = new java.io.File(log).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val served = new java.io.File(sink).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("v"))
      .map(d => spark.read.parquet(d.getPath))
      .reduce(_ unionByName _)
    served.groupBy("version", "change_type", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .withColumn("n_batches", lit(nLogged.toLong))
      .withColumn("n_attempts", lit(attempts.toLong))
      .withColumn("replay_happened", lit(attempts > nLogged))
      .orderBy("version", "change_type", "event_type")
  }

  /** q316 — the q314 EVAL REPORT fed by a STREAM: the streaming
    * aggregation's state IS the (type, cent-score) grain, so the state
    * an unbounded prediction stream accumulates is bounded by
    * |types|·|distinct cents| — never by stream length — and no
    * watermark is needed for boundedness (complete-mode output of a
    * bounded-key aggregate, the same argument as a streaming
    * word-count over a closed vocabulary). Each micro-batch folds its
    * rows into the grain with exact integer adds
    * (order-independent), so after the last batch the grain — and
    * therefore every derived metric — equals the batch computation
    * bit-for-bit: the oracle is q314's, and `minBatches` lets callers
    * require the accumulation genuinely crossed micro-batches
    * (maxFilesPerTrigger=1 makes every input file its own batch).
    *
    * Scale: the live-dashboard version of the nightly q315 — per
    * trigger the incremental state update is O(|batch| + |grain|);
    * the report re-derivation is arithmetic on the bounded grain.
    */
  def streamedEvalReport(spark: SparkSession, dir: String,
      minBatches: Int = 1): DataFrame = withStatePartitions(spark, 4) {
    val path = s"$dir/events.parquet"
    val rawSchema = spark.read.parquet(path).schema
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    val grain = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/events*.parquet")
      .select(col("event_type"),
        graft.functions.OracleSafe.quant(col("value"), 100).as("s"))
      .groupBy("event_type", "s").agg(count(lit(1)).as("pn"))
    val q = grain.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    // count batches from the LAST progress's id, not recentProgress
    // (a ring buffer capped by numRecentProgressUpdates, default 100 —
    // a minBatches above the cap would spuriously fail on it)
    val batches =
      try {
        q.processAllAvailable()
        Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      } finally q.stop()
    require(batches >= minBatches,
      s"expected >= $minBatches micro-batches, saw $batches")
    graft.operators.Events
      .evalReportFromGrain(spark.table(name).localCheckpoint())
  }
}
