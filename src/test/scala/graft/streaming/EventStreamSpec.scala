package graft.streaming

import graft.SparkSpec

/** The streaming plan must produce EXACTLY the batch result — same windows,
  * same counts, same decimal sums (differential test, SURVEY.md §5.5).
  */
class EventStreamSpec extends SparkSpec {

  test("streaming tumbling-window agg equals the batch aggregation") {
    val streaming = EventStream.tumblingHourly(spark, sf)
    val batch = graft.SparkEntry.queries("q60_events_hourly")(spark, sf)
    assert(streaming.count() > 0)
    assert(streaming.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streaming).count() == 0)
  }

  test("flatMapGroupsWithState sessionization equals the batch window formulation") {
    val streaming = EventStream.sessionizeStateful(spark, sf)
      .select("user_id", "session_seq", "n_events", "start_ms", "end_ms")
    val batch = graft.operators.Events.sessionize(graft.sources.TestData.events(spark, sf))
      .select("user_id", "session_seq", "n_events", "start_ms", "end_ms")
    assert(streaming.count() > 0)
    assert(streaming.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streaming).count() == 0)
  }

  test("stream-static broadcast join equals the batch join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val userDim = (0L to 14L).map(u => (u, if (u % 2 == 0) "even" else "odd"))
      .toDF("user_id", "cohort")
    val streaming = EventStream.enrichedTypeTotals(spark, sf, userDim)
    val batch = graft.sources.TestData.events(spark, sf)
      .join(userDim, Seq("user_id"))
      .groupBy("cohort", "event_type").agg(count(lit(1)).as("n"))
    assert(streaming.count() > 0)
    assert(streaming.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streaming).count() == 0)
  }

  test("stream-stream interval join equals the batch self-join") {
    import org.apache.spark.sql.functions._
    val streaming = EventStream.clickViewPairs(spark, sf)
    val ev = graft.sources.TestData.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"))
    val batch = c.join(v, Seq("user_id"))
      .filter(col("vts") >= col("cts") - expr("INTERVAL 10 MINUTES") && col("vts") <= col("cts"))
      .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
    assert(streaming.count() > 0)
    assert(streaming.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streaming).count() == 0)
  }

  test("stateful dedup-within-watermark collapses a doubled source to distinct ids") {
    // simulate at-least-once delivery: the same file arrives twice
    val dir = java.nio.file.Files.createTempDirectory("evdup")
    for (name <- Seq("a.parquet", "b.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Path.of(s"$sf/events.parquet"), dir.resolve(name))
    val distinctIds = spark.read.parquet(s"$sf/events.parquet").count()
    assert(EventStream.dedupedCount(spark, dir.toString) == distinctIds)
  }

  test("stream-stream LEFT OUTER join emits the null-padded rows the inner join drops") {
    import org.apache.spark.sql.functions._
    val result = EventStream.clickViewOuter(spark, sf)
    // the outer rows really emitted: without sentinel finalization the
    // unmatched clicks near the stream end would be missing entirely
    assert(result.agg(sum("n_unmatched")).head().getLong(0) > 0,
      "expected some clicks with no view in the window")
    // and the matched half agrees with the inner-join streaming query
    val inner = EventStream.clickViewPairs(spark, sf)
    val outerPairs = result.filter(col("n_pairs") > 0).select("user_id", "n_pairs")
    assert(outerPairs.exceptAll(inner).count() == 0)
    assert(inner.exceptAll(outerPairs).count() == 0)
  }

  test("watermark closure: derived delay is exact AND state stays behind the watermark") {
    import org.apache.spark.sql.functions._
    val (result, progress) = EventStream.watermarkClosureWithMetrics(spark, sf)

    // exactness: the streamed dedup equals the batch distinct counts
    val batch = graft.sources.TestData.events(spark, sf)
      .groupBy("event_type").agg(countDistinct(col("event_id")).as("n_unique"))
    val streamed = result.select("event_type", "n_unique")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)

    // the replay really was multi-batch (one chunk file per micro-batch)
    val dataBatches = progress.count(_.numInputRows > 0)
    assert(dataBatches > 1, s"expected a multi-batch replay, got $dataBatches")

    // state bound, from the run's own semantics: a key's state expires at
    // ts + delay, evicted once the watermark passes it — so after any
    // batch, state rows <= |{ids : ts_ms >= watermark_ms - delay_ms}| for
    // THAT batch's watermark. Check the final progress with a reported
    // watermark (AvailableNow appends an empty finalize batch).
    val delayMs = result.select(max("wm_sec")).head().getLong(0) * 1000L
    val last = progress.reverse
      .find(p => p.stateOperators.nonEmpty &&
        Option(p.eventTime.get("watermark")).exists(_ != "1970-01-01T00:00:00.000Z"))
      .get
    val wmMs = java.time.Instant.parse(last.eventTime.get("watermark")).toEpochMilli
    val bound = graft.sources.TestData.events(spark, sf)
      .filter(expr("ts_ns DIV 1000000") >= wmMs - delayMs).count()
    val total = graft.sources.TestData.events(spark, sf).count()
    val stateRows = last.stateOperators.map(_.numRowsTotal).max
    assert(stateRows <= bound,
      s"state ($stateRows) must sit behind the watermark bound ($bound)")
    assert(stateRows < total,
      s"state ($stateRows of $total ids) must show eviction, not full retention")
  }

  test("multi-source union: the lagging source holds the watermark back; nothing drops") {
    import org.apache.spark.sql.functions._
    val (result, progress) = EventStream.multiSourceWatermarkWithMetrics(spark, sf)

    // equality with the batch day-grain aggregate — the completeness half
    // of the certificate (a max-frontier watermark would drop lag rows)
    val batch = graft.sources.TestData.events(spark, sf)
      .groupBy(col("event_type"),
        when(col("event_id") % 2 === 0, "fast").otherwise("lag").as("src"))
      .agg(countDistinct(date_trunc("day", col("ts"))).as("n_windows"),
        count(lit(1)).as("n_events"))
    val streamed = result.select("event_type", "src", "n_windows", "n_events")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)

    // the replay really interleaved several micro-batches
    assert(progress.count(_.numInputRows > 0) > 2)

    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.eventTime.get(k)).filter(_ != "1970-01-01T00:00:00.000Z")
        .map(java.time.Instant.parse(_).toEpochMilli)

    // the min rule, observed: once the fast source's sentinel lands, that
    // batch's max event time sits ~30 days out while the global watermark
    // is still pinned at the lag source's crawling frontier
    val gaps = progress.flatMap(p =>
      for (m <- ms(p, "max"); w <- ms(p, "watermark")) yield m - w)
    assert(gaps.exists(_ > 25L * 86400000L),
      s"expected the leading frontier >25 days ahead of the held-back watermark; gaps=$gaps")

    // and BECAUSE the watermark was held back, no batch dropped a row
    val dropped = progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    assert(dropped == 0, s"min-frontier rule must drop nothing, dropped $dropped")

    // closure: both sentinels eventually carry the min past every real window
    val lastWm = progress.reverse.flatMap(ms(_, "watermark")).head
    val maxReal = graft.sources.TestData.events(spark, sf)
      .agg(max(unix_millis(col("ts")))).head().getLong(0)
    assert(lastWm > maxReal, "sentinels must close every real window")

    // the MEMORY half of the min-frontier story: windowed-agg state is one
    // row per open (day-window, type, src) group, so even with the held-back
    // watermark keeping fast-source windows open for the whole replay, peak
    // state is bounded by the GROUP count (calendar span × types × sources,
    // +2 sentinel groups) — never by event count — and the sentinels' final
    // frontier then evicts every real window
    val nGroups = graft.sources.TestData.events(spark, sf)
      .select(date_trunc("day", col("ts")).as("d"), col("event_type"),
        when(col("event_id") % 2 === 0, "fast").otherwise("lag").as("src"))
      .distinct().count()
    val statePerBatch = progress.flatMap(_.stateOperators.map(_.numRowsTotal))
    assert(statePerBatch.nonEmpty)
    val peak = statePerBatch.max
    assert(peak <= nGroups + 2,
      s"peak state ($peak) must stay within the open-group bound ($nGroups + 2 sentinels)")
    val finalState = progress.reverse.find(_.stateOperators.nonEmpty)
      .get.stateOperators.map(_.numRowsTotal).max
    assert(finalState < peak,
      s"closing sentinels must evict real-window state (final $finalState vs peak $peak)")
  }

  test("checkpoint resume: two runs ingest every row exactly once and equal the batch agg") {
    import org.apache.spark.sql.functions._
    val (result, progress) = EventStream.checkpointResumeWithMetrics(spark, sf)

    // exactly-once ingestion across the restart: total source rows over
    // BOTH runs = real events + the two sentinels; any chunk re-read after
    // the resume would show up here before it even corrupted the result
    val total = graft.sources.TestData.events(spark, sf).count()
    val ingested = progress.map(_.numInputRows).sum
    assert(ingested == total + 2,
      s"expected ${total + 2} rows ingested across both runs, got $ingested")

    // and the resumed result equals the one-shot batch aggregate
    val batch = graft.sources.TestData.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val streamed = result.select("hour", "event_type", "n")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch.select("hour", "event_type", "n")).count() == 0)
  }

  test("session_window stream: equals the batch gap sessions; a session spans the split") {
    import org.apache.spark.sql.functions._
    val res = EventStream.sessionWindowStream(spark, sf)
    val gapMs = 30 * 60000L
    // batch oracle on the SAME ms grid with the native boundary (>= breaks)
    val ev = graft.sources.TestData.events(spark, sf)
      .selectExpr("user_id", "event_id", "ts_ns DIV 1000000 AS ms",
        s"${"CAST(floor(value * 100) AS BIGINT)"} AS cents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ms", "event_id")
    val batch = ev
      .withColumn("prev", lag("ms", 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("ms") - col("prev") >= gapMs, 1L)
          .otherwise(0L))
      .withColumn("seq", sum("brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "seq")
      .agg(min("ms").as("start_ms"), (max("ms") + gapMs).as("end_ms"),
        count(lit(1)).as("n_events"), sum("cents").as("total_cents"))
      .select("user_id", "start_ms", "end_ms", "n_events", "total_cents")
    assert(res.count() == batch.count())
    assert(res.exceptAll(batch).count() == 0,
      "streaming session_window must equal the batch gap formulation")
  }

  test("session_window stream: state MERGES when a later batch lands in an open gap") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // user 1: events at t0 and t0+40min (two sessions); a third at
    // t0+20min lands ts-wise between them — and ts-midpoint chunking puts
    // {t0, t0+20} in chunk 1 and {t0+40} in chunk 2, so chunk 2's event
    // must MERGE into the open session in state (gap 30min: 20 and 20
    // both below). One emitted session of 3 events proves the merge.
    val t0us = 1700000000000000L
    val ev = Seq(
      (1L, 1L, t0us, 10.0),
      (2L, 1L, t0us + 20L * 60000000L, 10.0),
      (3L, 1L, t0us + 40L * 60000000L, 10.0))
      .toDF("event_id", "user_id", "us", "value")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"),
        (col("us") * 1000L).as("ts_ns"), col("value"))
    val res = EventStream.sessionWindowStreamFromEvents(spark, ev)
      .collect()
    assert(res.length == 1, s"one merged session expected: ${res.toSeq}")
    val r = res.head
    assert(r.getLong(3) == 3L, s"all three events in the merged session: $r")
    assert(r.getLong(2) - r.getLong(1) == 40L * 60000L + 30L * 60000L,
      "span = 40 min of events + the 30 min gap tail")
  }

  test("exactly-once sink: the replayed foreachBatch leaves no duplicates") {
    import org.apache.spark.sql.functions._
    val res = EventStream.exactlyOnceSink(spark, sf)
    val head = res.select("n_batches", "n_attempts", "replay_happened").head()
    assert(head.getLong(0) == 3L, "three single-file micro-batches")
    assert(head.getLong(1) == 4L,
      "batch 1 written twice: crashed attempt + checkpoint replay")
    assert(head.getBoolean(2), "the at-least-once replay must have happened")
    // idempotent overwrite => read-back equals the plain batch aggregate
    // (an append-mode sink would carry batch 1's rows twice here)
    val batch = graft.sources.TestData.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.OracleSafe.quant(col("value"), 100)).as("total_cents"))
    val got = res.select("event_type", "n", "total_cents")
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0)
  }

  test("crash replay: the crashed batch is attempted twice, the rest once, in feed order") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-replay-spec")
    try {
      val src = s"$out/src"
      val feed = new EventStream.OrderedFeed(src)
      for (chunk <- 0L until 4L) feed.append(Seq(chunk, chunk).toDF("chunk"))
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
      val ledger = EventStream.crashReplay(spark, src, s"$out/crash",
          crashAt = 2L) { (df, batchId) =>
        seen += batchId -> df.as[Long].collect().toSeq.distinct
        true
      }
      assert(ledger == Seq(0L, 1L, 2L, 2L, 3L),
        "feed order, with the crashed batch 2 replayed after its crash")
      assert(ledger.groupBy(identity).map { case (b, n) => b -> n.size } ==
        Map(0L -> 1, 1L -> 1, 2L -> 2, 3L -> 1))
      // every attempt of batch b read exactly chunk b
      assert(seen.toSeq == ledger.map(b => b -> Seq(b)))
      // a body that reports no commit is never crashed: one clean pass
      val uncommitted = EventStream.crashReplay(spark, src, s"$out/skip",
        crashAt = 2L) { (_, _) => false }
      assert(uncommitted == Seq(0L, 1L, 2L, 3L))
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("streaming CDC upsert: final table equals the batch cdcApply fold across the restart") {
    import org.apache.spark.sql.functions._
    val res = EventStream.streamingCdcUpsert(spark, sf)
    val head = res.select("n_batches", "n_attempts", "replay_happened").head()
    assert(head.getLong(0) == 3L, "three single-file micro-batches")
    assert(head.getLong(1) == 4L,
      "batch 1 merged twice: crashed attempt + checkpoint replay")
    assert(head.getBoolean(2), "the mid-stream restart must have happened")
    // the maintained warehouse table == the batch fold, column for column
    // (a non-idempotent merge would double batch 1's n_ops here)
    val batch = graft.operators.Scd.cdcApply(
      graft.sources.TestData.events(spark, sf))
    val got = res.select("user_id", "n_ops", "last_op", "deleted", "final_value")
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).count() == 0,
      "streamed merge state must equal the batch CDC fold")
  }

  test("q281: streamed index maintenance equals the rebuilt index through a replay") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft-stridx-spec")
    try {
      val res = EventStream.streamingIndexMaintenance(spark, sf,
        baseDir = Some(s"$out/run")).localCheckpoint()
      // delivery evidence: two delta batches, batch 0 attempted twice
      val head = res.head()
      assert(head.getAs[Long]("n_batches") == 2L)
      assert(head.getAs[Long]("n_attempts") == 3L)
      assert(head.getAs[Boolean]("replay_happened"))
      // physical idempotence: the REPLAYED batch-0 dir holds each posting
      // exactly once (countDistinct serving would mask a double-append)
      val b0 = spark.read.parquet(s"$out/run/idx/postings_delta/b0")
      assert(b0.count() == b0.distinct().count(),
        "replayed batch dir must hold no duplicate postings")
      val rebuilt = graft.operators.TextAnalysis.invertedIndexLookup(
        graft.sources.TestData.documents(spark, sf)
          .select(col("doc_id"), col("text")), s"$out/idx")
        .collect().map(_.toSeq).toSeq
      val served = res.select("query_id", "n_terms", "n_docs",
        "sum_doc_ids", "min_doc_id", "max_doc_id")
        .collect().map(_.toSeq).toSeq
      assert(served == rebuilt,
        "maintained index must serve the rebuilt index's answers")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q289: the streamed manifest tail equals the batch change feed through a restart") {
    import org.apache.spark.sql.functions._
    val res = EventStream.manifestTailStream(spark, sf).localCheckpoint()
    // delivery evidence: 3 publishes = 3 micro-batches; the v2 batch was
    // attempted twice (crash + checkpoint replay) — 4 attempts total
    val head = res.head()
    assert(head.getAs[Long]("n_batches") == 3L)
    assert(head.getAs[Long]("n_attempts") == 4L)
    assert(head.getAs[Boolean]("replay_happened"))
    // no version double-fed: the streamed union equals the BATCH change
    // feed computed directly over the same three snapshots — a replayed
    // v2 that appended instead of overwriting would double these counts
    val out = java.nio.file.Files.createTempDirectory("graft-mtail-spec")
    try {
      val batch = graft.operators.ManifestTable.changeFeedSummary(
        graft.sources.TestData.events(spark, sf), s"$out/tbl")
      val got = res.select("version", "change_type", "event_type",
        "n", "total_cents")
      assert(got.count() == batch.count())
      assert(got.exceptAll(batch).count() == 0,
        "streamed feed must equal the batch change feed")
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("q316: the grain accumulated across micro-batches yields the batch report exactly") {
    val out = java.nio.file.Files.createTempDirectory("graft-q316-spec")
    try {
      // 4 part files + maxFilesPerTrigger=1 => the state provably folds
      // across at least 4 micro-batches before the report is derived
      val ev = graft.sources.TestData.events(spark, sf)
      ev.repartition(4).write.parquet(s"$out/events.parquet")
      val streamed = EventStream.streamedEvalReport(spark, out.toString,
        minBatches = 4)
      val batch = graft.operators.Events.evalReport(
        graft.sources.TestData.events(spark, out.toString))
      assert(streamed.count() == 5)
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0,
        "every metric must equal the batch computation bit-for-bit")
      // the streaming state is the GRAIN: bounded by score cardinality
      val distinctScores = ev.selectExpr("event_type",
        "CAST(FLOOR(CAST(value AS DOUBLE) * 100) AS BIGINT) AS s")
        .distinct().count()
      assert(distinctScores < ev.count(),
        "the boundedness claim needs a grain smaller than the stream")
    } finally graft.Scratch.rmTree(out.toFile)
  }
}
