package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.OracleSafe._
import graft.operators.{Events, ManifestTable, Scd, TextAnalysis}
import graft.queries.Query.{scratchDir, slidingWindowOracle}
import graft.sources.TestData
import graft.streaming.EventStream

/** Streaming: every query that starts a Structured Streaming query.
  * [[Query]] states the rule that places a query in its family.
  */
object Streaming {

  val queries: Seq[Query] = Seq(
    // Stream-stream LEFT OUTER interval join with sentinel-driven
    // watermark finalization (the state semantics q101's inner join never
    // exercises: null-padded rows emit only when the watermark proves no
    // match can come).
    Query("q172_stream_outer_join", scale = true, build = { (s, dir) =>
      EventStream.clickViewOuter(s, dir)
    }, oracle =
      s"""WITH ${EventStream.clickViewOuterSql()}
          SELECT user_id, n_pairs, n_unmatched FROM click_view_outer
          ORDER BY user_id"""),

    // Exactly-once checkpoint resume: two streaming runs, one checkpoint,
    // one durable sink — hash-equality with the batch aggregate IS the
    // restart-safety proof (any re-ingested file would double-count).
    Query("q187_stream_checkpoint_resume", scale = true, build = { (s, dir) =>
      EventStream.checkpointResume(s, dir)
    },
      // the resumed two-run stream must equal the one-shot batch aggregate
      oracle = EventStream.tumblingHourlySql),

    // Multi-source min-frontier watermark: a fast and a lagging stream
    // union into one windowed aggregate; batch equality certifies the
    // lagging source held the global watermark back (nothing dropped).
    Query("q211_multi_source_watermark", scale = true, build = { (s, dir) =>
      EventStream.multiSourceWatermark(s, dir)
    },
      // batch equality certifies the min-frontier watermark rule: had the
      // global watermark followed the fast source, the lag rows would drop
      oracle =
      s"""WITH ${EventStream.multiSourceWatermarkSql()}
          SELECT event_type, src, n_windows, n_events
          FROM multi_source_watermark ORDER BY event_type, src"""),

    // Exactly-once to an external sink EXECUTED: foreachBatch crashes in
    // the uncovered window (sink written, checkpoint not committed), the
    // resumed run replays the batch, and the idempotent batch-keyed
    // overwrite keeps the read-back equal to the batch oracle — 4
    // attempts over 3 batches, zero duplicates.
    Query("q231_exactly_once_sink", scale = true, build = { (s, dir) =>
      graft.streaming.EventStream.exactlyOnceSink(s, dir).orderBy("event_type")
    },
      // the plain batch aggregate on purpose: equality is the proof the
      // replayed foreachBatch write was idempotent (an append sink would
      // double batch 1's rows and fail this hash-match)
      oracle =
      s"""WITH ${graft.streaming.EventStream.exactlyOnceSinkSql()}
          SELECT event_type, n, total_cents, n_batches, n_attempts,
                 replay_happened
          FROM exactly_once_sink ORDER BY event_type"""),

    // Native session_window in a STREAMING plan: gap-window state that
    // MERGES across micro-batches (the mid-timeline split exercises it),
    // closed by the watermark, against the batch lag-formulation oracle
    // on the same ms grid.
    Query("q234_session_window_stream", scale = true, build = { (s, dir) =>
      graft.streaming.EventStream.sessionWindowStream(s, dir)
        .orderBy("user_id", "start_ms")
    }, oracle =
      s"""WITH ${graft.streaming.EventStream.sessionWindowStreamSql()}
          SELECT user_id, start_ms, end_ms, n_events, total_cents
          FROM session_window_stream ORDER BY user_id, start_ms"""),

    // Streaming CDC upsert: the q186 change feed as a 3-chunk stream,
    // each micro-batch MERGEd into a durable state table through the
    // q241 manifest protocol, with a crash injected after batch 1's
    // commit but before its checkpoint commit; the restart replays the
    // batch idempotently (merge is a pure function of batchId) and the
    // final table equals the batch cdcApply fold exactly.
    Query("q242_stream_cdc_upsert", scale = true, build = { (s, dir) =>
      graft.streaming.EventStream.streamingCdcUpsert(s, dir)
    },
      // The batch cdcApply fold plus the PINNED delivery verdicts the
      // engine must earn: 3 batches, 4 attempts (batch 1 merged twice),
      // replay_happened true — totals equal to the batch fold prove the
      // replayed merge was idempotent.
      oracle =
      s"""WITH ${Scd.cdcApplySql()}
          SELECT user_id, n_ops, last_op, deleted, final_value,
                 CAST(3 AS BIGINT) AS n_batches,
                 CAST(4 AS BIGINT) AS n_attempts,
                 TRUE AS replay_happened
          FROM cdc_apply ORDER BY user_id"""),

    // Streaming read OF the manifest table: a file stream tails the
    // publish log (one publish = one micro-batch), each batch lands its
    // version's change feed idempotently; a mid-stream crash + restart
    // replays one batch without double-feeding any version.
    Query("q289_stream_manifest_tail", scale = true, build = { (s, dir) =>
      graft.streaming.EventStream.manifestTailStream(s, dir)
    }, oracle =
      s"""WITH ${ManifestTable.changeFeedSummarySql()}
          SELECT version, change_type, event_type, n, total_cents,
                 CAST(3 AS BIGINT) AS n_batches,
                 CAST(4 AS BIGINT) AS n_attempts,
                 TRUE AS replay_happened
          FROM change_feed ORDER BY version, change_type, event_type"""),

    // Streaming ingest INTO the partition-mapped table: every micro-
    // batch commits via the idempotent partitioned append (version =
    // batchId + 1, read-by-version merge), a crash is injected in the
    // commit-vs-checkpoint window, and the replay SKIPS on the existing
    // manifest — exact final totals are the exactly-once proof.
    Query("q324_stream_partitioned_ingest", scale = true, build = { (s, dir) =>
      graft.streaming.EventStream.streamIntoPartitionedTable(s, dir)
    },
      // three chunks -> commits v1..v3; batches 0,1 run, crash, 1 replays
      // (skipped), 2 runs -> 4 attempts; totals = every event exactly once
      oracle =
      s"""WITH spt_tot AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(${quantSql("value", 100)}) AS BIGINT)
                     AS total_cents
            FROM events GROUP BY 1)
          SELECT event_type, n, total_cents,
                 CAST(3 AS BIGINT) AS n_commits,
                 CAST(4 AS BIGINT) AS n_attempts,
                 TRUE AS replay_happened
          FROM spt_tot ORDER BY event_type"""),

    // q324's 100-TB sibling: each micro-batch lands MERGE-ON-READ delta
    // files (write bytes ∝ |delta|, never the touched partition), the
    // replay skips on the existing manifest, and a final
    // compaction folds the splice back to one dir per partition with
    // totals unchanged — the Iceberg/Delta streaming-ingest lifecycle.
    Query("q326_stream_mor_ingest", scale = true, build = { (s, dir) =>
      graft.streaming.EventStream.streamIntoPartitionedMoR(s, dir)
    },
      // same delivery pins as q324 (3 commits, 4 attempts, replay TRUE);
      // the MoR read splices >=2 versions pre-compaction (chunks 1 and 3
      // are non-empty by construction) and exactly 1 after — totals
      // identical at both stages is the exactly-once AND compaction proof
      oracle =
      s"""WITH smor_tot AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(${quantSql("value", 100)}) AS BIGINT)
                     AS total_cents
            FROM events GROUP BY 1)
          SELECT stage, event_type, n, total_cents, multi_version,
                 CAST(3 AS BIGINT) AS n_commits,
                 CAST(4 AS BIGINT) AS n_attempts,
                 TRUE AS replay_happened
          FROM (SELECT 'a_mor_stream' AS stage, TRUE AS multi_version,
                       event_type, n, total_cents
                FROM smor_tot
                UNION ALL
                SELECT 'b_compacted', FALSE, event_type, n, total_cents
                FROM smor_tot)
          ORDER BY stage, event_type"""),

    // Streaming ingest and a compaction racing the SAME log: txn-tagged
    // idempotence (appId, batchId) with CAS-allocated versions — the
    // compactor folds v1+v2 as v3 between micro-batches, batch 2
    // rebases onto the fold as v4, and the crash-replay straddling the
    // compaction skips on the txn tag; exact totals prove exactly-once.
    Query("q330_stream_compact_race", scale = true, build = { (s, dir) =>
      graft.streaming.EventStream.streamWithConcurrentCompaction(s, dir)
    },
      // b0, b1, compaction, b2 -> 4 commits; crash after b1+compaction,
      // replay skips on the txn tag -> 4 attempts over 3 batches
      oracle =
      s"""WITH scr_tot AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(${quantSql("value", 100)}) AS BIGINT)
                     AS total_cents
            FROM events GROUP BY 1)
          SELECT event_type, n, total_cents,
                 CAST(4 AS BIGINT) AS n_commits,
                 CAST(3 AS BIGINT) AS compact_version,
                 CAST(4 AS BIGINT) AS n_attempts,
                 TRUE AS replay_happened
          FROM scr_tot ORDER BY event_type"""),

    // Backfill → stream handoff: one batch job loads all history under
    // appId "backfill", a streaming job ingests the live tail under
    // appId "live", both into one txn-tagged log; the boundary is exact
    // by predicate and a crash straddling the seam batch replays clean.
    Query("q334_backfill_stream_handoff", scale = true, build = { (s, dir) =>
      graft.streaming.EventStream.backfillStreamHandoff(s, dir)
    },
      // the seam: backfill takes epoch_us(ts) <= lo+(hi-lo)//2, the
      // stream takes the rest — stage b equals raw totals (no row lost or
      // doubled at the handoff); 3 commits (backfill, live b0, live b1),
      // 3 attempts (b0 ran twice: crash then tag-skip replay)
      oracle =
      s"""WITH bsh_cut AS (
            SELECT MIN(epoch_us(ts))
                     + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2 AS cut
            FROM events),
          bsh_a AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(${quantSql("value", 100)}) AS BIGINT)
                     AS total_cents
            FROM events WHERE epoch_us(ts) <= (SELECT cut FROM bsh_cut)
            GROUP BY 1),
          bsh_b AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(${quantSql("value", 100)}) AS BIGINT)
                     AS total_cents
            FROM events GROUP BY 1)
          SELECT stage, event_type, n, total_cents, n_commits,
                 n_attempts, replay_happened
          FROM (
            SELECT 'a_backfill_only' AS stage, event_type, n, total_cents,
                   CAST(1 AS BIGINT) AS n_commits,
                   CAST(0 AS BIGINT) AS n_attempts,
                   FALSE AS replay_happened
            FROM bsh_a
            UNION ALL
            SELECT 'b_handoff_complete', event_type, n, total_cents,
                   3, 3, TRUE
            FROM bsh_b)
          ORDER BY stage, event_type"""),

    // Streamed eval report: the streaming aggregation's state IS the
    // bounded grain (|types| x |distinct cents|, never stream length);
    // after the last micro-batch every metric equals the batch q314
    // bit-for-bit — the oracle is q314's.
    Query("q316_stream_eval_report", scale = true, build = { (s, dir) =>
      graft.streaming.EventStream.streamedEvalReport(s, dir)
    },
      // the stream's oracle IS the batch report — streaming-vs-batch
      // equality is the q68/q82 contract applied to the eval tier
      oracle =
      s"""WITH ${Events.evalReportSql()}
          SELECT cls, n, auc, brier, tp, fp, fn, tn,
                 precision, recall, f1, mcc
          FROM eval_report ORDER BY cls"""),

    // Streaming index maintenance: document deltas maintain the
    // persisted inverted index per micro-batch (idempotent per-batch
    // posting dirs + versioned dict merges) through an injected crash;
    // serving the maintained artifacts equals the rebuilt index.
    Query("q281_stream_index_maintenance", scale = true, build = { (s, dir) =>
      EventStream.streamingIndexMaintenance(s, dir)
    },
      // Same logical result as q239 (the rebuilt index over the FULL
      // corpus) plus the pinned delivery verdicts: 2 delta batches,
      // 3 attempts (batch 0 replayed), replay_happened true.
      oracle =
      s"""WITH ${TextAnalysis.invertedIndexLookupSql()}
          SELECT query_id, n_terms, n_docs, sum_doc_ids, min_doc_id,
                 max_doc_id, CAST(2 AS BIGINT) AS n_batches,
                 CAST(3 AS BIGINT) AS n_attempts,
                 TRUE AS replay_happened
          FROM inverted_lookup ORDER BY query_id"""),

    // The same sliding windows computed BY THE STREAMING ENGINE
    // (watermark + overlapping window state, AvailableNow) — must land on
    // the identical oracle as the batch formulation.
    Query("q82_stream_sliding", scale = false, build = { (s, dir) =>
      EventStream.slidingHourly(s, dir)
    }, oracle = slidingWindowOracle),

    // Stream-stream interval join (the one join shape q67's stream-static
    // doesn't cover): watermarked on both sides, time-bounded both ends,
    // so join state is GC-able — checked against the batch self-join.
    Query("q101_stream_stream_join", scale = false, build = { (s, dir) =>
      EventStream.clickViewPairs(s, dir)
    },
      // the batch self-join the streaming interval join must agree with
      oracle =
      EventStream.clickViewPairsSql()),

    // Idempotent streaming ingest: the same file delivered twice (the
    // at-least-once simulation) must collapse to exactly the distinct
    // event count under dropDuplicatesWithinWatermark.
    Query("q84_stream_dedup", scale = false, build = { (s, dir) =>
      import java.nio.file.{Files, Path}
      val dup = scratchDir("graft-evdup")
      for (n <- Seq("a.parquet", "b.parquet"))
        Files.copy(Path.of(s"$dir/events.parquet"), dup.resolve(n))
      val n = EventStream.dedupedCount(s, dup.toString)
      import s.implicits._
      Seq(n).toDF("n_distinct")
    },
      // a doubled source must dedup back to the distinct id count
      oracle =
      """SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
        |FROM events""".stripMargin),

    // Measured-watermark closure: the q150/q152 lateness methodology
    // consumed end-to-end — a doubled, bounded-jitter-disordered feed is
    // replayed in arrival-ordered micro-batches; the watermark is DERIVED
    // from the measured max global-frontier lateness; the streamed
    // dropDuplicatesWithinWatermark must then be exact (per-type distinct
    // counts + the derived delay, both oracle-checked) with state bounded
    // behind the watermark (asserted from progress metrics in the spec).
    Query("q170_watermark_closure", scale = true, build = { (s, dir) =>
      EventStream.watermarkClosure(s, dir)
    },
      // the derived watermark (from the measured doubled-feed lateness) and
      // the streamed dedup's exact per-type distinct counts
      oracle =
      s"""WITH ${EventStream.watermarkClosureSql()}
          SELECT event_type, n_unique, wm_sec FROM watermark_closure
          ORDER BY event_type"""),

    Query("q64_stream_tumbling", scale = false, build = { (s, dir) =>
      EventStream.tumblingHourly(s, dir)
    }, oracle = EventStream.tumblingHourlySql),

    // Stream-static join: the streaming fact enriched against a static
    // broadcast dim (derived in-plan: cohort = user_id mod 4), then a
    // windowless streaming aggregate — checked against the batch oracle.
    Query("q67_stream_static_join", scale = false, build = { (s, dir) =>
      val dim = TestData.events(s, dir).select("user_id").distinct()
        .withColumn("cohort", concat(lit("c"), (col("user_id") % 4).cast("string")))
      EventStream.enrichedTypeTotals(s, dir, dim)
    }, oracle =
      """SELECT 'c' || CAST(user_id % 4 AS VARCHAR) AS cohort, event_type,
        |       COUNT(*) AS n
        |FROM events
        |GROUP BY cohort, event_type
        |ORDER BY cohort, event_type""".stripMargin),

    // Custom-state sessionization (flatMapGroupsWithState) must land on
    // the SAME sessions as the batch lag/sum formulation — q61's oracle
    // minus the money column.
    Query("q68_stream_sessionize", scale = false, build = { (s, dir) =>
      EventStream.sessionizeStateful(s, dir)
        .select("user_id", "session_seq", "n_events", "start_ms", "end_ms")
        .orderBy("user_id", "session_seq")
    },
      // identical session contract as the batch formulation (q61), money
      // column omitted — the stateful streaming path must find the same
      // session boundaries
      oracle =
      s"""SELECT user_id, session_seq, n_events, start_ms, end_ms
          FROM (${Events.sessionizeSql()})
          ORDER BY user_id, session_seq"""),
  )
}
