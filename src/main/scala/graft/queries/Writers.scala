package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.OracleSafe._
import graft.operators.{BankEtl, Bucketing, ColocatedJoin, Dedup, Events, FieldIdTable, ManifestTable, Planning, Similarity, Snapshot, TextAnalysis, WarehouseSink}
import graft.oracle.BankOracle.prelude
import graft.queries.Query.scratchDir
import graft.sources.TestData

/** Table and index writers: every query that writes files (a table
  * version, an index, a warehouse or scratch copy) and starts no stream.
  * [[Query]] states the rule that places a query in its family.
  */
object Writers {

  val queries: Seq[Query] = Seq(
    // S4 with an oracle row: the full parquet warehouse write (dims +
    // ym-partitioned fact) followed by a read-back aggregation over the
    // partition column — the oracle computes the same rollup straight from
    // the fact CTE, so a hash match proves the sink round-trips the data
    // through the partition layout losslessly.
    Query("q36_warehouse_roundtrip", scale = false, build = { (s, dir) =>
      val w = BankEtl.buildCached(s, dir)
      val out = scratchDir("graft-q36").toString
      WarehouseSink.write(w, out)
      s.read.parquet(s"$out/Fact_Spending")
        .groupBy("ym")
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(col("Amount_Spent")).cast("decimal(18,2)")).as("total"))
        .orderBy("ym")
    },
      // S4 twin: the engine side writes the ym-partitioned parquet warehouse
      // and re-aggregates the read-back fact; the oracle aggregates the same
      // fact directly — byte-identical results prove the sink lost nothing.
      oracle =
      s"""$prelude
         |SELECT CAST(Date_Key // 10000 AS INT) AS ym, COUNT(*) AS n,
         |       CAST(CAST(SUM(Amount_Spent) AS DECIMAL(18,2)) AS DOUBLE) AS total
         |FROM fact_spending
         |GROUP BY ym ORDER BY ym""".stripMargin),

    // The q205 histogram's bounds driving an ACTUAL range-partitioned
    // parquet write — the physical half of the q209 loop; the audit rows
    // are read back off disk, so depth/bounds matches certify the layout.
    Query("q215_range_partitioned_write", scale = true, build = { (s, dir) =>
      Planning.rangePartitionedWrite(TestData.lineitem(s, dir),
        scratchDir("graft-q215").resolve("fact").toString)
    },
      // the oracle models the write round trip as the identity it must
      // be — a hash match certifies the files carry exactly the planned rows
      oracle =
      s"""WITH ${Planning.rangePartitionedWriteSql()}
          SELECT bucket, lo_cents, hi_cents, rows_on_disk, hist_rows,
                 depth_match, bounds_match, depth_x_buckets
          FROM range_write_audit ORDER BY bucket"""),

    // The q185 zone maps CONSUMED: the fact written date-clustered, and
    // each predicate scans only the surviving month partitions — totals
    // from the pruned scan hash-match the oracle's full-table filter.
    Query("q217_zone_pruned_scan", scale = true, build = { (s, dir) =>
      Planning.zonePrunedScan(TestData.lineitem(s, dir),
        scratchDir("graft-q217").resolve("fact").toString)
    },
      // totals from a plain full filter on purpose: equality with the
      // engine's partition-pruned scan proves skipping zones lost nothing
      oracle =
      s"""WITH ${Planning.zonePrunedScanSql()}
          SELECT pred_id, n_zones, zones_scanned, zones_skipped, rows_read,
                 n_rows, total_cents
          FROM zone_pruned_scan ORDER BY pred_id"""),

    // JSONL ingest with malformed-row quarantine (the crawl source
    // format): serialize -> deterministically mangle -> DROPMALFORMED
    // parse + raw line count; the oracle's parquet-side split proves the
    // round trip lost exactly the corrupted lines and nothing else.
    Query("q224_json_ingest_quarantine", scale = true, build = { (s, dir) =>
      val staged = scratchDir("graft-q224").resolve("events_jsonl").toString
      graft.sources.JsonSource.stageJsonl(TestData.events(s, dir), staged)
      graft.sources.JsonSource.ingestWithQuarantine(s, staged)
    },
      // parquet-side split with the same corruption key: equality proves
      // the JSON round trip lost exactly the corrupted lines
      oracle =
      s"""WITH ${graft.sources.JsonSource.ingestWithQuarantineSql()}
          SELECT event_type, n, total_cents
          FROM json_ingest ORDER BY event_type"""),

    // Schema evolution across ingest batches: v2 adds a column; the
    // mergeSchema read-back proves old rows null-fill instead of the
    // reader dropping rows or the new column (the lake-drift reality).
    Query("q225_schema_evolution", scale = true, build = { (s, dir) =>
      val out = scratchDir("graft-q225").resolve("drift").toString
      graft.sources.SchemaEvolution.stageDriftedBatches(
        TestData.events(s, dir), out)
      graft.sources.SchemaEvolution.evolvedRead(s, out)
    }, oracle =
      s"""WITH ${graft.sources.SchemaEvolution.evolvedReadSql()}
          SELECT src, n, n_channel_null, n_channels, total_cents
          FROM schema_evolution ORDER BY src"""),

    // The IVF index PERSISTED: centroids + cell-partitioned postings
    // written to parquet, queries served from the LOADED artifacts only
    // (cells re-derived against the loaded centroids). The oracle is
    // q54's single-plan SQL — hash-equality is the round-trip
    // certificate.
    Query("q235_persisted_ivf", scale = true, build = { (s, dir) =>
      Similarity.persistedIvfTopK(TestData.embeddings(s, dir),
        scratchDir("graft-q235").resolve("ivf_index").toString)
        .orderBy("qid", "rank")
    },
      // The persisted round trip must reproduce the in-plan q54 result
      // exactly — the oracle IS ivfTopKSql.
      oracle =
      s"""WITH ${Similarity.ivfTopKSql()}
          SELECT qid, rank, nid, score FROM ivf_topk ORDER BY qid, rank"""),

    // Point lookups on a NON-cluster key through a persisted per-zone
    // Bloom index: candidate zones from the loaded bloom only, the fact
    // scan opens only candidate dirs, and totals hash-match the direct
    // filter (blooms admit no false negatives); the candidate-vs-matching
    // gap measures the index's false-positive I/O.
    Query("q237_bloom_index_lookup", scale = true, build = { (s, dir) =>
      Planning.bloomIndexedLookup(TestData.lineitem(s, dir),
        scratchDir("graft-q237").resolve("bloom_index").toString)
        .orderBy("probe_key")
    }, oracle =
      s"""WITH ${Planning.bloomIndexedLookupSql()}
          SELECT probe_key, zones_total, zones_candidate, zones_matching,
                 n_rows, total_cents
          FROM bloom_lookup ORDER BY probe_key"""),

    // Conjunctive text search through a persisted inverted index: postings
    // sharded by term hash, dictionary-derived query workload, each query
    // reads only its terms' bucket dirs; the oracle recomputes the
    // intersections logically from the raw documents.
    Query("q239_inverted_index", scale = true, build = { (s, dir) =>
      TextAnalysis.invertedIndexLookup(TestData.documents(s, dir),
        scratchDir("graft-q239").resolve("text_index").toString)
    }, oracle =
      s"""WITH ${TextAnalysis.invertedIndexLookupSql()}
          SELECT query_id, n_terms, n_docs, sum_doc_ids, min_doc_id,
                 max_doc_id
          FROM inverted_lookup ORDER BY query_id"""),

    // Incremental maintenance of the persisted inverted index: build from
    // the base batch, APPEND the delta batch (only its terms' bucket dirs
    // gain files; dictionary merged to a new version dir), serve the q239
    // workload from the maintained artifacts. Oracle = the index rebuilt
    // from scratch over base+delta — hash equality is the IVM proof.
    Query("q240_incremental_inverted", scale = true, build = { (s, dir) =>
      TextAnalysis.incrementalInvertedIndex(TestData.documents(s, dir),
        scratchDir("graft-q240").resolve("text_index").toString)
    },
      // Same logical result as q239 — the oracle IS the rebuilt-from-
      // scratch index over base+delta; the engine side serves it from the
      // incrementally maintained artifacts instead.
      oracle =
      s"""WITH ${TextAnalysis.invertedIndexLookupSql()}
          SELECT query_id, n_terms, n_docs, sum_doc_ids, min_doc_id,
                 max_doc_id
          FROM inverted_lookup ORDER BY query_id"""),

    // Manifest-pointer atomic publish: the q88 compaction re-run under a
    // write-audit-publish commit protocol, with a crash injected between
    // data-write and pointer-swap — the crash window still resolves the
    // OLD snapshot with exact totals, the re-run commits v2, and totals
    // are identical at every stage (compaction invisible, now atomically).
    Query("q241_atomic_publish", scale = true, build = { (s, dir) =>
      ManifestTable.atomicCompactionPublish(TestData.events(s, dir),
        scratchDir("graft-q241").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.atomicCompactionPublishSql()}
          SELECT stage, version, event_type, n, total_cents
          FROM atomic_publish ORDER BY stage, event_type"""),

    // Version history under the manifest protocol: publish v1, publish a
    // DELETE as v2, time-travel v1 (pre-delete totals still served),
    // read CURRENT (post-delete), then vacuum keep-last-1 — v1
    // physically reclaimed, CURRENT unharmed. Versions and retention
    // counts pinned in the oracle.
    Query("q244_time_travel_vacuum", scale = true, build = { (s, dir) =>
      ManifestTable.timeTravelVacuum(TestData.events(s, dir),
        scratchDir("graft-q244").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.timeTravelVacuumSql()}
          SELECT stage, version, n_versions, event_type, n, total_cents
          FROM time_travel ORDER BY stage, event_type"""),

    // Incremental maintenance of the persisted IVF index: build from the
    // base batch (centroids frozen), append the delta assigned against
    // the LOADED centroids (only its cells' dirs gain files), serve the
    // q235 workload from the maintained artifacts. Oracle = the same
    // frozen-centroid index computed logically over base+delta.
    Query("q243_incremental_ivf", scale = true, build = { (s, dir) =>
      Similarity.incrementalIvfTopK(TestData.embeddings(s, dir),
        scratchDir("graft-q243").resolve("ivf_index").toString)
        .orderBy("qid", "rank")
    }, oracle =
      s"""WITH ${Similarity.incrementalIvfTopKSql()}
          SELECT qid, rank, nid, score FROM ivf_inc_topk
          ORDER BY qid, rank"""),

    // Incremental maintenance of the persisted per-zone Bloom index —
    // the maintenance trio's third member: build from the base batch
    // (per-zone bit sizes frozen), OR the delta's bit positions into its
    // zones against the frozen sizes (only touched zone dirs gain
    // files), serve the q237 probe workload from the maintained
    // artifacts. Oracle = the same frozen-size index computed logically
    // over base+delta; hash equality carries the no-false-negative
    // contract across maintenance.
    Query("q245_incremental_bloom", scale = true, build = { (s, dir) =>
      Planning.incrementalBloomLookup(TestData.lineitem(s, dir),
        scratchDir("graft-q245").resolve("bloom_index").toString)
        .orderBy("probe_key")
    }, oracle =
      s"""WITH ${Planning.incrementalBloomLookupSql()}
          SELECT probe_key, zones_total, zones_candidate, zones_matching,
                 n_rows, total_cents
          FROM inc_bloom_lookup ORDER BY probe_key"""),

    // The persisted IVF-PQ index (IVFADC): coarse inverted lists +
    // product-quantized codes built to disk, queries coarse-routed
    // against the loaded centroids, ADC lookup tables from the loaded
    // codebooks, and only the query's cell's codes scanned — the
    // compressed-corpus layout billion-scale ANN serving deploys.
    Query("q247_pq_index", scale = true, build = { (s, dir) =>
      Similarity.persistedPqTopK(TestData.embeddings(s, dir),
        scratchDir("graft-q247").resolve("pq_index").toString)
        .orderBy("qid", "rank")
    }, oracle =
      s"""WITH ${Similarity.persistedPqTopKSql()}
          SELECT qid, rank, nid, adc_dist
          FROM pq_serve ORDER BY qid, rank"""),

    // Optimistic concurrency on the manifest table: two writers race
    // from the same pinned snapshot; the loser's stale commit is REFUSED
    // by the exclusive-create CAS (its staged files deleted unpublished),
    // it rebases on the winner's snapshot and commits next. Final state
    // is the serial application; versions and the conflict are pinned.
    Query("q248_concurrent_commits", scale = true, build = { (s, dir) =>
      ManifestTable.concurrentCommitters(TestData.events(s, dir),
        scratchDir("graft-q248").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.concurrentCommittersSql()}
          SELECT stage, version, conflict, event_type, n, total_cents
          FROM concurrent_commits ORDER BY stage, event_type"""),

    // q248's partition-mapped sibling: disjoint writers BOTH commit
    // (the loser's retry is a metadata rebase — staged files renamed,
    // never rewritten), an overlapping stale writer is refused and
    // serializes on the live head; the Iceberg concurrent-append story.
    Query("q327_concurrent_partition_commits", scale = true, build = { (s, dir) =>
      ManifestTable.concurrentPartitionCommits(TestData.events(s, dir),
        scratchDir("graft-q327").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.concurrentPartitionCommitsSql()}
          SELECT stage, version, cas_losses, conflict, event_type, n,
                 total_cents
          FROM concurrent_partition_commits ORDER BY stage, event_type"""),

    // The table_changes() surface: three published versions (base;
    // deletes+updates; inserts), the row-level CDF derived per
    // consecutive pair with one full-outer key join, update rows as
    // pre/post images, summarized per (version, change_type, type).
    Query("q249_change_feed", scale = true, build = { (s, dir) =>
      ManifestTable.changeFeedSummary(TestData.events(s, dir),
        scratchDir("graft-q249").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.changeFeedSummarySql()}
          SELECT version, change_type, event_type, n, total_cents
          FROM change_feed ORDER BY version, change_type, event_type"""),

    // Merge-on-read UPDATES: a (key, new value) patch sidecar applied at
    // read (broadcast left join + coalesce), a delete sidecar stacked on
    // top, then compaction — v3 totals must equal v4's (purge contract).
    Query("q266_mor_update", scale = true, build = { (s, dir) =>
      ManifestTable.mergeOnReadUpdate(TestData.events(s, dir),
        scratchDir("graft-q266").toString)
    }, oracle =
      s"""WITH ${ManifestTable.mergeOnReadUpdateSql()}
          SELECT stage, version, event_type, n, total_cents
          FROM mor_update ORDER BY stage, event_type"""),

    // Cross-table atomic transaction: one manifest maps every table to
    // its version, swapped with one rename; an injected crash after the
    // fact write leaves readers on the CONSISTENT v1 pair, and the
    // fact/rollup totals ride side by side so consistency is measured.
    Query("q264_multi_table_commit", scale = true, build = { (s, dir) =>
      ManifestTable.multiTableCommit(TestData.events(s, dir),
        scratchDir("graft-q264").toString)
    }, oracle =
      s"""WITH ${ManifestTable.multiTableCommitSql()}
          SELECT stage, fact_v, rollup_v, orphaned_dirs, event_type, fact_n,
                 fact_cents, consistent
          FROM multi_table ORDER BY stage, event_type"""),

    // Right-to-be-forgotten under the manifest: erase one user from the
    // fact AND its derived rollup (delta-adjusted, never rebuilt), prove
    // a measured zero remnant, vacuum the pre-erasure version so the
    // forget is physical. Oracle pins the remnant to zero.
    Query("q263_forget_user", scale = true, build = { (s, dir) =>
      ManifestTable.forgetUser(TestData.events(s, dir),
        scratchDir("graft-q263").toString)
    }, oracle =
      s"""WITH ${ManifestTable.forgetUserSql()}
          SELECT stage, version, n_versions, target_user, event_type, n,
                 total_cents
          FROM forget_user ORDER BY stage, event_type"""),

    // Partition-spec evolution under the manifest: old files stay in the
    // 30-day layout, post-evolution files land in the 7-day layout, the
    // manifest records each group's spec, and a straddling day-range
    // read prunes each group by its own spec. Totals are layout-
    // invariant — the oracle filters the raw events directly.
    Query("q253_partition_evolution", scale = true, build = { (s, dir) =>
      ManifestTable.evolvedPartitionRead(TestData.events(s, dir),
        scratchDir("graft-q253").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.evolvedPartitionReadSql()}
          SELECT event_type, n, total_cents
          FROM evolved_read ORDER BY event_type"""),

    // Merge-on-read deletes: the commit lands only a key-list sidecar
    // (O(deleted keys), data files untouched), reads mask with one
    // anti-join, and the purge compaction applies the vector physically
    // with identical results — the CoW/MoR split table formats expose.
    Query("q254_merge_on_read", scale = true, build = { (s, dir) =>
      ManifestTable.mergeOnReadDelete(TestData.events(s, dir),
        scratchDir("graft-q254").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.mergeOnReadDeleteSql()}
          SELECT stage, version, event_type, n, total_cents
          FROM mor_delete ORDER BY stage, event_type"""),

    // Aggregate pushdown through a block rollup: full blocks of the
    // range answer from per-block pre-aggregates, only the two partial
    // edge blocks scan raw rows; rollup + residual must equal the direct
    // aggregate exactly (cent-exact sums make the rollup lossless).
    Query("q255_rollup_pushdown", scale = true, build = { (s, dir) =>
      Planning.rollupPushdownAggregate(TestData.events(s, dir),
        scratchDir("graft-q255").resolve("rollup").toString)
    }, oracle =
      s"""WITH ${Planning.rollupPushdownAggregateSql()}
          SELECT event_type, n, total_cents
          FROM rollup_pushdown ORDER BY event_type"""),

    // Compaction racing a live append: both writers pin the same base,
    // the CAS picks one winner, the loser rebases — the final table is
    // the serial replay (Iceberg's rewrite+append conflict, resolved).
    Query("q287_compact_vs_append", scale = true, build = { (s, dir) =>
      ManifestTable.compactionVsAppend(TestData.events(s, dir),
        scratchDir("graft-q287").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.compactionVsAppendSql()}
          SELECT stage, version, conflict, event_type, n, total_cents
          FROM compact_vs_append ORDER BY stage, event_type"""),

    // Branches and tags: named pointers into one immutable snapshot
    // history — a dev commit moves only its own ref, a tag can never
    // move, and a fast-forward merge is a pure pointer move.
    Query("q290_branch_tags", scale = true, build = { (s, dir) =>
      ManifestTable.branchTagReads(TestData.events(s, dir),
        scratchDir("graft-q290").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.branchTagReadsSql()}
          SELECT stage, ref, version, event_type, n, total_cents
          FROM branch_tags ORDER BY stage, event_type"""),

    // String zone maps with Iceberg-style truncated bounds: prefix
    // predicates become half-open ranges, the skip test is byte-wise on
    // 4-char bounds, and the serve opens only surviving zone dirs.
    Query("q295_string_zone_skip", scale = true, build = { (s, dir) =>
      Planning.stringZoneSkipping(TestData.part(s, dir),
        scratchDir("graft-q295").resolve("szs").toString)
    }, oracle =
      s"""WITH ${Planning.stringZoneSkippingSql()}
          SELECT pred_id, n_zones, zones_scanned, zones_skipped,
                 n_rows, total_cents
          FROM string_zone_skip ORDER BY pred_id"""),

    // Incremental string-zone-map maintenance: delta-only truncated
    // bounds merge into the persisted artifact (least/greatest/sum),
    // base never rescanned; the serve prunes with the merged bounds.
    Query("q297_inc_string_zones", scale = true, build = { (s, dir) =>
      Planning.incrementalStringZoneMap(TestData.part(s, dir),
        scratchDir("graft-q297").resolve("iszm").toString)
    }, oracle =
      s"""WITH ${Planning.incrementalStringZoneMapSql()}
          SELECT pred_id, n_zones, zones_scanned, zones_skipped,
                 n_rows, total_cents
          FROM inc_string_zones ORDER BY pred_id"""),

    // Orphan GC: the dead writer's snapshot (crash between data-write
    // and pointer-swap) is reclaimed by set arithmetic over version
    // ids; pointer/CAS/ref-protected versions are never candidates.
    Query("q298_orphan_gc", scale = true, build = { (s, dir) =>
      ManifestTable.orphanGc(TestData.events(s, dir),
        scratchDir("graft-q298").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.orphanGcSql()}
          SELECT stage, version, n_version_dirs, n_orphans,
                 event_type, n, total_cents
          FROM orphan_gc ORDER BY stage, event_type"""),

    // Orphan GC safe against an IN-FLIGHT publish: writer intents (the
    // put-if-absent CAS) plus a grace-window age threshold — GC under a
    // live intent reclaims nothing; once the intent expires it reclaims
    // exactly the crashed writer's snapshot and dead intent file.
    Query("q302_safe_orphan_gc", scale = true, build = { (s, dir) =>
      ManifestTable.safeOrphanGc(TestData.events(s, dir),
        scratchDir("graft-q302").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.safeOrphanGcSql()}
          SELECT stage, version, n_version_dirs, n_live_intents,
                 n_reclaimed, event_type, n, total_cents
          FROM safe_orphan_gc ORDER BY stage, event_type"""),

    // Manifest checkpoint: one CAS-claimed metadata file naming every
    // live version + an O(1) LAST locator — resolve splices the
    // covered prefix with an incrementally-probed tail and must equal
    // the full dir listing at every stage (require-pinned).
    Query("q304_manifest_checkpoint", scale = true, build = { (s, dir) =>
      ManifestTable.checkpointResolve(TestData.events(s, dir),
        scratchDir("graft-q304").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.checkpointResolveSql()}
          SELECT stage, version, n_versions, cp_seq, cp_head, n_tail,
                 event_type, n, total_cents
          FROM checkpoint_resolve ORDER BY stage, event_type"""),

    // Dynamic partition overwrite (replaceWhere): a commit rewrites
    // only the replaced partitions — everything else served from older
    // versions BY REFERENCE via the partition manifest; empty
    // replacement = partition delete; vacuum respects reachability.
    Query("q306_partition_overwrite", scale = true, build = { (s, dir) =>
      ManifestTable.partitionOverwrite(TestData.events(s, dir),
        scratchDir("graft-q306").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.partitionOverwriteSql()}
          SELECT stage, version, n_new_parts, n_ref_parts, event_type,
                 n, total_cents
          FROM partition_overwrite ORDER BY stage, event_type"""),

    // Write-audit-publish: candidates stage on a branch, an expectation
    // audit gates the fast-forward promotion of main, a rejected
    // candidate's branch drops and the safe GC sweeps its snapshot.
    Query("q308_write_audit_publish", scale = true, build = { (s, dir) =>
      ManifestTable.writeAuditPublish(TestData.events(s, dir),
        scratchDir("graft-q308").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.writeAuditPublishSql()}
          SELECT stage, version, verdict, n_bad, n_version_dirs,
                 event_type, n, total_cents
          FROM wap ORDER BY stage, event_type"""),

    // Compaction of the partition-mapped table: the rewrite commit
    // materializes the spliced read into one self-contained snapshot
    // (totals provably unchanged), then one reachability vacuum
    // reclaims the whole source-version sprawl.
    Query("q309_compact_partitioned", scale = true, build = { (s, dir) =>
      ManifestTable.compactPartitioned(TestData.events(s, dir),
        scratchDir("graft-q309").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.compactPartitionedSql()}
          SELECT stage, version, n_version_dirs, n_src_versions,
                 event_type, n, total_cents
          FROM compact_partitioned ORDER BY stage, event_type"""),

    // The change feed CROSSING the compaction commit: v2/v3 present
    // exactly their re-priced rows; the rewrite version presents ZERO
    // change rows (compaction rewrites files, never rows) — the
    // Iceberg rewrite_data_files-vs-CDC contract, oracle-pinned.
    Query("q319_compaction_change_feed", scale = true, build = { (s, dir) =>
      ManifestTable.compactionChangeFeed(TestData.events(s, dir),
        scratchDir("graft-q319").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.compactionChangeFeedSql()}
          SELECT version, is_compaction, n_update, pre_cents, post_cents,
                 n_insert, n_delete
          FROM compaction_change_feed ORDER BY version"""),

    // Snapshot rollback as a roll-FORWARD commit: the new version's
    // manifest is a copy of the target's — zero data moved (dir count
    // require-pinned), the bad snapshot stays readable for audit.
    Query("q312_snapshot_rollback", scale = true, build = { (s, dir) =>
      ManifestTable.snapshotRollback(TestData.events(s, dir),
        scratchDir("graft-q312").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.snapshotRollbackSql()}
          SELECT stage, version, n_version_dirs, n_src_versions,
                 event_type, n, total_cents
          FROM snapshot_rollback ORDER BY stage, event_type"""),

    // The q310 eval re-rooted on a PERSISTED exact ground truth:
    // brute-force top-k published once through the manifest pointer
    // protocol, content-addressed by a corpus fingerprint; the second
    // ensure call must detect it fresh and reuse it, and the oracle is
    // the from-scratch chain — eval-from-artifact ≡ eval-from-scratch.
    Query("q318_persisted_ground_truth", scale = true, build = { (s, dir) =>
      Similarity.persistedGroundTruthEval(TestData.embeddings(s, dir),
        scratchDir("graft-q318").resolve("gt").toString)
    }, oracle =
      s"""WITH ${Similarity.persistedGroundTruthEvalSql()}
          SELECT qid, hits, mrr, dcg_e6, ndcg, gt_version
          FROM gt_eval ORDER BY qid"""),

    // The multi-config eval the persisted ground truth amortizes:
    // recall / mean-NDCG / MRR at every probe depth, one GT artifact,
    // one candidate pass; every aggregate is exact-integer sums + one
    // division (MRR rides the lcm(1..k) integer scale).
    Query("q320_multi_probe_eval", scale = true, build = { (s, dir) =>
      Similarity.multiProbeEvalFromGroundTruth(TestData.embeddings(s, dir),
        scratchDir("graft-q320").resolve("gt").toString)
    }, oracle =
      s"""WITH ${Similarity.multiProbeEvalFromGroundTruthSql()}
          SELECT nprobe, nq, hits, recall, sum_dcg_e6, mean_ndcg, mrr
          FROM multi_probe_eval ORDER BY nprobe"""),

    // Incremental ground-truth maintenance: delta-proportional scoring
    // merged into the stored top-k, published as the next version
    // carrying the FULL corpus fingerprint; the oracle is the
    // from-scratch rebuild — hash equality proves maintained = rebuilt.
    Query("q321_incremental_ground_truth", scale = true, build = { (s, dir) =>
      Similarity.incrementalGroundTruth(TestData.embeddings(s, dir),
        scratchDir("graft-q321").resolve("gt").toString)
    }, oracle =
      s"""WITH ${Similarity.incrementalGroundTruthSql()}
          SELECT qid, rank, nid, score
          FROM brute_topk ORDER BY qid, rank"""),

    // Keyed upserts + tombstones on the MoR table (the Hudi read shape):
    // every commit writes only delta rows, the read resolves latest-wins
    // then drops tombstones, compaction applies both physically, and the
    // MoR-aware vacuum honors delta references both before (reclaims
    // nothing) and after (reclaims exactly the chain) the compaction.
    Query("q329_mor_upsert_read", scale = true, build = { (s, dir) =>
      ManifestTable.morUpsertRead(TestData.events(s, dir),
        scratchDir("graft-q329").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.morUpsertReadSql()}
          SELECT stage, version, n_src_versions, reclaimed, event_type,
                 n, total_cents
          FROM mor_upsert_read ORDER BY stage, event_type"""),

    // DELETE WHERE via POSITION deletes (Iceberg's second delete flavor
    // beside q329's equality form): delete commits write (partition,
    // src_version, pos) triples ∝ |deleted rows|; the read applies them
    // with a broadcast anti-join over only the touched partitions — the
    // base is never shuffled or key-aggregated, unlike the keyed read.
    Query("q331_position_delete_mor", scale = true, build = { (s, dir) =>
      ManifestTable.positionDeleteRead(TestData.events(s, dir),
        scratchDir("graft-q331").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.positionDeleteReadSql()}
          SELECT stage, version, n_base, n_del, event_type, n,
                 total_cents
          FROM position_delete_read ORDER BY stage, event_type"""),

    // Field-ID schema evolution (the piece q225's mergeSchema cannot
    // give): renames are metadata-only — old files read under the new
    // names via their immutable field ids — and a dropped-then-re-added
    // column gets a fresh id, so dead same-named columns in old files
    // never resurrect. Evolution commits are one tiny metadata file.
    Query("q332_field_id_evolution", scale = true, build = { (s, dir) =>
      FieldIdTable.fieldIdEvolution(TestData.events(s, dir),
        scratchDir("graft-q332").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${FieldIdTable.fieldIdEvolutionSql()}
          SELECT stage, event_type, n, total_cents, n_channel,
                 n_channel_vals
          FROM field_id_evolution ORDER BY stage, event_type"""),

    // Storage-partitioned join: both tables are partition-mapped on
    // event_type, so the manifests plan one branch per common partition
    // — the cross-partition shuffle is structurally gone, and broadcast
    // is a PER-PARTITION decision from manifest byte counts (a slice
    // broadcasts even when the whole dimension would not).
    Query("q333_colocated_partition_join", scale = true, build = { (s, dir) =>
      ColocatedJoin.colocatedOverAverage(TestData.events(s, dir),
        scratchDir("graft-q333").resolve("facts").toString,
        scratchDir("graft-q333").resolve("user_totals").toString)
    }, oracle =
      s"""WITH ${ColocatedJoin.colocatedOverAverageSql()}
          SELECT event_type, n_over, n_users, over_cents
          FROM colocated_over_average ORDER BY event_type"""),

    // Metadata-only aggregation: each delta commit folds its batch's
    // per-partition (count, sum) into its manifest's cumulative stats, so
    // full-table COUNT/SUM — at any version, including time travel —
    // is a one-file metadata read with zero data files opened (Delta's
    // numRecords / Iceberg's manifest value-counts); a physical recount
    // cross-checks the stats in-plan.
    Query("q335_metadata_count", scale = true, build = { (s, dir) =>
      ManifestTable.metadataCountRead(TestData.events(s, dir),
        scratchDir("graft-q335").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.metadataCountReadSql()}
          SELECT stage, event_type, n, total_cents
          FROM metadata_count_read ORDER BY stage, event_type"""),

    // Stats stay EXACT through position deletes: the DELETE WHERE scan
    // that names the doomed rows also prices the negative stats fold,
    // so COUNT/SUM remains a metadata read at every stage (base, two
    // deletes, compaction) — the composition equality deletes cannot
    // afford without the key-grain read MoR writes exist to avoid.
    Query("q336_metadata_stats_deletes", scale = true, build = { (s, dir) =>
      ManifestTable.metadataStatsDeletes(TestData.events(s, dir),
        scratchDir("graft-q336").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.metadataStatsDeletesSql()}
          SELECT stage, version, event_type, n, total_cents
          FROM metadata_stats_deletes ORDER BY stage, event_type"""),

    // Incremental eval report: the grain is a pure SUM table, so a
    // delta batch maintains the persisted artifact with one delta-only
    // scan + an integer pn-merge — the nightly eval never rescans
    // history; merged == full rebuild by oracle equality.
    Query("q315_inc_eval_report", scale = true, build = { (s, dir) =>
      Events.incrementalEvalReport(TestData.events(s, dir),
        scratchDir("graft-q315").resolve("eval_grain").toString)
    }, oracle =
      s"""WITH ${Events.incrementalEvalReportSql()}
          SELECT stage, cls, n, auc, brier, tp, fp, fn, tn,
                 precision, recall, f1, mcc
          FROM inc_eval_report ORDER BY stage, cls"""),

    // Index intersection: the range predicate consults the zone map,
    // the point predicate consults the per-zone Bloom, and the scan
    // opens only the intersected zone dirs — composed file skipping.
    Query("q284_index_intersection", scale = true, build = { (s, dir) =>
      Planning.indexIntersectionLookup(TestData.lineitem(s, dir),
        scratchDir("graft-q284").resolve("ixn").toString)
    }, oracle =
      s"""WITH ${Planning.indexIntersectionLookupSql()}
          SELECT probe_key, zones_total, zones_range, zones_bloom,
                 zones_used, n_rows, total_cents
          FROM index_intersection ORDER BY probe_key"""),

    // Version-keyed result cache: the snapshot version IS the cache
    // key, so publishes invalidate by construction — four stages pin
    // the miss/hit/miss/hit pattern with the served totals.
    Query("q283_result_cache", scale = true, build = { (s, dir) =>
      ManifestTable.resultCache(TestData.events(s, dir),
        scratchDir("graft-q283").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.resultCacheSql()}
          SELECT stage, version, served_from, event_type, n, total_cents
          FROM result_cache ORDER BY stage, event_type"""),

    // Persisted HLL-register rollup: day sketches land once, month and
    // global distinct estimates merge the loaded registers (max per
    // bucket) — pre-aggregated COUNT(DISTINCT) without rescans.
    Query("q282_hll_rollup", scale = true, build = { (s, dir) =>
      Planning.hllSketchRollup(TestData.events(s, dir),
        scratchDir("graft-q282").resolve("sketches").toString)
    }, oracle =
      s"""WITH ${Planning.hllSketchRollupSql()}
          SELECT scope, v_zeros, denom, est, branch, n_exact
          FROM hll_rollup ORDER BY scope"""),

    // Lease-protected vacuum: a reader lease pins v1 through a keep-1
    // vacuum (only unleased v2 reclaimed), the leased snapshot is read
    // physically AFTER the vacuum, then released and reclaimed.
    Query("q280_leased_vacuum", scale = true, build = { (s, dir) =>
      ManifestTable.leasedVacuum(TestData.events(s, dir),
        scratchDir("graft-q280").resolve("events_table").toString)
    }, oracle =
      s"""WITH ${ManifestTable.leasedVacuumSql()}
          SELECT stage, version, n_versions, event_type, n, total_cents
          FROM leased_vacuum ORDER BY stage, event_type"""),

    // Dynamic partition pruning: the dim-attribute filter prunes the
    // ym-partitioned fact scan at runtime (no static predicate exists);
    // DppSpec asserts the physical dirs, this query hashes the totals.
    Query("q279_dpp_star_join", scale = true, build = { (s, dir) =>
      Planning.dppStarJoin(TestData.lineitem(s, dir),
        scratchDir("graft-q279").resolve("star").toString)
    }, oracle =
      s"""WITH ${Planning.dppStarJoinSql()}
          SELECT ym, n, total_cents
          FROM dpp_star ORDER BY ym"""),

    // Phrase search over a persisted positional inverted index: the
    // q239 index upgraded with token positions; phrases matched by a
    // position-offset join over bucket-pruned posting reads, workload
    // derived from the persisted bigram stats.
    Query("q278_phrase_search", scale = true, build = { (s, dir) =>
      TextAnalysis.phraseSearch(TestData.documents(s, dir),
        scratchDir("graft-q278").resolve("pos_index").toString)
    }, oracle =
      s"""WITH ${TextAnalysis.phraseSearchSql()}
          SELECT query_id, t1, t2, n_occ, n_docs, sum_pair_doc_ids,
                 min_doc_id, max_doc_id
          FROM phrase_search ORDER BY query_id"""),

    // Incremental zone-map maintenance: the delta alone aggregates, one
    // outer merge join updates the persisted per-zone min/max/count —
    // oracle rebuilds from scratch; updated == rebuilt via the hash.
    Query("q268_incremental_zonemap", scale = true, build = { (s, dir) =>
      Planning.incrementalZoneMap(TestData.lineitem(s, dir),
        scratchDir("graft-q268").toString)
    }, oracle =
      s"""WITH ${Planning.incrementalZoneMapSql()}
          SELECT zone, zmin, zmax, zn
          FROM inc_zonemap ORDER BY zone"""),

    // MV lattice routing: three persisted cuboids, each grouping query
    // answered from the smallest subsuming cuboid (min rows, name
    // tie-break), never the base table. Oracle recomputes the routing
    // from cuboid sizes and answers directly from base — answered-from-
    // cuboid == answered-from-base is the rewrite's correctness claim.
    Query("q259_cuboid_routing", scale = true, build = { (s, dir) =>
      Planning.cuboidRouting(TestData.lineitem(s, dir),
        scratchDir("graft-q259").toString)
    }, oracle =
      s"""WITH ${Planning.cuboidRoutingSql()}
          SELECT query_dims, routed_cuboid, cuboid_rows, n_groups, n_rows,
                 total_qc, max_group_qc
          FROM cuboid_routing ORDER BY query_dims"""),

    // Incremental rollup maintenance: the q249 change images fold into
    // per-(block, type) adjustments applied to the persisted rollup with
    // one outer join — O(images), the base is never rescanned. Oracle =
    // the rollup rebuilt over the post-change table; equality is the
    // IVM proof, carried by the hash compare itself.
    Query("q256_incremental_rollup", scale = true, build = { (s, dir) =>
      Planning.incrementalRollupMaintenance(TestData.events(s, dir),
        scratchDir("graft-q256").resolve("rollup").toString)
    }, oracle =
      s"""WITH ${Planning.incrementalRollupMaintenanceSql()}
          SELECT p, event_type, n, cents
          FROM incremental_rollup ORDER BY p, event_type"""),

    // Incremental graph IVM: base labels persisted once, a delta edge
    // batch merges components through a super-graph propagation bounded
    // by the delta size, one broadcast remap rewrites touched labels.
    // Oracle = components recomputed from scratch over ALL pairs;
    // updated == rebuilt is the maintenance proof.
    Query("q257_incremental_components", scale = true, build = { (s, dir) =>
      Dedup.incrementalComponents(TestData.documents(s, dir),
        scratchDir("graft-q257").toString)
    }, oracle =
      s"""WITH RECURSIVE ${Dedup.dedupClustersSql()}
          SELECT doc_id, cluster_id, is_survivor FROM dedup_clusters ORDER BY doc_id"""),

    // Co-located bucketed join: both sides written bucketed on the join
    // key, so the sort-merge join plans with NO shuffle exchange (the
    // no-Exchange property is asserted in BucketingSpec; here the oracle
    // hash-check proves the bucketed layout round-trips the values).
    Query("q83_bucketed_join", scale = false, build = { (s, dir) =>
      Bucketing.writeBucketed(
        TestData.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
        "b83_orders", "o_custkey", 8)
      Bucketing.writeBucketed(
        TestData.customer(s, dir).select("c_custkey", "c_acctbal")
          .withColumnRenamed("c_custkey", "o_custkey"),
        "b83_customer", "o_custkey", 8)
      s.table("b83_orders").hint("merge")
        .join(s.table("b83_customer"), Seq("o_custkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(money(col("o_totalprice"))).cast("decimal(18,2)")).as("total"))
        .orderBy("o_custkey")
    },
      // the bucketed layout must be invisible in the values
      oracle =
      s"""SELECT o_custkey, COUNT(*) AS n,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("o_totalprice")}) AS DECIMAL(18,2))")} AS total
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY o_custkey
          ORDER BY o_custkey"""),

    // Small-file compaction: fragment the events table into 64 shards,
    // compact to ~1 MB files, and hash-check the aggregate — the OPTIMIZE
    // maintenance op must be invisible in the data.
    Query("q88_compaction", scale = false, build = { (s, dir) =>
      val frag = scratchDir("graft-q88").resolve("events").toString
      TestData.events(s, dir).repartition(64)
        .write.mode("overwrite").parquet(frag)
      WarehouseSink.compact(s, frag, targetBytes = 1L << 20)
      s.read.parquet(frag)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(money(col("value"))).cast("decimal(18,2)")).as("total"))
        .orderBy("event_type")
    },
      // the compaction rewrite must be invisible in the data
      oracle =
      s"""SELECT event_type, COUNT(*) AS n,
                 ${moneyOutSql(s"CAST(SUM(${moneySql("value")}) AS DECIMAL(18,2))")} AS total
          FROM events
          GROUP BY event_type
          ORDER BY event_type"""),

    // ORC as a second columnar source/sink: write the documents corpus as
    // ORC, read it back, and prove content fidelity (md5 extremes) against
    // the parquet-reading oracle. Formats differ; values must not.
    Query("q98_orc_roundtrip", scale = false, build = { (s, dir) =>
      val path = scratchDir("graft-q98").resolve("documents_orc").toString
      TestData.documents(s, dir).write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          min(md5(col("text"))).as("md5_min"), max(md5(col("text"))).as("md5_max"))
        .orderBy("source")
    },
      // the oracle reads the PARQUET corpus; Spark answered from its ORC copy
      oracle =
      """SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       MIN(md5(text)) AS md5_min, MAX(md5(text)) AS md5_max
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
  )
}
