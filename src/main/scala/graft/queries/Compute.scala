package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.OracleSafe._
import graft.operators.{Dedup, Graph, Multimodal, Packing, Planning, Sampling, Similarity, Snapshot, TextAnalysis}
import graft.sources.TestData

/** Dedup, ANN and text compute: every query that neither streams nor
  * writes files and reads `documents` or `embeddings`.
  * [[Query]] states the rule that places a query in its family.
  */
object Compute {

  /** Fixed retrieval query for q57 — terms from the synthetic corpus
    * vocabulary, shared by engine and oracle.
    */
  private val bm25Terms: Seq[String] = Seq("spark", "query", "join")

  /** q38 training mix: keep all of the curated source, half of the next,
    * a tenth of everything else.
    */
  private val sampleRates: Seq[(String, Int)] = Seq("src0" -> 100, "src1" -> 50)

  val queries: Seq[Query] = Seq(
    // ---- LLM-data-pipeline operators: dedup, similarity, text, multimodal.
    Query("q40_dedup_exact", scale = false, build = { (s, dir) =>
      Dedup.exact(TestData.documents(s, dir)).orderBy("text_hash")
    }, oracle =
      s"""${Dedup.exactSql}
          ORDER BY text_hash"""),

    Query("q53_ann_ivf_assign", scale = true, build = { (s, dir) =>
      Similarity.ivfAssign(TestData.embeddings(s, dir)).orderBy("vec_id")
    }, oracle =
      s"""WITH ${Similarity.ivfAssignSql}
          SELECT vec_id, cell, score FROM ivf_assign ORDER BY vec_id"""),

    // SemDeDup: IVF-cluster blocking + within-cell cosine domination.
    Query("q110_semantic_dedup", scale = true, build = { (s, dir) =>
      Similarity.semanticDedup(TestData.embeddings(s, dir), threshold = 0.35)
        .orderBy("vec_id")
    }, oracle =
      s"""WITH ${Similarity.semanticDedupSql(0.35)}
          SELECT s.vec_id, s.cell,
                 CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS dropped
          FROM sd s LEFT JOIN sem_dom d ON s.vec_id = d.vec_id
          ORDER BY s.vec_id"""),

    // Contrastive-training negatives: hash-probed foreign LSH buckets.
    Query("q116_negative_samples", scale = true, build = { (s, dir) =>
      Similarity.negativeSamples(TestData.embeddings(s, dir))
        .orderBy("qid", "rank")
    }, oracle =
      s"""WITH ${Similarity.negativeSamplesSql()}
          SELECT qid, rank, neg_id FROM neg_samples ORDER BY qid, rank"""),

    // Typed Aggregator (UDAF): per-label embedding centroid.
    Query("q58_label_centroids", scale = true, build = { (s, dir) =>
      import s.implicits._
      val quantized = TestData.embeddings(s, dir)
        .select(col("label"),
          transform(col("embedding"), x => quant(x)).as("q"))
        .as[(Int, Seq[Long])]
      quantized.groupByKey(_._1)
        .mapValues(_._2)
        .agg(graft.functions.VectorCentroid.toColumn.name("centroid"))
        .toDF("label", "centroid")
        .select(col("label"), posexplode(col("centroid")).as(Seq("d", "mean")))
        .orderBy("label", "d")
    }, oracle =
      s"""WITH qv AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> ${quantSql("x")}) AS q
            FROM embeddings),
          elems AS (
            SELECT label, CAST(i - 1 AS INT) AS d, q[CAST(i AS INT)] AS x
            FROM (SELECT label, q, unnest(generate_series(1, len(q))) AS i FROM qv) t)
          SELECT label, d, CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mean
          FROM elems
          GROUP BY label, d
          ORDER BY label, d"""),

    Query("q55_contamination", scale = true, build = { (s, dir) =>
      TextAnalysis.contamination(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""WITH ${TextAnalysis.contaminationSql()}
          SELECT doc_id, n_shingles, contaminated, contamination_ratio
          FROM contamination ORDER BY doc_id"""),

    Query("q56_quality_filter", scale = true, build = { (s, dir) =>
      TextAnalysis.qualityFilter(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""${TextAnalysis.qualityFilterSql()}
          ORDER BY doc_id"""),

    // Ranked retrieval over the corpus: stats broadcast + linear scoring
    // pass + bounded-heap top-k. Query terms are fixed literals so the
    // oracle computes the identical arithmetic.
    Query("q57_bm25_topk", scale = true, build = { (s, dir) =>
      TextAnalysis.bm25(TestData.documents(s, dir), bm25Terms)
    }, oracle = TextAnalysis.bm25Sql(bm25Terms)),

    // Deterministic training-mix sampling: md5-hash coin per doc_id, so
    // the subset is identical across runs, clusters, and engines — a pure
    // filter on the scan, no shuffle.
    Query("q38_stratified_sample", scale = false, build = { (s, dir) =>
      Sampling.stratifiedSample(TestData.documents(s, dir), sampleRates)
        .orderBy("doc_id")
    }, oracle =
      s"""${Sampling.stratifiedSampleSql(sampleRates)}
          ORDER BY doc_id"""),

    // Vocabulary building: corpus-global token frequencies, top 50.
    Query("q39_vocab_topk", scale = true, build = { (s, dir) =>
      TextAnalysis.vocabTopK(TestData.documents(s, dir))
    }, oracle = TextAnalysis.vocabTopKSql()),

    // Canonicalization pass: lowercase/strip/collapse, emitting the
    // normalized identity hash.
    Query("q78_text_normalize", scale = false, build = { (s, dir) =>
      TextAnalysis.normalized(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""${TextAnalysis.normalizedSql}
          ORDER BY doc_id"""),

    // Keyword extraction: per-doc top TF-IDF terms, all-integer scoring,
    // bounded per-key top-k window.
    Query("q86_tfidf_terms", scale = true, build = { (s, dir) =>
      TextAnalysis.tfidfTopTerms(TestData.documents(s, dir))
        .orderBy("doc_id", "rank")
    }, oracle =
      s"""WITH ${TextAnalysis.tfidfTopTermsSql()}
          SELECT doc_id, rank, token, score FROM tfidf_topk
          ORDER BY doc_id, rank"""),

    // Leakage-safe split: the coin is flipped on the near-dup cluster id,
    // so paraphrase families never straddle train/test.
    Query("q79_train_test_split", scale = false, build = { (s, dir) =>
      Sampling.leakageSafeSplit(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""WITH RECURSIVE ${Sampling.leakageSafeSplitSql()}
          SELECT doc_id, cluster_id, split FROM split ORDER BY doc_id"""),

    Query("q54_ann_ivf_topk", scale = true, build = { (s, dir) =>
      Similarity.ivfTopK(TestData.embeddings(s, dir)).orderBy("qid", "rank")
    }, oracle =
      s"""WITH ${Similarity.ivfTopKSql()}
          SELECT qid, rank, nid, score FROM ivf_topk ORDER BY qid, rank"""),

    // Index-quality closure: recall@k of the LSH index vs the exact
    // baseline, per query.
    Query("q77_ann_recall", scale = false, build = { (s, dir) =>
      Similarity.annRecall(TestData.embeddings(s, dir))
    }, oracle =
      s"""WITH ${Similarity.annRecallSql()}
          SELECT qid, hits, recall_at_k FROM ann_recall ORDER BY qid"""),

    // IVF centroid refinement: two exact-integer Lloyd rounds over the
    // seeded sample — real k-means, bit-identical across engines.
    Query("q87_ivf_kmeans", scale = true, build = { (s, dir) =>
      Similarity.ivfKmeansCentroids(TestData.embeddings(s, dir))
    }, oracle =
      s"""WITH ${Similarity.ivfKmeansCentroidsSql}
          SELECT cid, d, mean FROM km_centroids ORDER BY cid, d"""),

    Query("q41_ngram_jaccard", scale = true, build = { (s, dir) =>
      Dedup.ngramJaccardPairs(TestData.documents(s, dir), n = 3, threshold = 0.1)
        .orderBy("doc_a", "doc_b")
    }, oracle =
      s"""WITH ${Dedup.ngramJaccardPairsSql(3, 0.1)}
          SELECT doc_a, doc_b, inter, jaccard FROM jaccard_pairs
          ORDER BY doc_a, doc_b"""),

    Query("q42_minhash_signatures", scale = true, build = { (s, dir) =>
      Dedup.minhashSignatures(TestData.documents(s, dir)).orderBy("doc_id", "h")
    }, oracle =
      s"""WITH ${Dedup.minhashSignaturesSql()}
          SELECT doc_id, h, mh FROM minhash ORDER BY doc_id, h"""),

    Query("q43_lsh_candidates", scale = true, build = { (s, dir) =>
      Dedup.lshCandidates(TestData.documents(s, dir)).orderBy("doc_a", "doc_b")
    }, oracle =
      s"""WITH ${Dedup.lshCandidatesSql()}
          SELECT doc_a, doc_b, n_shared_bands FROM lsh_pairs ORDER BY doc_a, doc_b"""),

    // Pairs → clusters: connected components over the LSH candidate graph
    // (iterative min-label propagation; the oracle is a recursive CTE).
    // In-plan training-mix solver: feasible rates for a 3:1 target mix.
    Query("q119_mixture_rates", scale = false, build = { (s, dir) =>
      Sampling.mixtureRates(TestData.documents(s, dir), Seq("src0" -> 3))
        .orderBy("source")
    }, oracle =
      s"""${Sampling.mixtureRatesSql(Seq("src0" -> 3))}
          ORDER BY source"""),

    // PMI-ranked adjacent-bigram collocations (log-free lift score).
    Query("q117_collocations", scale = false, build = { (s, dir) =>
      TextAnalysis.collocations(TestData.documents(s, dir))
    }, oracle = TextAnalysis.collocationsSql()),

    // Novelty curve: share of a doc's shingles no earlier doc contributed.
    Query("q120_ngram_novelty", scale = true, build = { (s, dir) =>
      Dedup.ngramNovelty(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""WITH ${Dedup.ngramNoveltySql()}
          SELECT doc_id, n_shingles, novel, novelty FROM novelty ORDER BY doc_id"""),

    // Per-source n-gram type/token diversity.
    Query("q121_source_diversity", scale = false, build = { (s, dir) =>
      TextAnalysis.sourceDiversity(TestData.documents(s, dir)).orderBy("source")
    }, oracle =
      s"""WITH ${TextAnalysis.sourceDiversitySql()}
          SELECT source, distinct_ngrams, total_postings, n_docs, diversity
          FROM src_div ORDER BY source"""),

    // Quality-aware canonical pick: best doc per near-dup cluster.
    Query("q118_canonical_pick", scale = false, build = { (s, dir) =>
      Dedup.canonicalByQuality(TestData.documents(s, dir)).orderBy("cluster_id")
    }, oracle =
      s"""WITH RECURSIVE ${Dedup.canonicalByQualitySql()}
          SELECT cluster_id, n_members, canonical_id, best_n_chars
          FROM canonical ORDER BY cluster_id"""),

    // Fixed-point PageRank over the LSH candidate graph (exact BIGINT).
    Query("q122_pagerank", scale = true, build = { (s, dir) =>
      Graph.pagerank(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""WITH ${Graph.pagerankSql()}
          SELECT doc_id, rank_fp, score FROM pagerank ORDER BY doc_id"""),

    // PageRank convergence audit: exact integer L1 residual per round.
    Query("q142_pagerank_residuals", scale = false, build = { (s, dir) =>
      Graph.pagerankResiduals(TestData.documents(s, dir)).orderBy("round")
    }, oracle =
      s"""WITH ${Graph.pagerankResidualsSql()}
          SELECT round, residual_fp FROM pagerank_residuals ORDER BY round"""),

    // Overlapping sliding-window chunking of long docs (narrow-only plan).
    Query("q128_chunk_docs", scale = false, build = { (s, dir) =>
      Packing.chunkDocs(TestData.documents(s, dir)).orderBy("doc_id", "chunk_idx")
    }, oracle =
      s"""WITH ${Packing.chunkDocsSql()}
          SELECT doc_id, chunk_idx, start_tok, chunk_tokens, chunk_fp
          FROM chunks ORDER BY doc_id, chunk_idx"""),

    // Per-doc OOV rate vs the in-plan top-V vocabulary (bounded broadcast).
    Query("q129_vocab_coverage", scale = true, build = { (s, dir) =>
      TextAnalysis.vocabCoverage(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""WITH ${TextAnalysis.vocabCoverageSql()}
          SELECT doc_id, n_tokens, n_oov, oov_rate FROM vocab_cov ORDER BY doc_id"""),

    // Cross-source near-dup overlap matrix (which feeds mirror which).
    Query("q130_source_overlap", scale = false, build = { (s, dir) =>
      Dedup.sourceOverlap(TestData.documents(s, dir))
        .orderBy("source_lo", "source_hi")
    }, oracle =
      s"""WITH ${Dedup.sourceOverlapSql()}
          SELECT source_lo, source_hi, n_pairs FROM source_overlap
          ORDER BY source_lo, source_hi"""),

    // EXACT Jaccard similarity join with recall-complete prefix filtering
    // (the deterministic complement of the LSH candidate path).
    Query("q141_prefix_join", scale = true, build = { (s, dir) =>
      Dedup.prefixJaccardJoin(TestData.documents(s, dir))
        .orderBy("doc_a", "doc_b")
    }, oracle =
      s"""WITH ${Dedup.prefixJaccardJoinSql()}
          SELECT doc_a, doc_b, n_inter, n_union, jaccard FROM prefix_join
          ORDER BY doc_a, doc_b"""),

    // EXACT containment join: which benchmark item leaked into which doc
    // (query-side prefix filter, full-posting probe — never a broadcast).
    Query("q143_containment_join", scale = true, build = { (s, dir) =>
      Dedup.containmentJoin(TestData.documents(s, dir))
        .orderBy("bench_id", "corpus_id")
    }, oracle =
      s"""WITH ${Dedup.containmentJoinSql()}
          SELECT bench_id, corpus_id, n_inter, n_q, containment
          FROM containment_join ORDER BY bench_id, corpus_id"""),

    // Token-budget corpus mixing: exact integer water-filling level, small
    // sources kept whole, large ones coin-sampled to the level.
    Query("q144_corpus_mix", scale = false, build = { (s, dir) =>
      Sampling.corpusMix(TestData.documents(s, dir)).orderBy("source")
    }, oracle =
      s"""WITH ${Sampling.corpusMixSql()}
          SELECT source, n_docs, total_tokens, kept_docs, kept_tokens, fully_kept
          FROM corpus_mix ORDER BY source"""),

    // KMV bottom-k distinct sketch per source, estimate hash-checked
    // (not just the error contract — the sketch is engine-exact).
    Query("q145_kmv_distinct", scale = true, build = { (s, dir) =>
      Dedup.kmvDistinct(TestData.documents(s, dir)).orderBy("source")
    }, oracle =
      s"""WITH ${Dedup.kmvDistinctSql()}
          SELECT source, n_exact, kmv_estimate, rel_err FROM kmv_distinct
          ORDER BY source"""),

    // Deterministic global shuffle + sharding: md5-coin permutation,
    // map-side shard placement, order-sensitive per-shard checksums.
    Query("q146_shard_shuffle", scale = true, build = { (s, dir) =>
      Sampling.shardShuffle(TestData.documents(s, dir)).orderBy("shard")
    }, oracle =
      s"""WITH ${Sampling.shardShuffleSql()}
          SELECT shard, n_docs, n_tokens, first_coin, last_coin, order_checksum
          FROM shard_shuffle ORDER BY shard"""),

    // Per-source token budget after exact and near-dup deduplication,
    // consistent by construction with q40/q59's survivor rules.
    Query("q147_dedup_savings", scale = true, build = { (s, dir) =>
      Dedup.dedupSavings(TestData.documents(s, dir)).orderBy("source")
    }, oracle =
      s"""WITH RECURSIVE ${Dedup.dedupSavingsSql()}
          SELECT source, n_docs, total_tokens, exact_kept_docs, exact_kept_tokens,
                 neardup_kept_docs, neardup_kept_tokens
          FROM dedup_savings ORDER BY source"""),

    // Embedding-quality audit: empty/zero vectors + exact norm stats.
    Query("q131_embedding_audit", scale = true, build = { (s, dir) =>
      Similarity.embeddingAudit(TestData.embeddings(s, dir)).orderBy("label")
    }, oracle =
      s"""WITH ${Similarity.embeddingAuditSql}
          SELECT label, n, n_empty, n_zero, min_n2, max_n2, avg_n2
          FROM emb_audit ORDER BY label"""),

    // Degree + triangles + clustering coefficient on the candidate graph.
    Query("q134_triangle_stats", scale = false, build = { (s, dir) =>
      Graph.triangleStats(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""WITH ${Graph.triangleStatsSql()}
          SELECT doc_id, degree, triangles, clustering FROM triangle_stats
          ORDER BY doc_id"""),

    // Source-level TF-IDF top-k via the bounded per-key top-k window.
    Query("q135_source_keywords", scale = false, build = { (s, dir) =>
      TextAnalysis.sourceKeywords(TestData.documents(s, dir))
        .orderBy("source", "rank")
    }, oracle =
      s"""WITH ${TextAnalysis.sourceKeywordsSql()}
          SELECT source, rank, term, tf, df, score FROM src_kw
          ORDER BY source, rank"""),

    // Accuracy-vs-cost curve for the IVF index: recall@5 at probe depths
    // 1/2/4, one candidate pass shared across depths.
    Query("q155_ivf_recall_curve", scale = true, build = { (s, dir) =>
      Similarity.ivfRecallCurve(TestData.embeddings(s, dir))
    }, oracle =
      s"""WITH ${Similarity.ivfRecallCurveSql()}
          SELECT nprobe, hits, recall FROM ivf_recall_curve
          ORDER BY nprobe"""),

    // Truncated-embedding rank stability: Spearman rho between full and
    // first-16-dim neighbor orders over each query's exact top-20.
    Query("q165_matryoshka_audit", scale = true, build = { (s, dir) =>
      Similarity.matryoshkaRankAudit(TestData.embeddings(s, dir)).orderBy("qid")
    }, oracle =
      s"""WITH ${Similarity.matryoshkaRankAuditSql()}
          SELECT qid, n_cand, sum_d2, spearman_rho FROM matryoshka_audit
          ORDER BY qid"""),

    // Content-addressed snapshot diff: per-(source, status) counts from a
    // fingerprint-manifest full join over two derived pseudo-snapshots.
    Query("q156_snapshot_diff", scale = true, build = { (s, dir) =>
      val (a, b) = Snapshot.snapshots(TestData.documents(s, dir))
      Snapshot.diff(a, b).orderBy("source", "status")
    }, oracle =
      s"""WITH ${Snapshot.diffSql}
          SELECT source, status, n FROM snapshot_diff
          ORDER BY source, status"""),

    // Count-Min sketch with audited overestimate for the exact top-20
    // tokens — completes the sketch family (MG/KMV/HLL/KLL/Bloom/CM).
    Query("q159_cm_sketch_audit", scale = true, build = { (s, dir) =>
      TextAnalysis.cmSketchAudit(TestData.documents(s, dir))
        .orderBy(col("exact_cnt").desc, col("token"))
    }, oracle =
      s"""WITH ${TextAnalysis.cmSketchAuditSql()}
          SELECT token, exact_cnt, cm_estimate, overestimate FROM cm_audit
          ORDER BY exact_cnt DESC, token"""),

    // Exact-quota uniform sample: the 25 smallest md5 coins per source.
    Query("q160_quota_sample", scale = true, build = { (s, dir) =>
      Sampling.quotaSample(TestData.documents(s, dir), quota = 25)
        .orderBy("source", "pick_rank")
    }, oracle =
      s"""WITH ${Sampling.quotaSampleSql(quota = 25)}
          SELECT source, pick_rank, doc_id FROM quota_sample
          ORDER BY source, pick_rank"""),

    // Snapshot-to-snapshot length-distribution drift, integer-exact L1.
    Query("q161_histogram_drift", scale = true, build = { (s, dir) =>
      val (a, b) = Snapshot.snapshots(TestData.documents(s, dir))
      Snapshot.histogramDrift(a, b).orderBy("source")
    }, oracle =
      s"""WITH ${Snapshot.driftSql()}
          SELECT source, n_buckets, tot_a, tot_b, drift_l1 FROM histogram_drift
          ORDER BY source"""),

    // Incremental view maintenance: snapshot A's aggregate + the row-level
    // delta must equal the direct aggregate of snapshot B (the oracle).
    Query("q164_incremental_refresh", scale = true, build = { (s, dir) =>
      val (a, b) = Snapshot.snapshots(TestData.documents(s, dir))
      Snapshot.incrementalRefresh(a, b).orderBy("source")
    }, oracle =
      s"""WITH ${Snapshot.incrementalRefreshSql}
          SELECT source, n_docs, sum_chars FROM refresh_direct
          ORDER BY source"""),

    // Join-strategy advisor: measured (rows, bytes) per table -> the
    // broadcast / shuffle_bloom / shuffle decision a planner wants.
    Query("q163_join_advisor", scale = true, build = { (s, dir) =>
      Planning.joinAdvisor(Seq(
        "region" -> TestData.region(s, dir),
        "nation" -> TestData.nation(s, dir),
        "customer" -> TestData.customer(s, dir),
        "supplier" -> TestData.supplier(s, dir),
        "part" -> TestData.part(s, dir),
        "orders" -> TestData.orders(s, dir),
        "lineitem" -> TestData.lineitem(s, dir),
        "events" -> TestData.events(s, dir),
        "documents" -> TestData.documents(s, dir),
        "embeddings" -> TestData.embeddings(s, dir)))
        .orderBy("table_name")
    }, oracle =
      s"""WITH ${Planning.joinAdvisorSql(Seq(
            "region" -> "4 + COALESCE(len(r_name), 0) + 4",
            "nation" -> "4 + COALESCE(len(n_name), 0) + 4 + 4",
            "customer" -> ("8 + COALESCE(len(c_name), 0) + 4 + 4 + 8"
              + " + COALESCE(len(c_mktsegment), 0) + 4"),
            "supplier" -> "8 + COALESCE(len(s_name), 0) + 4 + 4 + 8",
            "part" -> ("8 + COALESCE(len(p_name), 0) + 4 + COALESCE(len(p_brand), 0) + 4"
              + " + COALESCE(len(p_type), 0) + 4 + 4 + 8"),
            "orders" -> ("8 + 8 + COALESCE(len(o_orderstatus), 0) + 4 + 8 + 8"
              + " + COALESCE(len(o_orderpriority), 0) + 4"),
            "lineitem" -> ("8 + 8 + 8 + 4 + 8 + 8 + 8 + 8"
              + " + COALESCE(len(l_returnflag), 0) + 4"
              + " + COALESCE(len(l_linestatus), 0) + 4 + 8"),
            // the engine's normalized events frame carries BOTH the micros
            // ts (8) and the derived ts_ns (8) — mirror that width
            "events" -> ("8 + 8 + 8 + COALESCE(len(event_type), 0) + 4 + 8"
              + " + COALESCE(len(props), 0) + 4 + 8"),
            "documents" -> ("8 + COALESCE(len(text), 0) + 4 + COALESCE(len(lang), 0) + 4"
              + " + COALESCE(len(source), 0) + 4 + 8"),
            "embeddings" -> "8 + COALESCE(len(embedding), 0) * 4 + 8 + 4"))}
          SELECT table_name, n_rows, est_bytes, strategy FROM join_advisor
          ORDER BY table_name"""),

    // Temperature-flattened (alpha = 1/2) training mix over languages:
    // integer quotas from measured counts, filled by deterministic
    // smallest-coin picks.
    Query("q173_temperature_mix", scale = true, build = { (s, dir) =>
      Sampling.temperatureMix(TestData.documents(s, dir)).orderBy("lang")
    }, oracle =
      s"""WITH ${Sampling.temperatureMixSql()}
          SELECT lang, n_docs, quota, weight, n_sampled, sampled_chars
          FROM temperature_mix ORDER BY lang"""),

    // Product-quantization distortion audit: per-subspace codebook
    // utilization + exact integer reconstruction error.
    Query("q180_pq_audit", scale = true, build = { (s, dir) =>
      Similarity.pqAudit(TestData.embeddings(s, dir))
    }, oracle =
      s"""WITH ${Similarity.pqAuditSql()}
          SELECT subspace, n_vecs, codes_used, total_sqerr, mean_sqerr
          FROM pq_audit ORDER BY subspace"""),

    // Farthest-point k-center coreset: greedy diverse seed selection with
    // the coverage-radius curve, as one declarative k-round plan.
    Query("q181_kcenter_coreset", scale = true, build = { (s, dir) =>
      Similarity.kcenterCoreset(TestData.embeddings(s, dir))
    }, oracle =
      s"""WITH ${Similarity.kcenterCoresetSql()}
          SELECT step, center_id, radius FROM kcenter ORDER BY step"""),

    // Per-document unigram-LM surprisal (perplexity-filter core): integer
    // floor-log2 model, one float division per doc at the edge.
    Query("q182_doc_surprisal", scale = true, build = { (s, dir) =>
      TextAnalysis.docSurprisal(TestData.documents(s, dir))
    }, oracle =
      s"""WITH ${TextAnalysis.docSurprisalSql()}
          SELECT doc_id, n_tokens, surprisal_bits, bits_per_token
          FROM doc_surprisal ORDER BY doc_id"""),

    // Exact Gram/covariance audit over the embedding corpus (whitening /
    // dead-dimension pre-pass), upper triangle in exact BIGINT.
    Query("q183_gram_audit", scale = true, build = { (s, dir) =>
      Similarity.gramAudit(TestData.embeddings(s, dir))
    }, oracle =
      s"""WITH ${Similarity.gramAuditSql}
          SELECT i, j, second_moment, cov_num
          FROM gram_audit ORDER BY i, j"""),

    // Degree assortativity of the near-dup candidate graph: one exact
    // integer-moment aggregate, one float correlation at the edge.
    Query("q190_degree_assortativity", scale = true, build = { (s, dir) =>
      Graph.degreeAssortativity(TestData.documents(s, dir))
    }, oracle =
      s"""WITH ${Graph.degreeAssortativitySql()}
          SELECT m, sx, sy, sxy, sxx, syy, assortativity
          FROM degree_assortativity"""),

    // Balanced shard plan for serving the IVF index: √n-bounded cell
    // table, sorted round-robin dealing, per-shard load audit.
    Query("q200_index_shard_plan", scale = true, build = { (s, dir) =>
      Similarity.indexShardPlan(TestData.embeddings(s, dir))
    }, oracle =
      s"""WITH ${Similarity.indexShardPlanSql()}
          SELECT shard, n_cells, n_vecs, load_x_shards
          FROM index_shard_plan ORDER BY shard"""),

    // Context-length padding cost across a candidate grid — the sizing
    // decision before sequence packing, all-integer until the rate.
    Query("q201_context_length_plan", scale = true, build = { (s, dir) =>
      Packing.contextLengthPlan(TestData.documents(s, dir))
    }, oracle =
      s"""WITH ${Packing.contextLengthPlanSql()}
          SELECT seq_len, n_docs, total_tokens, n_seqs, pad_tokens, pad_frac
          FROM context_length_plan ORDER BY seq_len"""),

    // Incremental ingest dedup: the delta probes the corpus's exact-
    // fingerprint and LSH band indexes — no corpus self-join.
    Query("q203_incremental_near_dup", scale = true, build = { (s, dir) =>
      Dedup.incrementalNearDup(TestData.documents(s, dir))
    }, oracle =
      s"""WITH ${Dedup.incrementalNearDupSql()}
          SELECT doc_id, n_exact, n_near, status
          FROM incremental_near_dup ORDER BY doc_id"""),

    // Per-source quota cap (the training-mix "domain cap"): keep the
    // best k docs per source by vocabulary richness with the bounded
    // per-key top-k window — a per-key top-k, not a rate downsample.
    Query("q226_source_cap", scale = true, build = { (s, dir) =>
      Sampling.sourceCap(TestData.documents(s, dir)).orderBy("source")
    }, oracle =
      s"""WITH ${Sampling.sourceCapSql()}
          SELECT source, n_docs, n_kept, n_dropped, kept_chars, total_chars
          FROM source_cap ORDER BY source"""),

    // Pareto frontier (the SKYLINE operator): non-dominated docs on the
    // quality-vs-cost plane via a bounded-grid sweep — O(n) + a window
    // over the length domain, never the O(n^2) dominance self-join.
    Query("q227_pareto_frontier", scale = true, build = { (s, dir) =>
      TextAnalysis.paretoFrontier(TestData.documents(s, dir)).orderBy("n_chars")
    }, oracle =
      s"""WITH ${TextAnalysis.paretoFrontierSql()}
          SELECT doc_id, n_chars, q
          FROM pareto_frontier ORDER BY n_chars"""),

    // The LSH S-curve MEASURED: per (b, r) banding config, detection
    // rate over exact-truth pairs per Jaccard decile, beside the
    // 1-(1-J^r)^b theory at the decile midpoint (frozen as literals) —
    // the dedup recall-vs-cost tuning evidence.
    Query("q230_lsh_s_curve", scale = true, build = { (s, dir) =>
      Dedup.sCurveAudit(TestData.documents(s, dir)).orderBy("r", "j_band")
    }, oracle =
      s"""WITH ${Dedup.sCurveAuditSql()}
          SELECT r, b, j_band, n_pairs, n_detected, detect_rate, theory_mid
          FROM s_curve ORDER BY r, j_band"""),

    // BPE training EXECUTED: three real merge rounds over the distinct-
    // word frequency table (pick -> merge everywhere -> recount), with
    // the corpus symbol count after each merge — the compression curve.
    Query("q232_bpe_train", scale = true, build = { (s, dir) =>
      TextAnalysis.bpeTrain(TestData.documents(s, dir)).orderBy("round")
    }, oracle =
      s"""WITH ${TextAnalysis.bpeTrainSql()}
          SELECT round, pair, freq, corpus_symbols
          FROM bpe_train ORDER BY round"""),

    // The consumer half of the BPE loop: encode every document with the
    // q232-trained merges — distinct word types encoded once through k
    // broadcast-replace rounds, occurrences joined back — reporting the
    // per-doc symbol counts and the compression the merges deliver.
    Query("q252_bpe_encode", scale = true, build = { (s, dir) =>
      TextAnalysis.bpeEncode(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""WITH ${TextAnalysis.bpeEncodeSql()}
          SELECT doc_id, n_words, syms_before, syms_after, compression
          FROM bpe_encode ORDER BY doc_id"""),

    // RAG-ingestion chunking: overlapping token windows fingerprinted,
    // duplicated-chunk mass per source — stateless explode + one
    // combinable distinct on md5 keys; no join, no sort.
    Query("q293_chunk_dedup", scale = true, build = { (s, dir) =>
      TextAnalysis.chunkDedup(TestData.documents(s, dir))
    }, oracle =
      s"""WITH ${TextAnalysis.chunkDedupSql()}
          SELECT source, n_chunks, n_distinct, dup_chunks, dup_ratio
          FROM chunk_dedup ORDER BY source"""),

    // The curation pipeline composed: dedup -> quality -> benchmark
    // decontamination -> per-source quota in ONE plan, per-stage
    // survivor counts — the operators proven to compose.
    Query("q300_curation_pipeline", scale = true, build = { (s, dir) =>
      TextAnalysis.curationPipeline(TestData.documents(s, dir))
    }, oracle =
      s"""WITH ${TextAnalysis.curationPipelineSql()}
          SELECT stage, source, n_docs, n_tokens
          FROM curation ORDER BY stage, source"""),

    // NDCG@k + MRR of the IVF serve path vs the exact baseline: graded
    // relevance from the exact ranking, JVM-inlined integer discount
    // literals keep DCG exact on both engines — the order-aware metrics
    // q77's set-overlap recall cannot see.
    Query("q310_ndcg_mrr", scale = true, build = { (s, dir) =>
      Similarity.retrievalRankingEval(TestData.embeddings(s, dir))
    }, oracle =
      s"""WITH ${Similarity.retrievalRankingEvalSql()}
          SELECT qid, hits, mrr, dcg_e6, ndcg
          FROM retrieval_eval ORDER BY qid"""),

    // Filtered vector search, three serve strategies against the exact
    // filtered baseline: black-box post-filter (underfills), over-fetch
    // (recovers fill), filter-aware (the probe-budget upper bound) —
    // hits provably monotone across the three; one shared probe pass.
    Query("q322_filtered_ann", scale = true, build = { (s, dir) =>
      Similarity.filteredAnnAudit(TestData.embeddings(s, dir))
    }, oracle =
      s"""WITH ${Similarity.filteredAnnAuditSql()}
          SELECT variant, nq, n_served, underfilled, hits, recall
          FROM filtered_ann_audit ORDER BY variant"""),

    // Exact-substring dedup metric (Lee et al. 2022) at the token
    // grain: per document, the fraction of tokens covered by n-grams
    // shared with OTHER documents — cross-doc df test at the shingle
    // grain (no self-join), interval union via gaps-and-islands.
    Query("q323_duplicated_spans", scale = true, build = { (s, dir) =>
      TextAnalysis.duplicatedSpanAudit(TestData.documents(s, dir))
    }, oracle =
      s"""WITH ${TextAnalysis.duplicatedSpanAuditSql()}
          SELECT doc_id, n_tokens, dup_tokens, dup_fraction
          FROM duplicated_span_audit ORDER BY doc_id"""),

    // Cluster-safe split: the doc-hash scheme leaks near-dup pairs
    // across train/test; keying the coin on the q59 cluster label
    // makes leakage structurally zero — both schemes audited per run.
    Query("q325_cluster_safe_split", scale = true, build = { (s, dir) =>
      Sampling.clusterSafeSplit(TestData.documents(s, dir))
    }, oracle =
      s"""WITH RECURSIVE ${Sampling.clusterSafeSplitSql()}
          SELECT scheme, n_train, n_val, n_test, n_clusters, leaky_clusters
          FROM cluster_safe_split ORDER BY scheme"""),

    // q325's audit wired INTO the q300 pipeline: the curated survivors
    // are split on the q59 cluster label (not the doc hash), and the
    // leakage audit rides as a pipeline stage — leaky_clusters is
    // structurally zero and the oracle recomputes it rather than pins.
    Query("q328_curated_cluster_split", scale = true, build = { (s, dir) =>
      Sampling.curatedClusterSplit(TestData.documents(s, dir))
    }, oracle =
      s"""WITH RECURSIVE ${Sampling.curatedClusterSplitSql()}
          SELECT split, source, n_docs, n_tokens, n_clusters,
                 leaky_clusters
          FROM curated_cluster_split ORDER BY split, source"""),

    // Hybrid retrieval with reciprocal rank fusion: the postings-join
    // Jaccard arm + the IVF arm fused by rank alone (no score
    // calibration) — the RRF score is a fixed two-term expression,
    // bit-identical on both engines.
    Query("q317_hybrid_rrf", scale = true, build = { (s, dir) =>
      Similarity.hybridRrfTopK(TestData.documents(s, dir),
        TestData.embeddings(s, dir))
    }, oracle =
      s"""WITH ${Similarity.hybridRrfTopKSql()}
          SELECT qid, rank, nid, lex_rank, sem_rank, rrf
          FROM hybrid_rrf ORDER BY qid, rank"""),

    // Closed-form weighted-interleave schedule: every doc's global
    // training position from arithmetic against a broadcast source
    // frame — no global sort; worst prefix deviation certified exactly.
    Query("q277_interleave_schedule", scale = true, build = { (s, dir) =>
      Sampling.interleaveSchedule(TestData.documents(s, dir))
    }, oracle =
      s"""WITH ${Sampling.interleaveScheduleSql()}
          SELECT source, w, n_docs, first_pos, sum_pos, max_dev
          FROM interleave_schedule ORDER BY source"""),

    // Leave-one-out source ablation: per-source corpus dedup rate and
    // mean size with that source removed, from one fingerprint-grain
    // aggregate — influence measurement without |sources| rescans.
    Query("q276_loo_ablation", scale = true, build = { (s, dir) =>
      Dedup.looSourceAblation(TestData.documents(s, dir))
    }, oracle =
      s"""WITH ${Dedup.looSourceAblationSql()}
          SELECT source, n_docs, owned_fps, loo_docs, loo_dups,
                 loo_dup_rate, loo_avg_chars
          FROM loo_ablation ORDER BY source"""),

    // Kneser-Ney continuation/fertility counts (LM training statistics).
    Query("q124_kn_continuation", scale = true, build = { (s, dir) =>
      TextAnalysis.knContinuation(TestData.documents(s, dir))
    }, oracle =
      s"""WITH ${TextAnalysis.knContinuationSql()}
          SELECT word, cnt, continuations, fertility FROM kn_stats
          ORDER BY continuations DESC, word"""),

    // Hashing-trick linear classifier margin (model-inference shape).
    Query("q125_classifier_margin", scale = false, build = { (s, dir) =>
      TextAnalysis.classifierMargin(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""WITH ${TextAnalysis.classifierMarginSql()}
          SELECT doc_id, n_tokens, margin, keep FROM clf_margin ORDER BY doc_id"""),

    Query("q59_dedup_clusters", scale = true, build = { (s, dir) =>
      Dedup.dedupClusters(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""WITH RECURSIVE ${Dedup.dedupClustersSql()}
          SELECT doc_id, cluster_id, is_survivor FROM dedup_clusters ORDER BY doc_id"""),

    // SimHash signature → candidate pairs: pigeonhole banding (recall-
    // complete for the Hamming threshold) + exact popcount verify.
    Query("q80_simhash_pairs", scale = true, build = { (s, dir) =>
      Dedup.simhashPairs(TestData.documents(s, dir)).orderBy("doc_a", "doc_b")
    }, oracle =
      s"""WITH ${Dedup.simhashPairsSql()}
          SELECT doc_a, doc_b, hamming FROM sh_pairs ORDER BY doc_a, doc_b"""),

    Query("q44_simhash", scale = true, build = { (s, dir) =>
      Dedup.simhash(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""WITH ${Dedup.simhashSql}
          SELECT doc_id, simhash FROM simhash ORDER BY doc_id"""),

    Query("q45_ann_brute", scale = false, build = { (s, dir) =>
      Similarity.bruteForceTopK(TestData.embeddings(s, dir)).orderBy("qid", "rank")
    }, oracle =
      s"""WITH ${Similarity.bruteForceTopKSql()}
          SELECT qid, rank, nid, score FROM brute_topk ORDER BY qid, rank"""),

    Query("q46_ann_lsh", scale = true, build = { (s, dir) =>
      Similarity.lshTopK(TestData.embeddings(s, dir)).orderBy("qid", "rank")
    }, oracle =
      s"""WITH ${Similarity.lshTopKSql()}
          SELECT qid, rank, nid, score FROM lsh_topk ORDER BY qid, rank"""),

    Query("q47_embedding_near_dups", scale = false, build = { (s, dir) =>
      Similarity.embeddingNearDups(TestData.embeddings(s, dir), threshold = 0.45)
        .orderBy("vec_a", "vec_b")
    }, oracle =
      s"""WITH ${Similarity.embeddingNearDupsSql(0.45)}
          SELECT vec_a, vec_b, score FROM near_dups ORDER BY vec_a, vec_b"""),

    Query("q48_lang_id", scale = true, build = { (s, dir) =>
      TextAnalysis.languageId(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""${TextAnalysis.languageIdSql}
          ORDER BY doc_id"""),

    Query("q49_quality_signals", scale = false, build = { (s, dir) =>
      TextAnalysis.qualitySignals(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""${TextAnalysis.qualitySignalsSql}
          ORDER BY doc_id"""),

    Query("q50_token_counts", scale = true, build = { (s, dir) =>
      TextAnalysis.tokenCounts(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""${TextAnalysis.tokenCountsSql}
          ORDER BY doc_id"""),

    Query("q51_fingerprints", scale = false, build = { (s, dir) =>
      TextAnalysis.fingerprints(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""${TextAnalysis.fingerprintsSql}
          ORDER BY doc_id"""),

    Query("q52_multimodal_meta", scale = false, build = { (s, dir) =>
      Multimodal.documentMedia(TestData.documents(s, dir)).orderBy("doc_id")
    }, oracle =
      s"""${Multimodal.documentMediaSql}
          ORDER BY doc_id"""),

    // Frame sampling: ≤4 evenly spaced frames per media payload through
    // the per-partition decoder; fan-out + fingerprint mirrored in SQL.
    Query("q73_frame_sample", scale = false, build = { (s, dir) =>
      Multimodal.documentFrames(TestData.documents(s, dir))
        .orderBy("doc_id", "frame_idx")
    }, oracle =
      s"""${Multimodal.documentFramesSql}
          ORDER BY doc_id, frame_idx"""),

    // Resize-to-fit planning over decoded metadata, integer-exact.
    Query("q74_media_resize", scale = false, build = { (s, dir) =>
      Multimodal.resizePlan(Multimodal.documentMedia(TestData.documents(s, dir)))
        .orderBy("doc_id")
    }, oracle =
      s"""${Multimodal.resizePlanSql()}
          ORDER BY doc_id"""),

    // Repetition detection (Gopher/C4 quality rule): dominant-n-gram
    // fraction per document — multiplicity-preserving, unlike the dedup
    // tier's distinct shingle sets.
    Query("q91_repetition", scale = true, build = { (s, dir) =>
      TextAnalysis.repetition(TestData.documents(s, dir)).orderBy("doc_id")
    },
      // dominant-n-gram fraction, multiplicity preserved
      oracle =
      s"""${TextAnalysis.repetitionSql()}
          ORDER BY doc_id"""),

    // Span-level dedup statistic (Lee et al. 2022): per document, token
    // positions covered by an 8-gram that also occurs in another document.
    Query("q93_dup_spans", scale = false, build = { (s, dir) =>
      Dedup.dupSpans(TestData.documents(s, dir)).orderBy("doc_id")
    },
      // cross-doc duplicated 8-gram span coverage per document
      oracle =
      s"""${Dedup.dupSpansSql()}
          ORDER BY doc_id"""),

    // MinHash-estimate vs exact-Jaccard audit per LSH candidate pair —
    // integer agreement counts and set sizes, exact on both engines.
    Query("q95_minhash_error", scale = false, build = { (s, dir) =>
      Dedup.minhashEstimatePairs(TestData.documents(s, dir)).orderBy("doc_a", "doc_b")
    },
      // minhash agreement vs exact overlap, all integers
      oracle =
      s"""WITH ${Dedup.minhashEstimatePairsSql()}
          ORDER BY doc_a, doc_b"""),

    // int8 embedding quantization with a per-vector verified error bound —
    // all-integer arithmetic on the shared ×10⁴ grid (see Similarity).
    Query("q97_int8_quant", scale = true, build = { (s, dir) =>
      Similarity.int8Quantize(TestData.embeddings(s, dir)).orderBy("vec_id")
    },
      // same all-integer rounding and error bound via list lambdas
      oracle =
      s"""WITH ${Similarity.int8QuantizeSql()}
          SELECT vec_id, amax, max_code, max_err, within_bound FROM int8q
          ORDER BY vec_id"""),

    // Two-pass heavy hitters: per-partition Misra-Gries candidates + exact
    // confirm — the vocabulary never shuffles (see TextAnalysis scaladoc
    // for the pigeonhole superset guarantee that makes this oracle-exact).
    Query("q99_heavy_hitters", scale = false, build = { (s, dir) =>
      TextAnalysis.heavyHitters(TestData.documents(s, dir))
        .orderBy(desc("cnt"), asc("token"))
    },
      // definitionally-exact full group-by checks the sketch-based plan
      oracle =
      s"""WITH ${TextAnalysis.heavyHittersSql()}
          SELECT token, cnt, n FROM hh ORDER BY cnt DESC, token"""),

    // Token-rarity quality score (mean document frequency) — the log-free
    // perplexity-filter stand-in; integer until the final division.
    Query("q104_rarity", scale = true, build = { (s, dir) =>
      TextAnalysis.tokenRarity(TestData.documents(s, dir)).orderBy("doc_id")
    },
      // same df join/aggregate, integer until the last division
      oracle =
      s"""WITH ${TextAnalysis.tokenRaritySql()}
          SELECT doc_id, n_tokens, sum_df, mean_df FROM rarity
          ORDER BY doc_id"""),

    // Sequence packing for LLM training: deterministic budget-greedy
    // chunking under a (source, shard)-bounded window — see Packing for
    // why the shard key is what keeps this off the single-partition cliff.
    Query("q105_pack_sequences", scale = true, build = { (s, dir) =>
      Packing.packSequences(TestData.documents(s, dir))
        .orderBy("source", "shard", "seq_id")
    },
      // identical budget-greedy packing arithmetic under the same window
      oracle =
      s"""WITH ${Packing.packSequencesSql()}
          SELECT source, shard, seq_id, n_docs, seq_tokens FROM packs
          ORDER BY source, shard, seq_id"""),

    // BPE trainer counting step: adjacent symbol-pair frequencies.
    Query("q113_bpe_pairs", scale = true, build = { (s, dir) =>
      TextAnalysis.bpePairs(TestData.documents(s, dir))
    }, oracle = TextAnalysis.bpePairsSql()),

    // Incremental ingestion dedup: the new batch is deduped against the
    // ingested corpus AND within itself, all on 16-byte fingerprints.
    Query("q71_incremental_dedup", scale = false, build = { (s, dir) =>
      Dedup.incrementalDedup(TestData.documents(s, dir)).orderBy("keep_doc_id")
    }, oracle =
      s"""WITH ${Dedup.incrementalDedupSql()}
          SELECT keep_doc_id, fingerprint, n_copies FROM incremental
          ORDER BY keep_doc_id"""),
  )
}
