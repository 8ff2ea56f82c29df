package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.OracleSafe
import graft.functions.OracleSafe.intDiv

/** Text-corpus analysis operators for training-data pipelines, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All pure column expressions (whole-stage codegen; no UDFs), all
  * embarrassingly parallel — no shuffles except the final aggregations, so
  * they scale linearly with input splits.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Language-ID by marker-token voting: count hits from per-language
    * marker lists, argmax with a deterministic preference order. Marker
    * lists here are tiny English-function-word stand-ins; production swaps
    * in real per-language stopword lists — the operator shape (score →
    * argmax) is the point.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "la", "et"),
    "zh" -> Seq("de", "le", "he"))

  private def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => markers.map(m => t === lit(m)).reduce(_ || _)))

  def languageId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = langMarkers.foldLeft(docs) { case (df, (lang, markers)) =>
      df.withColumn(s"score_$lang", markerHits(toks, markers))
    }
    // argmax; ties go to the earliest-listed language
    val maxScore = greatest(langMarkers.map(p => col(s"score_${p._1}")): _*)
    val winner = langMarkers.map(_._1).foldRight(lit("und")) { (l, acc) =>
      when(col(s"score_$l") === maxScore, lit(l)).otherwise(acc)
    }
    scored.select(
      col("doc_id"), col("lang").as("lang_actual"),
      when(maxScore > 0, winner).otherwise(lit("und")).as("lang_predicted"),
      maxScore.cast("int").as("marker_hits"))
  }

  def languageIdSql: String = {
    val scores = langMarkers.map { case (lang, markers) =>
      val inList = markers.map(m => s"'$m'").mkString(", ")
      s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($inList))) AS INT) AS score_$lang"
    }.mkString(",\n         ")
    val maxExpr = "greatest(" + langMarkers.map(p => s"score_${p._1}").mkString(", ") + ")"
    val winner = langMarkers.map(_._1)
      .map(l => s"WHEN score_$l = mx THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")
    s"""SELECT doc_id, lang AS lang_actual,
       |       CASE WHEN mx > 0 THEN $winner ELSE 'und' END AS lang_predicted,
       |       mx AS marker_hits
       |FROM (SELECT doc_id, lang, $maxExpr AS mx,
       |        ${langMarkers.map(p => s"score_${p._1}").mkString(", ")}
       |      FROM (SELECT doc_id, lang, text,
       |         $scores
       |      FROM documents))""".stripMargin
  }

  /** Quality signals: token counts, vocabulary diversity, mean token
    * length — integer-ratio arithmetic only (engine-exact).
    */
  def qualitySignals(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("distinct_ratio"),
      ((col("n_chars") - size(toks) + 1).cast("double") / size(toks)).as("mean_token_len"))
  }

  val qualitySignalsSql: String =
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
      |       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |         / len(string_split(text, ' ')) AS distinct_ratio,
      |       CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |         / len(string_split(text, ' ')) AS mean_token_len
      |FROM documents""".stripMargin

  /** Token counting: whitespace tokens + BPE-ish alpha-run tokens. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("alpha_tokens"),
      (col("n_chars").cast("double") / lit(4.0)).as("approx_bpe_tokens"))

  val tokenCountsSql: String =
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
      |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS alpha_tokens,
      |       CAST(n_chars AS DOUBLE) / 4.0 AS approx_bpe_tokens
      |FROM documents""".stripMargin

  /** Benchmark-contamination detection: per document, the fraction of its
    * n-gram shingles that appear anywhere in a reference corpus (here: the
    * `source = 'src0'` slice standing in for an eval benchmark). The
    * standard train/test-overlap sweep: shingle the benchmark once
    * (broadcastable set at real scale), semi-join candidate shingles
    * against it, and score containment — never a doc×doc comparison.
    */
  def contamination(docs: DataFrame, benchmarkSource: String = "src0", n: Int = 3): DataFrame = {
    val sh = Dedup.shingles(docs, n)
    val benchShingles = sh
      .join(docs.filter(col("source") === benchmarkSource).select("doc_id"), Seq("doc_id"), "left_semi")
      .select("sh").distinct()
    val candidates = sh
      .join(docs.filter(col("source") =!= benchmarkSource).select("doc_id"), Seq("doc_id"), "left_semi")
    val hits = candidates.join(broadcast(benchShingles), Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("contaminated"))
    candidates.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("contaminated"), lit(0L)).as("contaminated"),
        (coalesce(col("contaminated"), lit(0L)).cast("double") / col("n_shingles"))
          .as("contamination_ratio"))
  }

  def contaminationSql(benchmarkSource: String = "src0", n: Int = 3): String =
    s"""${Dedup.shinglesSql(n)},
       |bench_sh AS (
       |  SELECT DISTINCT sh FROM shingles
       |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE source = '$benchmarkSource')),
       |cand AS (
       |  SELECT * FROM shingles
       |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE source <> '$benchmarkSource')),
       |hits AS (
       |  SELECT doc_id, count(*) AS contaminated FROM cand
       |  WHERE sh IN (SELECT sh FROM bench_sh) GROUP BY doc_id),
       |contamination AS (
       |  SELECT c.doc_id, count(*) AS n_shingles,
       |         coalesce(any_value(h.contaminated), 0) AS contaminated,
       |         CAST(coalesce(any_value(h.contaminated), 0) AS DOUBLE) / count(*)
       |           AS contamination_ratio
       |  FROM cand c LEFT JOIN hits h ON c.doc_id = h.doc_id
       |  GROUP BY c.doc_id)""".stripMargin

  /** Quality-filter decision: thresholds over the quality signals → a
    * keep/drop verdict with the firing rule named (the auditable form a
    * production data filter needs).
    */
  def qualityFilter(docs: DataFrame, minTokens: Int = 15, minDistinctRatio: Double = 0.35): DataFrame =
    qualitySignals(docs).select(
      col("doc_id"),
      when(col("n_tokens") < minTokens, lit("too_short"))
        .when(col("distinct_ratio") < minDistinctRatio, lit("too_repetitive"))
        .otherwise(lit("keep")).as("verdict"))

  def qualityFilterSql(minTokens: Int = 15, minDistinctRatio: Double = 0.35): String =
    s"""SELECT doc_id,
       |       CASE WHEN n_tokens < $minTokens THEN 'too_short'
       |            WHEN distinct_ratio < $minDistinctRatio THEN 'too_repetitive'
       |            ELSE 'keep' END AS verdict
       |FROM ($qualitySignalsSql)""".stripMargin

  /** Text normalization: lowercase → strip non-alphanumerics → collapse
    * runs of spaces → trim; the canonicalization pass that precedes
    * shingling and fingerprinting in a dedup pipeline. Pure codegen'd
    * string expressions, embarrassingly parallel. Emits the normalized
    * content hash + length (the normalized text itself stays in-engine —
    * at 100 TB you materialize the 16-byte identity, not a second corpus).
    */
  def normalized(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    docs.select(
      col("doc_id"),
      md5(norm).as("norm_md5"),
      length(norm).as("norm_len"))
  }

  // DuckDB regexp_replace is first-match-only without the 'g' flag
  val normalizedSql: String =
    """SELECT doc_id,
      |       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |                               ' +', ' ', 'g'))) AS norm_md5,
      |       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |                               ' +', ' ', 'g'))) AS INT) AS norm_len
      |FROM documents""".stripMargin

  /** Per-document top-k TF-IDF terms — the keyword-extraction pass of a
    * document-indexing pipeline. All-INTEGER scoring: tf is a count, idf
    * is the floor-log₂ `length(bin((2N+2)/(2df+1))) − 1` (ln is not
    * bit-identical across engines; see [[bm25]]), so score = tf·idf has
    * zero float risk. Two corpus-wide aggregates (token df, doc count)
    * then a per-doc top-k on [[graft.plans.TopK.perKey]]'s bounded window —
    * one shuffle on doc_id, at most k rows per doc and map task crossing it.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tokenized = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = tokenized.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tokenized.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("token")).crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        (col("tf") *
          (length(bin(intDiv(col("n_docs") * 2 + 2, col("df") * 2 + 1))) - 1))
          .cast("long").as("score"))
      .filter(col("score") > 0) // idf 0 = token in more than ~half the docs
    graft.plans.TopK.perKey(scored, Seq("doc_id"),
        Seq(graft.plans.TopK.desc("score"), graft.plans.TopK.asc("token")), k)
      .select("doc_id", "rank", "token", "score")
  }

  def tfidfTopTermsSql(k: Int = 3): String =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |tdf AS (SELECT token, COUNT(*) AS df
       |        FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token),
       |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
       |tfidf_scored AS (
       |  SELECT doc_id, token,
       |         CAST(tf * (length(bin((n_docs * 2 + 2) // (df * 2 + 1))) - 1) AS BIGINT)
       |           AS score
       |  FROM tf JOIN tdf USING (token), nd
       |  WHERE score > 0),
       |tfidf_topk AS (
       |  SELECT doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id
       |                            ORDER BY score DESC, token) AS rank,
       |         token, score
       |  FROM tfidf_scored
       |  QUALIFY rank <= $k)""".stripMargin

  /** Corpus vocabulary: global token frequencies, top k — the vocab-
    * building pass of a tokenizer pipeline. Explode → groupBy with
    * map-side combine (each split pre-aggregates to its distinct tokens,
    * so the shuffle carries vocab-sized, not corpus-sized, data) →
    * bounded-heap top-k.
    */
  def vocabTopK(docs: DataFrame, k: Int = 50): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token"))
      .limit(k)

  /** The counting step of a BPE (byte-pair-encoding) tokenizer-training
    * round: frequency of every ADJACENT symbol pair inside alpha-run
    * words — the pair a BPE trainer would merge next is the head of this
    * list (Sennrich et al. 2016, arXiv:1508.07909). Scale shape: explode
    * to one row per adjacent pair (≤ word length, linear in corpus
    * bytes), map-side-combined count, TakeOrderedAndProject for the
    * top-k — no shuffle carries document text, only 2-char pairs.
    */
  def bpePairs(docs: DataFrame, k: Int = 20): DataFrame = {
    val words = docs
      .select(explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("w"))
      .filter(length(col("w")) >= 2)
    words
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("pair"))
      .limit(k)
  }

  /** Per-source n-gram diversity — the type/token ratio at shingle level:
    * distinct n-grams over total per-doc-distinct postings. A boilerplate
    * mill (same template, thousands of pages) scores near 0; genuinely
    * varied text approaches 1 — the cheap corpus-level complement to the
    * per-document repetition rule (q91). Cost: one pass over the shared
    * shingle frame plus a count-distinct shuffle on (source, sh).
    */
  def sourceDiversity(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = Dedup.shingles(docs, n)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    sh.groupBy("source")
      .agg(countDistinct(col("sh")).as("distinct_ngrams"),
        count(lit(1)).as("total_postings"),
        countDistinct(col("doc_id")).as("n_docs"))
      .withColumn("diversity",
        col("distinct_ngrams").cast("double") / col("total_postings").cast("double"))
  }

  /** DuckDB twin of [[sourceDiversity]]. */
  def sourceDiversitySql(n: Int = 3): String =
    s"""${graft.operators.Dedup.shinglesSql(n)},
       |src_div AS (
       |  SELECT source,
       |         CAST(COUNT(DISTINCT sh) AS BIGINT) AS distinct_ngrams,
       |         COUNT(*) AS total_postings,
       |         CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
       |         CAST(COUNT(DISTINCT sh) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS diversity
       |  FROM shingles s JOIN documents d ON s.doc_id = d.doc_id
       |  GROUP BY source)""".stripMargin

  /** Statistical collocation mining: adjacent word bigrams ranked by
    * LIFT = P(a,b) / (P(a)·P(b)) — the log-free core of PMI (same
    * ranking; PMI = log2(lift), and logs are the one libm surface whose
    * last ulp the two engines need not share, so the score stays a single
    * exact-integer-ratio division). Bigram fan-out is linear in corpus
    * tokens; the unigram join keys are tokens (bounded vocabulary), and
    * the total-token count rides a broadcast 1-row aggregate. `minPair`
    * keeps one-off typo pairs from topping the lift ranking.
    */
  def collocations(docs: DataFrame, k: Int = 20, minPair: Long = 5): DataFrame = {
    val toks = docs.select(tokens(col("text")).as("ts"))
    val uni = toks.select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val n = uni.agg(sum("cnt").cast("long").as("n_tokens"))
    val pc = toks.filter(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ts) - 2), i -> struct(ts[i] AS a, ts[i + 1] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minPair)
    pc.join(uni.select(col("t").as("a"), col("cnt").as("a_n")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("cnt").as("b_n")), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("pair_n"), col("a_n"), col("b_n"),
        ((col("pair_n") * col("n_tokens")).cast("double")
          / (col("a_n") * col("b_n")).cast("double")).as("lift"))
      .orderBy(desc("lift"), asc("a"), asc("b"))
      .limit(k)
  }

  /** DuckDB twin of [[collocations]] (list indexing is 1-based there). */
  def collocationsSql(k: Int = 20, minPair: Long = 5): String =
    s"""WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
       |uni AS (SELECT t, COUNT(*) AS cnt
       |        FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t),
       |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM uni),
       |pc AS (
       |  SELECT a, b, COUNT(*) AS pair_n
       |  FROM (SELECT ts[i] AS a, ts[i + 1] AS b
       |        FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |              FROM toks WHERE len(ts) >= 2) z)
       |  GROUP BY a, b HAVING COUNT(*) >= $minPair)
       |SELECT a, b, pair_n, a_n, b_n,
       |       CAST(pair_n * n_tokens AS DOUBLE) / CAST(a_n * b_n AS DOUBLE) AS lift
       |FROM pc
       |JOIN (SELECT t AS a, cnt AS a_n FROM uni) ua USING (a)
       |JOIN (SELECT t AS b, cnt AS b_n FROM uni) ub USING (b), n
       |ORDER BY lift DESC, a, b
       |LIMIT $k""".stripMargin

  /** Tokenizer vocab coverage: per-doc out-of-vocabulary rate against the
    * corpus top-`vocabSize` vocabulary — the curve that sizes a tokenizer
    * (how much of each document a V-entry vocab fails to cover). The vocab
    * is derived IN-PLAN (frequency desc, token asc tie-break — a
    * deterministic boundary) and broadcast: bounded by the `vocabSize`
    * constant, so the broadcast is provably small at any corpus size.
    * The token scan is one explode + one map-side-combinable aggregate.
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = 1000): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("t")).limit(vocabSize)
      .select(col("t"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("t"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** DuckDB twin of [[vocabCoverage]]; embed after `WITH ` and select from
    * `vocab_cov`.
    */
  def vocabCoverageSql(vocabSize: Int = 1000): String =
    s"""vc_toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |vc_vocab AS (
       |  SELECT t FROM (SELECT t, COUNT(*) AS cnt FROM vc_toks GROUP BY t) f
       |  ORDER BY cnt DESC, t LIMIT $vocabSize),
       |vocab_cov AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |         CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |         CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |           / COUNT(*) AS oov_rate
       |  FROM vc_toks tk LEFT JOIN vc_vocab v ON tk.t = v.t
       |  GROUP BY doc_id)""".stripMargin

  /** Kneser–Ney continuation statistics — the integer counts a KN-smoothed
    * n-gram LM trains on: for each word w, `continuations` = N₁₊(•w)
    * (distinct left contexts w completes) and `fertility` = N₁₊(w•)
    * (distinct right contexts w opens), plus the raw unigram count. Top-k
    * by continuation count (the KN unigram numerator), word tie-break.
    *
    * Scale shape: bigram fan-out is linear in corpus tokens; the DISTINCT
    * collapses to bigram TYPES (bounded by vocab², in practice ≪ tokens)
    * before the per-word aggregates, and all joins key on single words —
    * bounded-vocabulary keys, no doc-sized state anywhere.
    */
  def knContinuation(docs: DataFrame, k: Int = 30): DataFrame = {
    val toks = docs.select(tokens(col("text")).as("ts"))
    val uni = toks.select(explode(col("ts")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val types = toks.filter(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ts) - 2), i -> struct(ts[i] AS a, ts[i + 1] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    val cont = types.groupBy(col("b").as("word"))
      .agg(count(lit(1)).as("continuations"))
    val fert = types.groupBy(col("a").as("word"))
      .agg(count(lit(1)).as("fertility"))
    uni.join(cont, Seq("word"), "left").join(fert, Seq("word"), "left")
      .select(col("word"), col("cnt"),
        coalesce(col("continuations"), lit(0L)).as("continuations"),
        coalesce(col("fertility"), lit(0L)).as("fertility"))
      .orderBy(desc("continuations"), asc("word"))
      .limit(k)
  }

  /** DuckDB twin of [[knContinuation]]; embed after `WITH ` and select
    * from `kn_stats`.
    */
  def knContinuationSql(k: Int = 30): String =
    s"""kn_toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
       |kn_uni AS (SELECT t AS word, COUNT(*) AS cnt
       |           FROM (SELECT unnest(ts) AS t FROM kn_toks) GROUP BY t),
       |kn_types AS (
       |  SELECT DISTINCT a, b
       |  FROM (SELECT ts[i] AS a, ts[i + 1] AS b
       |        FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |              FROM kn_toks WHERE len(ts) >= 2) z) p),
       |kn_cont AS (SELECT b AS word, COUNT(*) AS continuations FROM kn_types GROUP BY b),
       |kn_fert AS (SELECT a AS word, COUNT(*) AS fertility FROM kn_types GROUP BY a),
       |kn_stats AS (
       |  SELECT word, cnt, COALESCE(continuations, 0) AS continuations,
       |         COALESCE(fertility, 0) AS fertility
       |  FROM kn_uni LEFT JOIN kn_cont USING (word) LEFT JOIN kn_fert USING (word)
       |  ORDER BY continuations DESC, word LIMIT $k)""".stripMargin

  /** Contrastive keywords per source: source-level TF-IDF (each source as
    * one mega-document; score = tf · n_sources / df, the log-free IDF
    * ranking — same order as tf·log-idf for fixed tf ordering within a
    * df, and one exact-integer-ratio double instead of a libm log). Top-k
    * per source through [[graft.plans.TopK.perKey]]'s bounded window — a
    * partial group limit before the source-keyed shuffle.
    *
    * Scale shape: token fan-out is linear; both aggregates key on terms
    * (bounded vocabulary); the source-count normalizer is a broadcast
    * 1-row aggregate; output is sources × k.
    */
  def sourceKeywords(docs: DataFrame, k: Int = 10): DataFrame = {
    val toks = docs.select(col("source"), explode(tokens(col("text"))).as("t"))
    val tf = toks.groupBy("source", "t").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val nSrc = docs.agg(countDistinct(col("source")).as("n_sources"))
    val scored = tf.join(df, Seq("t")).crossJoin(broadcast(nSrc))
      .select(col("source"), col("t").as("term"), col("tf"), col("df"),
        ((col("tf") * col("n_sources")).cast("double")
          / col("df").cast("double")).as("score"))
    graft.plans.TopK.perKey(scored, Seq("source"),
        Seq(graft.plans.TopK.desc("score"), graft.plans.TopK.asc("term")), k)
      .select("source", "rank", "term", "tf", "df", "score")
  }

  /** DuckDB twin of [[sourceKeywords]]; embed after `WITH ` and select
    * from `src_kw`.
    */
  def sourceKeywordsSql(k: Int = 10): String =
    s"""kw_toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
       |kw_tf AS (SELECT source, t, COUNT(*) AS tf FROM kw_toks GROUP BY source, t),
       |kw_df AS (SELECT t, COUNT(*) AS df FROM kw_tf GROUP BY t),
       |kw_n AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources FROM documents),
       |src_kw AS (
       |  SELECT source, ROW_NUMBER() OVER (PARTITION BY source
       |           ORDER BY CAST(tf * n_sources AS DOUBLE) / CAST(df AS DOUBLE) DESC, t) AS rank,
       |         t AS term, tf, df,
       |         CAST(tf * n_sources AS DOUBLE) / CAST(df AS DOUBLE) AS score
       |  FROM kw_tf JOIN kw_df USING (t), kw_n
       |  QUALIFY rank <= $k)""".stripMargin

  /** Hashing-trick linear quality classifier — the model-INFERENCE shape a
    * trained fastText-style filter runs at corpus scale: featurize each
    * token to one of `dim` buckets (48-bit md5, the cross-engine hash
    * convention), score with a deterministic integer weight table, keep if
    * the margin is positive. The weights here are a Knuth-multiplicative
    * stand-in (production broadcasts the trained table; the pipeline shape
    * — per-token hash → weight lookup → per-doc sum — is identical).
    *
    * All-BIGINT: idx < 2¹⁰, idx·2654435761 < 2⁴², per-token weight ∈
    * [−500, 500], so margins are exact in both engines. Embarrassingly
    * parallel: one explode + one map-side-combinable sum on `doc_id`;
    * fully codegen'd, no UDF.
    */
  def classifierMargin(docs: DataFrame, dim: Int = 1024): DataFrame = {
    val idx = conv(substring(md5(col("t")), 1, 12), 16, 10).cast("long") % dim
    val w = (idx * lit(2654435761L)) % lit(1001L) - lit(500L)
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), w.as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w").as("margin"))
      .select(col("doc_id"), col("n_tokens"), col("margin"),
        (col("margin") > 0).cast("int").as("keep"))
  }

  /** DuckDB twin of [[classifierMargin]]; embed after `WITH ` and select
    * from `clf_margin`.
    */
  def classifierMarginSql(dim: Int = 1024): String =
    s"""clf_feat AS (
       |  SELECT doc_id,
       |         (((('0x' || substring(md5(t), 1, 12))::BIGINT % $dim)
       |           * 2654435761) % 1001) - 500 AS w
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
       |clf_margin AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(w) AS BIGINT) AS margin,
       |         CASE WHEN SUM(w) > 0 THEN 1 ELSE 0 END AS keep
       |  FROM clf_feat GROUP BY doc_id)""".stripMargin

  /** DuckDB twin of [[bpePairs]]. */
  def bpePairsSql(k: Int = 20): String =
    s"""SELECT pair, COUNT(*) AS freq
       |FROM (
       |  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
       |           i -> substr(w, i, 2))) AS pair
       |  FROM (SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w
       |        FROM documents)
       |  WHERE length(w) >= 2)
       |GROUP BY pair
       |ORDER BY freq DESC, pair
       |LIMIT $k""".stripMargin

  def vocabTopKSql(k: Int = 50): String =
    s"""SELECT token, COUNT(*) AS freq
       |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |GROUP BY token
       |ORDER BY freq DESC, token
       |LIMIT $k""".stripMargin

  /** BM25 ranked retrieval over the corpus (k1 = 1.2, b = 0.75): the
    * training-data-curation primitive behind "find documents like this
    * query" sweeps. Two passes, both distributed: one aggregate produces a
    * 1-row stats frame (N, total tokens, per-term document frequencies)
    * that broadcasts to a per-document scoring pass, then top-k via
    * order-by-limit (TakeOrderedAndProject — a bounded heap per partition,
    * no global sort). No doc×term shuffle: the query's terms are columns,
    * not rows.
    *
    * Cross-engine determinism: ln() is NOT bit-identical between JVM and
    * DuckDB libm (measured: 54/55500 idf inputs differ by 1 ulp), so the
    * idf is quantized to the integer floor(log₂((N+1)/(df+½))) via the
    * same `length(bin(x)) − 1` integer derivation the ANN sizing uses.
    * With k1 = 6/5 and b = 3/4 the term weight is the exact rational
    * 22·tf·T / (10·tf·T + 3·T + 9·dl·N), evaluated as ONE correctly-rounded
    * double division; products and the fixed-order sum over query terms are
    * then bit-identical on any IEEE-754 engine.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 50): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = tokens(col("text"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(toks).cast("long")).as("total_tokens") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(toks, lit(t)), 1L).otherwise(0L)).as(s"df_$i")
        }: _*)
    val perDoc = docs.select(
      col("doc_id") +: size(toks).cast("long").as("dl") +:
        terms.indices.map(i =>
          size(filter(toks, x => x === lit(terms(i)))).cast("long").as(s"tf_$i")): _*)
    val n = col("n_docs")
    val bigT = col("total_tokens")
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i")
      val idf = (length(bin(intDiv(n * 2 + 2, col(s"df_$i") * 2 + 1))) - 1).cast("double")
      val w = (tf * bigT * 22L).cast("double") /
        (tf * bigT * 10L + bigT * 3L + col("dl") * n * 9L).cast("double")
      idf * w
    }.reduce(_ + _)
    val matched = terms.indices.map(i =>
      when(col(s"tf_$i") > 0, 1).otherwise(0)).reduce(_ + _).cast("int")
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("score"), matched.as("matched"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** DuckDB twin of [[bm25]] — same integer derivations, same fixed-order
    * float arithmetic.
    */
  def bm25Sql(terms: Seq[String], k: Int = 50): String = {
    def esc(s: String) = s.replace("'", "''")
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(SUM(CASE WHEN list_contains(string_split(text, ' '), '${esc(t)}') THEN 1 ELSE 0 END) AS BIGINT) AS df_$i"
    }.mkString(",\n       |         ")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '${esc(t)}')) AS BIGINT) AS tf_$i"
    }.mkString(",\n       |         ")
    val score = terms.indices.map { i =>
      s"""(CAST(length(bin((n_docs * 2 + 2) // (df_$i * 2 + 1))) - 1 AS DOUBLE)
         | * (CAST(tf_$i * total_tokens * 22 AS DOUBLE)
         |    / CAST(tf_$i * total_tokens * 10 + total_tokens * 3 + dl * n_docs * 9 AS DOUBLE)))""".stripMargin
    }.mkString(" + ")
    val matched = terms.indices.map(i => s"CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       |         $dfAggs
       |  FROM documents),
       |per_doc AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |         $tfCols
       |  FROM documents)
       |SELECT doc_id,
       |       $score AS score,
       |       CAST($matched AS INT) AS matched
       |FROM per_doc, stats
       |ORDER BY score DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  /** Content fingerprint: md5 of the sorted distinct token set — an
    * order-insensitive document identity for containment-style dedup.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(tokens(col("text")))), " "))
        .as("fingerprint"))

  val fingerprintsSql: String =
    """SELECT doc_id,
      |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
      |         AS fingerprint
      |FROM documents""".stripMargin

  /** Repetition detection — the Gopher/C4-style quality rule: the fraction
    * of a document's n-grams taken by its single most-repeated n-gram.
    * Boilerplate, template spam, and degenerate generations all show a
    * dominant repeated n-gram long before any classifier sees them. Unlike
    * [[Dedup.shingles]] this keeps MULTIPLICITY (distinct shingle sets
    * can't measure repetition). Two partial-aggregatable group-bys — per
    * (doc, gram) count then per-doc sum/max — so the shuffle carries
    * counts, never gram text twice.
    */
  def repetition(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - n),
          i => array_join(slice(col("toks"), i + 1, lit(n)), " "))).as("sh"))
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("n_ngrams"), max("c").as("max_rep"))
      // single double division of two exact integers — IEEE-identical on
      // both engines, no OracleSafe quantization needed
      .select(col("doc_id"), col("n_ngrams"), col("max_rep"),
        (col("max_rep").cast("double") / col("n_ngrams")).as("rep_ratio"))

  def repetitionSql(n: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |         array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + ${n - 1}], ' ') AS sh
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${n - 1})) AS i
       |        FROM toks WHERE len(toks) >= $n) t),
       |counts AS (SELECT doc_id, sh, COUNT(*) AS c FROM grams GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams,
       |       CAST(MAX(c) AS BIGINT) AS max_rep,
       |       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS rep_ratio
       |FROM counts GROUP BY doc_id""".stripMargin

  /** Heavy hitters (tokens with frequency > n/k) in TWO passes, neither of
    * which shuffles the full vocabulary — the scale path that
    * [[vocabTopK]]'s full group-by is the small-scale twin of.
    *
    * Pass 1 runs a Misra–Gries summary of capacity `k` INSIDE each
    * partition (`mapPartitions` — genuine per-partition imperative state,
    * the documented exception to expressions-only). MG guarantees any item
    * with in-partition count > (partition size)/k survives; a weighted-
    * average (pigeonhole) argument lifts this globally: if an item's total
    * count exceeds n/k = (Σ nₚ)/k, then in at least one partition p its
    * count exceeds nₚ/k. So the UNION of per-partition survivors is a
    * SUPERSET of the true heavy hitters — at most `k · partitions` tokens,
    * thousands of rows where the vocabulary has billions.
    *
    * Pass 2 broadcast-semi-joins that candidate set against the token
    * stream and counts EXACTLY, then filters cnt·k > n with n from a 1-row
    * count aggregate. False candidates from pass 1 die here, so the output
    * is exactly the true heavy-hitter set with exact counts — which is why
    * a DuckDB full group-by oracle can check a sketch-based plan at all.
    */
  def heavyHitters(docs: DataFrame, k: Int = 30): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    val candidates = toks.as[String].mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        counts.get(t) match {
          case Some(c) => counts.update(t, c + 1)
          case None if counts.size < k => counts.update(t, 1L)
          case None => // decrement-all: the MG eviction step
            val dead = List.newBuilder[String]
            counts.foreach { case (key, c) =>
              if (c == 1L) dead += key else counts.update(key, c - 1) }
            dead.result().foreach(counts.remove)
        }
      }
      counts.keysIterator
    }.toDF("token").distinct()
    val n = toks.agg(count(lit(1)).as("n"))
    toks.join(broadcast(candidates), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt") * k > col("n"))
      .select(col("token"), col("cnt"), col("n"))
  }

  /** Token-rarity quality score — the UDF-free stand-in for a unigram-LM
    * perplexity filter: a document whose tokens are mostly corpus-rare is
    * likelier junk (OCR noise, mojibake, code soup) than one built from
    * common vocabulary. Score = mean document frequency of the document's
    * tokens (multiplicity kept). Everything before the final division is
    * integer (df counts and their sum), so the one double divide is
    * IEEE-identical across engines — no log(), whose last-ulp libm
    * differences would break the oracle. Shapes: one vocab-keyed aggregate
    * for the df table, one token-keyed shuffle join back (vocab scale, not
    * corpus scale, rides the broadcast side... at web scale the df table
    * outgrows a broadcast and this becomes the classic shuffle join on the
    * token key — written as a plain join so Spark/AQE picks).
    */
  def tokenRarity(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
    val dfreq = toks.groupBy("token")
      .agg(countDistinct(col("doc_id")).as("df"))
    toks.join(dfreq, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("df").as("sum_df"))
      .select(col("doc_id"), col("n_tokens"), col("sum_df"),
        (col("sum_df").cast("double") / col("n_tokens")).as("mean_df"))
  }

  def tokenRaritySql(): String =
    """rtoks AS (
      |  SELECT doc_id, token
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) u
      |  WHERE len(token) > 0),
      |rdf AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM rtoks GROUP BY token),
      |rarity AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(df) AS BIGINT) AS sum_df,
      |         CAST(SUM(df) AS DOUBLE) / COUNT(*) AS mean_df
      |  FROM rtoks JOIN rdf USING (token)
      |  GROUP BY doc_id)""".stripMargin

  /** DuckDB oracle for [[heavyHitters]] — the definitionally-exact full
    * group-by (fine single-node; the sketch exists for the cluster).
    */
  def heavyHittersSql(k: Int = 30): String =
    s"""toks AS (
       |  SELECT token
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) u
       |  WHERE len(token) > 0),
       |tot AS (SELECT COUNT(*) AS n FROM toks),
       |hh AS (
       |  SELECT token, COUNT(*) AS cnt, (SELECT n FROM tot) AS n
       |  FROM toks GROUP BY token
       |  HAVING COUNT(*) * $k > (SELECT n FROM tot))""".stripMargin

  /** Count-Min sketch token counts with the overestimate AUDITED — the
    * last member of the engine's sketch family (Misra-Gries q99, KMV
    * q145/q154, HLL q75, KLL/GK q90, Bloom q157): a depth×width integer
    * cell table counts every token through `depth` independent hashes;
    * a token's estimate is the MIN of its cells, which can only
    * OVERcount (collisions add, never subtract). For the exact top-`topK`
    * tokens the audit emits (token, exact, estimate, overestimate ≥ 0).
    *
    * All arithmetic is integer — cells are sums of exact token counts,
    * the probe is a min over `depth` BIGINTs — so the sketch itself is
    * cross-engine reproducible, not just its contract.
    *
    * Scale shape: cells build from the token-count frame with ONE
    * (depth·width)-key aggregate — constant-size output regardless of
    * vocabulary, mergeable across shards by cell-wise add (the property
    * a 100 TB corpus profile needs); the probe joins a `topK`-row frame
    * against the cell table. The exact counts exist here only as the
    * audit's ground truth.
    */
  def cmSketchAudit(docs: DataFrame, depth: Int = 4, width: Int = 1024,
      topK: Int = 20): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad CM dims: $depth x $width")
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    def bucket(tok: Column, i: Column): Column =
      conv(substring(md5(concat(tok, lit(":"), i.cast("string"))), 1, 12), 16, 10)
        .cast("long") % width
    val cells = counts
      .select(col("cnt"), explode(sequence(lit(0), lit(depth - 1))).as("i"),
        col("token"))
      .groupBy(col("i"), bucket(col("token"), col("i")).as("b"))
      .agg(sum("cnt").as("cell"))
    val top = counts.orderBy(col("cnt").desc, col("token")).limit(topK)
      .select(col("token"), col("cnt").as("exact_cnt"))
    top
      .select(col("token"), col("exact_cnt"),
        explode(sequence(lit(0), lit(depth - 1))).as("i"))
      .withColumn("b", bucket(col("token"), col("i")))
      .join(cells, Seq("i", "b"))
      .groupBy("token", "exact_cnt")
      .agg(min("cell").as("cm_estimate"))
      .select(col("token"), col("exact_cnt"), col("cm_estimate"),
        (col("cm_estimate") - col("exact_cnt")).as("overestimate"))
  }

  /** DuckDB twin of [[cmSketchAudit]]; embed after `WITH` and select from
    * `cm_audit`.
    */
  def cmSketchAuditSql(depth: Int = 4, width: Int = 1024, topK: Int = 20): String =
    s"""cm_counts AS (
       |  SELECT token, COUNT(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) u
       |  WHERE len(token) > 0 GROUP BY token),
       |cm_is AS (SELECT unnest(generate_series(0, ${depth - 1})) AS i),
       |cm_cells AS (
       |  SELECT i, ('0x' || substring(md5(token || ':' || CAST(i AS VARCHAR)), 1, 12))::BIGINT % $width AS b,
       |         CAST(SUM(cnt) AS BIGINT) AS cell
       |  FROM cm_counts, cm_is GROUP BY 1, 2),
       |cm_top AS (
       |  SELECT token, cnt AS exact_cnt FROM (
       |    SELECT token, cnt,
       |           ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rk
       |    FROM cm_counts) t WHERE rk <= $topK),
       |cm_probe AS (
       |  SELECT t.token, t.exact_cnt, s.i,
       |         ('0x' || substring(md5(t.token || ':' || CAST(s.i AS VARCHAR)), 1, 12))::BIGINT % $width AS b
       |  FROM cm_top t, cm_is s),
       |cm_audit AS (
       |  SELECT p.token, p.exact_cnt, MIN(c.cell) AS cm_estimate,
       |         MIN(c.cell) - p.exact_cnt AS overestimate
       |  FROM cm_probe p JOIN cm_cells c ON c.i = p.i AND c.b = p.b
       |  GROUP BY p.token, p.exact_cnt)""".stripMargin

  /** Per-document unigram-LM surprisal — the distributed core of a
    * perplexity filter (the CCNet/Gopher-style "score every document
    * against a language model, drop the weird tails" curation step, with
    * the corpus's own unigram model standing in for the external LM).
    * Pass 1 builds the unigram model: per-token corpus counts c(w) and
    * the total N. Pass 2 charges every token occurrence its surprisal
    * −log₂ p(w) = log₂(N/c(w)) and sums per document.
    *
    * Cross-engine determinism: the surprisal is the integer
    * floor(log₂(N/c)) via `length(bin(N div c)) − 1` (floor-log₂ of the
    * floored ratio equals floor-log₂ of the rational for N ≥ c, which
    * always holds) — the same libm-free derivation as the BM25 idf. Sums
    * are then exact BIGINTs under any aggregation order; the only float
    * is ONE division per document at the output.
    *
    * Plan shape: explode → map-side-combined (doc, token) counts →
    * shuffle on token to join the model (the model is vocabulary-sized,
    * so it is NEVER broadcast — at 100 TB the vocab alone outgrows an
    * executor) → re-group on doc_id. Three shuffles, each keyed on a
    * high-cardinality column; no driver-side state.
    */
  def docSurprisal(docs: DataFrame): DataFrame = {
    val docTok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("k"))
    val vocab = docTok.groupBy("w").agg(sum(col("k")).as("c"))
    val n = vocab.agg(sum(col("c")).as("n"))
    val model = vocab.crossJoin(broadcast(n))
      .select(col("w"),
        (length(bin(intDiv(col("n"), col("c")))) - 1).cast("long").as("s"))
    docTok.join(model, Seq("w"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k") * col("s")).as("surprisal_bits"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal_bits"),
        (col("surprisal_bits").cast("double") / col("n_tokens").cast("double"))
          .as("bits_per_token"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[docSurprisal]] — identical integer floor-log₂
    * model and per-document sums.
    */
  def docSurprisalSql(): String =
    s"""su_dt AS (
       |  SELECT doc_id, w, COUNT(*) AS k
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1, 2),
       |su_v AS (SELECT w, CAST(SUM(k) AS BIGINT) AS c FROM su_dt GROUP BY 1),
       |su_n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM su_v),
       |su_model AS (
       |  SELECT w, CAST(length(bin(${OracleSafe.intDivSql("n", "c")})) - 1 AS BIGINT) AS s
       |  FROM su_v, su_n),
       |doc_surprisal AS (
       |  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
       |         CAST(SUM(k * s) AS BIGINT) AS surprisal_bits,
       |         CAST(SUM(k * s) AS DOUBLE) / CAST(SUM(k) AS DOUBLE) AS bits_per_token
       |  FROM su_dt JOIN su_model USING (w)
       |  GROUP BY doc_id)""".stripMargin

  /** BPE TRAINING, executed — `rounds` actual merge iterations of the
    * byte-pair-encoding trainer (Sennrich et al. 2016, arXiv:1508.07909),
    * not just the pair-count ranking (q113): each round picks the most
    * frequent adjacent symbol pair (ties by pair asc), merges it
    * everywhere (leftmost non-overlapping, both engines' literal
    * `replace` semantics — the reference algorithm's behavior), and
    * recounts. Output: the merge table with each round's pick, its
    * pre-merge frequency, and the corpus symbol count AFTER the merge —
    * the compression curve a tokenizer build monitors.
    *
    * Representation: words live as bracket-wrapped symbol strings
    * (`hello` → `<h><e><l><l><o>`), so a merge is a plain string replace
    * of `<a><b>` with `<ab>` — no regex in the hot path and no
    * boundary ambiguity for repeated symbols. Like every published BPE
    * trainer, work runs on the DISTINCT-word frequency table, not the
    * corpus: the vocab frame is the working set (bounded by vocabulary,
    * not corpus bytes — the standard scale story), each round is one
    * pair aggregate + one broadcast of the 1-row pick, and rounds are
    * `localCheckpoint`ed so the k-deep chain neither recomputes nor
    * grows the plan. Pair counts include overlapping occurrences while
    * the merge is non-overlapping — exactly the reference algorithm's
    * (documented) asymmetry.
    */
  private val bpeSyms = expr("regexp_extract_all(s, '<[^>]*>', 0)")

  /** The k training rounds shared by [[bpeTrain]] and [[bpeEncode]]:
    * returns, per round, the 1-row merge frame (pair, freq, merged) and
    * the post-merge vocab state. Each round is materialized with
    * `localCheckpoint` so the chain neither recomputes nor grows.
    */
  private def bpeRounds(docs: DataFrame,
      rounds: Int): Seq[(DataFrame, DataFrame)] = {
    require(rounds >= 1 && rounds <= 8, s"rounds in [1,8]: $rounds")
    val vocab = docs
      .select(explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("w"), "(.)", "<$1>").as("s"), col("cnt"))
    // a fully-merged word is ONE symbol: filter before the pair explode
    // (Spark's sequence(1, 0) DESCENDS instead of emitting empty, so the
    // guard is load-bearing, not cosmetic)
    def pairCounts(cur: DataFrame): DataFrame = cur
      .filter(size(bpeSyms) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(bpeSyms) - 1),
        i => concat(element_at(bpeSyms, i), element_at(bpeSyms, i + 1)))).as("pair"))
      .groupBy("pair").agg(sum("cnt").as("freq"))
    var cur = vocab.localCheckpoint()
    (1 to rounds).map { _ =>
      val top = pairCounts(cur).orderBy(desc("freq"), asc("pair")).limit(1)
        .select(col("pair"), col("freq"),
          expr("replace(pair, '><', '')").as("merged"))
      cur = cur.crossJoin(broadcast(top))
        .select(expr("replace(s, pair, merged)").as("s"), col("cnt"))
        .localCheckpoint()
      (top, cur)
    }
  }

  def bpeTrain(docs: DataFrame, rounds: Int = 3): DataFrame =
    bpeRounds(docs, rounds).zipWithIndex.map { case ((top, cur), i) =>
      val after = cur.agg(
        sum(col("cnt") * size(bpeSyms).cast("long")).as("corpus_symbols"))
      top.crossJoin(broadcast(after))
        .select(lit(i + 1).as("round"), col("pair"), col("freq"),
          col("corpus_symbols"))
    }.reduce(_.unionByName(_))

  /** q252 — ENCODE the corpus with the merges [[bpeTrain]] learned: the
    * consumer half of the BPE loop (train → tokenize), which is what a
    * data pipeline actually runs per document at scale. The unit of
    * encoding is the WORD TYPE, not the token occurrence: the distinct
    * word vocabulary is bracket-symbolized once, the k merges apply as k
    * broadcast-replace rounds over that vocabulary (each a narrow map
    * with a 1-row broadcast — exactly how production tokenizers memoize
    * word→pieces), and documents join their word occurrences back
    * against the encoded vocabulary. Per doc: occurrence count, symbol
    * counts before (one per char) and after the merges, and the
    * compression ratio the trained merges actually deliver — the number
    * a tokenizer-budget planner reads. Training filters 1-char words
    * (no pair to merge) but the ENCODER passes them through unchanged,
    * as a deployed tokenizer must.
    */
  def bpeEncode(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val merges = bpeRounds(docs, rounds).map(_._1)
    val words = docs.select(col("doc_id"),
      explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("w"))
    var enc = words.select(col("w")).distinct()
      .select(col("w"), regexp_replace(col("w"), "(.)", "<$1>").as("s"))
      .localCheckpoint()
    for (m <- merges)
      enc = enc.crossJoin(broadcast(m.select("pair", "merged")))
        .select(col("w"), expr("replace(s, pair, merged)").as("s"))
        .localCheckpoint()
    val encoded = enc.select(col("w"), size(bpeSyms).as("n_syms"))
    words.join(encoded, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("syms_before"),
        sum(col("n_syms").cast("long")).as("syms_after"))
      .withColumn("compression",
        col("syms_before").cast("double") / col("syms_after").cast("double"))
  }

  /** DuckDB twin of [[bpeTrain]] — the k rounds unrolled as a CTE chain;
    * embed after `WITH ` and select from `bpe_train`.
    */
  def bpeTrainSql(rounds: Int = 3): String = {
    val syms = "regexp_extract_all(s, '<[^>]*>')"
    val rows = (1 to rounds).map { k =>
      s"""  SELECT $k AS round, pair, freq,
         |         (SELECT CAST(SUM(cnt * len($syms)) AS BIGINT)
         |          FROM bpe_s$k) AS corpus_symbols
         |  FROM bpe_t$k""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""${bpeChainSql(rounds)},
       |bpe_train AS (
       |$rows)""".stripMargin
  }

  /** The shared training-chain CTEs (bpe_w, bpe_s0, bpe_p/t/s 1..k) the
    * train and encode oracles both embed.
    */
  private def bpeChainSql(rounds: Int): String = {
    require(rounds >= 1 && rounds <= 8, s"rounds in [1,8]: $rounds")
    val syms = "regexp_extract_all(s, '<[^>]*>')"
    val stages = (1 to rounds).map { k =>
      s"""bpe_p$k AS (
         |  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS freq FROM (
         |    SELECT cnt, sy[i] || sy[i + 1] AS pair
         |    FROM (SELECT cnt, $syms AS sy FROM bpe_s${k - 1}) q,
         |         UNNEST(generate_series(1, len(sy) - 1)) AS g(i))
         |  GROUP BY pair),
         |bpe_t$k AS (
         |  SELECT pair, freq, replace(pair, '><', '') AS merged
         |  FROM bpe_p$k ORDER BY freq DESC, pair LIMIT 1),
         |bpe_s$k AS (
         |  SELECT replace(s, t.pair, t.merged) AS s, cnt
         |  FROM bpe_s${k - 1}, bpe_t$k t)""".stripMargin
    }.mkString(",\n")
    s"""bpe_w AS (
       |  SELECT w, COUNT(*) AS cnt FROM (
       |    SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w
       |    FROM documents) q
       |  WHERE len(w) >= 2 GROUP BY w),
       |bpe_s0 AS (
       |  SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS s, cnt FROM bpe_w),
       |$stages""".stripMargin
  }

  /** DuckDB twin of [[bpeEncode]] — the same training chain, then the
    * distinct word vocabulary encoded through the k merges and joined
    * back to word occurrences. Embed after `WITH ` and select from
    * `bpe_encode`.
    */
  def bpeEncodeSql(rounds: Int = 3): String = {
    val encStages = (1 to rounds).map { k =>
      s"""enc_v$k AS (
         |  SELECT w, replace(s, t.pair, t.merged) AS s
         |  FROM enc_v${k - 1}, bpe_t$k t)""".stripMargin
    }.mkString(",\n")
    s"""${bpeChainSql(rounds)},
       |enc_words AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS w
       |  FROM documents),
       |enc_v0 AS (
       |  SELECT DISTINCT w, regexp_replace(w, '(.)', '<\\1>', 'g') AS s
       |  FROM enc_words),
       |$encStages,
       |enc_final AS (
       |  SELECT w, len(regexp_extract_all(s, '<[^>]*>')) AS n_syms
       |  FROM enc_v$rounds),
       |bpe_encode AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |         CAST(SUM(len(w)) AS BIGINT) AS syms_before,
       |         CAST(SUM(n_syms) AS BIGINT) AS syms_after,
       |         CAST(SUM(len(w)) AS DOUBLE) / CAST(SUM(n_syms) AS DOUBLE)
       |           AS compression
       |  FROM enc_words JOIN enc_final USING (w)
       |  GROUP BY doc_id)""".stripMargin
  }

  /** Pareto frontier (the SKYLINE operator) of documents on the quality/
    * cost plane: maximize vocabulary richness `q` (distinct-token count),
    * minimize character cost `n_chars`. A doc is dominated when another
    * doc is no worse on both axes and strictly better on one; the
    * frontier is every non-dominated doc — the "best value per byte"
    * curve a data-selection pass picks from. Skylines are a classic
    * relational operator Spark has no native form of (Börzsönyi et al.,
    * ICDE 2001); the naive formulation is an O(n²) self-join.
    *
    * This plan is O(n) + a window over the bounded GRID instead: (1)
    * collapse docs to (n_chars → max q) — anything below its length's
    * max is dominated at equal cost; (2) one running-max window over the
    * grid ordered by n_chars marks grid points beating every cheaper
    * point — for 2-D skylines the sort-order sweep is exact; (3) join
    * docs back on (n_chars, q), so ties on BOTH axes all surface (none
    * dominates the others). The window rides the grid — bounded by the
    * distinct lengths in the corpus, i.e. the value DOMAIN, not the
    * corpus (the q151/q162 bounded-grid window pattern) — and the
    * frontier-points frame broadcasts for the final join.
    */
  def paretoFrontier(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), col("n_chars"),
      size(array_distinct(tokens(col("text")))).cast("long").as("q"))
    val grid = scored.groupBy("n_chars").agg(max("q").as("q"))
    val w = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontierPts = grid
      .withColumn("prevmax", max("q").over(w))
      .filter(col("prevmax").isNull || col("q") > col("prevmax"))
      .select("n_chars", "q")
    scored.join(broadcast(frontierPts), Seq("n_chars", "q"))
      .select("doc_id", "n_chars", "q")
  }

  /** DuckDB twin of [[paretoFrontier]]; embed after `WITH ` and select
    * from `pareto_frontier`.
    */
  def paretoFrontierSql(): String =
    s"""pf_scored AS (
       |  SELECT doc_id, n_chars,
       |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS q
       |  FROM documents),
       |pf_grid AS (SELECT n_chars, MAX(q) AS q FROM pf_scored GROUP BY n_chars),
       |pf_front AS (
       |  SELECT n_chars, q FROM (
       |    SELECT n_chars, q,
       |           MAX(q) OVER (ORDER BY n_chars
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
       |    FROM pf_grid) g
       |  WHERE prevmax IS NULL OR q > prevmax),
       |pareto_frontier AS (
       |  SELECT s.doc_id, s.n_chars, s.q
       |  FROM pf_scored s JOIN pf_front f USING (n_chars, q))""".stripMargin

  // ------------------------------------------------- inverted text index

  /** Conjunctive search through a PERSISTED inverted text index (q239) —
    * the text sibling of the q235 ANN index and q237 bloom index. Build
    * writes the postings (term, doc_id) partitioned by a 16-bucket term
    * hash (one directory per bucket — the shard an index server owns) and
    * the dictionary (term, doc frequency, bucket). Serving uses ONLY the
    * loaded artifacts: the query workload derives from the loaded
    * dictionary (the two rarest + the common terms, ties by term — so the
    * same queries exist at every scale), each query reads just its terms'
    * bucket dirs (partition pruning, asserted in `InvertedIndexSpec`),
    * and AND-semantics are a posting intersection: docs matching ALL
    * terms. The oracle recomputes everything logically from `documents` —
    * a hash match proves the index round trip is lossless.
    *
    * Scale shape: postings are (term, doc_id) distinct — one shuffle at
    * build; the dictionary is vocabulary-sized (broadcastable); a query
    * touches |terms| dirs of 16 and its intersection groups only the
    * touched posting lists, never the corpus. The 6-term driver-side
    * frame is the query plan, not data.
    */
  def invertedIndexLookup(documents: DataFrame, outDir: String,
      nBuckets: Int = 16): DataFrame = {
    buildInvertedIndex(documents, outDir, nBuckets)
    serveInvertedIndex(documents.sparkSession, outDir)
  }

  /** Term → shard-bucket hash shared by build, delta append, and the
    * oracle-free serve path (bucket is functional on term, so an
    * append-time recomputation lands delta postings in the same dirs).
    */
  private def termBucket(nBuckets: Int): Column = pmod(
    conv(substring(md5(col("term")), 1, 12), 16, 10).cast("long"),
    lit(nBuckets.toLong))

  /** Distinct (doc_id, term) postings of a document batch. */
  private def docPostings(documents: DataFrame): DataFrame = documents
    .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    .distinct()

  /** Build half of [[invertedIndexLookup]]: writes `postings/bucket=…`
    * (one dir per term-hash shard) and `dict` (term, df, bucket) under
    * `outDir`.
    */
  def buildInvertedIndex(documents: DataFrame, outDir: String,
      nBuckets: Int = 16): Unit = {
    // materialized once: the postings subtree (explode + distinct, the
    // build's expensive shuffle) feeds TWO separate write actions —
    // without the checkpoint it re-executes under the dict write
    val postings = docPostings(documents)
      .withColumn("bucket", termBucket(nBuckets))
      .localCheckpoint()
    postings
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outDir/postings")
    postings.groupBy("term", "bucket").agg(count(lit(1)).as("df"))
      .select("term", "df", "bucket")
      .write.mode("overwrite").parquet(s"$outDir/dict")
  }

  /** Incremental maintenance of a built inverted index (q240): a delta
    * batch of NEW documents (ids disjoint from the base — the crawl-
    * append case) lands as an APPEND into only the bucket dirs its terms
    * hash to; untouched shards' files are never rewritten (asserted in
    * `InvertedIndexSpec`). The dictionary is vocabulary-sized, so its
    * maintenance is a merge-and-rewrite: base df + delta df summed per
    * term, written to `dictDir` (a NEW version dir — never overwrite a
    * dir a lazy reader may still hold open).
    *
    * Scale shape: the delta pays delta-sized work only — one distinct
    * shuffle over the delta postings plus a vocab-grain merge join; the
    * base postings (the 100 TB part) are untouched on disk. This is the
    * q164 IVM pattern applied to a persisted physical artifact: the
    * equality proof is that serving from (appended postings, merged
    * dict) hash-matches the index REBUILT from base+delta.
    */
  def appendInvertedIndexDelta(delta: DataFrame, outDir: String,
      nBuckets: Int = 16, dictDir: String = "dict_v2"): Unit = {
    val spark = delta.sparkSession
    // checkpointed: feeds the postings append AND the dict merge (two
    // actions — see buildInvertedIndex)
    val newPostings = docPostings(delta)
      .withColumn("bucket", termBucket(nBuckets)).localCheckpoint()
    newPostings.write.mode("append").partitionBy("bucket")
      .parquet(s"$outDir/postings")
    val deltaDict = newPostings.groupBy("term", "bucket")
      .agg(count(lit(1)).as("df"))
    spark.read.parquet(s"$outDir/dict")
      .unionByName(deltaDict.select("term", "df", "bucket"))
      .groupBy("term", "bucket").agg(sum("df").as("df"))
      .select("term", "df", "bucket")
      .write.mode("overwrite").parquet(s"$outDir/$dictDir")
  }

  /** One micro-batch of q281's streaming index maintenance: the batch's
    * postings land in their OWN dir (`batchDir`, overwrite — so a replay
    * of the same batch is idempotent, unlike a blind append into the
    * base postings), and the dictionary merges forward from `dictIn`
    * into `dictOut` (distinct version dirs; the read side is untouched
    * by a replayed overwrite). Every path is a pure function of the
    * caller's batchId — the foreachBatch exactly-once discipline.
    */
  def maintainIndexBatch(batch: DataFrame, outDir: String, batchDir: String,
      dictIn: String, dictOut: String, nBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    // checkpointed: feeds the batch-dir write AND the dict merge (two
    // actions — see buildInvertedIndex)
    val newPostings = docPostings(batch)
      .withColumn("bucket", termBucket(nBuckets)).localCheckpoint()
    newPostings.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outDir/$batchDir")
    val deltaDict = newPostings.groupBy("term", "bucket")
      .agg(count(lit(1)).as("df"))
    spark.read.parquet(s"$outDir/$dictIn")
      .unionByName(deltaDict.select("term", "df", "bucket"))
      .groupBy("term", "bucket").agg(sum("df").as("df"))
      .select("term", "df", "bucket")
      .write.mode("overwrite").parquet(s"$outDir/$dictOut")
  }

  /** Serve half of [[invertedIndexLookup]]: conjunctive queries answered
    * from the LOADED artifacts only (dictionary-derived workload, bucket
    * dir pruning, posting intersection). `dictDir` selects the dictionary
    * version — "dict" for a fresh build, the merged version after
    * [[appendInvertedIndexDelta]].
    */
  def serveInvertedIndex(spark: SparkSession, outDir: String,
      dictDir: String = "dict",
      extraPostingDirs: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    val dict = spark.read.parquet(s"$outDir/$dictDir")
    val rare = dict.orderBy(col("df").asc, col("term"))
      .select("term", "bucket").limit(2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val common = dict.orderBy(col("df").desc, col("term"))
      .select("term", "bucket").limit(3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val queries = Seq(
      ("rare_pair", rare.toSeq),
      ("rare_common", Seq(rare(0), common(0)).distinct),
      ("common_triple", common.toSeq))
    // one read per root (a multi-root read trips partition discovery —
    // the roots sit at different depths); bucket pruning pushes into
    // each scan independently
    val loaded = (s"$outDir/postings" +: extraPostingDirs)
      .map(p => spark.read.parquet(p)
        .select(col("term"), col("doc_id"),
          col("bucket").cast("long").as("bucket")))
      .reduce(_ unionByName _)
    val runs = queries.map { case (qid, terms) =>
      val termSet = terms.map(_._1)
      val bucketSet = terms.map(_._2).distinct
      val matched = loaded
        .filter(col("bucket").isin(bucketSet.map(Long.box): _*)) // dir pruning
        .filter(col("term").isin(termSet: _*))
        .groupBy("doc_id")
        .agg(countDistinct(col("term")).as("nt"))
        .filter(col("nt") === termSet.size)
      val agg = matched.agg(count(lit(1)).as("n_docs"),
        sum("doc_id").as("sum_doc_ids"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
      broadcast(Seq((qid, termSet.size.toLong)).toDF("query_id", "n_terms"))
        .crossJoin(agg)
    }
    runs.reduce(_.unionByName(_)).orderBy("query_id")
  }

  /** DuckDB twin of [[invertedIndexLookup]] — identical postings, query
    * derivation, and intersection semantics, computed logically. Embed
    * after `WITH ` and select from `inverted_lookup`.
    */
  def invertedIndexLookupSql(): String =
    s"""iti_postings AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |iti_df AS (SELECT term, COUNT(*) AS df FROM iti_postings GROUP BY 1),
       |iti_rare AS (
       |  SELECT term, ROW_NUMBER() OVER (ORDER BY df ASC, term) AS rk
       |  FROM iti_df),
       |iti_comm AS (
       |  SELECT term, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rk
       |  FROM iti_df),
       |iti_queries AS (
       |  SELECT DISTINCT query_id, term FROM (
       |    SELECT 'rare_pair' AS query_id, term FROM iti_rare WHERE rk <= 2
       |    UNION ALL
       |    SELECT 'rare_common', term FROM iti_rare WHERE rk = 1
       |    UNION ALL
       |    SELECT 'rare_common', term FROM iti_comm WHERE rk = 1
       |    UNION ALL
       |    SELECT 'common_triple', term FROM iti_comm WHERE rk <= 3)),
       |iti_qsize AS (
       |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_terms
       |  FROM iti_queries GROUP BY 1),
       |iti_match AS (
       |  SELECT q.query_id, p.doc_id
       |  FROM iti_queries q
       |  JOIN iti_postings p ON p.term = q.term
       |  JOIN iti_qsize s ON s.query_id = q.query_id
       |  GROUP BY 1, 2
       |  HAVING COUNT(DISTINCT q.term) = MAX(s.n_terms)),
       |inverted_lookup AS (
       |  SELECT s.query_id, s.n_terms,
       |         CAST(COUNT(m.doc_id) AS BIGINT) AS n_docs,
       |         CAST(SUM(m.doc_id) AS BIGINT) AS sum_doc_ids,
       |         MIN(m.doc_id) AS min_doc_id, MAX(m.doc_id) AS max_doc_id
       |  FROM iti_qsize s LEFT JOIN iti_match m ON m.query_id = s.query_id
       |  GROUP BY 1, 2)""".stripMargin

  /** q240 — incremental index maintenance, end to end: the corpus is
    * split deterministically into a base batch (`doc_id % deltaMod != 0`)
    * and a delta batch, the index is BUILT from the base, the delta is
    * APPLIED with [[appendInvertedIndexDelta]] (append-only postings +
    * dictionary merge — never a rebuild), and the q239 workload is served
    * from the maintained artifacts. The oracle is
    * [[invertedIndexLookupSql]] over base+delta, i.e. the index rebuilt
    * from scratch — hash equality IS the maintenance proof.
    */
  def incrementalInvertedIndex(documents: DataFrame, outDir: String,
      nBuckets: Int = 16, deltaMod: Long = 10L): DataFrame = {
    require(deltaMod >= 2, s"deltaMod must leave a non-empty base: $deltaMod")
    buildInvertedIndex(documents.filter(col("doc_id") % deltaMod =!= 0L),
      outDir, nBuckets)
    appendInvertedIndexDelta(
      documents.filter(col("doc_id") % deltaMod === 0L), outDir, nBuckets)
    serveInvertedIndex(documents.sparkSession, outDir, dictDir = "dict_v2")
  }

  // ---------------------------------------------------------------- q278

  /** (doc_id, pos 1-based, term) — every occurrence, not the q239
    * distinct postings: phrase matching needs positions and multiplicity.
    */
  private def positionalPostings(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos0", "term")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("term"))

  /** q278 — PHRASE SEARCH over a persisted POSITIONAL inverted index:
    * the q239 conjunctive index upgraded with token positions, so the
    * index answers "these words ADJACENT, in order" — the capability
    * gap between a bag-of-words index and a real text-serving tier.
    * The build writes every (doc, pos, term) occurrence into the same
    * term-hash bucket dirs as q239 plus a bigram statistics table; the
    * serve path derives its workload from the LOADED bigram stats (the
    * two most frequent phrases and the rarest, fully tie-broken), reads
    * ONLY the queried terms' bucket dirs, and matches phrases with one
    * position-offset self-equi-join — never a text rescan.
    *
    * Scale: postings are (doc, pos, term-hash-bucketed) — the phrase
    * join is an equi-join on (doc, pos+1) within the two posting lists;
    * the bigram stats table is bounded by distinct adjacent pairs and
    * its maintenance is the same append discipline as q240. Output per
    * phrase: doc/occurrence counts and the doc-id signature.
    */
  def phraseSearch(documents: DataFrame, outDir: String,
      nBuckets: Int = 16): DataFrame = {
    buildPositionalIndex(documents, outDir, nBuckets)
    servePhraseSearch(documents.sparkSession, outDir)
  }

  /** Build half of [[phraseSearch]]: positional postings partitioned by
    * the SAME term-hash buckets as q239 (`postings_pos/bucket=…`), plus
    * a `bigrams` statistics table (t1, t2, both terms' buckets, occurrence
    * and document counts) the serve path derives its workload from.
    */
  def buildPositionalIndex(documents: DataFrame,
      outDir: String, nBuckets: Int = 16): Unit = {
    val post = positionalPostings(documents)
    post.withColumn("bucket", termBucket(nBuckets))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outDir/postings_pos")
    val a = post.select(col("doc_id"), col("pos"), col("term").as("t1"))
    val b = post.select(col("doc_id"), (col("pos") - 1).as("pos"),
      col("term").as("t2"))
    a.join(b, Seq("doc_id", "pos"))
      .groupBy("t1", "t2")
      .agg(count(lit(1)).as("n_occ"), countDistinct("doc_id").as("n_docs"))
      .withColumn("bucket1", pmod(conv(substring(md5(col("t1")), 1, 12),
        16, 10).cast("long"), lit(nBuckets.toLong)))
      .withColumn("bucket2", pmod(conv(substring(md5(col("t2")), 1, 12),
        16, 10).cast("long"), lit(nBuckets.toLong)))
      .write.mode("overwrite").parquet(s"$outDir/bigrams")
  }

  /** Serve half of [[phraseSearch]]: phrase workload from the loaded
    * bigram stats, bucket-dir-pruned posting reads, position-offset join.
    */
  def servePhraseSearch(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val bg = spark.read.parquet(s"$outDir/bigrams")
    val top = bg.orderBy(col("n_occ").desc, col("t1"), col("t2"))
      .limit(2).collect()
    val rare = bg.orderBy(col("n_occ").asc, col("t1"), col("t2"))
      .limit(1).collect()
    val queries = Seq(("phrase_top1", top(0)), ("phrase_top2", top(1)),
      ("phrase_rare", rare(0)))
    val loaded = spark.read.parquet(s"$outDir/postings_pos")
      .select(col("term"), col("doc_id"), col("pos"),
        col("bucket").cast("long").as("bucket"))
    queries.map { case (qid, row) =>
      val (t1, t2) = (row.getAs[String]("t1"), row.getAs[String]("t2"))
      val buckets = Seq(row.getAs[Long]("bucket1"), row.getAs[Long]("bucket2"))
        .distinct
      val pruned = loaded
        .filter(col("bucket").isin(buckets.map(Long.box): _*)) // dir pruning
      val pa = pruned.filter(col("term") === t1)
        .select(col("doc_id"), col("pos"))
      val pb = pruned.filter(col("term") === t2)
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      val hits = pa.join(pb, Seq("doc_id", "pos"))
      val agg = hits.agg(count(lit(1)).as("n_occ"),
        countDistinct("doc_id").as("n_docs"),
        sum(col("doc_id")).as("sum_pair_doc_ids"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
      broadcast(Seq((qid, t1, t2)).toDF("query_id", "t1", "t2"))
        .crossJoin(agg)
    }.reduce(_ unionByName _).orderBy("query_id")
  }

  /** DuckDB twin of [[phraseSearch]] — positional postings via the
    * `ts[i]` ordinality pattern, identical workload derivation and
    * position-offset join. Embed after `WITH ` and select from
    * `phrase_search`.
    */
  def phraseSearchSql(): String =
    s"""pps_tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |pps_pos AS (
       |  SELECT doc_id, i AS pos, ts[i] AS term
       |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i
       |        FROM pps_tok)),
       |pps_bg AS (
       |  SELECT a.term AS t1, b.term AS t2, COUNT(*) AS n_occ,
       |         COUNT(DISTINCT a.doc_id) AS n_docs
       |  FROM pps_pos a JOIN pps_pos b
       |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |  GROUP BY 1, 2),
       |pps_queries AS (
       |  SELECT 'phrase_top1' AS query_id, t1, t2 FROM (
       |    SELECT t1, t2, ROW_NUMBER() OVER (ORDER BY n_occ DESC, t1, t2)
       |      AS rk FROM pps_bg) WHERE rk = 1
       |  UNION ALL
       |  SELECT 'phrase_top2', t1, t2 FROM (
       |    SELECT t1, t2, ROW_NUMBER() OVER (ORDER BY n_occ DESC, t1, t2)
       |      AS rk FROM pps_bg) WHERE rk = 2
       |  UNION ALL
       |  SELECT 'phrase_rare', t1, t2 FROM (
       |    SELECT t1, t2, ROW_NUMBER() OVER (ORDER BY n_occ ASC, t1, t2)
       |      AS rk FROM pps_bg) WHERE rk = 1),
       |phrase_search AS (
       |  SELECT q.query_id, q.t1, q.t2,
       |         CAST(COUNT(a.doc_id) AS BIGINT) AS n_occ,
       |         CAST(COUNT(DISTINCT a.doc_id) AS BIGINT) AS n_docs,
       |         CAST(SUM(a.doc_id) AS BIGINT) AS sum_pair_doc_ids,
       |         MIN(a.doc_id) AS min_doc_id, MAX(a.doc_id) AS max_doc_id
       |  FROM pps_queries q
       |  LEFT JOIN pps_pos a ON a.term = q.t1
       |  LEFT JOIN pps_pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |     AND b.term = q.t2
       |  WHERE b.doc_id IS NOT NULL
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** q300 — the CURATION PIPELINE end to end: exact dedup → quality
    * filter → benchmark decontamination → per-source quota, composed in
    * ONE plan with per-stage survivor counts — the flow a training-data
    * team actually runs, proving the suite's operators compose rather
    * than only passing in isolation. Every stage is engine-exact:
    * dedup keeps the min doc_id per md5(text); quality is integer
    * arithmetic (≥ 20 tokens AND 10·|distinct| ≥ 3·|tokens| — cross-
    * multiplied, no ratio division); decontamination drops the
    * benchmark docs (doc_id ≡ 0 mod 97 — a deterministic stand-in for
    * an eval set) AND every doc sharing a word-8-gram with one (the
    * q55 shape; docs under 8 tokens have no shingles and pass);
    * the quota keeps the 15 smallest-md5 docs per source (deterministic
    * hash order, the q160 shape). Output: per (stage, source) surviving
    * doc and token counts.
    *
    * Scale: dedup is one md5-key shuffle; quality is a stateless scan;
    * decontamination joins shingles against the BENCHMARK side only
    * (eval sets are small by construction — the join's build side is
    * bounded); the quota window partitions by source. No stage
    * materializes; Catalyst plans the whole flow as one DAG.
    */
  def curationPipeline(documents: DataFrame, minTokens: Int = 20,
      quota: Int = 15): DataFrame = {
    val (base, deduped, quality, decontam, sampled) =
      curationStages(documents, minTokens, quota)
    def stageCounts(df: DataFrame, stage: String): DataFrame = df
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .select(lit(stage).as("stage"), col("source"), col("n_docs"),
        col("n_tokens"))
    stageCounts(base, "a_raw")
      .unionByName(stageCounts(deduped, "b_dedup"))
      .unionByName(stageCounts(quality, "c_quality"))
      .unionByName(stageCounts(decontam, "d_decontam"))
      .unionByName(stageCounts(sampled, "e_quota"))
      .orderBy("stage", "source")
  }

  /** The q300 stage frames (raw, dedup, quality, decontam, quota), each
    * carrying (doc_id, source, toks, n_toks, …) — factored out so the
    * cluster-keyed split (q328) composes on the SAME pipeline instead of
    * a re-implementation that could drift.
    */
  private[operators] def curationStages(documents: DataFrame,
      minTokens: Int, quota: Int):
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = documents.select(col("doc_id"), col("source"),
        col("text"), split(col("text"), " ").as("toks"))
      .withColumn("n_toks", size(col("toks")))
      .localCheckpoint()
    // A: exact dedup — one md5-key shuffle, min doc_id survives
    val deduped = base
      .withColumn("fp", md5(col("text")))
      .withColumn("keep", min("doc_id")
        .over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("doc_id") === col("keep"))
      .drop("fp", "keep")
    // B: quality — integer rules only
    val quality = deduped
      .filter(col("n_toks") >= minTokens &&
        size(array_distinct(col("toks"))) * 10 >= col("n_toks") * 3)
    // C: decontamination — benchmark docs out, 8-gram sharers out
    val isBench = col("doc_id") % 97L === 0L
    // NB: Spark's sequence(1, 0) DESCENDS ([1, 0]) while DuckDB's
    // range(1, 1) is empty — docs under 8 tokens must produce NO
    // shingles on both engines, hence the explicit guard
    val shingles8 = "IF(n_toks >= 8, " +
      "transform(sequence(1, n_toks - 7), " +
      "s -> array_join(slice(toks, s, 8), ' ')), " +
      "CAST(array() AS ARRAY<STRING>))"
    val benchShingles = base.filter(isBench)
      .select(explode(expr(shingles8)).as("sh"))
      .distinct()
    val candShingles = quality.filter(!isBench)
      .select(col("doc_id").as("c_id"), explode(expr(shingles8)).as("sh"))
    val contaminated = candShingles
      .join(broadcast(benchShingles), Seq("sh"), "left_semi")
      .select(col("c_id").as("doc_id")).distinct()
    val decontam = quality.filter(!isBench)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // D: per-source quota by deterministic hash order
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val sampled = decontam
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota).drop("rk")
    (base, deduped, quality, decontam, sampled)
  }

  /** DuckDB twin of [[curationPipeline]] — the same four stages as
    * CTEs. Embed after `WITH ` and select from `curation`.
    */
  def curationPipelineSql(minTokens: Int = 20, quota: Int = 15): String =
    s"""${curationStagesSql(minTokens, quota)},
       |curation AS (
       |  SELECT 'a_raw' AS stage, source, COUNT(*) AS n_docs,
       |         CAST(SUM(n_toks) AS BIGINT) AS n_tokens
       |  FROM cp_base GROUP BY 2
       |  UNION ALL
       |  SELECT 'b_dedup', source, COUNT(*), CAST(SUM(n_toks) AS BIGINT)
       |  FROM cp_dedup GROUP BY 2
       |  UNION ALL
       |  SELECT 'c_quality', source, COUNT(*), CAST(SUM(n_toks) AS BIGINT)
       |  FROM cp_quality GROUP BY 2
       |  UNION ALL
       |  SELECT 'd_decontam', source, COUNT(*), CAST(SUM(n_toks) AS BIGINT)
       |  FROM cp_decontam GROUP BY 2
       |  UNION ALL
       |  SELECT 'e_quota', source, COUNT(*), CAST(SUM(n_toks) AS BIGINT)
       |  FROM cp_quota GROUP BY 2)""".stripMargin

  /** The q300 CTE chain (cp_base … cp_quota), factored out so the
    * cluster-keyed split oracle (q328) composes the SAME SQL stages.
    * Embed after `WITH `.
    */
  def curationStagesSql(minTokens: Int = 20, quota: Int = 15): String =
    s"""cp_base AS (
       |  SELECT doc_id, source, text, string_split(text, ' ') AS toks,
       |         CAST(len(string_split(text, ' ')) AS INT) AS n_toks
       |  FROM documents),
       |cp_dedup AS (
       |  SELECT * FROM (
       |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
       |    FROM cp_base)
       |  WHERE doc_id = keep),
       |cp_quality AS (
       |  SELECT doc_id, source, toks, n_toks FROM cp_dedup
       |  WHERE n_toks >= $minTokens
       |    AND len(list_distinct(toks)) * 10 >= n_toks * 3),
       |cp_bench_sh AS (
       |  SELECT DISTINCT array_to_string(toks[s : s + 7], ' ') AS sh
       |  FROM (SELECT toks,
       |          UNNEST(range(1, GREATEST(n_toks - 7, 0) + 1)) AS s
       |        FROM cp_base WHERE doc_id % 97 = 0)),
       |cp_contaminated AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM (SELECT doc_id, toks,
       |          UNNEST(range(1, GREATEST(n_toks - 7, 0) + 1)) AS s
       |        FROM cp_quality WHERE doc_id % 97 <> 0) c
       |  JOIN cp_bench_sh b
       |    ON array_to_string(c.toks[c.s : c.s + 7], ' ') = b.sh),
       |cp_decontam AS (
       |  SELECT q.doc_id, q.source, q.n_toks FROM cp_quality q
       |  WHERE q.doc_id % 97 <> 0
       |    AND q.doc_id NOT IN (SELECT doc_id FROM cp_contaminated)),
       |cp_quota AS (
       |  SELECT doc_id, source, n_toks FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM cp_decontam)
       |  WHERE rk <= $quota)""".stripMargin

  /** q293 — OVERLAPPING-CHUNK DEDUP, the RAG-ingestion shape: every
    * document splits into token windows of `width` every `stride`
    * tokens (overlap = width − stride, the standard retrieval chunker),
    * each chunk is fingerprinted, and per source the duplicated-chunk
    * mass is reported — the statistic an ingestion pipeline gates on
    * before embedding (embedding a duplicated chunk pays twice and
    * skews retrieval). Window starts are `sequence(0, n−1, stride)` on
    * both engines (identical start sets, truncated tail windows kept),
    * so chunk identity is engine-exact by construction.
    *
    * Scale: chunking is a stateless per-row explode (≈ n/stride output
    * rows per doc — linear in corpus tokens); the only shuffle is the
    * per-source distinct-fingerprint aggregate, and fingerprints are
    * md5 so the distinct runs on fixed-width keys, the q40 discipline.
    * On 100 TB this is scan + one combinable aggregate — no index, no
    * join, no sort.
    */
  def chunkDedup(documents: DataFrame, width: Int = 16,
      stride: Int = 12): DataFrame = {
    require(width >= 1 && stride >= 1, s"bad chunk grid: $width/$stride")
    val toks = documents
      .select(col("source"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks"))).filter(col("n") > 0)
    val chunks = toks.select(col("source"), col("toks"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
      .select(col("source"),
        md5(array_join(
          slice(col("toks"), col("start") + 1, lit(width)), " ")).as("fp"))
    chunks.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("fp")).as("n_distinct"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        (col("n_chunks") - col("n_distinct")).as("dup_chunks"))
      .withColumn("dup_ratio", col("dup_chunks").cast("double") /
        col("n_chunks").cast("double"))
      .orderBy("source")
  }

  /** DuckDB twin of [[chunkDedup]]: the same start grid via
    * `range(0, n, stride)` (identical to the engine's
    * `sequence(0, n−1, stride)` set), the same 1-based inclusive token
    * slice. Embed after `WITH ` and select from `chunk_dedup`.
    */
  def chunkDedupSql(width: Int = 16, stride: Int = 12): String =
    s"""cd_toks AS (
       |  SELECT source, string_split(text, ' ') AS toks FROM documents),
       |cd_starts AS (
       |  SELECT source, toks,
       |         UNNEST(range(0, len(toks), $stride)) AS s
       |  FROM cd_toks WHERE len(toks) > 0),
       |cd_chunks AS (
       |  SELECT source,
       |         md5(array_to_string(toks[s + 1 : s + $width], ' ')) AS fp
       |  FROM cd_starts),
       |chunk_dedup AS (
       |  SELECT source, COUNT(*) AS n_chunks,
       |         CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
       |         COUNT(*) - CAST(COUNT(DISTINCT fp) AS BIGINT)
       |           AS dup_chunks,
       |         CAST(COUNT(*) - COUNT(DISTINCT fp) AS DOUBLE)
       |           / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
       |  FROM cd_chunks GROUP BY 1)""".stripMargin

  /** q323 — DUPLICATED-SPAN AUDIT, the exact-substring dedup metric of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", the NearDup/ExactSubstr protocol) at the token
    * grain: for every document, the fraction of its tokens covered by
    * an n-gram that also appears in at least one OTHER document. The
    * q40/q41 family says whether two DOCUMENTS are near-dups; this says
    * how much of EACH document is boilerplate shared across the corpus
    * — the per-document signal a curation pipeline thresholds on (a doc
    * that is 80% cross-doc spans is template residue even when no
    * single partner document is a near-dup).
    *
    * Mechanics: positional shingles (one per token offset), cross-doc
    * duplication = COUNT(DISTINCT doc_id) ≥ 2 per shingle (a phrase
    * repeated only WITHIN one document does not count), each duplicated
    * offset covers the interval [pos, pos+n−1], and covered tokens =
    * the length of the interval UNION — computed by the q158
    * gaps-and-islands trick (running max-end per doc splits overlapping
    * intervals into maximal islands; Σ island lengths is exact, never
    * double-counting overlaps). All integers; one division per doc.
    *
    * Scale: shingling is linear in tokens; the duplication test is one
    * shuffle at the shingle grain (no self-join — unlike q41 there is
    * no pair blowup to cap, since the audit needs only the df bit, not
    * the partners); the island windows run per-document over duplicated
    * offsets only.
    */
  def duplicatedSpanAudit(docs: DataFrame, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"span length must be positive: $n")
    val ts = docs.select(col("doc_id"), tokens(col("text")).as("ts"))
    val spine = ts.select(col("doc_id"),
      size(col("ts")).cast("long").as("n_tokens"))
    val sh = ts.filter(size(col("ts")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("ts")) - n),
          i => array_join(slice(col("ts"), i + 1, lit(n)), " "))))
      .select(col("doc_id"), col("pos").cast("long").as("start"),
        col("col").as("sh"))
    val crossDoc = sh.groupBy("sh")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") >= 2).select("sh")
    val dup = sh.join(crossDoc, Seq("sh"))
      .select(col("doc_id"), col("start"),
        (col("start") + lit((n - 1).toLong)).as("e"))
    val w = Window.partitionBy("doc_id").orderBy("start")
    val prevMax = max(col("e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = dup
      .withColumn("new_island",
        when(prevMax.isNull || col("start") > prevMax, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg((max(col("e")) - min(col("start")) + 1L).as("len"))
      .groupBy("doc_id").agg(sum("len").as("dup_tokens"))
    spine.join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double")
          / col("n_tokens").cast("double")).as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[duplicatedSpanAudit]] — the same positional
    * shingles, cross-doc df test, and island union. Embed after `WITH `
    * and select from `duplicated_span_audit`.
    */
  def duplicatedSpanAuditSql(n: Int = 3): String =
    s"""dsa_toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |dsa_spine AS (
       |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM dsa_toks),
       |dsa_sh AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS start,
       |         array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + ${n - 1}], ' ')
       |           AS sh
       |  FROM (SELECT doc_id, ts,
       |               unnest(generate_series(1, len(ts) - ${n - 1})) AS i
       |        FROM dsa_toks) t),
       |dsa_cross AS (
       |  SELECT sh FROM dsa_sh GROUP BY sh
       |  HAVING COUNT(DISTINCT doc_id) >= 2),
       |dsa_dup AS (
       |  SELECT s.doc_id, s.start, s.start + ${n - 1} AS e
       |  FROM dsa_sh s JOIN dsa_cross USING (sh)),
       |dsa_isl AS (
       |  SELECT doc_id, start, e,
       |         CASE WHEN start > COALESCE(MAX(e) OVER (
       |                PARTITION BY doc_id ORDER BY start
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |                -1)
       |              THEN 1 ELSE 0 END AS new_island
       |  FROM dsa_dup),
       |dsa_isl2 AS (
       |  SELECT doc_id, start, e,
       |         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY start
       |           ROWS UNBOUNDED PRECEDING) AS island
       |  FROM dsa_isl),
       |dsa_per AS (
       |  SELECT doc_id, island, MAX(e) - MIN(start) + 1 AS len
       |  FROM dsa_isl2 GROUP BY 1, 2),
       |dsa_doc AS (
       |  SELECT doc_id, SUM(len) AS dup_tokens FROM dsa_per GROUP BY 1),
       |duplicated_span_audit AS (
       |  SELECT sp.doc_id, sp.n_tokens,
       |         CAST(COALESCE(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |         CAST(COALESCE(d.dup_tokens, 0) AS DOUBLE)
       |           / CAST(sp.n_tokens AS DOUBLE) AS dup_fraction
       |  FROM dsa_spine sp LEFT JOIN dsa_doc d USING (doc_id))""".stripMargin
}
