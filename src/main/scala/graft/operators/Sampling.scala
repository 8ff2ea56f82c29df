package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.OracleSafe

/** Training-mix curation operators: deterministic sampling over document
  * corpora. A training pipeline doesn't sample with RNG state — it needs
  * the SAME subset on every run, on any cluster layout, under retries.
  * Selection here is a pure function of the row's stable id: hash the id,
  * keep the row iff `hash mod 100 < pct`. No shuffle at all — the sample
  * is a filter, embarrassingly parallel over input splits, and composes
  * with pushdown (the filter sits directly on the scan).
  */
object Sampling {

  /** Stable per-row coin: first 48 bits of md5(doc_id) mod 100, identical
    * in DuckDB as `('0x' || substring(md5(...),1,12))::BIGINT % 100`.
    */
  private def coin(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 12), 16, 10).cast("long") % 100

  private def coinSql(id: String): String =
    s"('0x' || substring(md5(CAST($id AS VARCHAR)), 1, 12))::BIGINT % 100"

  /** The full 48-bit coin (un-reduced): the deterministic "random" key the
    * shuffle/shard manifest sorts by.
    */
  private def coin48(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 12), 16, 10).cast("long")

  private def coin48Sql(id: String): String =
    s"('0x' || substring(md5(CAST($id AS VARCHAR)), 1, 12))::BIGINT"

  /** EXACT-quota per-group sample: the `quota` docs with the smallest
    * md5 coins per source — deterministic, order-free, and exactly
    * min(quota, |group|) rows per group, where [[stratifiedSample]]'s
    * percentage coin only hits its rate in expectation. This is the
    * "exactly 10k eval docs per source" contract an eval-set build needs;
    * selection by hash coin (not by any data attribute) keeps it an
    * unbiased uniform draw. Runs on [[graft.plans.TopK.perKey]]'s bounded
    * window — a partial group limit keeps at most `quota` rows per source
    * and map task before the one source-keyed shuffle.
    */
  def quotaSample(docs: DataFrame, quota: Int): DataFrame = {
    require(quota >= 1, s"quota must be >= 1, got $quota")
    graft.plans.TopK.perKey(
        docs.select(col("doc_id"), col("source"), coin48(col("doc_id")).as("coin")),
        Seq("source"), Seq(graft.plans.TopK.asc("coin"), graft.plans.TopK.asc("doc_id")),
        k = quota, rankName = "pick_rank")
      .select(col("source"), col("pick_rank"), col("doc_id"))
  }

  /** DuckDB twin of [[quotaSample]]; embed after `WITH` and select from
    * `quota_sample`.
    */
  def quotaSampleSql(quota: Int): String =
    s"""quota_sample AS (
       |  SELECT source, pick_rank, doc_id FROM (
       |    SELECT source, doc_id,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY source
       |             ORDER BY ${coin48Sql("doc_id")}, doc_id) AS INT) AS pick_rank
       |    FROM documents) t
       |  WHERE pick_rank <= $quota)""".stripMargin

  /** Temperature-flattened corpus mix — the multilingual-LM sampling
    * scheme (sample stratum s with probability ∝ n_s^α, α < 1, so
    * high-resource strata are downweighted and low-resource ones
    * upweighted; α = 1/2 here). Published practice for multilingual
    * pretraining mixes (e.g. the exponent-smoothed language sampling of
    * the XLM/mBERT lineage); this makes the mix EXACT and deterministic:
    * integer quotas from the measured counts, filled by the smallest md5
    * coins per stratum (the [[quotaSample]] contract).
    *
    * Cross-engine exactness: α = 1/2 is computed as `floor(sqrt(n))` —
    * IEEE sqrt is correctly rounded and our counts sit far below the
    * magnitude where floor(sqrt) could straddle a ulp, so `si` is the
    * exact integer square root in both engines. The quota
    * `budget·si DIV Σsi` and every aggregate are integers; `weight` is
    * ONE division of agreed integers.
    *
    * Scale shape: counts are a map-side-combinable aggregate; the plan is
    * a |strata|-row broadcast; picking is the bounded per-key top-k
    * window (budget rows per stratum and map task); no row-level shuffle
    * beyond the one stratum-keyed exchange the top-k needs.
    */
  def temperatureMix(docs: DataFrame, budget: Long = 200L,
      stratum: String = "lang"): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val counts = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n_docs"))
      .withColumn("si", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val tot = counts.agg(sum("si").as("s_tot"))
    val plan = counts.crossJoin(broadcast(tot))
      .withColumn("quota", expr(s"($budget * si) DIV s_tot"))
      .withColumn("weight",
        col("si").cast("double") / col("s_tot").cast("double"))
    val ranked = graft.plans.TopK.perKey(
      docs.select(col(stratum), col("doc_id"), col("n_chars"),
        coin48(col("doc_id")).as("coin")),
      Seq(stratum),
      Seq(graft.plans.TopK.asc("coin"), graft.plans.TopK.asc("doc_id")),
      k = budget.toInt, rankName = "rk")
    val picked = ranked
      .join(broadcast(plan.select(col(stratum), col("quota"))), Seq(stratum))
      .filter(col("rk") <= col("quota"))
      .groupBy(col(stratum))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars").cast("long")).as("sampled_chars"))
    plan.join(picked, Seq(stratum), "left")
      .select(col(stratum), col("n_docs"), col("quota"), col("weight"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("sampled_chars"), lit(0L)).as("sampled_chars"))
  }

  /** DuckDB twin of [[temperatureMix]]; embed after `WITH` and select
    * from `temperature_mix`.
    */
  def temperatureMixSql(budget: Long = 200L, stratum: String = "lang"): String =
    s"""tm_counts AS (
       |  SELECT $stratum, COUNT(*) AS n_docs,
       |         CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS si
       |  FROM documents GROUP BY 1),
       |tm_tot AS (SELECT CAST(SUM(si) AS BIGINT) AS s_tot FROM tm_counts),
       |tm_plan AS (
       |  SELECT $stratum, n_docs, si, ($budget * si) // s_tot AS quota,
       |         CAST(si AS DOUBLE) / CAST(s_tot AS DOUBLE) AS weight
       |  FROM tm_counts, tm_tot),
       |tm_rk AS (
       |  SELECT $stratum, doc_id, n_chars,
       |         ROW_NUMBER() OVER (PARTITION BY $stratum
       |           ORDER BY ${coin48Sql("doc_id")}, doc_id) AS rk
       |  FROM documents),
       |tm_picked AS (
       |  SELECT r.$stratum, COUNT(*) AS n_sampled,
       |         CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
       |  FROM tm_rk r JOIN tm_plan p USING ($stratum)
       |  WHERE r.rk <= p.quota
       |  GROUP BY r.$stratum),
       |temperature_mix AS (
       |  SELECT p.$stratum, p.n_docs, p.quota, p.weight,
       |         COALESCE(k.n_sampled, 0) AS n_sampled,
       |         COALESCE(k.sampled_chars, 0) AS sampled_chars
       |  FROM tm_plan p LEFT JOIN tm_picked k USING ($stratum))""".stripMargin

  /** Per-stratum sampling rates (percent, 0-100) with a default for
    * strata not listed — the "training mix": keep all of a curated
    * source, downsample the crawl.
    */
  def stratifiedSample(docs: DataFrame, rates: Seq[(String, Int)],
      defaultPct: Int = 10, stratum: String = "source"): DataFrame = {
    requireDistinctStrata(rates)
    val pct = rates.foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
      when(col(stratum) === lit(s), lit(p)).otherwise(acc)
    }
    docs.filter(coin(col("doc_id")) < pct)
      .select(col("doc_id"), col(stratum), col("n_chars"))
  }

  /** Leakage-safe train/test split: the hash coin is flipped on the
    * near-dup CLUSTER id, not the document id, so a document and its
    * near-duplicates always land in the same split — assigning per-doc
    * would leak training text into the test set through paraphrases, the
    * classic eval-contamination bug. Documents outside any candidate pair
    * are their own singleton cluster (coin on their own id).
    */
  def leakageSafeSplit(docs: DataFrame, trainPct: Int = 90): DataFrame = {
    val clusters = Dedup.dedupClusters(docs).select("doc_id", "cluster_id")
    docs.select("doc_id").join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(coin(col("cluster_id")) < trainPct, lit("train")).otherwise(lit("test")))
  }

  /** DuckDB twin of [[leakageSafeSplit]] — recursive-CTE clusters plus the
    * same coin. Must be opened with `WITH RECURSIVE`.
    */
  def leakageSafeSplitSql(trainPct: Int = 90): String =
    s"""${Dedup.dedupClustersSql()},
       |split AS (
       |  SELECT d.doc_id,
       |         COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       |         CASE WHEN ${coinSql("COALESCE(c.cluster_id, d.doc_id)")} < $trainPct
       |              THEN 'train' ELSE 'test' END AS split
       |  FROM documents d LEFT JOIN dedup_clusters c ON d.doc_id = c.doc_id)""".stripMargin

  /** Token-budget corpus mixing by exact integer water-filling: choose the
    * maximal integer token level λ with Σ_s min(tokens_s, λ) ≤ budget
    * (budget = `budgetPct`% of total corpus tokens), keep every document
    * of sources at or below the level, and downsample each larger source
    * to ≈λ tokens with the stable per-doc md5 coin (P[keep] = λ/tokens_s,
    * decided as the exact integer comparison coin32·tokens_s < λ·2³²).
    * This is the standard training-mix curation move — small curated
    * sources survive whole, the crawl shrinks to the water level — with
    * zero RNG state: the same subset on every run, any layout, under
    * retries.
    *
    * λ is derived IN-PLAN by the closed form: with sources ordered by
    * (tokens, source) and P_{i−1} the prefix sum, row i's candidate is
    * λ_i = ⌊(budget − P_{i−1}) / (m − i + 1)⌋, valid iff λ_i < tokens_i
    * and tokens_{i−1} ≤ λ_i (the unique row where sources 1..i−1 saturate
    * and the rest split the remainder); if no row is valid the budget
    * covers everything and λ = max tokens. The one global window runs
    * over the per-SOURCE frame — bounded by the number of feeds, the same
    * dims-sized exception as the 3-row range table (q72), never over
    * documents. Per-document work is a scan-side filter against the
    * broadcast 1-row level.
    *
    * Output: one row per source — (source, n_docs, total_tokens,
    * kept_docs, kept_tokens, fully_kept).
    *
    * Overflow bound: coin32·tokens_s stays inside BIGINT while a single
    * source holds < 2³¹ tokens; past that (trillion-token feeds) switch
    * the comparison to the 16-bit coin prefix (same md5 construction,
    * 2^-16 acceptance granularity) — a documented knob, not a rewrite.
    */
  def corpusMix(docs: DataFrame, budgetPct: Int = 50): DataFrame = {
    require(budgetPct > 0 && budgetPct <= 100, s"budgetPct in (0,100]: $budgetPct")
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("toks"))
    val src = tok.groupBy("source")
      .agg(sum("toks").as("t"), count(lit(1)).as("n_docs"))
    val tot = src.agg(sum("t").as("total"), count(lit(1)).as("m"))
    val w = Window.orderBy(col("t"), col("source"))
    val ranked = src.crossJoin(broadcast(tot))
      .withColumn("i", row_number().over(w))
      .withColumn("p_prev", coalesce(
        sum(col("t")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("t_prev", lag(col("t"), 1).over(w))
      .withColumn("budget", OracleSafe.intDiv(col("total") * budgetPct, lit(100L)))
      .withColumn("lam",
        OracleSafe.intDiv(col("budget") - col("p_prev"), col("m") - col("i") + 1))
      .withColumn("valid", col("lam") < col("t")
        && (col("i") === 1 || col("t_prev") <= col("lam")))
    val level = ranked
      .agg(coalesce(min(when(col("valid"), col("lam"))), max(col("t"))).as("level"))
    val coin32 =
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    tok.join(src.select("source", "t"), Seq("source"))
      .crossJoin(broadcast(level))
      .withColumn("keep",
        col("t") <= col("level") || coin32 * col("t") < col("level") * lit(4294967296L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("total_tokens"),
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("kept_docs"),
        sum(when(col("keep"), col("toks")).otherwise(lit(0L))).as("kept_tokens"),
        max(when(col("t") <= col("level"), lit(1)).otherwise(lit(0))).as("fully_kept"))
  }

  /** DuckDB twin of [[corpusMix]]; embed after `WITH ` and select from
    * `corpus_mix`.
    */
  def corpusMixSql(budgetPct: Int = 50): String = {
    require(budgetPct > 0 && budgetPct <= 100, s"budgetPct in (0,100]: $budgetPct")
    s"""cm_tok AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
       |  FROM documents),
       |cm_src AS (
       |  SELECT source, CAST(SUM(toks) AS BIGINT) AS t, COUNT(*) AS n_docs
       |  FROM cm_tok GROUP BY source),
       |cm_tot AS (SELECT CAST(SUM(t) AS BIGINT) AS total, COUNT(*) AS m FROM cm_src),
       |cm_ranked AS (
       |  SELECT source, t,
       |         ROW_NUMBER() OVER (ORDER BY t, source) AS i,
       |         COALESCE(CAST(SUM(t) OVER (ORDER BY t, source
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS p_prev,
       |         LAG(t) OVER (ORDER BY t, source) AS t_prev,
       |         total, m
       |  FROM cm_src, cm_tot),
       |cm_cand AS (
       |  SELECT *,
       |         CAST(${graft.functions.OracleSafe.intDivSql(s"total * $budgetPct", "100")} AS BIGINT) AS budget,
       |         CAST(${graft.functions.OracleSafe.intDivSql(
                   s"(${graft.functions.OracleSafe.intDivSql(s"total * $budgetPct", "100")}) - p_prev",
                   "m - i + 1")} AS BIGINT) AS lam
       |  FROM cm_ranked),
       |cm_level AS (
       |  SELECT COALESCE(
       |           MIN(CASE WHEN lam < t AND (i = 1 OR t_prev <= lam) THEN lam END),
       |           MAX(t)) AS level
       |  FROM cm_cand),
       |cm_keep AS (
       |  SELECT k.source, k.toks, s.t, l.level,
       |         CASE WHEN s.t <= l.level
       |                OR ('0x' || substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT
       |                   * s.t < l.level * 4294967296
       |              THEN 1 ELSE 0 END AS keep
       |  FROM cm_tok k JOIN cm_src s USING (source), cm_level l),
       |corpus_mix AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |         CAST(SUM(toks) AS BIGINT) AS total_tokens,
       |         CAST(SUM(keep) AS BIGINT) AS kept_docs,
       |         CAST(SUM(CASE WHEN keep = 1 THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens,
       |         MAX(CASE WHEN t <= level THEN 1 ELSE 0 END) AS fully_kept
       |  FROM cm_keep GROUP BY source)""".stripMargin
  }

  /** The engine's foldLeft makes the LAST duplicate rate win while the SQL
    * twin's CASE makes the FIRST win — the two only agree because strata
    * are distinct, so enforce that instead of assuming it.
    */
  private def requireDistinctStrata(rates: Seq[(String, Int)]): Unit = {
    val dups = rates.map(_._1).groupBy(identity).collect {
      case (k, vs) if vs.size > 1 => k
    }
    require(dups.isEmpty,
      s"duplicate stratum keys in rates: ${dups.mkString(", ")}")
  }

  /** DuckDB twin of [[stratifiedSample]] — same hash, same rates. */
  def stratifiedSampleSql(rates: Seq[(String, Int)], defaultPct: Int = 10,
      stratum: String = "source"): String = {
    requireDistinctStrata(rates)
    def esc(s: String) = s.replace("'", "''")
    // strata conditions are mutually exclusive (enforced above), so CASE
    // order is free
    val pctExpr = rates
      .map { case (s, p) => s"WHEN $stratum = '${esc(s)}' THEN $p" }
      .mkString("CASE ", " ", s" ELSE $defaultPct END")
    s"""SELECT doc_id, $stratum, n_chars
       |FROM documents
       |WHERE ${coinSql("doc_id")} < ($pctExpr)""".stripMargin
  }

  /** Training-mix arithmetic, in-plan: given target mixture WEIGHTS per
    * source (relative shares, integers), compute the per-source sampling
    * RATE that realizes the largest mix the corpus can supply. The
    * binding constraint is the scarcest source relative to its share:
    * with avail_s tokens on hand, the feasible mix size maximizes at
    * min_s(avail_s / w_s) mix-units, so rate_s = min_ratio · w_s /
    * avail_s — the argmin source samples at exactly 1.0 and everything
    * else downsamples proportionally. Runs as one aggregate over the
    * corpus plus a broadcast 1-row min — the mixture solver never touches
    * the driver, so recomputing it per ingestion batch is free.
    */
  def mixtureRates(docs: DataFrame, weights: Seq[(String, Int)],
      defaultW: Int = 1): DataFrame = {
    requireDistinctStrata(weights)
    val w = weights.foldLeft(lit(defaultW)) { case (acc, (s, p)) =>
      when(col("source") === lit(s), lit(p)).otherwise(acc)
    }
    val avail = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("avail"))
      .withColumn("w", w)
    val minR = avail.agg(min(col("avail").cast("double") / col("w")).as("min_ratio"))
    avail.crossJoin(broadcast(minR))
      .select(col("source"), col("avail"), col("w"),
        ((col("min_ratio") * col("w")) / col("avail").cast("double")).as("rate"))
  }

  /** DuckDB twin of [[mixtureRates]] — same integer weights, same
    * expression shapes (division results are correctly rounded doubles of
    * exact integer inputs, so the two engines agree bit-for-bit).
    */
  def mixtureRatesSql(weights: Seq[(String, Int)], defaultW: Int = 1): String = {
    requireDistinctStrata(weights)
    def esc(s: String) = s.replace("'", "''")
    val wExpr = weights
      .map { case (s, p) => s"WHEN source = '${esc(s)}' THEN $p" }
      .mkString("CASE ", " ", s" ELSE $defaultW END")
    s"""WITH avail AS (
       |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail
       |  FROM documents GROUP BY source),
       |aw AS (SELECT source, avail, CAST($wExpr AS INT) AS w FROM avail),
       |mr AS (SELECT MIN(CAST(avail AS DOUBLE) / w) AS min_ratio FROM aw)
       |SELECT source, avail, w, (min_ratio * w) / CAST(avail AS DOUBLE) AS rate
       |FROM aw, mr""".stripMargin
  }

  /** Deterministic weighted sampling without replacement, k per stratum —
    * the integer A-Res scheme (Efraimidis & Spirakis 2006, priority
    * u^(1/w), taken in rank-equivalent integer form u/w: a row with twice
    * the weight halves its priority and doubles its selection odds). The
    * "random" u is the stable 48-bit md5 coin, so the sample is a pure
    * function of row identity — identical across runs, retries, and
    * cluster layouts, which is what a reproducible training-mix needs.
    *
    * Selection runs on [[graft.plans.TopK.perKey]]'s bounded window —
    * one shuffle on the stratum, k rows per stratum and map task crossing
    * it, no global sort. Weight = o_totalprice quantized to an exact
    * integer cent grid (clamped ≥ 1 so zero/negative weights can't
    * divide by zero or invert the ordering).
    */
  def weightedSample(orders: DataFrame, k: Int = 5): DataFrame = {
    val u = conv(substring(md5(col("o_orderkey").cast("string")), 1, 12), 16, 10)
      .cast("long")
    val w = greatest(lit(1L), OracleSafe.quant(col("o_totalprice"), 100))
    val prioritized = orders.select(
      col("o_orderpriority").as("stratum"), col("o_orderkey"),
      OracleSafe.intDiv(u, w).as("priority"))
    graft.plans.TopK.perKey(prioritized, Seq("stratum"),
        Seq(graft.plans.TopK.asc("priority"), graft.plans.TopK.asc("o_orderkey")),
        k, rankName = "rnk")
      .select("stratum", "o_orderkey", "priority")
  }

  /** DuckDB twin of [[weightedSample]] — same coin, same integer
    * priority, the same ROW_NUMBER ranking.
    */
  def weightedSampleSql(k: Int = 5): String = {
    val u = s"('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT"
    val w = s"GREATEST(1, ${OracleSafe.quantSql("o_totalprice", 100)})"
    s"""SELECT stratum, o_orderkey, priority
       |FROM (
       |  SELECT o_orderpriority AS stratum, o_orderkey,
       |         ${OracleSafe.intDivSql(u, w)} AS priority,
       |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
       |           ORDER BY ${OracleSafe.intDivSql(u, w)}, o_orderkey) AS rnk
       |  FROM orders)
       |WHERE rnk <= $k""".stripMargin
  }

  /** Deterministic global shuffle + sharding — the last step of a training
    * pipeline: the corpus must be read in a reproducible pseudo-random
    * order, split into shards a training job streams sequentially.
    *
    * Permutation = sort by the stable 48-bit md5 coin (a pure function of
    * doc identity: identical across runs, retries, and cluster layouts —
    * no RNG state, the same property as every sampler above). Shard
    * assignment = `coin mod shards`, so placement needs NO global sort and
    * no rank: it is a map-side expression riding the scan, and the
    * training order within a shard is just the coin ordering, established
    * by a per-shard local sort at write time.
    *
    * At 100 TB, `shards` is the real knob: a shard is the unit one reader
    * consumes, so it must fit a worker ANYWAY — pick shards ≈ corpus /
    * target-shard-size and the per-shard window below stays bounded by
    * construction (it is the one place a PARTITION BY shard window is the
    * honest plan, not a hazard: its partition count IS the output file
    * count).
    *
    * The emitted manifest proves the permutation without shipping it:
    * per shard, doc/token counts, the coin span, and an ORDER-SENSITIVE
    * checksum Σ rank·(coin mod 1000003) mod 2³¹−1 — any reorder, drop, or
    * duplicate moves it. All terms are exact integers (< 2³¹ each, summed
    * over per-shard rows — no BIGINT overflow until ~2³² rows per shard),
    * so the engine/oracle comparison is bit-stable.
    *
    * Output: (shard, n_docs, n_tokens, first_coin, last_coin,
    * order_checksum), one row per shard.
    */
  def shardShuffle(docs: DataFrame, shards: Int = 16): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val base = docs.select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        coin48(col("doc_id")).as("coin"))
      .withColumn("shard", (col("coin") % shards).cast("int"))
    val ranked = base.withColumn("r", row_number().over(
      Window.partitionBy("shard").orderBy("coin", "doc_id")))
    ranked.groupBy("shard").agg(
      count(lit(1)).as("n_docs"),
      sum("n_toks").as("n_tokens"),
      min("coin").as("first_coin"),
      max("coin").as("last_coin"),
      sum((col("r").cast("long") * (col("coin") % 1000003L)) % 2147483647L)
        .as("order_checksum"))
  }

  /** DuckDB twin of [[shardShuffle]] — same coin, same shard arithmetic,
    * same order-sensitive checksum.
    */
  def shardShuffleSql(shards: Int = 16): String =
    s"""shard_shuffle AS (
       |  SELECT shard, COUNT(*) AS n_docs,
       |         CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |         MIN(coin) AS first_coin, MAX(coin) AS last_coin,
       |         CAST(SUM((r * (coin % 1000003)) % 2147483647) AS BIGINT)
       |           AS order_checksum
       |  FROM (
       |    SELECT shard, coin, n_toks,
       |           ROW_NUMBER() OVER (PARTITION BY shard
       |             ORDER BY coin, doc_id) AS r
       |    FROM (
       |      SELECT doc_id,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |             ${coin48Sql("doc_id")} AS coin,
       |             CAST(${coin48Sql("doc_id")} % $shards AS INT) AS shard
       |      FROM documents) b) rk
       |  GROUP BY shard)""".stripMargin

  /** Sample-based estimate with a distribution-free error certificate:
    * estimate the corpus's total order value from a deterministic p%
    * hash-coin sample via N·(sample mean) — the estimator the Hoeffding
    * 95% bound N·R·sqrt(ln(2/δ)/(2·n_s)) actually covers. The bound is
    * stated for a fixed-size i.i.d. sample; here n_s is the RANDOM
    * realized size of a Bernoulli coin, so the 95% coverage is
    * approximate — valid conditionally on n_s under exchangeability of
    * the hash coin (a Serfling-style correction would make it exact for
    * sampling without replacement; the gap is second-order for the n_s
    * this audit sees, and `within_bound` measures the claim anyway).
    * Under the Bernoulli hash coin the realized sample size n_s differs
    * from the nominal N·p/100, so the scale factor is MEASURED
    * (n_pop/n_sample), never the fixed 100/p an inverse-probability
    * form would use (which
    * is also biased for any p not dividing 100). The audit compares the
    * estimate against BOTH the exact total and the bound — the "can I
    * trust the cheap estimate" decision a planner makes before paying
    * for the exact scan. R (the value range) is MEASURED, not assumed;
    * ln(2/0.05) is a literal so no libm call differs between engines;
    * sums stay exact cents, with one double divide+multiply at the end
    * (both engines IEEE-exact per op, so the twin hash-matches).
    */
  def estimateAudit(orders: DataFrame, pct: Int = 5): DataFrame = {
    require(pct >= 1 && pct <= 99, s"pct must be in [1,99], got $pct")
    val cents = OracleSafe.quant(col("o_totalprice"), 100)
    val base = orders.select(cents.as("cents"),
      (coin(col("o_orderkey")) < pct).as("in_sample"))
    val ln2d = 3.6888794541139363 // ln(2/0.05), fixed literal on both engines
    val nS = greatest(col("n_sample"), lit(1L)).cast("double")
    val est = col("n_pop").cast("double") *
      (col("sample_cents").cast("double") / nS)
    base.agg(
        count(lit(1)).as("n_pop"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sample"),
        sum(when(col("in_sample"), col("cents")).otherwise(0L)).as("sample_cents"),
        sum(col("cents")).as("exact_cents"),
        max(col("cents")).as("max_cents"))
      .select(col("n_pop"), col("n_sample"),
        est.as("est_cents"),
        col("exact_cents"),
        abs(est - col("exact_cents").cast("double")).as("abs_err_cents"),
        (col("n_pop").cast("double") * col("max_cents").cast("double")
          * sqrt(lit(ln2d) / (lit(2.0) * nS)))
          .as("hoeffding_bound_cents"))
      .withColumn("within_bound",
        col("abs_err_cents") <= col("hoeffding_bound_cents"))
  }

  /** DuckDB twin of [[estimateAudit]]; embed after `WITH ` and select
    * from `estimate_audit`.
    */
  def estimateAuditSql(pct: Int = 5): String = {
    val c = OracleSafe.quantSql("o_totalprice", 100)
    s"""ea_base AS (
       |  SELECT $c AS cents,
       |         ${coinSql("o_orderkey")} < $pct AS in_sample
       |  FROM orders),
       |ea_agg AS (
       |  SELECT COUNT(*) AS n_pop,
       |         CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_sample,
       |         CAST(SUM(CASE WHEN in_sample THEN cents ELSE 0 END) AS BIGINT)
       |           AS sample_cents,
       |         CAST(SUM(cents) AS BIGINT) AS exact_cents,
       |         MAX(cents) AS max_cents
       |  FROM ea_base),
       |ea_est AS (
       |  SELECT n_pop, n_sample, exact_cents,
       |         CAST(n_pop AS DOUBLE)
       |           * (CAST(sample_cents AS DOUBLE)
       |              / CAST(GREATEST(n_sample, 1) AS DOUBLE)) AS est_cents,
       |         CAST(n_pop AS DOUBLE) * CAST(max_cents AS DOUBLE)
       |           * sqrt(3.6888794541139363e0
       |                  / (2.0 * CAST(GREATEST(n_sample, 1) AS DOUBLE)))
       |           AS hoeffding_bound_cents
       |  FROM ea_agg),
       |estimate_audit AS (
       |  SELECT n_pop, n_sample, est_cents, exact_cents,
       |         abs(est_cents - CAST(exact_cents AS DOUBLE)) AS abs_err_cents,
       |         hoeffding_bound_cents,
       |         abs(est_cents - CAST(exact_cents AS DOUBLE))
       |           <= hoeffding_bound_cents AS within_bound
       |  FROM ea_est)""".stripMargin
  }

  /** Per-source quota cap — the "domain cap" every large-scale curation
    * pipeline applies so no single crawl source dominates the training
    * mix: keep at most `k` documents per source, chosen by QUALITY
    * (distinct-token count — vocabulary richness — descending, doc_id as
    * the total-order tie-break), and report what the cap kept and cut
    * per source. Unlike a rate-based downsample (q38/q144), a cap is a
    * per-key TOP-K: the selection depends on the in-source ranking, not
    * on each row alone.
    *
    * Scale shape: the ranking is [[graft.plans.TopK.perKey]]'s bounded
    * window — a partial group limit keeps k rows per source and map task,
    * so a hot domain with 10⁹ pages ships only k of them through the one
    * hash exchange on `source`. Both report aggregates are map-side
    * combinable on the same `source` key; the kept-side aggregate is
    * sources × 1 rows, so the final join broadcasts.
    */
  def sourceCap(docs: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1, s"cap must be >= 1, got $k")
    val scored = docs.select(col("source"), col("doc_id"), col("n_chars"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("q"))
    val kept = graft.plans.TopK.perKey(scored, Seq("source"),
      Seq(graft.plans.TopK.desc("q"), graft.plans.TopK.asc("doc_id")), k)
    val keptAgg = kept.groupBy("source").agg(
      count(lit(1)).as("n_kept"), sum("n_chars").as("kept_chars"))
    val totals = scored.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
    totals.join(broadcast(keptAgg), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("kept_chars"), col("total_chars"))
  }

  /** DuckDB twin of [[sourceCap]]; embed after `WITH ` and select from
    * `source_cap`.
    */
  def sourceCapSql(k: Int = 10): String =
    s"""scap_scored AS (
       |  SELECT source, doc_id, n_chars,
       |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS q
       |  FROM documents),
       |scap_kept AS (
       |  SELECT source, n_chars,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |           ORDER BY q DESC, doc_id) AS rk
       |  FROM scap_scored QUALIFY rk <= $k),
       |scap_tot AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |         CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |  FROM scap_scored GROUP BY source),
       |scap_ka AS (
       |  SELECT source, COUNT(*) AS n_kept,
       |         CAST(SUM(n_chars) AS BIGINT) AS kept_chars
       |  FROM scap_kept GROUP BY source),
       |source_cap AS (
       |  SELECT source, n_docs, n_kept, n_docs - n_kept AS n_dropped,
       |         kept_chars, total_chars
       |  FROM scap_tot JOIN scap_ka USING (source))""".stripMargin

  /** Poisson(1) CDF grid on the 48-bit hash scale: `floor(CDF(k)·2⁴⁸)`
    * for k = 0..5, precomputed ONCE to 50-digit precision and frozen as
    * BIGINT literals — neither engine ever calls libm, so the "random"
    * weights are bit-identical everywhere. A 48-bit uniform `u` maps to
    * weight `w = Σₖ [u ≥ Tₖ]` ∈ [0, 6]; P(w ≥ 7) < 10⁻⁴ is absorbed
    * into the top bucket (the standard truncation).
    */
  private val PoissonT: Seq[Long] = Seq(
    103548857136060L, 207097714272121L, 258872142840152L,
    276130285696162L, 280444821410164L, 281307728552965L)

  /** Poisson-bootstrap confidence interval for the mean order value —
    * the resampling method that actually scales: a classical bootstrap
    * draws n rows WITH replacement per replica (a global sample, b
    * passes); the Poisson bootstrap (Chamandy et al., 2012 — built for
    * exactly this map-reduce setting) gives every (row, replica) an
    * independent Poisson(1) multiplicity, so all `b` resamples compute
    * in ONE pass as a per-row explode + one map-side-combinable
    * aggregate to `b` partial rows. Weights are deterministic: the
    * 48-bit md5 of (row id, replica) inverted through the frozen
    * [[PoissonT]] CDF grid — same subset on every run, any cluster
    * layout, both engines.
    *
    * Replica means are exact-BIGINT sums with one IEEE division; the
    * interval is the (⌈0.025·b⌉, ⌈0.975·b⌉) order statistics of the b
    * means — exact selection over a b-row frame (no interpolation
    * parity risk), ranked by (mean, rep) for a total order. `covered`
    * reports whether the interval caught the exact full-population
    * mean — the sanity check a pipeline alerts on.
    *
    * Scale shape: the explode is ×b CPU but the shuffle carries only
    * b·partitions partial rows; the rank window rides the b-row frame.
    */
  def bootstrapCi(orders: DataFrame, b: Int = 64): DataFrame = {
    require(b >= 4, s"need >= 4 replicas, got $b")
    val kLo = math.max(1, math.ceil(0.025 * b).toInt)
    val kHi = math.ceil(0.975 * b).toInt
    val base = orders.select(col("o_orderkey"),
      OracleSafe.quant(col("o_totalprice"), 100).as("cents"))
    val u = conv(substring(md5(concat_ws("_",
      col("o_orderkey"), col("rep"))), 1, 12), 16, 10).cast("long")
    val w = PoissonT.foldLeft(lit(0L)) { (acc, t) =>
      acc + when(u >= t, 1L).otherwise(0L)
    }
    val reps = base
      .select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .select(col("rep"), w.as("w"), col("cents"))
      .groupBy("rep")
      .agg(sum(col("w") * col("cents")).as("s"), sum("w").as("n"))
      .select(col("rep"), (col("s").cast("double")
        / greatest(col("n"), lit(1L)).cast("double")).as("m"))
    val rk = org.apache.spark.sql.expressions.Window.orderBy("m", "rep")
    val ci = reps.withColumn("rk", row_number().over(rk))
      .agg(min(when(col("rk") === kLo, col("m"))).as("boot_lo_cents"),
        min(when(col("rk") === kHi, col("m"))).as("boot_hi_cents"))
    val stats = base.agg(count(lit(1)).as("n_pop"), sum("cents").as("tot"))
    stats.crossJoin(broadcast(ci))
      .select(col("n_pop"), lit(b).as("n_reps"),
        (col("tot").cast("double") / col("n_pop").cast("double"))
          .as("exact_mean_cents"),
        col("boot_lo_cents"), col("boot_hi_cents"),
        (col("boot_lo_cents") <= col("tot").cast("double") / col("n_pop").cast("double")
          && col("tot").cast("double") / col("n_pop").cast("double")
             <= col("boot_hi_cents")).as("covered"))
  }

  /** DuckDB twin of [[bootstrapCi]]; embed after `WITH ` and select from
    * `bootstrap_ci`.
    */
  def bootstrapCiSql(b: Int = 64): String = {
    val kLo = math.max(1, math.ceil(0.025 * b).toInt)
    val kHi = math.ceil(0.975 * b).toInt
    val c = OracleSafe.quantSql("o_totalprice", 100)
    val uExpr = "('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '_' ||" +
      " CAST(rep AS VARCHAR)), 1, 12))::BIGINT"
    val wExpr = PoissonT.map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""bci_base AS (SELECT o_orderkey, $c AS cents FROM orders),
       |bci_reps AS (
       |  SELECT rep, cents, $uExpr AS u
       |  FROM bci_base
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${b - 1})) AS rep) g),
       |bci_m AS (
       |  SELECT rep,
       |         CAST(SUM(($wExpr) * cents) AS DOUBLE)
       |           / CAST(GREATEST(SUM($wExpr), 1) AS DOUBLE) AS m
       |  FROM bci_reps GROUP BY rep),
       |bci_rk AS (
       |  SELECT m, ROW_NUMBER() OVER (ORDER BY m, rep) AS rk FROM bci_m),
       |bci_ci AS (
       |  SELECT MIN(CASE WHEN rk = $kLo THEN m END) AS boot_lo_cents,
       |         MIN(CASE WHEN rk = $kHi THEN m END) AS boot_hi_cents
       |  FROM bci_rk),
       |bci_stats AS (
       |  SELECT COUNT(*) AS n_pop, CAST(SUM(cents) AS BIGINT) AS tot
       |  FROM bci_base),
       |bootstrap_ci AS (
       |  SELECT n_pop, $b AS n_reps,
       |         CAST(tot AS DOUBLE) / CAST(n_pop AS DOUBLE) AS exact_mean_cents,
       |         boot_lo_cents, boot_hi_cents,
       |         boot_lo_cents <= CAST(tot AS DOUBLE) / CAST(n_pop AS DOUBLE)
       |           AND CAST(tot AS DOUBLE) / CAST(n_pop AS DOUBLE)
       |               <= boot_hi_cents AS covered
       |  FROM bci_stats, bci_ci)""".stripMargin
  }

  /** Per-GROUP approximate query processing: the q206 estimate-with-
    * certificate extended to a grouped aggregate — the AQP shape a
    * dashboard actually runs ("give me totals per priority from the 5%
    * sample, and tell me per group whether I can trust them"). Each
    * group's estimate is n_pop_g·(sample mean)_g from the SAME
    * deterministic hash-coin sample (one coin per row, not per group —
    * a stratified recoin would break additivity across groupings), and
    * each group earns its OWN Hoeffding certificate from its measured
    * range R_g and realized sample size — small groups honestly report
    * wide bounds instead of inheriting the population's. Same
    * conditional-on-n_s caveat as [[estimateAudit]].
    *
    * Scale shape: ONE map-side-combinable aggregate over the group key
    * computes population and sample moments together (the in_sample
    * flag is a scan-level column, so no second pass and no join);
    * output is |groups| rows.
    */
  def groupEstimateAudit(orders: DataFrame, pct: Int = 5): DataFrame = {
    require(pct >= 1 && pct <= 99, s"pct must be in [1,99], got $pct")
    val cents = OracleSafe.quant(col("o_totalprice"), 100)
    val base = orders.select(col("o_orderpriority").as("priority"),
      cents.as("cents"), (coin(col("o_orderkey")) < pct).as("in_sample"))
    val ln2d = 3.6888794541139363 // ln(2/0.05), fixed literal on both engines
    val nS = greatest(col("n_sample"), lit(1L)).cast("double")
    val est = col("n_pop").cast("double") *
      (col("sample_cents").cast("double") / nS)
    base.groupBy("priority")
      .agg(count(lit(1)).as("n_pop"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sample"),
        sum(when(col("in_sample"), col("cents")).otherwise(0L)).as("sample_cents"),
        sum(col("cents")).as("exact_cents"),
        max(col("cents")).as("max_cents"))
      .select(col("priority"), col("n_pop"), col("n_sample"),
        est.as("est_cents"), col("exact_cents"),
        abs(est - col("exact_cents").cast("double")).as("abs_err_cents"),
        (col("n_pop").cast("double") * col("max_cents").cast("double")
          * sqrt(lit(ln2d) / (lit(2.0) * nS))).as("hoeffding_bound_cents"))
      .withColumn("within_bound",
        col("abs_err_cents") <= col("hoeffding_bound_cents"))
  }

  /** DuckDB twin of [[groupEstimateAudit]]; embed after `WITH ` and
    * select from `group_estimate_audit`.
    */
  def groupEstimateAuditSql(pct: Int = 5): String = {
    val c = OracleSafe.quantSql("o_totalprice", 100)
    s"""gea_base AS (
       |  SELECT o_orderpriority AS priority, $c AS cents,
       |         ${coinSql("o_orderkey")} < $pct AS in_sample
       |  FROM orders),
       |gea_agg AS (
       |  SELECT priority, COUNT(*) AS n_pop,
       |         CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_sample,
       |         CAST(SUM(CASE WHEN in_sample THEN cents ELSE 0 END) AS BIGINT)
       |           AS sample_cents,
       |         CAST(SUM(cents) AS BIGINT) AS exact_cents,
       |         MAX(cents) AS max_cents
       |  FROM gea_base GROUP BY priority),
       |gea_est AS (
       |  SELECT priority, n_pop, n_sample, exact_cents,
       |         CAST(n_pop AS DOUBLE)
       |           * (CAST(sample_cents AS DOUBLE)
       |              / CAST(GREATEST(n_sample, 1) AS DOUBLE)) AS est_cents,
       |         CAST(n_pop AS DOUBLE) * CAST(max_cents AS DOUBLE)
       |           * sqrt(3.6888794541139363e0
       |                  / (2.0 * CAST(GREATEST(n_sample, 1) AS DOUBLE)))
       |           AS hoeffding_bound_cents
       |  FROM gea_agg),
       |group_estimate_audit AS (
       |  SELECT priority, n_pop, n_sample, est_cents, exact_cents,
       |         abs(est_cents - CAST(exact_cents AS DOUBLE)) AS abs_err_cents,
       |         hoeffding_bound_cents,
       |         abs(est_cents - CAST(exact_cents AS DOUBLE))
       |           <= hoeffding_bound_cents AS within_bound
       |  FROM gea_est)""".stripMargin
  }
  /** q250 — leakage-safe (out-of-fold) target encoding, the categorical
    * feature-engineering pass every tabular-ML pipeline runs before
    * training: a category's encoded value for a row is the mean target of
    * OTHER folds' rows in that category, so a row never sees a statistic
    * its own fold contributed to (the target-leakage failure mode this
    * construction exists to prevent; Micci-Barreca 2001 describes the
    * family). Folds are GROUP-AWARE — `user_id % k`, the q79 rule — so
    * all of an entity's rows share a fold and per-entity leakage is
    * impossible too.
    *
    * One bounded aggregate: per-(category, fold) exact cent sums and
    * counts, category totals by a second map-side-combinable pass, and
    * the encoding (S − S_f) / (C − C_f) as ONE double division of exact
    * BIGINTs — deterministic on both engines. A category living entirely
    * inside one fold encodes NULL for that fold (no other-fold evidence),
    * never the global mean smuggled in silently. Output is the
    * (category × fold) encoding table — |categories|·k rows, the frame a
    * trainer broadcast-joins onto its feature rows.
    */
  def targetEncoding(events: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 2, s"out-of-fold needs at least 2 folds: $k")
    val perFold = events
      .select(col("event_type"), (col("user_id") % k).as("fold"),
        graft.functions.OracleSafe.quant(col("value"), 100).as("cents"))
      .groupBy("event_type", "fold")
      .agg(count(lit(1)).as("n_fold"), sum("cents").as("s_fold"))
    val perCat = perFold.groupBy("event_type")
      .agg(sum("n_fold").as("n_cat"), sum("s_fold").as("s_cat"))
    perFold.join(broadcast(perCat), Seq("event_type"))
      .select(col("event_type"), col("fold"), col("n_fold"),
        when(col("n_cat") === col("n_fold"), lit(null).cast("double"))
          .otherwise((col("s_cat") - col("s_fold")).cast("double")
            / (col("n_cat") - col("n_fold")).cast("double"))
          .as("encoded_cents"))
  }

  /** DuckDB twin of [[targetEncoding]]; embed after `WITH ` and select
    * from `target_encoding`.
    */
  def targetEncodingSql(k: Int = 5): String =
    s"""te_fold AS (
       |  SELECT event_type, user_id % $k AS fold,
       |         COUNT(*) AS n_fold,
       |         CAST(SUM(${graft.functions.OracleSafe.quantSql("value", 100)})
       |           AS BIGINT) AS s_fold
       |  FROM events GROUP BY 1, 2),
       |te_cat AS (
       |  SELECT event_type, CAST(SUM(n_fold) AS BIGINT) AS n_cat,
       |         CAST(SUM(s_fold) AS BIGINT) AS s_cat
       |  FROM te_fold GROUP BY 1),
       |target_encoding AS (
       |  SELECT f.event_type, f.fold, f.n_fold,
       |         CASE WHEN c.n_cat = f.n_fold THEN NULL
       |              ELSE CAST(c.s_cat - f.s_fold AS DOUBLE)
       |                   / CAST(c.n_cat - f.n_fold AS DOUBLE) END
       |           AS encoded_cents
       |  FROM te_fold f JOIN te_cat c USING (event_type))""".stripMargin

  /** q262 — PURGED walk-forward cross-validation folds with an embargo
    * (the leakage-safe CV for serially-correlated time series; López de
    * Prado 2018 ch. 7 describes the purge/embargo construction). The
    * q79 hash split guards against DUPLICATE leakage; this guards
    * against TEMPORAL leakage, which a hash split cannot see: a sample
    * whose label is computed over [t, t+horizon) leaks the test fold's
    * outcomes into training whenever that window crosses the fold
    * boundary, and samples just AFTER the test block leak backwards
    * through serial correlation. Per fold i of k equal time slices:
    *
    *  - test:    t ∈ [lo_i, hi_i)
    *  - purged:  t < lo_i but t + horizon > lo_i (label overlaps test)
    *  - embargo: hi_i ≤ t < hi_i + embargo
    *  - train:   everything else
    *
    * The output carries per-fold role counts plus a MEASURED safety
    * margin: min over pre-test train samples of lo_i − (t + horizon) —
    * non-negative by construction, and reporting it as data (rather than
    * trusting the construction) is the audit.
    *
    * Scale shape: one row-side pass classified against a broadcast
    * k-row fold-bounds frame (k bounded), then a map-side-combinable
    * per-fold aggregate; fold bounds come from a 1-row min/max
    * aggregate — all-integer millisecond arithmetic on both engines.
    */
  def purgedCvFolds(events: DataFrame, k: Int = 5,
      horizonMs: Long = 86400000L, embargoMs: Long = 86400000L): DataFrame = {
    require(k >= 2, s"need at least 2 folds, got $k")
    val t = events.select(expr("ts_ns DIV 1000000").as("t"))
    val bounds = t.agg(min("t").as("tmin"), (max("t") + 1).as("tend"))
    val folds = bounds
      .select(explode(sequence(lit(0), lit(k - 1))).as("fold"),
        col("tmin"), col("tend"))
      .select(col("fold"),
        (col("tmin") + expr(s"((tend - tmin) * fold) DIV $k")).as("lo"),
        (col("tmin") + expr(s"((tend - tmin) * (fold + 1)) DIV $k")).as("hi"))
    val role = when(col("t") >= col("lo") && col("t") < col("hi"), "test")
      .when(col("t") < col("lo") && col("t") + horizonMs > col("lo"), "purged")
      .when(col("t") >= col("hi") && col("t") < col("hi") + embargoMs, "embargo")
      .otherwise("train")
    t.crossJoin(broadcast(folds))
      .withColumn("role", role)
      .groupBy("fold", "lo", "hi")
      .agg(
        sum((col("role") === "test").cast("long")).as("n_test"),
        sum((col("role") === "train").cast("long")).as("n_train"),
        sum((col("role") === "purged").cast("long")).as("n_purged"),
        sum((col("role") === "embargo").cast("long")).as("n_embargo"),
        min(when(col("role") === "train" && col("t") < col("lo"),
          col("lo") - col("t") - horizonMs)).as("min_gap_ms"))
      .select(col("fold"), col("lo").as("lo_ms"), col("hi").as("hi_ms"),
        col("n_test"), col("n_train"), col("n_purged"), col("n_embargo"),
        col("min_gap_ms"))
      .orderBy("fold")
  }

  /** DuckDB twin of [[purgedCvFolds]]; embed after `WITH ` and select
    * from `purged_cv`.
    */
  def purgedCvFoldsSql(k: Int = 5, horizonMs: Long = 86400000L,
      embargoMs: Long = 86400000L): String =
    s"""pcv_t AS (SELECT epoch_ms(ts) AS t FROM events),
       |pcv_b AS (SELECT MIN(t) AS tmin, MAX(t) + 1 AS tend FROM pcv_t),
       |pcv_folds AS (
       |  SELECT fold,
       |         tmin + ((tend - tmin) * fold) // $k AS lo,
       |         tmin + ((tend - tmin) * (fold + 1)) // $k AS hi
       |  FROM pcv_b,
       |       (SELECT unnest(generate_series(0, ${k - 1})) AS fold) f),
       |pcv_roles AS (
       |  SELECT f.fold, f.lo, f.hi, e.t,
       |         CASE WHEN e.t >= f.lo AND e.t < f.hi THEN 'test'
       |              WHEN e.t < f.lo AND e.t + $horizonMs > f.lo THEN 'purged'
       |              WHEN e.t >= f.hi AND e.t < f.hi + $embargoMs THEN 'embargo'
       |              ELSE 'train' END AS role
       |  FROM pcv_t e, pcv_folds f),
       |purged_cv AS (
       |  SELECT fold, lo AS lo_ms, hi AS hi_ms,
       |         CAST(SUM(CASE WHEN role = 'test' THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_test,
       |         CAST(SUM(CASE WHEN role = 'train' THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_train,
       |         CAST(SUM(CASE WHEN role = 'purged' THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_purged,
       |         CAST(SUM(CASE WHEN role = 'embargo' THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_embargo,
       |         MIN(CASE WHEN role = 'train' AND t < lo
       |                  THEN lo - t - $horizonMs END) AS min_gap_ms
       |  FROM pcv_roles GROUP BY 1, 2, 3)""".stripMargin

  /** q277 — WEIGHTED-INTERLEAVE training schedule in CLOSED FORM: every
    * document's global training-order position computed by arithmetic,
    * no global sort, no single-partition window. The schedule is the
    * earliest-deadline smooth round-robin (the data-loader mixing
    * discipline: item r of source s is "due" at fraction (2r−1)/(2wₛ)
    * of a round), and the position of (s, r) is just a COUNT of items
    * due no later — which has the exact integer form
    * Σ_{s'} min(⌊((2r−1)·w_{s'} + wₛ − 1) / (2wₛ)⌋, n_{s'}) plus the
    * name-ordered tie adjustment. So position assignment is a map-side
    * expression against a broadcast |sources|-row frame: embarrassingly
    * parallel at 100 TB where a row_number over everything is the
    * classic bottleneck (q146's shard argument, taken to its limit).
    * Weights derive deterministically from the source-name rank
    * ((rank−1) % 3 + 1), so both engines build the identical schedule.
    *
    * Per source the output carries the schedule signature (first/sum of
    * positions) and the exact worst prefix deviation
    * max_r |r·W − p·wₛ| — the smoothness certificate (every prefix of
    * the schedule tracks the target mix to within max_dev/W items);
    * `__total__` carries the permutation evidence: n_positions distinct
    * positions with min 1 and max N.
    */
  def interleaveSchedule(docs: DataFrame): DataFrame = {
    val srcs = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("w",
        ((dense_rank().over(Window.orderBy("source")) - 1) % 3 + 1)
          .cast("long"))
      .localCheckpoint() // |sources|-bounded frame; the window is tiny
    val ranked = docs.select(col("doc_id"), col("source"))
      .withColumn("r", row_number().over(
        Window.partitionBy("source").orderBy("doc_id")).cast("long"))
      .join(broadcast(srcs.select(col("source"), col("w"))), Seq("source"))
    val other = broadcast(srcs.select(col("source").as("s2"),
      col("n").as("n2"), col("w").as("w2")))
    // |docs| × |sources| slim fan-out; every term is integer arithmetic
    val x = (lit(2L) * col("r") - 1L) * col("w2")
    val cntLt = least(
      OracleSafe.intDiv(x + col("w") - 1L, lit(2L) * col("w")), col("n2"))
    val eqR = OracleSafe.intDiv(OracleSafe.intDiv(x, col("w")) + 1L, lit(2L))
    val eqTie = when(x % col("w") === 0L
      && OracleSafe.intDiv(x, col("w")) % 2L === 1L
      && eqR <= col("n2") && col("s2") < col("source"), 1L).otherwise(0L)
    val pos = ranked.crossJoin(other)
      .groupBy(col("source"), col("doc_id"), col("r"), col("w"))
      .agg((lit(1L) + sum(cntLt + eqTie)).as("p"))
    val wTot = srcs.agg(sum("w").as("w_all"), sum("n").as("n_all"))
    val perSource = pos.crossJoin(broadcast(wTot))
      .groupBy("source", "w")
      .agg(count(lit(1)).as("n_docs"),
        min(when(col("r") === 1L, col("p"))).as("first_pos"),
        sum("p").as("sum_pos"),
        max(abs(col("r") * col("w_all") - col("p") * col("w")))
          .as("max_dev"))
    val total = pos.agg(countDistinct("p").as("n_docs"),
        min("p").as("first_pos"), sum("p").as("sum_pos"))
      .crossJoin(broadcast(wTot))
      .select(lit("__total__").as("source"), col("w_all").as("w"),
        col("n_docs"), col("first_pos"), col("sum_pos"),
        (col("n_all") - col("n_docs")).as("max_dev")) // 0 iff a permutation
    perSource.unionByName(total).orderBy("source")
  }

  /** DuckDB twin of [[interleaveSchedule]] — the identical closed form
    * over a source cross join. Embed after `WITH ` and select from
    * `interleave_schedule`.
    */
  def interleaveScheduleSql(): String = {
    def intDiv(a: String, b: String) = OracleSafe.intDivSql(a, b)
    s"""il_srcs AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST((DENSE_RANK() OVER (ORDER BY source) - 1) % 3 + 1
       |           AS BIGINT) AS w
       |  FROM documents GROUP BY source),
       |il_ranked AS (
       |  SELECT d.doc_id, d.source, s.w,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY d.source
       |           ORDER BY d.doc_id) AS BIGINT) AS r
       |  FROM documents d JOIN il_srcs s USING (source)),
       |il_pos AS (
       |  SELECT k.source, k.doc_id, k.r, k.w,
       |         CAST(1 + SUM(
       |           LEAST(${intDiv("(2 * k.r - 1) * o.w + k.w - 1",
        "2 * k.w")}, o.n)
       |           + CASE WHEN ((2 * k.r - 1) * o.w) % k.w = 0
       |                   AND ${intDiv("(2 * k.r - 1) * o.w", "k.w")} % 2 = 1
       |                   AND ${intDiv(
        intDiv("(2 * k.r - 1) * o.w", "k.w") + " + 1", "2")} <= o.n
       |                   AND o.source < k.source
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS p
       |  FROM il_ranked k CROSS JOIN il_srcs o
       |  GROUP BY 1, 2, 3, 4),
       |il_tot AS (
       |  SELECT CAST(SUM(w) AS BIGINT) AS w_all,
       |         CAST(SUM(n) AS BIGINT) AS n_all
       |  FROM il_srcs),
       |interleave_schedule AS (
       |  SELECT p.source, p.w, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         MIN(CASE WHEN p.r = 1 THEN p.p END) AS first_pos,
       |         CAST(SUM(p.p) AS BIGINT) AS sum_pos,
       |         CAST(MAX(ABS(p.r * t.w_all - p.p * p.w)) AS BIGINT)
       |           AS max_dev
       |  FROM il_pos p, il_tot t GROUP BY 1, 2
       |  UNION ALL
       |  SELECT '__total__', t.w_all, COUNT(DISTINCT p.p),
       |         MIN(p.p), CAST(SUM(p.p) AS BIGINT),
       |         t.n_all - COUNT(DISTINCT p.p)
       |  FROM il_pos p, il_tot t GROUP BY t.w_all, t.n_all)""".stripMargin
  }

  /** q325 — CLUSTER-SAFE TRAIN/VAL/TEST SPLIT, the near-dup leakage
    * guard: splitting documents by a per-document hash puts the two
    * halves of a near-duplicate pair in different splits, so the test
    * set "leaks" into training — the contamination mechanism the
    * dedup-before-split literature warns about (near-dups straddling
    * the split inflate eval scores exactly like true test leakage).
    * The safe split keys the coin on the document's NEAR-DUP CLUSTER
    * label (the q59 connected components — [[leakageSafeSplit]] is the
    * assignment operator; this is its AUDIT form, quantifying what the
    * per-doc alternative would leak). Every document participates:
    * docs outside any candidate pair are their own singleton cluster.
    * Output compares both schemes on the same corpus: per scheme, the
    * 3-way split sizes, the cluster count, and the number of LEAKY
    * clusters (docs in ≥2 splits) — 0 for the safe scheme by
    * construction, measurably positive for the doc-hash scheme
    * whenever the corpus has multi-doc clusters.
    *
    * Determinism: the coin is the md5-prefix integer (the q38 coin),
    * identical in DuckDB; counts are exact integers.
    *
    * Scale: rides the q59 cluster labels (banded LSH + O(log d)
    * propagation); the split itself is a map-side hash and the audit is
    * two cluster-grain aggregates. No new shuffle beyond q59's.
    */
  def clusterSafeSplit(docs: DataFrame, trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"bad split percentages: $trainPct/$valPct")
    def splitOf(c: Column): Column =
      when(c < trainPct, "train")
        .when(c < trainPct + valPct, "val").otherwise("test")
    val clusters = Dedup.dedupClusters(docs).select("doc_id", "cluster_id")
    val tagged = docs.select("doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        splitOf(coin(col("doc_id"))).as("doc_split"),
        splitOf(coin(col("cluster_id"))).as("cluster_split"))
      .localCheckpoint()
    def scheme(name: String, splitCol: String): DataFrame = {
      val leaky = tagged.groupBy("cluster_id")
        .agg(countDistinct(col(splitCol)).as("nsplits"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("nsplits") > 1, 1L).otherwise(0L))
            .as("leaky_clusters"))
      tagged.agg(
          sum(when(col(splitCol) === "train", 1L).otherwise(0L))
            .as("n_train"),
          sum(when(col(splitCol) === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col(splitCol) === "test", 1L).otherwise(0L))
            .as("n_test"))
        .crossJoin(broadcast(leaky))
        .select(lit(name).as("scheme"), col("n_train"), col("n_val"),
          col("n_test"), col("n_clusters"), col("leaky_clusters"))
    }
    scheme("a_doc_hash", "doc_split")
      .unionByName(scheme("b_cluster_safe", "cluster_split"))
      .orderBy("scheme")
  }

  /** q328 — the CLUSTER-KEYED SPLIT wired INTO the q300 curation
    * pipeline: q325 proved the doc-hash scheme leaks near-dup pairs
    * across train/test, but the flagship pipeline still stopped at the
    * quota stage, leaving the split to whoever consumes it. This runs
    * the ACTUAL q300 stages (exact dedup → quality → decontamination →
    * per-source quota, via [[TextAnalysis.curationStages]] — composed,
    * not re-implemented) and then assigns each survivor to
    * train/val/test by the md5 coin on its q59 NEAR-DUP CLUSTER label
    * (singleton docs are their own cluster), with the leakage audit
    * emitted as a pipeline stage: `leaky_clusters` counts survivor
    * clusters straddling ≥2 splits and is STRUCTURALLY ZERO — the split
    * is a pure function of the cluster id — which the oracle recomputes
    * rather than pins. Output: per (split, source) doc/token counts
    * with the audit columns on every row.
    *
    * Scale: adds one left join against the q59 labels (banded LSH +
    * O(log d) propagation, already bounded) and two cluster-grain
    * aggregates to the q300 plan; the split itself is a map-side hash —
    * no new shuffle shape beyond what q300 and q59 already pay.
    */
  def curatedClusterSplit(docs: DataFrame, minTokens: Int = 20,
      quota: Int = 15, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"bad split percentages: $trainPct/$valPct")
    def splitOf(c: Column): Column =
      when(c < trainPct, "train")
        .when(c < trainPct + valPct, "val").otherwise("test")
    val (_, _, _, _, sampled) =
      TextAnalysis.curationStages(docs, minTokens, quota)
    val clusters = Dedup.dedupClusters(docs).select("doc_id", "cluster_id")
    val tagged = sampled.select("doc_id", "source", "n_toks")
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split", splitOf(coin(col("cluster_id"))))
      .localCheckpoint()
    val audit = tagged.groupBy("cluster_id")
      .agg(countDistinct("split").as("nsplits"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(when(col("nsplits") > 1, 1L).otherwise(0L))
          .as("leaky_clusters"))
    tagged.groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .crossJoin(broadcast(audit))
      .select(col("split"), col("source"), col("n_docs"),
        col("n_tokens"), col("n_clusters"), col("leaky_clusters"))
      .orderBy("split", "source")
  }

  /** DuckDB twin of [[curatedClusterSplit]] — the q300 CTE chain plus
    * the q59 cluster chain, the same coin on the cluster label, the
    * audit recomputed. Embed after `WITH RECURSIVE ` and select from
    * `curated_cluster_split`.
    */
  def curatedClusterSplitSql(minTokens: Int = 20, quota: Int = 15,
      trainPct: Int = 80, valPct: Int = 10): String =
    s"""${graft.operators.Dedup.dedupClustersSql()},
       |${TextAnalysis.curationStagesSql(minTokens, quota)},
       |ccs_tag AS (
       |  SELECT q.doc_id, q.source, q.n_toks,
       |         COALESCE(c.cluster_id, q.doc_id) AS cluster_id
       |  FROM cp_quota q LEFT JOIN dedup_clusters c USING (doc_id)),
       |ccs_split AS (
       |  SELECT doc_id, source, n_toks, cluster_id,
       |         CASE WHEN ${coinSql("cluster_id")} < $trainPct
       |                THEN 'train'
       |              WHEN ${coinSql("cluster_id")} <
       |                ${trainPct + valPct} THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM ccs_tag),
       |ccs_audit AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |         CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
       |           AS BIGINT) AS leaky_clusters
       |  FROM (SELECT cluster_id, COUNT(DISTINCT split) AS ns
       |        FROM ccs_split GROUP BY 1)),
       |curated_cluster_split AS (
       |  SELECT s.split, s.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(s.n_toks) AS BIGINT) AS n_tokens,
       |         a.n_clusters, a.leaky_clusters
       |  FROM ccs_split s, ccs_audit a
       |  GROUP BY 1, 2, 5, 6)""".stripMargin

  /** DuckDB twin of [[clusterSafeSplit]] — embed after `WITH RECURSIVE `
    * (the q59 cluster chain is recursive) and select from
    * `cluster_safe_split`.
    */
  def clusterSafeSplitSql(trainPct: Int = 80, valPct: Int = 10): String = {
    def splitOf(id: String): String =
      s"""CASE WHEN ${coinSql(id)} < $trainPct THEN 'train'
         |     WHEN ${coinSql(id)} < ${trainPct + valPct} THEN 'val'
         |     ELSE 'test' END""".stripMargin
    def scheme(name: String, splitCol: String): String =
      s"""SELECT '$name' AS scheme,
         |       CAST(SUM(CASE WHEN $splitCol = 'train' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_train,
         |       CAST(SUM(CASE WHEN $splitCol = 'val' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_val,
         |       CAST(SUM(CASE WHEN $splitCol = 'test' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_test,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM (
         |          SELECT cluster_id FROM css_tag GROUP BY 1)) AS n_clusters,
         |       (SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0
         |                 END), 0) AS BIGINT)
         |        FROM (SELECT cluster_id, COUNT(DISTINCT $splitCol) AS ns
         |              FROM css_tag GROUP BY 1)) AS leaky_clusters
         |FROM css_tag""".stripMargin
    s"""${graft.operators.Dedup.dedupClustersSql()},
       |css_all AS (
       |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN dedup_clusters c USING (doc_id)),
       |css_tag AS (
       |  SELECT doc_id, cluster_id,
       |         ${splitOf("doc_id")} AS doc_split,
       |         ${splitOf("cluster_id")} AS cluster_split
       |  FROM css_all),
       |cluster_safe_split AS (
       |${scheme("a_doc_hash", "doc_split")}
       |UNION ALL
       |${scheme("b_cluster_safe", "cluster_split")})""".stripMargin
  }
}
