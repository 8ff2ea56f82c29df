package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.OracleSafe

/** Execution-planning operators: profiles and sketches whose OUTPUT is a
  * planning decision (how to salt a shuffle, how big a join will be), not
  * an analytics answer. At 100 TB these run as cheap pre-passes — a
  * partial-aggregatable count or a constant-size sketch — so the expensive
  * job that follows is shaped by measurement instead of guesswork.
  */
object Planning {

  /** Data-driven salting plan for a skewed shuffle key: per-key row count
    * and the salt fan-out `ceil(n / targetRowsPerSalt)` (capped at
    * `maxSalt`, the parallelism actually available) that spreads the key's
    * rows into ~target-sized salt buckets. This is q70's manual salting
    * turned into a measured decision — joinable back onto the fact as a
    * broadcast (the plan has one row per distinct key) so the salted
    * repartition uses `pmod(hash(row_key), salt_factor)` per key.
    *
    * Scale shape: one map-side-combinable groupBy on the key; integer
    * ceiling division `(n + t - 1) DIV t` is exact on both engines. The
    * plan frame is bounded by key cardinality — broadcastable whenever
    * salting is relevant at all (skew means FEW hot keys).
    */
  def skewPlan(df: DataFrame, key: String, targetRowsPerSalt: Long,
      maxSalt: Int = 32): DataFrame = {
    require(targetRowsPerSalt >= 1, s"target must be >= 1, got $targetRowsPerSalt")
    require(maxSalt >= 1, s"maxSalt must be >= 1, got $maxSalt")
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .withColumn("salt_factor",
        least(lit(maxSalt.toLong),
          expr(s"(n + ${targetRowsPerSalt - 1}) DIV $targetRowsPerSalt")))
  }

  /** Execute the aggregate a [[skewPlan]] measured — the plan consumed,
    * not just emitted: the per-key `salt_factor` frame joins back onto the
    * rows as a broadcast (one row per distinct key — broadcastable
    * whenever salting is relevant, since skew means FEW hot keys), each
    * row lands in a deterministic salt bucket `pmod(hash(saltFrom),
    * salt_factor)`, partials aggregate on (key, salt), and the final
    * aggregate on key recombines them. A hot key now spreads over up to
    * `maxSalt` tasks sized by the MEASURED `targetRowsPerSalt`, instead of
    * one task taking the whole key (q70's fixed 16-bucket salting with the
    * fan-out decided by data).
    *
    * Correctness: salting only rewrites WHERE rows meet — counts and
    * integer-cent sums recombine exactly, so the output hash-matches the
    * plain groupBy, which IS the oracle.
    */
  def executeSkewPlan(df: DataFrame, key: String, value: Column,
      saltFrom: Column, targetRowsPerSalt: Long, maxSalt: Int = 32): DataFrame = {
    val plan = skewPlan(df, key, targetRowsPerSalt, maxSalt)
      .select(col(key), col("salt_factor"))
    df.join(broadcast(plan), Seq(key))
      .withColumn("_salt", pmod(hash(saltFrom), col("salt_factor")))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_pn"), sum(value).as("_pv"))
      .groupBy(col(key))
      .agg(sum("_pn").as("n"), sum("_pv").as("total"))
  }

  /** DuckDB twin of [[skewPlan]]; embed after `WITH` and select from
    * `skew_plan`.
    */
  def skewPlanSql(table: String, key: String, targetRowsPerSalt: Long,
      maxSalt: Int = 32): String =
    s"""skew_plan AS (
       |  SELECT $key, COUNT(*) AS n,
       |         LEAST($maxSalt, (COUNT(*) + ${targetRowsPerSalt - 1}) // $targetRowsPerSalt)
       |           AS salt_factor
       |  FROM $table GROUP BY 1)""".stripMargin

  /** 48-bit uniform key hash — same md5-prefix construction as the shingle
    * ids ([[Dedup]]), identical in both engines.
    */
  private def h48(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast("long")

  private def bottomK(keys: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perKey(keys.withColumn("g", lit(1)), Seq("g"),
      Seq(graft.plans.TopK.asc("h")), k = k, rankName = "rk")
      .select("h")

  /** One-row KMV cardinality estimate of `key`'s distinct values as a
    * double column `name` — the shared estimator behind the sketch
    * advisors (q216/q219): exact below k, (k−1)·2⁴⁸/h_k above.
    */
  private def kmvEstFrame(df: DataFrame, key: Column, k: Int,
      name: String): DataFrame =
    bottomK(df.select(h48(key).as("h")).distinct(), k)
      .agg(count(lit(1)).as("n_m"), max("h").as("h_k"))
      .select(when(col("n_m") < k, col("n_m").cast("double"))
        .otherwise(lit((k - 1).toLong << 48).cast("double")
          / col("h_k").cast("double"))
        .as(name))

  /** DuckDB twin of [[h48]] over an arbitrary SQL expression. */
  private def h48Sql(expr: String): String =
    s"('0x' || substring(md5(CAST($expr AS VARCHAR)), 1, 12))::BIGINT"

  /** DuckDB twin of [[kmvEstFrame]]: emits two CTEs — `<p>_h` (distinct
    * hashes) and `<p>` (one row whose column `colName` is the estimate).
    */
  private def kmvEstSql(p: String, colName: String, table: String,
      pk: String, k: Int): String = {
    val max48 = (k - 1).toLong << 48
    s"""${p}_h AS (
       |  SELECT DISTINCT ${h48Sql(pk)} AS h FROM $table),
       |$p AS (
       |  SELECT CASE WHEN COUNT(*) < $k THEN CAST(COUNT(*) AS DOUBLE)
       |              ELSE CAST($max48 AS DOUBLE) / CAST(MAX(h) AS DOUBLE) END
       |           AS $colName
       |  FROM (SELECT h FROM (
       |    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk
       |    FROM ${p}_h) rr WHERE rk <= $k) kk)""".stripMargin
  }

  /** Join-cardinality estimation from two KMV sketches (the q145 sketch
    * applied to its classic planning use, Bar-Yossef et al. 2002 / Beyer
    * et al. 2007): how many DISTINCT join keys do sides A and B share,
    * without ever joining them? Bottom-k sketches of each side's hashed
    * key set merge into a bottom-k of the union; the fraction ρ of merged
    * sketch members present in BOTH side sketches estimates the Jaccard
    * similarity, and ρ · est|A∪B| estimates the key overlap — the number
    * that decides broadcast-vs-shuffle and sizes a shuffle join's output
    * before running it.
    *
    * Cross-engine exactness (the q145 argument, extended): the sketch
    * members are integers both engines agree on; `k` is a power of two so
    * ρ = n_both/k is an EXACT double; est|A∪B| is (k−1)·2⁴⁸ / h_k with
    * both operands exact; the final product of two doubles is correctly
    * rounded on identical inputs. When the union has fewer than k distinct
    * hashes the sketch IS the union and the estimate is the exact sketch
    * intersection count. So estimate, exact audit counts, and rel_err all
    * hash-match the oracle.
    *
    * Output (one row): n_a / n_b / n_inter exact distinct-key counts (the
    * audit — a 100 TB deployment would drop these and keep only the
    * sketches), union_estimate, inter_estimate, rel_err (NULL when the
    * true intersection is empty).
    *
    * Scale shape: each side costs one distinct + a bounded-heap bottom-k
    * ([[graft.plans.TopK.perKey]] — map-side partial heaps, k·8 bytes per
    * partition); sketches of shards merge associatively, so per-shard
    * sketches roll up without touching row data again.
    */
  def kmvJoinOverlap(a: DataFrame, b: DataFrame, key: String,
      k: Int = 256): DataFrame = {
    require(k >= 2 && (k & (k - 1)) == 0,
      s"k must be a power of two >= 2 for exact rho division, got $k")
    // (k-1) << 48 must stay within Long: k > 32768 would overflow silently
    // and poison union_estimate with a negative numerator
    require(k <= 32768, s"k must be <= 32768 (numerator (k-1)*2^48 fits Long), got $k")
    val ha = a.select(h48(col(key)).as("h")).distinct()
    val hb = b.select(h48(col(key)).as("h")).distinct()
    // k-row sketches are read twice each (merge + flag joins). Materialize
    // via localCheckpoint, NOT .cache(): catalog-pinned cache entries are
    // never GC-cleaned, so a long-lived session running many planning
    // pre-passes would accumulate sketch frames; checkpoint blocks are
    // released by the ContextCleaner once the result frame is dropped.
    val ka = bottomK(ha, k).localCheckpoint()
    val kb = bottomK(hb, k).localCheckpoint()
    val merged = bottomK(ka.union(kb).distinct(), k)
    val flagged = merged
      .join(broadcast(ka.withColumn("in_a", lit(1L))), Seq("h"), "left")
      .join(broadcast(kb.withColumn("in_b", lit(1L))), Seq("h"), "left")
    val stats = flagged.agg(
      count(lit(1)).as("n_m"), max("h").as("h_k"),
      sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
        .otherwise(0L)).as("n_both"))
    val exact = ha.withColumn("ea", lit(1L))
      .join(hb.withColumn("eb", lit(1L)), Seq("h"), "full")
      .agg(sum(coalesce(col("ea"), lit(0L))).as("n_a"),
        sum(coalesce(col("eb"), lit(0L))).as("n_b"),
        sum(when(col("ea").isNotNull && col("eb").isNotNull, 1L)
          .otherwise(0L)).as("n_inter"))
    val unionEst = when(col("n_m") < k, col("n_m").cast("double"))
      .otherwise(lit((k - 1).toLong << 48).cast("double") / col("h_k").cast("double"))
    val interEst = when(col("n_m") < k, col("n_both").cast("double"))
      .otherwise((col("n_both").cast("double") / lit(k.toDouble)) * unionEst)
    exact.crossJoin(broadcast(stats))
      .select(col("n_a"), col("n_b"), col("n_inter"),
        unionEst.as("union_estimate"), interEst.as("inter_estimate"))
      .withColumn("rel_err",
        when(col("n_inter") === 0L, lit(null).cast("double"))
          .otherwise(abs(col("inter_estimate") - col("n_inter").cast("double"))
            / col("n_inter").cast("double")))
  }

  /** Join-strategy advisor: MEASURED per-table size stats (row count and
    * an estimated in-memory byte size from the actual schema — fixed
    * widths for numerics/timestamps, `length+4` for strings, `4·len+8`
    * for float arrays) mapped to the strategy a planner would pick:
    * `broadcast` under the broadcast threshold (the explicit form of
    * `spark.sql.autoBroadcastJoinThreshold`), `shuffle_bloom` up to
    * 100× it (big enough to shuffle, small enough that a q157-style bloom
    * on its keys pays for itself), `shuffle` beyond. The closing member
    * of the planning tier: q153 decides HOW to shuffle, q154 how BIG the
    * join is, q157 whether the probe side can skip the shuffle, this one
    * which strategy each relation gets — all from measurement.
    *
    * Scale shape: one map-side-combinable aggregate per table (count +
    * integer byte sum over the scan, no shuffle beyond the 1-row
    * partials); decisions are a |tables|-row frame.
    */
  /** The [[joinAdvisor]] byte model: fixed widths for numerics/timestamps,
    * `length+4` for strings, `4·len+8` for float arrays.
    */
  private def rowBytesOf(df: DataFrame): Column = {
    import org.apache.spark.sql.types._
    df.schema.fields.map { f =>
      f.dataType match {
        case StringType => coalesce(length(col(f.name)), lit(0)).cast("long") + 4L
        case ArrayType(FloatType, _) =>
          coalesce(size(col(f.name)).cast("long"), lit(0L)) * 4L + 8L
        case IntegerType => lit(4L)
        case _ => lit(8L) // long / double / timestamp(_ntz)
      }
    }.reduce(_ + _)
  }

  /** The [[joinAdvisor]] strategy rule (thresholds on estimated bytes). */
  private def strategyOf(estBytes: Column, broadcastBytes: Long): Column =
    when(estBytes <= broadcastBytes, "broadcast")
      .when(estBytes <= broadcastBytes * 100, "shuffle_bloom")
      .otherwise("shuffle")

  def joinAdvisor(tables: Seq[(String, DataFrame)],
      broadcastBytes: Long = 1L << 20): DataFrame = {
    require(tables.nonEmpty, "joinAdvisor needs at least one table")
    tables.map { case (name, df) =>
      val rowBytes = rowBytesOf(df)
      // coalesce: SUM over zero rows is NULL, which would null every
      // `when` below and fall through to 'shuffle' — the opposite of the
      // right answer for an empty (0-byte, trivially broadcastable) table
      df.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(rowBytes), lit(0L)).as("est_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"), col("est_bytes"),
          strategyOf(col("est_bytes"), broadcastBytes).as("strategy"))
    }.reduce(_ unionByName _)
  }

  /** DuckDB twin of [[joinAdvisor]]: per-table (name, row-bytes SQL expr)
    * pairs mirroring the Spark byte model; embed after `WITH` and select
    * from `join_advisor`.
    */
  def joinAdvisorSql(tables: Seq[(String, String)],
      broadcastBytes: Long = 1L << 20): String = {
    val branches = tables.map { case (name, bytesExpr) =>
      s"""  SELECT '$name' AS table_name, COUNT(*) AS n_rows,
         |         CAST(COALESCE(SUM($bytesExpr), 0) AS BIGINT) AS est_bytes,
         |         CASE WHEN COALESCE(SUM($bytesExpr), 0) <= $broadcastBytes THEN 'broadcast'
         |              WHEN COALESCE(SUM($bytesExpr), 0) <= ${broadcastBytes * 100} THEN 'shuffle_bloom'
         |              ELSE 'shuffle' END AS strategy
         |  FROM $name""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""join_advisor AS (
       |$branches)""".stripMargin
  }

  /** The 100 TB CBO story: the [[joinAdvisor]] strategy decision made
    * from CONSTANT-SIZE sketches instead of exact full-scan statistics,
    * with the divergence audited. At warehouse scale a planner cannot
    * afford an exact (count, byte-sum) scan of every relation before
    * every query — it keeps per-table sketches and decides from those.
    * Per table, this advisor derives:
    *   - `kmv_rows`: row count from a k-minimum-values sketch of the
    *     primary key (the q145/q154 bottom-k estimator, (k−1)·2⁴⁸/h_k,
    *     exact below k) — k·8 bytes of state per table, mergeable
    *     across shards;
    *   - `sketch_bytes`: `kmv_rows` × average row width measured on a
    *     deterministic 1/`sampleMod` hash-coin sample of the rows (for
    *     a tiny table whose sample is empty the average falls back to
    *     the exact mean — at scale the sample is never empty);
    * and then the SAME threshold model as the exact path labels both:
    * `strategy_exact` from the measured bytes, `strategy_sketch` from
    * the sketch bytes, `agree` marking where the cheap stats would have
    * picked a different plan, plus the q-errors max(est/act, act/est)
    * the estimation literature grades by. The decision-boundary audit:
    * a disagreement means the true size sits within the sketch's error
    * belt of a threshold — exactly the rows a deployment would route to
    * an exact re-check.
    *
    * Cross-engine exactness: the KMV estimate is the q154 argument
    * verbatim; the sample average is one IEEE division of exact integer
    * operands; `sketch_bytes` one further multiply — every double op is
    * correctly rounded on identical inputs, so labels, estimates, and
    * q-errors all hash-match the oracle.
    *
    * Scale shape: per table one bounded-heap bottom-k over the hashed
    * key, one map-side-combinable (count, byte-sum) over the hash
    * sample, and the exact audit scan (which a deployment would DROP —
    * it exists here to measure the sketch against truth); the decision
    * frame is |tables| rows.
    */
  def sketchStrategyAdvisor(tables: Seq[(String, DataFrame, Column)],
      broadcastBytes: Long = 1L << 16, k: Int = 256,
      sampleMod: Long = 8L): DataFrame = {
    require(tables.nonEmpty, "sketchStrategyAdvisor needs at least one table")
    require(k >= 2 && (k & (k - 1)) == 0 && k <= 32768,
      s"k must be a power of two in [2, 32768], got $k")
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    import org.apache.spark.sql.types._
    tables.map { case (name, df, pk) =>
      val rowBytes = df.schema.fields.map { f =>
        f.dataType match {
          case StringType => coalesce(length(col(f.name)), lit(0)).cast("long") + 4L
          case ArrayType(FloatType, _) =>
            coalesce(size(col(f.name)).cast("long"), lit(0L)) * 4L + 8L
          case IntegerType => lit(4L)
          case _ => lit(8L) // long / double / timestamp(_ntz)
        }
      }.reduce(_ + _)
      val exact = df.agg(count(lit(1)).as("n_rows"),
        coalesce(sum(rowBytes), lit(0L)).as("est_bytes"))
      val sk = kmvEstFrame(df, pk, k, "kmv_est")
      val samp = df.filter(h48(pk) % sampleMod === 0L)
        .agg(count(lit(1)).as("s_n"),
          coalesce(sum(rowBytes), lit(0L)).as("s_bytes"))
      val kmvRows = col("kmv_est")
      // the empty-table ladder mirrors joinAdvisor's coalesce note: an
      // empty sample falls back to the exact mean, and an empty TABLE
      // (0/0 would be NaN, and NaN semantics differ cross-engine) is
      // 0 bytes wide — trivially broadcastable, never 'shuffle'
      val avgB = when(col("s_n") > 0,
          col("s_bytes").cast("double") / col("s_n").cast("double"))
        .when(col("n_rows") > 0,
          col("est_bytes").cast("double") / col("n_rows").cast("double"))
        .otherwise(lit(0.0))
      val sketchBytes = kmvRows * avgB
      exact.crossJoin(broadcast(sk)).crossJoin(broadcast(samp))
        .select(lit(name).as("table_name"), col("n_rows"),
          kmvRows.as("kmv_rows"),
          // empty table: the sketch is exactly right (0 = 0), q-error 1
          when(col("n_rows") === 0L, lit(1.0))
            .otherwise(greatest(kmvRows / col("n_rows").cast("double"),
              col("n_rows").cast("double") / kmvRows)).as("q_error_rows"),
          col("est_bytes"), sketchBytes.as("sketch_bytes"),
          // exact label: integer compare, verbatim the joinAdvisor model
          when(col("est_bytes") <= broadcastBytes, "broadcast")
            .when(col("est_bytes") <= broadcastBytes * 100, "shuffle_bloom")
            .otherwise("shuffle").as("strategy_exact"),
          when(sketchBytes <= lit(broadcastBytes.toDouble), "broadcast")
            .when(sketchBytes <= lit((broadcastBytes * 100).toDouble),
              "shuffle_bloom")
            .otherwise("shuffle").as("strategy_sketch"))
        .withColumn("agree", col("strategy_exact") === col("strategy_sketch"))
    }.reduce(_ unionByName _).orderBy("table_name")
  }

  /** DuckDB twin of [[sketchStrategyAdvisor]]: per-table
    * (name, pk expr, row-bytes expr) triples mirroring the Spark models;
    * embed after `WITH ` and select from `sketch_strategy`.
    */
  def sketchStrategyAdvisorSql(tables: Seq[(String, String, String)],
      broadcastBytes: Long = 1L << 16, k: Int = 256,
      sampleMod: Long = 8L): String = {
    val perTable = tables.map { case (name, pk, bytesExpr) =>
      val kmvRows = "kmv_est"
      val avgB = "CASE WHEN s_n > 0 THEN CAST(s_bytes AS DOUBLE) / CAST(s_n AS DOUBLE) " +
        "WHEN n_rows > 0 THEN CAST(est_bytes AS DOUBLE) / CAST(n_rows AS DOUBLE) " +
        "ELSE 0.0 END"
      val sketchBytes = s"(($kmvRows) * ($avgB))"
      s"""ssa_${name}_ex AS (
         |  SELECT COUNT(*) AS n_rows,
         |         CAST(COALESCE(SUM($bytesExpr), 0) AS BIGINT) AS est_bytes
         |  FROM $name),
         |${kmvEstSql(s"ssa_${name}_k", "kmv_est", name, pk, k)},
         |ssa_${name}_s AS (
         |  SELECT COUNT(*) AS s_n,
         |         CAST(COALESCE(SUM($bytesExpr), 0) AS BIGINT) AS s_bytes
         |  FROM $name WHERE (${h48Sql(pk)}) % $sampleMod = 0),
         |ssa_$name AS (
         |  SELECT '$name' AS table_name, n_rows,
         |         $kmvRows AS kmv_rows,
         |         CASE WHEN n_rows = 0 THEN 1.0
         |              ELSE GREATEST(($kmvRows) / CAST(n_rows AS DOUBLE),
         |                   CAST(n_rows AS DOUBLE) / ($kmvRows)) END AS q_error_rows,
         |         est_bytes, $sketchBytes AS sketch_bytes,
         |         CASE WHEN est_bytes <= $broadcastBytes THEN 'broadcast'
         |              WHEN est_bytes <= ${broadcastBytes * 100} THEN 'shuffle_bloom'
         |              ELSE 'shuffle' END AS strategy_exact,
         |         CASE WHEN $sketchBytes <= ${broadcastBytes.toDouble} THEN 'broadcast'
         |              WHEN $sketchBytes <= ${(broadcastBytes * 100).toDouble} THEN 'shuffle_bloom'
         |              ELSE 'shuffle' END AS strategy_sketch
         |  FROM ssa_${name}_ex, ssa_${name}_k, ssa_${name}_s)""".stripMargin
    }
    val union = tables.map { case (name, _, _) =>
      s"  SELECT *, strategy_exact = strategy_sketch AS agree FROM ssa_$name"
    }.mkString("\n  UNION ALL\n")
    s"""${perTable.mkString(",\n")},
       |sketch_strategy AS (
       |$union)""".stripMargin
  }

  /** Execute the joins a [[joinAdvisor]] sized — the last emit-only
    * advisor CONSUMED (completing the measured-plan family: q153→q169
    * salting, q202→q208 ordering, q205→q209 range bounds): the advisor
    * measures the two dimension tables, and each advised strategy is
    * then USED — a 'broadcast' verdict runs the fact join with an
    * explicit broadcast build side; anything bigger runs as a shuffle
    * (sort-merge hint, the strategy a planner falls back to past the
    * threshold). Both advised executions aggregate to the totals the
    * plain-join oracle computes, proving the strategy choice moves
    * bytes, never results. `broadcastBytes` defaults to 64 KiB here so
    * the two dims genuinely land on DIFFERENT strategies at every test
    * scale (supplier under it, orders over it).
    *
    * Scale shape: the decision pass is one map-side-combinable (count,
    * byte-sum) aggregate per table; the decision frame is 2 rows
    * (collected, like [[executeSkewPlan]]'s plan); each execution is the
    * join the advisor sized, nothing more.
    */
  def executeJoinStrategy(lineitem: DataFrame, supplier: DataFrame,
      orders: DataFrame, broadcastBytes: Long = 1L << 16): DataFrame = {
    val advice = joinAdvisor(Seq("supplier" -> supplier, "orders" -> orders),
        broadcastBytes)
      .select("table_name", "strategy").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val li = lineitem.select(col("l_suppkey"), col("l_orderkey"),
      OracleSafe.quant(col("l_extendedprice"), 100).as("cents"))
    def run(name: String, dim: DataFrame, joinCond: Column): DataFrame = {
      val sized =
        if (advice(name) == "broadcast") broadcast(dim) else dim.hint("merge")
      li.join(sized, joinCond)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(name).as("table_name"), lit(advice(name)).as("strategy"),
          col("n_rows"), col("total_cents"))
    }
    run("supplier", supplier.select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"))
      .unionByName(run("orders", orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey")))
      .orderBy("table_name")
  }

  /** DuckDB twin of [[executeJoinStrategy]] — plain joins for the totals
    * (equality across strategies is the proof) plus the advisor's
    * strategy labels from the same byte model. Embed after `WITH ` and
    * select from `join_strategy_exec`.
    */
  def executeJoinStrategySql(supplierBytes: String, ordersBytes: String,
      broadcastBytes: Long = 1L << 16): String =
    s"""${joinAdvisorSql(Seq("supplier" -> supplierBytes,
          "orders" -> ordersBytes), broadcastBytes)},
       |jse_sup AS (
       |  SELECT COUNT(*) AS n_rows,
       |         CAST(SUM(${OracleSafe.quantSql("l_extendedprice", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
       |jse_ord AS (
       |  SELECT COUNT(*) AS n_rows,
       |         CAST(SUM(${OracleSafe.quantSql("l_extendedprice", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |join_strategy_exec AS (
       |  SELECT a.table_name, a.strategy, s.n_rows, s.total_cents
       |  FROM join_advisor a, jse_sup s WHERE a.table_name = 'supplier'
       |  UNION ALL
       |  SELECT a.table_name, a.strategy, o.n_rows, o.total_cents
       |  FROM join_advisor a, jse_ord o WHERE a.table_name = 'orders')""".stripMargin

  /** The SKETCH advisor's verdicts consumed — the q212 execution pattern
    * with the decision made by [[sketchStrategyAdvisor]] instead of the
    * exact-stat [[joinAdvisor]]: each dimension joins the fact under the
    * strategy its SKETCH bytes earned (explicit broadcast under the
    * threshold, sort-merge above), and the totals match the plain-join
    * oracle. Together with q216 this closes the sketch-CBO loop:
    * constant-size statistics → decision → executed plan → result
    * equality; a deployment runs exactly this path when exact stats are
    * too expensive to maintain.
    *
    * Scale shape: the decision pass is one bottom-k + one sampled
    * byte aggregate per dim (never a fact scan); the decision frame is
    * 2 rows (collected, the [[executeSkewPlan]] pattern); each execution
    * is the join the sketches sized, nothing more.
    */
  def executeSketchStrategy(lineitem: DataFrame, supplier: DataFrame,
      orders: DataFrame, broadcastBytes: Long = 1L << 16): DataFrame = {
    val advice = sketchStrategyAdvisor(
        Seq(("supplier", supplier, col("s_suppkey")),
          ("orders", orders, col("o_orderkey"))), broadcastBytes)
      .select("table_name", "strategy_sketch").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val li = lineitem.select(col("l_suppkey"), col("l_orderkey"),
      OracleSafe.quant(col("l_extendedprice"), 100).as("cents"))
    def run(name: String, dim: DataFrame, joinCond: Column): DataFrame = {
      val sized =
        if (advice(name) == "broadcast") broadcast(dim) else dim.hint("merge")
      li.join(sized, joinCond)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(name).as("table_name"), lit(advice(name)).as("strategy"),
          col("n_rows"), col("total_cents"))
    }
    run("supplier", supplier.select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"))
      .unionByName(run("orders", orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey")))
      .orderBy("table_name")
  }

  /** DuckDB twin of [[executeSketchStrategy]] — plain joins for the
    * totals (equality across strategies is the proof) plus the SKETCH
    * advisor's labels from the same sketch models. Embed after `WITH `
    * and select from `sketch_strategy_exec`.
    */
  def executeSketchStrategySql(supplierBytes: String, ordersBytes: String,
      broadcastBytes: Long = 1L << 16): String =
    s"""${sketchStrategyAdvisorSql(Seq(
          ("supplier", "s_suppkey", supplierBytes),
          ("orders", "o_orderkey", ordersBytes)), broadcastBytes)},
       |ses_sup AS (
       |  SELECT COUNT(*) AS n_rows,
       |         CAST(SUM(${OracleSafe.quantSql("l_extendedprice", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
       |ses_ord AS (
       |  SELECT COUNT(*) AS n_rows,
       |         CAST(SUM(${OracleSafe.quantSql("l_extendedprice", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |sketch_strategy_exec AS (
       |  SELECT a.table_name, a.strategy_sketch AS strategy,
       |         s.n_rows, s.total_cents
       |  FROM sketch_strategy a, ses_sup s WHERE a.table_name = 'supplier'
       |  UNION ALL
       |  SELECT a.table_name, a.strategy_sketch AS strategy,
       |         o.n_rows, o.total_cents
       |  FROM sketch_strategy a, ses_ord o WHERE a.table_name = 'orders')""".stripMargin

  /** Bloom-filter semi-join pruning, with its false-positive cost measured
    * (the third planning primitive: q153 sizes a shuffle, q154 sizes a
    * join, this one decides whether a probe side needs to shuffle AT ALL).
    * A Bloom filter over the build side's distinct keys — `bitsPerKey·n`
    * bits, `kHash` set positions per key — is the compact structure a
    * 100 TB deployment broadcasts to prune the probe side at the scan
    * before any shuffle (Spark's AQE injects exactly this for shuffle
    * joins via `spark.sql.optimizer.runtime.bloomFilter.enabled`; this
    * operator makes the decision explicit and AUDITABLE). Output is the
    * audit row: probe rows, rows passing the filter, true semi-join rows,
    * false-positive rows (pass − true — the shuffle volume the filter
    * failed to save), and the key-level false-positive rate against the
    * expected `(1 − e^(−kHash/bitsPerKey))^kHash` ≈ 3.1% at the defaults.
    *
    * Cross-engine exactness: bit positions are 48-bit md5 hashes mod
    * `m = bitsPerKey·n` (m derived in-plan from the build side, all
    * integer); membership is evaluated by joins over the distinct
    * (position) set, so both engines classify identical keys identically —
    * no approximate structure leaks into the result. The ONE double
    * division (fp_rate) divides integers both engines agree on.
    *
    * Scale shape: the bit set is `distinct pos` of the build side —
    * `kHash·n` values that at deployment pack into an m-bit bitmap
    * (`bloom_filter_agg`); the probe side is touched once, key-grain, and
    * rows never shuffle on the join key. The audit's exact semi-join is
    * the verification harness, not the production path.
    */
  def bloomSemiAudit(build: DataFrame, probe: DataFrame, key: String,
      bitsPerKey: Int = 8, kHash: Int = 3): DataFrame = {
    require(bitsPerKey >= 1 && kHash >= 1, s"bad bloom params: $bitsPerKey/$kHash")
    // localCheckpoint, not .cache(): see kmvJoinOverlap — keysA is read
    // three times (bit set, key audit, row audit) but must not pin a
    // session-lifetime cache entry per planning call
    val keysA = build.select(h48(col(key)).as("hk")).distinct().localCheckpoint()
    // greatest(..., 1): an empty build side gives m = 0, and `h % 0` is
    // NULL in Spark but an error in DuckDB — the engines would diverge.
    // With m = 1 the bit set is empty either way, so nothing passes.
    val m = keysA.agg(greatest(count(lit(1)) * bitsPerKey, lit(1L)).as("m"))
    def positions(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(m))
        .select(col("hk"), explode(sequence(lit(0), lit(kHash - 1))).as("i"), col("m"))
        .select(col("hk"),
          (h48(concat(col("hk").cast("string"), lit(":"), col("i").cast("string")))
            % col("m")).as("pos"))
    val bits = positions(keysA).select("pos").distinct()
    val keysB = probe.select(h48(col(key)).as("hk")).distinct()
    val passKeys = positions(keysB)
      .join(bits.withColumn("hit", lit(1)), Seq("pos"), "left")
      .groupBy("hk")
      .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("hits"))
      .filter(col("hits") === kHash)
      .select("hk")
    val probeKeyed = probe.select(h48(col(key)).as("hk"))
    val trueKeys = keysB.join(keysA.withColumn("in_a", lit(1)), Seq("hk"), "left")
    val keyStats = trueKeys
      .join(passKeys.withColumn("pass", lit(1)), Seq("hk"), "left")
      .agg(
        sum(when(col("in_a").isNull, 1L).otherwise(0L)).as("neg_keys"),
        sum(when(col("in_a").isNull && col("pass").isNotNull, 1L).otherwise(0L))
          .as("fp_keys"))
    val rowStats = probeKeyed
      .join(keysA.withColumn("in_a", lit(1)), Seq("hk"), "left")
      .join(passKeys.withColumn("pass", lit(1)), Seq("hk"), "left")
      .agg(count(lit(1)).as("n_probe_rows"),
        sum(when(col("pass").isNotNull, 1L).otherwise(0L)).as("n_pass_rows"),
        sum(when(col("in_a").isNotNull, 1L).otherwise(0L)).as("n_true_rows"))
    rowStats.crossJoin(broadcast(keyStats))
      .select(col("n_probe_rows"), col("n_pass_rows"), col("n_true_rows"),
        (col("n_pass_rows") - col("n_true_rows")).as("n_fp_rows"),
        col("neg_keys"), col("fp_keys"),
        when(col("neg_keys") === 0L, lit(null).cast("double"))
          .otherwise(col("fp_keys").cast("double") / col("neg_keys").cast("double"))
          .as("fp_key_rate"))
  }

  /** DuckDB twin of [[bloomSemiAudit]]: `buildSql`/`probeSql` each yield
    * one column `key` (stringified like the Spark side); embed after
    * `WITH` and select from `bloom_audit`.
    */
  def bloomSemiAuditSql(buildSql: String, probeSql: String,
      bitsPerKey: Int = 8, kHash: Int = 3): String =
    s"""bl_a AS (
       |  SELECT DISTINCT ('0x' || substring(md5(key), 1, 12))::BIGINT AS hk
       |  FROM ($buildSql) ba),
       |bl_m AS (SELECT GREATEST(COUNT(*) * $bitsPerKey, 1) AS m FROM bl_a),
       |bl_bits AS (
       |  SELECT DISTINCT ('0x' || substring(md5(CAST(hk AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 12))::BIGINT % m AS pos
       |  FROM bl_a, bl_m, (SELECT unnest(generate_series(0, ${kHash - 1})) AS i) s),
       |bl_probe_rows AS (
       |  SELECT ('0x' || substring(md5(key), 1, 12))::BIGINT AS hk
       |  FROM ($probeSql) bp),
       |bl_b AS (SELECT DISTINCT hk FROM bl_probe_rows),
       |bl_pass AS (
       |  SELECT hk FROM (
       |    SELECT b.hk,
       |           SUM(CASE WHEN ('0x' || substring(md5(CAST(b.hk AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)), 1, 12))::BIGINT % m
       |                    IN (SELECT pos FROM bl_bits) THEN 1 ELSE 0 END) AS hits
       |    FROM bl_b b, bl_m, (SELECT unnest(generate_series(0, ${kHash - 1})) AS i) s
       |    GROUP BY b.hk) t
       |  WHERE hits = $kHash),
       |bl_keystats AS (
       |  SELECT SUM(CASE WHEN a.hk IS NULL THEN 1 ELSE 0 END) AS neg_keys,
       |         SUM(CASE WHEN a.hk IS NULL AND p.hk IS NOT NULL THEN 1 ELSE 0 END) AS fp_keys
       |  FROM bl_b b
       |  LEFT JOIN bl_a a ON a.hk = b.hk
       |  LEFT JOIN bl_pass p ON p.hk = b.hk),
       |bl_rowstats AS (
       |  SELECT COUNT(*) AS n_probe_rows,
       |         SUM(CASE WHEN p.hk IS NOT NULL THEN 1 ELSE 0 END) AS n_pass_rows,
       |         SUM(CASE WHEN a.hk IS NOT NULL THEN 1 ELSE 0 END) AS n_true_rows
       |  FROM bl_probe_rows r
       |  LEFT JOIN bl_a a ON a.hk = r.hk
       |  LEFT JOIN bl_pass p ON p.hk = r.hk),
       |bloom_audit AS (
       |  SELECT CAST(r.n_probe_rows AS BIGINT) AS n_probe_rows,
       |         CAST(r.n_pass_rows AS BIGINT) AS n_pass_rows,
       |         CAST(r.n_true_rows AS BIGINT) AS n_true_rows,
       |         CAST(r.n_pass_rows - r.n_true_rows AS BIGINT) AS n_fp_rows,
       |         CAST(k.neg_keys AS BIGINT) AS neg_keys,
       |         CAST(k.fp_keys AS BIGINT) AS fp_keys,
       |         CASE WHEN k.neg_keys = 0 THEN NULL
       |              ELSE CAST(k.fp_keys AS DOUBLE) / CAST(k.neg_keys AS DOUBLE) END
       |           AS fp_key_rate
       |  FROM bl_rowstats r, bl_keystats k)""".stripMargin

  /** The `shuffle_bloom` verdict EXECUTED — the one advised strategy
    * neither q212 nor q220 actually ran as advised (both fall back to
    * sort-merge above the broadcast threshold): a selective dimension
    * (the 10%-of-orderkeys subset a dashboard join would use) is sized
    * by the [[joinAdvisor]] byte model into the bloom belt, a Bloom
    * filter over its keys then prunes the FACT before the join shuffle
    * (the q157 position-set model of the bitset a deployment would
    * broadcast — Spark's AQE injects exactly this via
    * `runtime.bloomFilter.enabled`), and the pruned fact joins the dim.
    * The audit row: the advised label, fact rows before/after the
    * filter, joined rows + cent-exact total, and the false-positive
    * rows the filter let through for the join to discard. The oracle
    * computes the totals from the PLAIN unfiltered join — equality is
    * the no-false-negatives proof, closing the q157→q163 loop
    * (audit → verdict → executed pruned plan → result equality).
    *
    * Scale shape: bloom build is one distinct + kHash position rows per
    * dim key (bitsPerKey·|dim| bits of real state); the fact is pruned
    * by a key-level semi-join BEFORE carrying its payload into the dim
    * join — at 100 TB that is the shuffle the bloom exists to shrink;
    * the decision frame is 1 row.
    */
  def executeBloomStrategy(lineitem: DataFrame, orders: DataFrame,
      bitsPerKey: Int = 8, kHash: Int = 3,
      broadcastBytes: Long = 1L << 13): DataFrame = {
    val dim = orders.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"))
    // 1-row plan frame: the advisor's label for the dim (the q169 pattern)
    val label = joinAdvisor(Seq("orders_subset" -> dim), broadcastBytes)
      .select("strategy").head().getString(0)
    val keysA = dim.select(h48(col("o_orderkey")).as("hk")).distinct()
      .localCheckpoint() // read twice: bit set + the audit's key join
    val m = keysA.agg(greatest(count(lit(1)) * bitsPerKey, lit(1L)).as("m"))
    def positions(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(m))
        .select(col("hk"), explode(sequence(lit(0), lit(kHash - 1))).as("i"), col("m"))
        .select(col("hk"),
          (h48(concat(col("hk").cast("string"), lit(":"), col("i").cast("string")))
            % col("m")).as("pos"))
    val bits = positions(keysA).select("pos").distinct()
    val li = lineitem.select(col("l_orderkey"),
      OracleSafe.quant(col("l_extendedprice"), 100).as("cents"))
    val factKeys = li.select(h48(col("l_orderkey")).as("hk")).distinct()
    val passKeys = positions(factKeys)
      .join(bits.withColumn("hit", lit(1)), Seq("pos"), "left")
      .groupBy("hk")
      .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("hits"))
      .filter(col("hits") === kHash)
      .select("hk")
    val factKeyed = li.withColumn("hk", h48(col("l_orderkey")))
    val passed = factKeyed.join(passKeys, Seq("hk"), "left_semi")
    val joined = passed.join(dim, col("l_orderkey") === col("o_orderkey"))
    val sFact = li.agg(count(lit(1)).as("n_fact_rows"))
    val sPass = passed.agg(count(lit(1)).as("n_pass_rows"))
    val sJoin = joined.agg(count(lit(1)).as("n_join_rows"),
      sum(col("cents")).as("total_cents"))
    sFact.crossJoin(broadcast(sPass)).crossJoin(broadcast(sJoin))
      .select(lit(label).as("strategy"), col("n_fact_rows"),
        col("n_pass_rows"), col("n_join_rows"),
        (col("n_pass_rows") - col("n_join_rows")).as("n_fp_rows"),
        col("total_cents"))
  }

  /** DuckDB twin of [[executeBloomStrategy]] — totals from the PLAIN
    * unfiltered join on purpose (equality is the no-false-negatives
    * proof), pass counts from the same position-set bloom model, label
    * from the same byte model. Embed after `WITH ` and select from
    * `bloom_strategy_exec`.
    */
  def executeBloomStrategySql(bitsPerKey: Int = 8, kHash: Int = 3,
      broadcastBytes: Long = 1L << 13): String =
    s"""ebs_dim AS (
       |  SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0),
       |${joinAdvisorSql(Seq("ebs_dim" -> "8"), broadcastBytes)},
       |ebs_ka AS (
       |  SELECT DISTINCT ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT AS hk
       |  FROM ebs_dim),
       |ebs_m AS (SELECT GREATEST(COUNT(*) * $bitsPerKey, 1) AS m FROM ebs_ka),
       |ebs_bits AS (
       |  SELECT DISTINCT ('0x' || substring(md5(CAST(hk AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 12))::BIGINT % m AS pos
       |  FROM ebs_ka, ebs_m, (SELECT unnest(generate_series(0, ${kHash - 1})) AS i) s),
       |ebs_fact AS (
       |  SELECT l_orderkey, ${OracleSafe.quantSql("l_extendedprice", 100)} AS cents,
       |         ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 12))::BIGINT AS hk
       |  FROM lineitem),
       |ebs_fk AS (SELECT DISTINCT hk FROM ebs_fact),
       |ebs_pass AS (
       |  SELECT hk FROM (
       |    SELECT f.hk,
       |           SUM(CASE WHEN ('0x' || substring(md5(CAST(f.hk AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)), 1, 12))::BIGINT % m
       |                    IN (SELECT pos FROM ebs_bits) THEN 1 ELSE 0 END) AS hits
       |    FROM ebs_fk f, ebs_m, (SELECT unnest(generate_series(0, ${kHash - 1})) AS i) s
       |    GROUP BY f.hk) t
       |  WHERE hits = $kHash),
       |ebs_stats AS (
       |  SELECT COUNT(*) AS n_fact_rows,
       |         SUM(CASE WHEN p.hk IS NOT NULL THEN 1 ELSE 0 END) AS n_pass_rows
       |  FROM ebs_fact r LEFT JOIN ebs_pass p ON p.hk = r.hk),
       |ebs_join AS (
       |  SELECT COUNT(*) AS n_join_rows,
       |         CAST(SUM(${OracleSafe.quantSql("l_extendedprice", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM lineitem JOIN ebs_dim ON l_orderkey = o_orderkey),
       |bloom_strategy_exec AS (
       |  SELECT a.strategy,
       |         CAST(s.n_fact_rows AS BIGINT) AS n_fact_rows,
       |         CAST(s.n_pass_rows AS BIGINT) AS n_pass_rows,
       |         CAST(j.n_join_rows AS BIGINT) AS n_join_rows,
       |         CAST(s.n_pass_rows - j.n_join_rows AS BIGINT) AS n_fp_rows,
       |         j.total_cents
       |  FROM ebs_stats s, ebs_join j, join_advisor a)""".stripMargin

  /** DuckDB twin of [[kmvJoinOverlap]]: `sideASql`/`sideBSql` are queries
    * each yielding one column `key` (stringified identically to the Spark
    * side's `cast("string")`); embed after `WITH` and select from
    * `kmv_overlap`.
    */
  def kmvJoinOverlapSql(sideASql: String, sideBSql: String, k: Int = 256): String = {
    require(k >= 2 && (k & (k - 1)) == 0, s"k must be a power of two, got $k")
    require(k <= 32768, s"k must be <= 32768 ((k-1)*2^48 fits Long), got $k")
    val max48 = (k - 1).toLong << 48
    s"""ov_a AS (
       |  SELECT DISTINCT ('0x' || substring(md5(key), 1, 12))::BIGINT AS h
       |  FROM ($sideASql) sa),
       |ov_b AS (
       |  SELECT DISTINCT ('0x' || substring(md5(key), 1, 12))::BIGINT AS h
       |  FROM ($sideBSql) sb),
       |ov_ka AS (SELECT h FROM (
       |  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM ov_a) WHERE rk <= $k),
       |ov_kb AS (SELECT h FROM (
       |  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM ov_b) WHERE rk <= $k),
       |ov_m AS (SELECT h FROM (
       |  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk
       |  FROM (SELECT h FROM ov_ka UNION SELECT h FROM ov_kb) u) WHERE rk <= $k),
       |ov_stats AS (
       |  SELECT COUNT(*) AS n_m, MAX(h) AS h_k,
       |         SUM(CASE WHEN h IN (SELECT h FROM ov_ka)
       |                   AND h IN (SELECT h FROM ov_kb) THEN 1 ELSE 0 END) AS n_both
       |  FROM ov_m),
       |ov_exact AS (
       |  SELECT SUM(CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END) AS n_a,
       |         SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_b,
       |         SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_inter
       |  FROM ov_a a FULL JOIN ov_b b USING (h)),
       |kmv_overlap AS (
       |  SELECT CAST(e.n_a AS BIGINT) AS n_a, CAST(e.n_b AS BIGINT) AS n_b,
       |         CAST(e.n_inter AS BIGINT) AS n_inter,
       |         CASE WHEN s.n_m < $k THEN CAST(s.n_m AS DOUBLE)
       |              ELSE CAST($max48 AS DOUBLE) / CAST(s.h_k AS DOUBLE) END
       |           AS union_estimate,
       |         CASE WHEN s.n_m < $k THEN CAST(s.n_both AS DOUBLE)
       |              ELSE (CAST(s.n_both AS DOUBLE) / $k.0)
       |                   * (CAST($max48 AS DOUBLE) / CAST(s.h_k AS DOUBLE)) END
       |           AS inter_estimate,
       |         CASE WHEN e.n_inter = 0 THEN NULL
       |              ELSE ABS((CASE WHEN s.n_m < $k THEN CAST(s.n_both AS DOUBLE)
       |                        ELSE (CAST(s.n_both AS DOUBLE) / $k.0)
       |                             * (CAST($max48 AS DOUBLE) / CAST(s.h_k AS DOUBLE)) END)
       |                       - CAST(e.n_inter AS DOUBLE)) / CAST(e.n_inter AS DOUBLE) END
       |           AS rel_err
       |  FROM ov_exact e, ov_stats s)""".stripMargin
  }

  /** Shared predicate set for the zone-map audit — one definition, both
    * engines (id, half-open [lo, hi) shipdate window).
    */
  private val zonePreds: Seq[(String, String, String)] = Seq(
    ("p1996", "1996-01-01", "1997-01-01"),
    ("p1998h1", "1998-01-01", "1998-07-01"),
    ("p2001h2", "2001-06-01", "2002-01-01"))

  /** Smallest string strictly greater than every string with prefix `s`:
    * last char incremented. Used to turn the q295 PREFIX predicates into
    * half-open ranges as compile-time literals (pure Scala, embedded
    * identically in both plans — the frozen-literal discipline).
    */
  private def prefixUpper(s: String): String =
    s.init + (s.last + 1).toChar

  /** q295 predicates as half-open string ranges [plo, phi): three
    * prefixes (one matching nothing — the everything-skipped path) and
    * one explicit range straddling zones.
    */
  private val stringZonePreds: Seq[(String, String, String)] = Seq(
    ("pr_blu", "blu", prefixUpper("blu")),
    ("pr_sma", "sma", prefixUpper("sma")),
    ("pr_xyz", "xyz", prefixUpper("xyz")),
    ("rng_h_s", "hot", "small"))

  /** Zone-map (min/max statistics) pruning audit — the "should this table
    * be date-clustered?" planning measurement. Parquet/ORC row groups,
    * Delta/Iceberg file stats, and Spark's own dynamic file pruning all
    * skip a block when its [min, max] misses the predicate; how much that
    * buys depends entirely on whether the LAYOUT correlates with the
    * predicate column. This audit computes the zone maps for two layouts
    * of the same fact — `key_range` (blocks of `zoneKeys` consecutive
    * order keys: the natural insert order) and `date_cluster` (blocks by
    * ship month: what a z-order/cluster-by rewrite would produce) — and
    * reports, per canonical date predicate, how many zones and rows each
    * layout would skip. The gap between the two skip ratios is the
    * measured value of re-clustering (cf. [[ZOrder]], which performs it).
    *
    * Cost: two map-side-combinable aggregates over the fact (zone counts
    * are bounded: keys/zoneKeys and #months), a broadcast of the 3-row
    * predicate frame, and a zones×preds aggregate — nothing scales with
    * row count past the first pass. Min/max/counts are exact; the only
    * float is the final skip ratio (one division per output row).
    */
  def zoneMapAudit(lineitem: DataFrame, zoneKeys: Long = 1000L): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val rows = lineitem.select(col("l_orderkey"), col("l_shipdate"))
    def zones(tag: String, zone: Column): DataFrame =
      rows.groupBy(zone.cast("long").as("zone"))
        .agg(min(col("l_shipdate")).as("zmin"), max(col("l_shipdate")).as("zmax"),
          count(lit(1)).as("zn"))
        .select(lit(tag).as("layout"), col("zone"), col("zmin"), col("zmax"), col("zn"))
    val zmaps = zones("key_range", OracleSafe.intDiv(col("l_orderkey"), lit(zoneKeys)))
      .unionByName(zones("date_cluster",
        year(col("l_shipdate")) * 12 + month(col("l_shipdate"))))
    val preds = zonePreds.toDF("pred_id", "lo_s", "hi_s")
      .select(col("pred_id"), col("lo_s").cast("timestamp_ntz").as("lo"),
        col("hi_s").cast("timestamp_ntz").as("hi"))
    val skip = col("zmax") < col("lo") || col("zmin") >= col("hi")
    zmaps.crossJoin(broadcast(preds))
      .groupBy("layout", "pred_id")
      .agg(count(lit(1)).as("n_zones"),
        sum(when(skip, 1L).otherwise(0L)).as("zones_skipped"),
        sum(when(skip, col("zn")).otherwise(0L)).as("rows_skipped"),
        sum(col("zn")).as("n_rows"))
      .select(col("layout"), col("pred_id"), col("n_zones"), col("zones_skipped"),
        col("rows_skipped"),
        (col("rows_skipped").cast("double") / col("n_rows").cast("double"))
          .as("skip_ratio"))
      .orderBy("layout", "pred_id")
  }

  /** DuckDB twin of [[zoneMapAudit]] — identical zone derivations and
    * skip predicate.
    */
  def zoneMapAuditSql(zoneKeys: Long = 1000L): String = {
    val predRows = zonePreds.map { case (id, lo, hi) =>
      s"('$id', TIMESTAMP '$lo', TIMESTAMP '$hi')"
    }.mkString(", ")
    s"""zm_a AS (
       |  SELECT 'key_range' AS layout,
       |         ${OracleSafe.intDivSql("l_orderkey", zoneKeys.toString)} AS zone,
       |         MIN(l_shipdate) AS zmin, MAX(l_shipdate) AS zmax, COUNT(*) AS zn
       |  FROM lineitem GROUP BY 2),
       |zm_b AS (
       |  SELECT 'date_cluster' AS layout,
       |         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS zone,
       |         MIN(l_shipdate) AS zmin, MAX(l_shipdate) AS zmax, COUNT(*) AS zn
       |  FROM lineitem GROUP BY 2),
       |zm AS (SELECT * FROM zm_a UNION ALL SELECT * FROM zm_b),
       |zm_p(pred_id, lo, hi) AS (VALUES $predRows),
       |zone_map_audit AS (
       |  SELECT layout, pred_id, COUNT(*) AS n_zones,
       |         CAST(SUM(CASE WHEN zmax < lo OR zmin >= hi THEN 1 ELSE 0 END)
       |           AS BIGINT) AS zones_skipped,
       |         CAST(SUM(CASE WHEN zmax < lo OR zmin >= hi THEN zn ELSE 0 END)
       |           AS BIGINT) AS rows_skipped,
       |         CAST(SUM(CASE WHEN zmax < lo OR zmin >= hi THEN zn ELSE 0 END)
       |           AS DOUBLE) / CAST(SUM(zn) AS DOUBLE) AS skip_ratio
       |  FROM zm, zm_p GROUP BY 1, 2)""".stripMargin
  }

  /** The q185 zone maps CONSUMED — storage pruning executed, not just
    * audited: the fact is WRITTEN in the `date_cluster` layout the zone
    * audit measured as prunable (one partition dir per ship-month), the
    * zone map (per-zone min/max/count) is computed from the files on
    * disk, and each canonical predicate then scans ONLY the surviving
    * zones — a partition-pruned read whose `zone IN (...)` filter Spark
    * resolves at file-listing time, so skipped months are never opened.
    * Per predicate: total/scanned/skipped zone counts, the rows the
    * pruned scan reads, and the predicate's count + cent-exact total
    * computed FROM the pruned scan. The oracle computes the same totals
    * from a plain full-table filter, so the hash match is the proof that
    * skipping zones lost nothing (the q208/q209 consumed-plan pattern
    * applied to storage). A predicate missing every zone takes the
    * everything-skipped path — zero zones scanned, zero rows, NULL
    * total — which PlanningSpec pins (the canonical predicates all land
    * inside the synthetic data's date range).
    *
    * Scale shape: the zone map is ≤ #months rows (localCheckpoint'd,
    * read once per predicate); the surviving-zone id list is a bounded
    * plan frame (collected like [[executeSkewPlan]]'s decision); each
    * pruned scan reads only the listed partition dirs — at 100 TB that
    * is the difference between scanning a month and scanning the lake,
    * and it composes with the parquet row-group min/max pruning inside
    * each surviving file.
    */
  def zonePrunedScan(lineitem: DataFrame, outDir: String): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val zone = (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
      .cast("long")
    lineitem.select(col("l_shipdate"),
        OracleSafe.quant(col("l_extendedprice"), 100).as("cents"),
        zone.as("zone"))
      .repartition(col("zone")) // hash — see buildBloomIndex: same dirs, one less pass
      .write.mode("overwrite").partitionBy("zone").parquet(outDir)
    val zm = spark.read.parquet(outDir)
      .select(col("l_shipdate"), col("zone").cast("long").as("zone"))
      .groupBy("zone")
      .agg(min("l_shipdate").as("zmin"), max("l_shipdate").as("zmax"),
        count(lit(1)).as("zn"))
      .localCheckpoint() // the zone map: <= #months rows, read per predicate
    val runs = zonePreds.map { case (id, loS, hiS) =>
      val lo = lit(loS).cast("timestamp_ntz")
      val hi = lit(hiS).cast("timestamp_ntz")
      val skip = col("zmax") < lo || col("zmin") >= hi
      val audit = zm.agg(count(lit(1)).as("n_zones"),
        sum(when(skip, 1L).otherwise(0L)).as("zones_skipped"),
        coalesce(sum(when(!skip, col("zn"))), lit(0L)).as("rows_read"))
      // bounded plan frame: the surviving month ids, like executeSkewPlan's
      val surviving = zm.filter(!skip).select("zone").as[Long].collect()
      val zoneFilter =
        if (surviving.isEmpty) lit(false)
        else col("zone").isin(surviving.toIndexedSeq.map(Long.box): _*)
      val res = spark.read.parquet(outDir)
        .filter(zoneFilter) // partition filter -> skipped dirs never open
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      broadcast(Seq(id).toDF("pred_id"))
        .crossJoin(broadcast(audit))
        .crossJoin(res)
        .select(col("pred_id"), col("n_zones"),
          (col("n_zones") - col("zones_skipped")).as("zones_scanned"),
          col("zones_skipped"), col("rows_read"), col("n_rows"),
          col("total_cents"))
    }
    runs.reduce(_ unionByName _).orderBy("pred_id")
  }

  /** DuckDB twin of [[zonePrunedScan]] — zone counts from the same zone
    * model, totals from a PLAIN full-table filter on purpose: equality
    * with the engine's pruned-scan totals is the proof pruning lost
    * nothing. Embed after `WITH ` and select from `zone_pruned_scan`.
    */
  def zonePrunedScanSql(): String = {
    val predRows = zonePreds.map { case (id, lo, hi) =>
      s"('$id', TIMESTAMP '$lo', TIMESTAMP '$hi')"
    }.mkString(", ")
    s"""zps_rows AS (
       |  SELECT l_shipdate,
       |         ${OracleSafe.quantSql("l_extendedprice", 100)} AS cents,
       |         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS zone
       |  FROM lineitem),
       |zps_zm AS (
       |  SELECT zone, MIN(l_shipdate) AS zmin, MAX(l_shipdate) AS zmax,
       |         COUNT(*) AS zn
       |  FROM zps_rows GROUP BY 1),
       |zps_p(pred_id, lo, hi) AS (VALUES $predRows),
       |zps_audit AS (
       |  SELECT pred_id, COUNT(*) AS n_zones,
       |         CAST(SUM(CASE WHEN zmax < lo OR zmin >= hi THEN 1 ELSE 0 END)
       |           AS BIGINT) AS zones_skipped,
       |         CAST(COALESCE(SUM(CASE WHEN NOT (zmax < lo OR zmin >= hi)
       |                                THEN zn END), 0) AS BIGINT) AS rows_read
       |  FROM zps_zm, zps_p GROUP BY 1),
       |zps_res AS (
       |  SELECT p.pred_id, COUNT(r.l_shipdate) AS n_rows,
       |         CAST(SUM(r.cents) AS BIGINT) AS total_cents
       |  FROM zps_p p LEFT JOIN zps_rows r
       |    ON r.l_shipdate >= p.lo AND r.l_shipdate < p.hi
       |  GROUP BY 1),
       |zone_pruned_scan AS (
       |  SELECT a.pred_id, a.n_zones,
       |         a.n_zones - a.zones_skipped AS zones_scanned,
       |         a.zones_skipped, a.rows_read, e.n_rows, e.total_cents
       |  FROM zps_audit a JOIN zps_res e USING (pred_id))""".stripMargin
  }

  /** q295 — STRING zone maps with TRUNCATED bounds (Iceberg's
    * `truncate[w]` transform): the q217 skipping story on a string key,
    * where storing full min/max per zone is what metadata budgets at
    * 100 TB can't afford — a 4-byte truncation replaces arbitrary-width
    * strings. Truncation makes the bounds CONSERVATIVE, which is the
    * subtle half: `substr(min, 1, w)` is a valid lower bound (a prefix
    * sorts ≤ its extension) but `substr(max, 1, w)` is NOT an upper
    * bound — a zone string extending the truncated max can exceed it.
    * The textbook fix increments the truncation's last character
    * (Iceberg's `incrementUtf8`), but a CODE-POINT increment is not
    * expressible identically in both engines (Spark's `chr` wraps at
    * 256, so a multi-byte last char — the reference's Vietnamese
    * NVARCHAR domain, `schema.sql:20-25` — would corrupt the bound).
    * So the stored upper stays the plain truncated max `tmax`, and the
    * skip test carries the increment's semantics instead:
    * skip-left iff `tmax < plo AND tmax is not a prefix of plo` —
    * provably equivalent to `increment(tmax) ≤ plo` wherever the
    * increment is defined, and pure lexicographic string comparison,
    * safe for ANY Unicode content (UTF-8 byte order = code-point
    * order). Prefix predicates become half-open ranges via
    * [[prefixUpper]] (proper code-point increment in Scala, frozen as
    * literals in both plans); skip-right stays `zlo ≥ phi`. One
    * predicate matches nothing — the every-zone-skipped path q217 pins
    * for dates, re-pinned here for strings.
    *
    * Per predicate: zone counts, then the count + cent total from the
    * PRUNED scan (surviving zone dirs only); the oracle computes totals
    * from a plain filter and the audit from the same truncated-bound
    * model — equality proves truncation never skipped a matching zone.
    *
    * Scale: the zone map is ≤ |alphabet| rows of FIXED-WIDTH bounds;
    * pruning is a bounded broadcast decision; each serve opens only
    * surviving dirs. `PlanningSpec` pins the truncation edge (strings
    * sharing a w-prefix must not be skipped by a prefix predicate on
    * that boundary).
    */
  def stringZoneSkipping(part: DataFrame, outDir: String,
      width: Int = 4): DataFrame = {
    require(width >= 2, s"truncation width must be >= 2, got $width")
    val spark = part.sparkSession
    import spark.implicits._
    part.select(col("p_name"),
        OracleSafe.quant(col("p_retailprice"), 100).as("cents"),
        ascii(substring(col("p_name"), 1, 1)).cast("long").as("zone"))
      .repartition(col("zone")) // hash — see buildBloomIndex: same dirs, one less pass
      .write.mode("overwrite").partitionBy("zone").parquet(outDir)
    val zm = spark.read.parquet(outDir)
      .select(col("p_name"), col("zone").cast("long").as("zone"))
      .groupBy("zone")
      .agg(min("p_name").as("zmin"), max("p_name").as("zmax"),
        count(lit(1)).as("zn"))
      .withColumn("zlo", substring(col("zmin"), 1, width))
      .withColumn("tmax", substring(col("zmax"), 1, width))
      .select("zone", "zn", "zlo", "tmax")
      .localCheckpoint() // the zone map: <= |alphabet| fixed-width rows
    val runs = stringZonePreds.map { case (id, ploS, phiS) =>
      val (plo, phi) = (lit(ploS), lit(phiS))
      val skip = (col("tmax") < plo &&
        plo.substr(lit(1), length(col("tmax"))) =!= col("tmax")) ||
        col("zlo") >= phi
      val audit = zm.agg(count(lit(1)).as("n_zones"),
        sum(when(skip, 1L).otherwise(0L)).as("zones_skipped"))
      val surviving = zm.filter(!skip).select("zone").as[Long].collect()
      val zoneFilter =
        if (surviving.isEmpty) lit(false)
        else col("zone").isin(surviving.toIndexedSeq.map(Long.box): _*)
      val res = spark.read.parquet(outDir)
        .filter(zoneFilter) // partition filter -> skipped dirs never open
        .filter(col("p_name") >= plo && col("p_name") < phi)
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      broadcast(Seq(id).toDF("pred_id"))
        .crossJoin(broadcast(audit))
        .crossJoin(res)
        .select(col("pred_id"), col("n_zones"),
          (col("n_zones") - col("zones_skipped")).as("zones_scanned"),
          col("zones_skipped"), col("n_rows"), col("total_cents"))
    }
    runs.reduce(_ unionByName _).orderBy("pred_id")
  }

  /** DuckDB twin of [[stringZoneSkipping]] — the same first-char zone
    * model and truncated-bound arithmetic for the audit, totals from a
    * plain filter. Embed after `WITH ` and select from
    * `string_zone_skip`.
    */
  def stringZoneSkippingSql(width: Int = 4): String = {
    val predRows = stringZonePreds.map { case (id, lo, hi) =>
      s"('$id', '$lo', '$hi')"
    }.mkString(", ")
    s"""szs_rows AS (
       |  SELECT p_name,
       |         ${OracleSafe.quantSql("p_retailprice", 100)} AS cents
       |  FROM part),
       |szs_zm AS (
       |  SELECT CAST(ascii(substr(p_name, 1, 1)) AS BIGINT) AS zone,
       |         MIN(p_name) AS zmin, MAX(p_name) AS zmax, COUNT(*) AS zn
       |  FROM szs_rows GROUP BY 1),
       |szs_b AS (
       |  SELECT zone, zn, substr(zmin, 1, $width) AS zlo,
       |         substr(zmax, 1, $width) AS tmax
       |  FROM szs_zm),
       |szs_p(pred_id, plo, phi) AS (VALUES $predRows),
       |szs_audit AS (
       |  SELECT pred_id, COUNT(*) AS n_zones,
       |         CAST(SUM(CASE WHEN (tmax < plo
       |                             AND substr(plo, 1, length(tmax)) <> tmax)
       |                          OR zlo >= phi THEN 1 ELSE 0
       |           END) AS BIGINT) AS zones_skipped
       |  FROM szs_b, szs_p GROUP BY 1),
       |szs_res AS (
       |  SELECT p.pred_id, COUNT(r.p_name) AS n_rows,
       |         CAST(SUM(r.cents) AS BIGINT) AS total_cents
       |  FROM szs_p p LEFT JOIN szs_rows r
       |    ON r.p_name >= p.plo AND r.p_name < p.phi
       |  GROUP BY 1),
       |string_zone_skip AS (
       |  SELECT a.pred_id, a.n_zones,
       |         a.n_zones - a.zones_skipped AS zones_scanned,
       |         a.zones_skipped, x.n_rows, x.total_cents
       |  FROM szs_audit a JOIN szs_res x USING (pred_id))""".stripMargin
  }

  /** q297 — INCREMENTAL maintenance of the q295 string zone map, joining
    * the maintenance family (q240 postings, q243 IVF cells, q245 Bloom
    * bits, q268 numeric zones): the truncated-bound artifact persists,
    * an append-only delta aggregates ALONE, and the merge is
    * `least(zlo)` / `greatest(tmax)` / summed counts through one outer
    * join — base files never rescanned. Why this exists separately
    * from q268: truncated STRING bounds are where merge-vs-rebuild
    * subtleties live. The original incremented-upper representation
    * was NOT canonical under merge (incrementing a prefix-of-a-prefix
    * overshoots the rebuild when a zone's max is shorter than the
    * width); the q295 prefix-test representation stores the plain
    * truncated max instead, and THAT merges canonically — truncation
    * is monotone, so `greatest(trunc(a), trunc(b)) = trunc(max(a, b))`
    * and the merged artifact equals the rebuilt one exactly (pinned in
    * `PlanningSpec`). The oracle still mirrors the two-batch merge
    * arithmetic for the audit columns, and the serve columns are
    * checked against a PLAIN filter — proving the merged bounds never
    * skip a matching zone.
    *
    * Output per q295 predicate: zone counts from the merged artifact
    * and the count + cent total from the pruned scan over the full
    * (base + delta) data. Scale: the maintenance costs O(delta) + an
    * |alphabet|-row join; the serve is the q295 dir-pruned read.
    */
  def incrementalStringZoneMap(part: DataFrame, outDir: String,
      width: Int = 4, deltaMod: Int = 5): DataFrame = {
    require(width >= 2 && deltaMod >= 2, s"bad grid: $width/$deltaMod")
    val spark = part.sparkSession
    import spark.implicits._
    val slim = part.select(
      ascii(substring(col("p_name"), 1, 1)).cast("long").as("zone"),
      col("p_name"), col("p_partkey"),
      OracleSafe.quant(col("p_retailprice"), 100).as("cents"))
    val inDelta = col("p_partkey") % lit(deltaMod.toLong) === 0L
    def bounds(df: DataFrame): DataFrame = df.groupBy("zone")
      .agg(min("p_name").as("mn"), max("p_name").as("mx"),
        count(lit(1)).as("zn"))
      .withColumn("zlo", substring(col("mn"), 1, width))
      .withColumn("tmax", substring(col("mx"), 1, width))
      .select("zone", "zlo", "tmax", "zn")
    bounds(slim.filter(!inDelta))
      .write.mode("overwrite").parquet(s"$outDir/szm")
    // the full data lands zone-partitioned once (base + delta files);
    // the serve below prunes its dirs with the MERGED bounds
    slim.repartition(col("zone")) // hash — see buildBloomIndex
      .write.mode("overwrite").partitionBy("zone").parquet(s"$outDir/data")
    // the maintenance: delta-only aggregate + one |alphabet|-row merge
    val deltaB = bounds(slim.filter(inDelta))
      .select(col("zone"), col("zlo").as("dlo"), col("tmax").as("dt"),
        col("zn").as("dn"))
    val merged = spark.read.parquet(s"$outDir/szm")
      .join(deltaB, Seq("zone"), "full_outer")
      .select(col("zone"),
        when(col("zlo").isNull, col("dlo"))
          .when(col("dlo").isNull, col("zlo"))
          .otherwise(least(col("zlo"), col("dlo"))).as("zlo"),
        when(col("tmax").isNull, col("dt"))
          .when(col("dt").isNull, col("tmax"))
          .otherwise(greatest(col("tmax"), col("dt"))).as("tmax"),
        (coalesce(col("zn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("zn"))
      .localCheckpoint()
    val runs = stringZonePreds.map { case (id, ploS, phiS) =>
      val (plo, phi) = (lit(ploS), lit(phiS))
      val skip = (col("tmax") < plo &&
        plo.substr(lit(1), length(col("tmax"))) =!= col("tmax")) ||
        col("zlo") >= phi
      val audit = merged.agg(count(lit(1)).as("n_zones"),
        sum(when(skip, 1L).otherwise(0L)).as("zones_skipped"))
      val surviving = merged.filter(!skip).select("zone").as[Long].collect()
      val zoneFilter =
        if (surviving.isEmpty) lit(false)
        else col("zone").isin(surviving.toIndexedSeq.map(Long.box): _*)
      val res = spark.read.parquet(s"$outDir/data")
        .filter(zoneFilter)
        .filter(col("p_name") >= plo && col("p_name") < phi)
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      broadcast(Seq(id).toDF("pred_id"))
        .crossJoin(broadcast(audit))
        .crossJoin(res)
        .select(col("pred_id"), col("n_zones"),
          (col("n_zones") - col("zones_skipped")).as("zones_scanned"),
          col("zones_skipped"), col("n_rows"), col("total_cents"))
    }
    runs.reduce(_ unionByName _).orderBy("pred_id")
  }

  /** DuckDB twin of [[incrementalStringZoneMap]] — the identical
    * two-batch truncated-bound merge for the audit, plain-filter
    * totals for the serve. Embed after `WITH ` and select from
    * `inc_string_zones`.
    */
  def incrementalStringZoneMapSql(width: Int = 4,
      deltaMod: Int = 5): String = {
    val predRows = stringZonePreds.map { case (id, lo, hi) =>
      s"('$id', '$lo', '$hi')"
    }.mkString(", ")
    def boundsSql(name: String, filt: String) =
      s"""$name AS (
         |  SELECT zone, substr(mn, 1, $width) AS zlo,
         |         substr(mx, 1, $width) AS tmax, zn
         |  FROM (SELECT zone, MIN(p_name) AS mn, MAX(p_name) AS mx,
         |               COUNT(*) AS zn
         |        FROM iszm_rows WHERE $filt GROUP BY 1))""".stripMargin
    s"""iszm_rows AS (
       |  SELECT CAST(ascii(substr(p_name, 1, 1)) AS BIGINT) AS zone,
       |         p_name, p_partkey,
       |         ${OracleSafe.quantSql("p_retailprice", 100)} AS cents
       |  FROM part),
       |${boundsSql("iszm_base", s"p_partkey % $deltaMod <> 0")},
       |${boundsSql("iszm_delta", s"p_partkey % $deltaMod = 0")},
       |iszm_merged AS (
       |  SELECT zone,
       |         CASE WHEN b.zlo IS NULL THEN d.zlo
       |              WHEN d.zlo IS NULL THEN b.zlo
       |              ELSE LEAST(b.zlo, d.zlo) END AS zlo,
       |         CASE WHEN b.tmax IS NULL THEN d.tmax
       |              WHEN d.tmax IS NULL THEN b.tmax
       |              ELSE GREATEST(b.tmax, d.tmax) END AS tmax
       |  FROM iszm_base b FULL OUTER JOIN iszm_delta d USING (zone)),
       |iszm_p(pred_id, plo, phi) AS (VALUES $predRows),
       |iszm_audit AS (
       |  SELECT pred_id, COUNT(*) AS n_zones,
       |         CAST(SUM(CASE WHEN (tmax < plo
       |                             AND substr(plo, 1, length(tmax)) <> tmax)
       |                          OR zlo >= phi THEN 1 ELSE 0
       |           END) AS BIGINT) AS zones_skipped
       |  FROM iszm_merged, iszm_p GROUP BY 1),
       |iszm_res AS (
       |  SELECT p.pred_id, COUNT(r.p_name) AS n_rows,
       |         CAST(SUM(r.cents) AS BIGINT) AS total_cents
       |  FROM iszm_p p LEFT JOIN iszm_rows r
       |    ON r.p_name >= p.plo AND r.p_name < p.phi
       |  GROUP BY 1),
       |inc_string_zones AS (
       |  SELECT a.pred_id, a.n_zones,
       |         a.n_zones - a.zones_skipped AS zones_scanned,
       |         a.zones_skipped, x.n_rows, x.total_cents
       |  FROM iszm_audit a JOIN iszm_res x USING (pred_id))""".stripMargin
  }

  /** Range sharding driven by the QUANTILE SKETCH instead of the exact
    * histogram — the sketch-statistics story (q216/q219/q220) applied to
    * PHYSICAL layout, and the exact mirror of what `repartitionByRange`
    * itself does at scale (sample, estimate bounds, route): bucket
    * bounds come from `percentile_approx` (Spark's GK-style mergeable
    * quantile sketch at the given `accuracy`), every row routes against
    * the broadcast (B−1)-bound frame, and the audit verifies the
    * CONTRACT: every bucket EXISTS (an empty shard is a 100%-deviant
    * one — bounds collapsing onto a repeated value produce exactly
    * this, and a grouped-depth frame would otherwise silently omit
    * it), and each bucket's depth sits within `tolNum/tolDen` of the
    * ideal N/B (the deviation compare runs in exact integers:
    * |depth·B − N|·tolDen ≤ tolNum·N). The routing itself is a total
    * function (bucket = #bounds below the value), so "every row lands
    * in exactly one bucket" holds by construction and is deliberately
    * NOT presented as an earned verdict.
    *
    * Cross-engine note (the q90 percentile-contract pattern): the sketch
    * bounds and per-bucket depths are ENGINE-SPECIFIC, so they never
    * cross the oracle boundary — what crosses is the exact row count
    * and the contract verdicts, which the oracle pins as the claim the
    * engine must earn. PlanningSpec shows the audit is not vacuous: a
    * point-mass distribution fails the balance contract.
    *
    * Scale shape: one sketch aggregate (mergeable partials, constant
    * state per partition), one value-grid aggregate, a grid × (B−1)
    * broadcast comparison, and a B-row rollup — no shuffle ever carries
    * row payloads.
    */
  def sketchRangeShards(lineitem: DataFrame, buckets: Int = 8,
      accuracy: Int = 10000, tolNum: Long = 1, tolDen: Long = 20): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    require(tolNum >= 0 && tolDen >= 1, s"bad tolerance $tolNum/$tolDen")
    val c = lineitem.select(
      OracleSafe.quant(col("l_extendedprice"), 100).as("cents"))
    val qs = (1 until buckets).map(i => s"${i.toDouble / buckets}D")
    val boundsFrame = c.agg(expr(
        s"percentile_approx(cents, array(${qs.mkString(",")}), $accuracy)")
      .as("bs")).select(explode(col("bs")).as("b"))
    val grid = c.groupBy("cents").agg(count(lit(1)).as("w"))
    val depths = grid.crossJoin(broadcast(boundsFrame))
      .groupBy("cents", "w")
      .agg(sum(when(col("b") < col("cents"), 1L).otherwise(0L)).as("bucket"))
      .groupBy("bucket").agg(sum("w").as("depth"))
    val tot = c.agg(count(lit(1)).as("n_total"))
    depths.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_buckets_used"), max("n_total").as("n_total"),
        sum(when(abs(col("depth") * buckets - col("n_total")) * tolDen
          > lit(tolNum) * col("n_total"), 1L).otherwise(0L)).as("n_out_of_tol"))
      .select(lit(buckets).as("n_buckets"), col("n_total"),
        // a grouped-depth frame has no row for an empty bucket, so the
        // deviation sum alone would miss 100%-deviant EMPTY shards once
        // B > tolDen/tolNum stops the pigeonhole from forcing a
        // neighbor out of tolerance — require all B buckets to exist
        (col("n_out_of_tol") === 0L &&
          col("n_buckets_used") === buckets).as("all_within_tol"))
  }

  /** DuckDB twin of [[sketchRangeShards]] — the q90 contract form: the
    * oracle pins the exact total and the verdicts the engine's sketch
    * must earn. Embed after `WITH ` and select from
    * `sketch_range_shards`.
    */
  def sketchRangeShardsSql(buckets: Int = 8): String =
    s"""sketch_range_shards AS (
       |  SELECT $buckets AS n_buckets, COUNT(*) AS n_total,
       |         TRUE AS all_within_tol
       |  FROM lineitem)""".stripMargin

  /** Join-order enumeration for the customer–orders–lineitem chain, with
    * the estimates CALIBRATED against exact truth. For each cross-
    * product-free left-deep order, the System-R equi-join estimate
    * |A⋈B| = |A|·|B| / max(d_A(k), d_B(k)) (Selinger 1979) of the FIRST
    * join's cardinality — the quantity that separates good orders from
    * bad — next to its exact value (Σ_k cnt_A(k)·cnt_B(k), a per-key
    * count join that never materializes the join itself), and the
    * q-error max(est/act, act/est) the optimizer literature grades
    * estimators by. All counts are one map-side-combinable aggregate per
    * table; the plan frame is 4 literal rows; the ESTIMATES run in
    * doubles at every scale — |A|·|B| products overflow BIGINT at the
    * row counts a 100 TB table carries (~1e9 × 1e10), and an estimate
    * needs magnitude, not exactness (each double op is IEEE-exact in
    * both engines, so the oracle twin still hash-matches) — while the
    * ACTUALS stay exact BIGINT counts. `rk` = 1 marks the advisor's
    * pick (smallest first-join intermediate, ties by name).
    */
  def joinOrderAdvisor(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    import spark.implicits._
    val cStats = customer.agg(count(lit(1)).as("nc"),
      countDistinct(col("c_custkey")).as("dc"))
    val oStats = orders.agg(count(lit(1)).as("no"),
      countDistinct(col("o_custkey")).as("dok"),
      countDistinct(col("o_orderkey")).as("doo"))
    val lStats = lineitem.agg(count(lit(1)).as("nl"),
      countDistinct(col("l_orderkey")).as("dlo"))
    def actual(a: DataFrame, ka: String, b: DataFrame, kb: String, out: String) =
      a.groupBy(col(ka).as("k")).agg(count(lit(1)).as("ca"))
        .join(b.groupBy(col(kb).as("k")).agg(count(lit(1)).as("cb")), Seq("k"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as(out))
    val actCO = actual(customer, "c_custkey", orders, "o_custkey", "act_co")
    val actOL = actual(orders, "o_orderkey", lineitem, "l_orderkey", "act_ol")
    val stats = cStats.crossJoin(broadcast(oStats)).crossJoin(broadcast(lStats))
      .crossJoin(broadcast(actCO)).crossJoin(broadcast(actOL))
    val orderings = Seq(
      ("customer*orders*lineitem", "co"),
      ("orders*customer*lineitem", "co"),
      ("orders*lineitem*customer", "ol"),
      ("lineitem*orders*customer", "ol")).toDF("join_order", "first_pair")
    val estCO = col("nc").cast("double") * col("no").cast("double") /
      greatest(col("dc"), col("dok")).cast("double")
    val estOL = col("no").cast("double") * col("nl").cast("double") /
      greatest(col("doo"), col("dlo")).cast("double")
    val firstEst = when(col("first_pair") === "co", estCO).otherwise(estOL)
    val firstAct = when(col("first_pair") === "co", col("act_co"))
      .otherwise(col("act_ol"))
    val finalEst = when(col("first_pair") === "co",
        estCO * col("nl").cast("double") /
          greatest(col("doo"), col("dlo")).cast("double"))
      .otherwise(
        estOL * col("nc").cast("double") /
          greatest(col("dc"), col("dok")).cast("double"))
    val e = greatest(firstEst, lit(1.0))
    val a = greatest(firstAct, lit(1L)).cast("double")
    val ranked = broadcast(orderings).crossJoin(stats)
      .select(col("join_order"),
        firstEst.as("first_join_est"), firstAct.as("first_join_actual"),
        greatest(e / a, a / e).as("q_error"),
        finalEst.as("final_est"))
    import org.apache.spark.sql.expressions.Window
    // 4-row frame: the single-partition ranking window is trivially safe
    ranked.withColumn("rk", row_number().over(
        Window.orderBy(col("first_join_est"), col("join_order"))))
      .orderBy("rk")
  }

  /** DuckDB twin of [[joinOrderAdvisor]]; embed after `WITH ` and select
    * from `join_order_advisor`.
    */
  def joinOrderAdvisorSql(): String = {
    val estCO =
      "CAST(nc AS DOUBLE) * CAST(no_ AS DOUBLE) / CAST(GREATEST(dc, dok) AS DOUBLE)"
    val estOL =
      "CAST(no_ AS DOUBLE) * CAST(nl AS DOUBLE) / CAST(GREATEST(doo, dlo) AS DOUBLE)"
    s"""joa_c AS (SELECT COUNT(*) AS nc, COUNT(DISTINCT c_custkey) AS dc
       |          FROM customer),
       |joa_o AS (SELECT COUNT(*) AS no_, COUNT(DISTINCT o_custkey) AS dok,
       |                 COUNT(DISTINCT o_orderkey) AS doo
       |          FROM orders),
       |joa_l AS (SELECT COUNT(*) AS nl, COUNT(DISTINCT l_orderkey) AS dlo
       |          FROM lineitem),
       |joa_aco AS (
       |  SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS act_co
       |  FROM (SELECT c_custkey AS k, COUNT(*) AS ca FROM customer GROUP BY 1) a
       |  JOIN (SELECT o_custkey AS k, COUNT(*) AS cb FROM orders GROUP BY 1) b
       |    USING (k)),
       |joa_aol AS (
       |  SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS act_ol
       |  FROM (SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1) a
       |  JOIN (SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem GROUP BY 1) b
       |    USING (k)),
       |joa_ord AS (SELECT * FROM (VALUES
       |  ('customer*orders*lineitem', 'co'),
       |  ('orders*customer*lineitem', 'co'),
       |  ('orders*lineitem*customer', 'ol'),
       |  ('lineitem*orders*customer', 'ol')) AS v(join_order, first_pair)),
       |joa_est AS (
       |  SELECT join_order,
       |         CASE WHEN first_pair = 'co' THEN $estCO
       |              ELSE $estOL END AS first_join_est,
       |         CAST(CASE WHEN first_pair = 'co' THEN act_co
       |                   ELSE act_ol END AS BIGINT) AS first_join_actual,
       |         CASE WHEN first_pair = 'co'
       |              THEN ($estCO) * CAST(nl AS DOUBLE)
       |                   / CAST(GREATEST(doo, dlo) AS DOUBLE)
       |              ELSE ($estOL) * CAST(nc AS DOUBLE)
       |                   / CAST(GREATEST(dc, dok) AS DOUBLE)
       |              END AS final_est
       |  FROM joa_ord, joa_c, joa_o, joa_l, joa_aco, joa_aol),
       |join_order_advisor AS (
       |  SELECT join_order, first_join_est, first_join_actual,
       |         GREATEST(
       |           GREATEST(first_join_est, 1.0)
       |             / CAST(GREATEST(first_join_actual, 1) AS DOUBLE),
       |           CAST(GREATEST(first_join_actual, 1) AS DOUBLE)
       |             / GREATEST(first_join_est, 1.0)) AS q_error,
       |         final_est,
       |         CAST(ROW_NUMBER() OVER (ORDER BY first_join_est, join_order)
       |           AS INT) AS rk
       |  FROM joa_est)""".stripMargin
  }

  /** Equi-depth histogram construction — the optimizer-statistics pass
    * (ANALYZE TABLE ... FOR COLUMNS) made explicit and exact. Depth
    * boundaries come from the cumulative count over the CENT GRID (one
    * row per distinct cent value — bounded by the price domain, not the
    * corpus), and the cumulative sum is computed HIERARCHICALLY: a
    * window over coarse blocks plus a window partitioned BY block, so no
    * single partition ever sees the whole grid — the two-level prefix-sum
    * pattern that keeps windows shardable at 100 TB. A heavy value is
    * never split: its bucket is decided by its last row's index, the
    * standard equi-depth convention. `depth_x_buckets` audits each
    * bucket's depth against perfect n/B (1.0 = exact).
    */
  def equiDepthHistogram(lineitem: DataFrame, buckets: Int = 8,
      coarseCents: Long = 100000L): DataFrame = {
    require(buckets >= 1 && coarseCents >= 1)
    import org.apache.spark.sql.expressions.Window
    val grid = lineitem
      .groupBy(OracleSafe.quant(col("l_extendedprice"), 100).as("cents"))
      .agg(count(lit(1)).as("w"))
      .withColumn("coarse", OracleSafe.intDiv(col("cents"), lit(coarseCents)))
    val coarseCum = grid.groupBy("coarse").agg(sum("w").as("cw"))
      .withColumn("cbefore", coalesce(
        sum("cw").over(Window.orderBy("coarse")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("coarse", "cbefore")
    val cum = grid.join(broadcast(coarseCum), Seq("coarse"))
      .withColumn("cum", col("cbefore") + sum("w")
        .over(Window.partitionBy("coarse").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val tot = grid.agg(sum("w").as("tot"))
    cum.crossJoin(broadcast(tot))
      .groupBy(OracleSafe.intDiv((col("cum") - 1) * buckets, col("tot"))
        .as("bucket"))
      .agg(min("cents").as("lo_cents"), max("cents").as("hi_cents"),
        sum("w").as("n_rows"), max("tot").as("tot"))
      .select(col("bucket"), col("lo_cents"), col("hi_cents"), col("n_rows"),
        ((col("n_rows") * buckets).cast("double") / col("tot").cast("double"))
          .as("depth_x_buckets"))
      .orderBy("bucket")
  }

  /** The [[joinOrderAdvisor]]'s Selinger ranking made from CONSTANT-SIZE
    * sketches — the q216 sketch-statistics story applied to join
    * ORDERING, the other half of what a 100 TB CBO decides without
    * scanning. Every statistic the System-R estimate needs (row counts
    * and per-key distinct counts) is replaced by a KMV bottom-k
    * estimate: |customer| and d(c_custkey) share one sketch (the key is
    * unique), |orders|/d(o_orderkey) likewise, plus sketches for
    * d(o_custkey), |lineitem| (the 4-column unique row id), and
    * d(l_orderkey) — five k·8-byte sketches total, mergeable across
    * shards. Both stat sources run through the IDENTICAL estimate
    * formula and the identical (estimate, name) ranking; per order the
    * audit reports both estimates, both ranks, and `rank_match` — a
    * rank flip means the sketch error belt crossed an order boundary,
    * exactly the case a deployment would escalate to exact stats.
    *
    * Cross-engine exactness: each KMV estimate is the q154 argument;
    * the Selinger products/divisions are IEEE-exact on identical
    * doubles, and the ranking is a deterministic (double, string) sort.
    *
    * Scale shape: five bounded-heap bottom-k passes (the exact-stat
    * pass stays as the audit truth a deployment would drop); the
    * decision frame is 4 literal rows.
    */
  def sketchJoinOrderAdvisor(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, k: Int = 256): DataFrame = {
    require(k >= 2 && (k & (k - 1)) == 0 && k <= 32768,
      s"k must be a power of two in [2, 32768], got $k")
    val spark = customer.sparkSession
    import spark.implicits._
    val cStats = customer.agg(count(lit(1)).as("nc"),
      countDistinct(col("c_custkey")).as("dc"))
    val oStats = orders.agg(count(lit(1)).as("no"),
      countDistinct(col("o_custkey")).as("dok"),
      countDistinct(col("o_orderkey")).as("doo"))
    val lStats = lineitem.agg(count(lit(1)).as("nl"),
      countDistinct(col("l_orderkey")).as("dlo"))
    val liRowId = concat_ws("#", col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"))
    val stats = cStats
      .crossJoin(broadcast(oStats)).crossJoin(broadcast(lStats))
      .crossJoin(broadcast(kmvEstFrame(customer, col("c_custkey"), k, "s_nc")))
      .crossJoin(broadcast(kmvEstFrame(orders, col("o_orderkey"), k, "s_no")))
      .crossJoin(broadcast(kmvEstFrame(orders, col("o_custkey"), k, "s_dok")))
      .crossJoin(broadcast(kmvEstFrame(lineitem, liRowId, k, "s_nl")))
      .crossJoin(broadcast(kmvEstFrame(lineitem, col("l_orderkey"), k, "s_dlo")))
    val orderings = Seq(
      ("customer*orders*lineitem", "co"),
      ("orders*customer*lineitem", "co"),
      ("orders*lineitem*customer", "ol"),
      ("lineitem*orders*customer", "ol")).toDF("join_order", "first_pair")
    def estExact = when(col("first_pair") === "co",
        col("nc").cast("double") * col("no").cast("double") /
          greatest(col("dc"), col("dok")).cast("double"))
      .otherwise(col("no").cast("double") * col("nl").cast("double") /
        greatest(col("doo"), col("dlo")).cast("double"))
    // the sketch path: unique-key sketches double as the distinct counts
    def estSketch = when(col("first_pair") === "co",
        col("s_nc") * col("s_no") / greatest(col("s_nc"), col("s_dok")))
      .otherwise(col("s_no") * col("s_nl") / greatest(col("s_no"), col("s_dlo")))
    import org.apache.spark.sql.expressions.Window
    // 4-row frame: single-partition ranking windows are trivially safe
    broadcast(orderings).crossJoin(stats)
      .select(col("join_order"), estExact.as("est_exact"),
        estSketch.as("est_sketch"))
      .withColumn("rk_exact", row_number().over(
        Window.orderBy(col("est_exact"), col("join_order"))))
      .withColumn("rk_sketch", row_number().over(
        Window.orderBy(col("est_sketch"), col("join_order"))))
      .withColumn("rank_match", col("rk_exact") === col("rk_sketch"))
      .orderBy("rk_exact")
  }

  /** DuckDB twin of [[sketchJoinOrderAdvisor]]; embed after `WITH ` and
    * select from `sketch_join_order`.
    */
  def sketchJoinOrderAdvisorSql(k: Int = 256): String = {
    def kmv(name: String, table: String, pk: String) =
      kmvEstSql(s"sjo_$name", name, table, pk, k)
    val liRowId = "CAST(l_orderkey AS VARCHAR) || '#' ||" +
      " CAST(l_linenumber AS VARCHAR) || '#' || CAST(l_partkey AS VARCHAR)" +
      " || '#' || CAST(l_suppkey AS VARCHAR)"
    val estExact = """CASE WHEN first_pair = 'co'
      THEN CAST(nc AS DOUBLE) * CAST(n_o AS DOUBLE)
           / CAST(GREATEST(dc, dok) AS DOUBLE)
      ELSE CAST(n_o AS DOUBLE) * CAST(nl AS DOUBLE)
           / CAST(GREATEST(doo, dlo) AS DOUBLE) END"""
    val estSketch = """CASE WHEN first_pair = 'co'
      THEN s_nc * s_no / GREATEST(s_nc, s_dok)
      ELSE s_no * s_nl / GREATEST(s_no, s_dlo) END"""
    s"""sjo_c AS (SELECT COUNT(*) AS nc,
       |                 CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS dc
       |          FROM customer),
       |sjo_o AS (SELECT COUNT(*) AS n_o,
       |                 CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS dok,
       |                 CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS doo
       |          FROM orders),
       |sjo_l AS (SELECT COUNT(*) AS nl,
       |                 CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS dlo
       |          FROM lineitem),
       |${kmv("s_nc", "customer", "c_custkey")},
       |${kmv("s_no", "orders", "o_orderkey")},
       |${kmv("s_dok", "orders", "o_custkey")},
       |${kmv("s_nl", "lineitem", liRowId)},
       |${kmv("s_dlo", "lineitem", "l_orderkey")},
       |sjo_ord(join_order, first_pair) AS (VALUES
       |  ('customer*orders*lineitem', 'co'),
       |  ('orders*customer*lineitem', 'co'),
       |  ('orders*lineitem*customer', 'ol'),
       |  ('lineitem*orders*customer', 'ol')),
       |sjo_est AS (
       |  SELECT join_order, $estExact AS est_exact, $estSketch AS est_sketch
       |  FROM sjo_ord, sjo_c, sjo_o, sjo_l,
       |       sjo_s_nc, sjo_s_no, sjo_s_dok, sjo_s_nl, sjo_s_dlo),
       |sketch_join_order AS (
       |  SELECT join_order, est_exact, est_sketch,
       |         CAST(ROW_NUMBER() OVER (ORDER BY est_exact, join_order)
       |           AS INT) AS rk_exact,
       |         CAST(ROW_NUMBER() OVER (ORDER BY est_sketch, join_order)
       |           AS INT) AS rk_sketch,
       |         ROW_NUMBER() OVER (ORDER BY est_exact, join_order)
       |           = ROW_NUMBER() OVER (ORDER BY est_sketch, join_order)
       |           AS rank_match
       |  FROM sjo_est)""".stripMargin
  }

  /** Execute the join orders a [[joinOrderAdvisor]] ranked — the plan
    * CONSUMED, not just emitted (the q169/q204 salting pattern applied to
    * join ordering): the best-ranked (rk 1) and worst-ranked (rk 4)
    * cross-product-free orders each run as an actual left-deep join
    * chain built in exactly that syntactic order (Catalyst preserves
    * user join order without CBO), the first join's cardinality is
    * MEASURED from that executed pair join and recorded next to the
    * advisor's Selinger estimate, and both orders aggregate the full
    * three-way join down to the same count + cent-exact total. The
    * oracle computes that total once from a fixed order, so the
    * hash-match proves the advisor's decision only moves cost — where
    * the intermediate materializes — never results.
    *
    * Scale shape: the advisor frame is 4 rows (collected as the plan
    * decision, like [[executeSkewPlan]]'s fan-out frame); each executed
    * chain is two equi-join shuffles plus one map-side-combinable
    * aggregate; nothing driver-side grows with the data.
    */
  def executeJoinOrder(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    import spark.implicits._
    val picks = joinOrderAdvisor(customer, orders, lineitem)
      .filter(col("rk").isin(1, 4))
      .select("rk", "join_order", "first_join_est")
      .collect() // 2-row plan frame: the planner's decision, not data
    val runs = picks.toSeq.map { r =>
      val (rk, order, est) = (r.getInt(0), r.getString(1), r.getDouble(2))
      val (firstCnt, fullAgg) = leftDeepChainAggs(customer, orders, lineitem, order)
      broadcast(Seq((if (rk == 1) "best" else "worst", order, est))
          .toDF("order_rank", "join_order", "est_first_rows"))
        .crossJoin(firstCnt).crossJoin(fullAgg)
    }
    runs.reduce(_.unionByName(_)).orderBy("order_rank")
  }

  /** The left-deep chain pieces [[executeJoinOrder]] and
    * [[executeSketchJoinOrder]] share: for a '*'-separated order, the
    * first pair joined in exactly that syntactic order (Catalyst
    * preserves user join order without CBO) and the full three-way
    * chain, each reduced to its audit aggregate.
    */
  private def leftDeepChainAggs(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, order: String): (DataFrame, DataFrame) = {
    val cust = customer.select(col("c_custkey"))
    val ord = orders.select(col("o_orderkey"), col("o_custkey"))
    val li = lineitem.select(col("l_orderkey"),
      OracleSafe.quant(col("l_extendedprice"), 100).as("cents"))
    def tbl(n: String): DataFrame = n match {
      case "customer" => cust
      case "orders" => ord
      case "lineitem" => li
    }
    // the chain's two equi-join predicates; orders touches both ends
    def cond(joined: Set[String], next: String): Column = next match {
      case "customer" => col("o_custkey") === col("c_custkey")
      case "lineitem" => col("o_orderkey") === col("l_orderkey")
      case "orders" =>
        if (joined("customer")) col("c_custkey") === col("o_custkey")
        else col("l_orderkey") === col("o_orderkey")
    }
    val names = order.split("\\*").toSeq
    val first = tbl(names(0)).join(tbl(names(1)), cond(Set(names(0)), names(1)))
    val full = first.join(tbl(names(2)), cond(names.take(2).toSet, names(2)))
    (first.agg(count(lit(1)).as("first_join_rows")),
      full.agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("total_cents")))
  }

  /** The SKETCH advisor's verdict EXECUTED (q238) — q208 closed the loop
    * for exact-stat join ordering; this closes it for the constant-size
    * statistics a 100 TB CBO actually has: the order the KMV sketches
    * rank first (`rk_sketch` = 1) and the order exact stats rank first
    * (`rk_exact` = 1) BOTH run as real left-deep chains, each recording
    * its picker's estimate beside the measured first-join cardinality,
    * and both aggregate to the same count + cent-exact total (the oracle
    * computes that total once from a fixed order — the hash-match proves
    * plan choice moves cost, never results). `same_pick` is the decision-
    * equivalence certificate: whether 5 sketches of ≤256 hashes each
    * reproduced the exact-statistics decision.
    *
    * Scale shape: the advisor frame is 4 rows (2 collected — the planner
    * decision, the [[executeSkewPlan]] pattern); each chain is two
    * equi-join shuffles plus one map-side-combinable aggregate.
    */
  def executeSketchJoinOrder(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    import spark.implicits._
    val ranked = sketchJoinOrderAdvisor(customer, orders, lineitem)
      .filter(col("rk_exact") === 1 || col("rk_sketch") === 1)
      .select("join_order", "est_exact", "est_sketch", "rk_exact", "rk_sketch")
      .collect() // <=2-row plan frame: the two pickers' decisions
    val exactPick = ranked.find(_.getAs[Int]("rk_exact") == 1).get
    val sketchPick = ranked.find(_.getAs[Int]("rk_sketch") == 1).get
    val samePick =
      exactPick.getAs[String]("join_order") == sketchPick.getAs[String]("join_order")
    val runs = Seq(
      ("exact", exactPick.getAs[String]("join_order"),
        exactPick.getAs[Double]("est_exact")),
      ("sketch", sketchPick.getAs[String]("join_order"),
        sketchPick.getAs[Double]("est_sketch"))).map { case (picker, order, est) =>
      val (firstCnt, fullAgg) = leftDeepChainAggs(customer, orders, lineitem, order)
      broadcast(Seq((picker, order, est, samePick))
          .toDF("picker", "join_order", "est_rows", "same_pick"))
        .crossJoin(firstCnt).crossJoin(fullAgg)
    }
    runs.reduce(_.unionByName(_))
      .select(col("picker"), col("join_order"), col("est_rows"),
        col("first_join_rows"), col("n_rows"), col("total_cents"),
        col("same_pick"))
      .orderBy("picker")
  }

  /** DuckDB twin of [[executeSketchJoinOrder]]; embed after `WITH ` and
    * select from `sketch_order_exec`. Totals come from ONE fixed join
    * order — result-equality across executed orders is the proof — and
    * the first-pair cardinality is re-derived exactly per picked order.
    */
  def executeSketchJoinOrderSql(): String =
    s"""${sketchJoinOrderAdvisorSql()},
       |esjo_first_co AS (
       |  SELECT COUNT(*) AS fr FROM customer JOIN orders ON c_custkey = o_custkey),
       |esjo_first_ol AS (
       |  SELECT COUNT(*) AS fr FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |esjo_tot AS (
       |  SELECT COUNT(*) AS n_rows,
       |         CAST(SUM(${OracleSafe.quantSql("l_extendedprice", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM customer
       |  JOIN orders ON c_custkey = o_custkey
       |  JOIN lineitem ON o_orderkey = l_orderkey),
       |esjo_same AS (
       |  SELECT (SELECT join_order FROM sketch_join_order WHERE rk_exact = 1)
       |       = (SELECT join_order FROM sketch_join_order WHERE rk_sketch = 1)
       |         AS same_pick),
       |esjo_picks AS (
       |  SELECT 'exact' AS picker, join_order, est_exact AS est_rows
       |  FROM sketch_join_order WHERE rk_exact = 1
       |  UNION ALL
       |  SELECT 'sketch', join_order, est_sketch
       |  FROM sketch_join_order WHERE rk_sketch = 1),
       |sketch_order_exec AS (
       |  SELECT picker, join_order, est_rows,
       |         CASE WHEN join_order IN ('customer*orders*lineitem',
       |                                  'orders*customer*lineitem')
       |              THEN (SELECT fr FROM esjo_first_co)
       |              ELSE (SELECT fr FROM esjo_first_ol) END AS first_join_rows,
       |         n_rows, total_cents, same_pick
       |  FROM esjo_picks, esjo_tot, esjo_same)""".stripMargin

  /** DuckDB twin of [[executeJoinOrder]]; embed after `WITH ` and select
    * from `join_order_exec`. The totals come from ONE fixed join order on
    * purpose — result-equality across the executed orders is the proof.
    */
  def executeJoinOrderSql(): String =
    s"""${joinOrderAdvisorSql()},
       |ejo_tot AS (
       |  SELECT COUNT(*) AS n_rows,
       |         CAST(SUM(${OracleSafe.quantSql("l_extendedprice", 100)}) AS BIGINT)
       |           AS total_cents
       |  FROM customer
       |  JOIN orders ON c_custkey = o_custkey
       |  JOIN lineitem ON o_orderkey = l_orderkey),
       |join_order_exec AS (
       |  SELECT CASE WHEN rk = 1 THEN 'best' ELSE 'worst' END AS order_rank,
       |         join_order, first_join_est AS est_first_rows,
       |         first_join_actual AS first_join_rows, n_rows, total_cents
       |  FROM join_order_advisor, ejo_tot
       |  WHERE rk IN (1, 4))""".stripMargin

  /** Consume [[equiDepthHistogram]]'s measured bounds in a balanced
    * range-shard assignment — the ANALYZE → plan → execute loop closed:
    * the B-row bounds frame (the PLAN) broadcasts into a range join that
    * routes every row to its bucket, and the audit proves (a) the routing
    * reproduces the histogram's depths EXACTLY (`assigned_rows` =
    * `hist_rows`, so `depth_match` is the correctness bit) and (b) each
    * shard's `depth_x_buckets` stays within the histogram's own balance
    * tolerance. This is `repartitionByRange` with measured bounds made
    * auditable: at 100 TB the same bounds frame drives the
    * range-partitioned write and this audit is the cheap post-write
    * row-count check. The range join is a broadcast nested-loop against
    * a B-row frame — each probe row checks ≤B intervals, constant work
    * per row independent of corpus size.
    */
  def rangeBalancedShards(lineitem: DataFrame, buckets: Int = 8,
      coarseCents: Long = 100000L): DataFrame = {
    val hist = equiDepthHistogram(lineitem, buckets, coarseCents)
      .select(col("bucket"), col("lo_cents"), col("hi_cents"),
        col("n_rows").as("hist_rows"), col("depth_x_buckets"))
    val cents = OracleSafe.quant(col("l_extendedprice"), 100)
    lineitem.select(cents.as("cents"))
      .join(broadcast(hist),
        col("cents") >= col("lo_cents") && col("cents") <= col("hi_cents"))
      .groupBy(col("bucket"), col("lo_cents"), col("hi_cents"),
        col("hist_rows"), col("depth_x_buckets"))
      .agg(count(lit(1)).as("assigned_rows"))
      .select(col("bucket"), col("lo_cents"), col("hi_cents"),
        col("assigned_rows"), col("hist_rows"),
        (col("assigned_rows") === col("hist_rows")).as("depth_match"),
        col("depth_x_buckets"))
      .orderBy("bucket")
  }

  /** The PHYSICAL half of the ANALYZE → plan → execute loop that
    * [[rangeBalancedShards]] audits logically: the measured equi-depth
    * bounds drive an actual range-partitioned parquet WRITE, and the
    * audit row set comes from reading the files BACK off disk. This is
    * `repartitionByRange` with measured bounds instead of Spark's sampled
    * ones — the layout a 100 TB fact wants before range-predicate scans
    * (each bucket dir carries ~1/B of the rows, so a range scan lists and
    * reads only the overlapping dirs). Per bucket, read back from disk:
    * row count vs the histogram's depth (`depth_match` — the write lost
    * or duplicated nothing), and on-disk min/max vs the planned bounds
    * (`bounds_match` — no row leaked across a boundary). PlanningSpec
    * additionally audits the files themselves: every bucket dir exists,
    * file counts stay at the one-writer-per-bucket target, and dir byte
    * sizes are balanced within the histogram's own depth tolerance.
    *
    * Scale shape: the bounds frame is B rows broadcast into the range
    * join (≤B interval checks per row); `repartitionByRange` on the
    * bucket id gives one shuffle where every writer task owns whole
    * buckets, so the dynamic-partition write emits one file per bucket
    * instead of `tasks × buckets` fragments — at 1000 executors that is
    * the difference between B files and a small-file explosion.
    */
  def rangePartitionedWrite(lineitem: DataFrame, outDir: String,
      buckets: Int = 8, coarseCents: Long = 100000L): DataFrame = {
    val spark = lineitem.sparkSession
    val hist = equiDepthHistogram(lineitem, buckets, coarseCents)
      .select(col("bucket"), col("lo_cents"), col("hi_cents"),
        col("n_rows").as("hist_rows"), col("depth_x_buckets"))
      .localCheckpoint() // B rows, read twice: route the write + audit read-back
    val cents = OracleSafe.quant(col("l_extendedprice"), 100)
    lineitem.select(cents.as("cents"))
      .join(broadcast(hist.select("bucket", "lo_cents", "hi_cents")),
        col("cents") >= col("lo_cents") && col("cents") <= col("hi_cents"))
      .select(col("cents"), col("bucket"))
      .repartitionByRange(buckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(outDir)
    spark.read.parquet(outDir)
      // partition discovery re-infers the dir value as INT; restore the
      // histogram's BIGINT so the audit join and the oracle dtypes agree
      .select(col("cents"), col("bucket").cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("rows_on_disk"),
        min("cents").as("disk_lo"), max("cents").as("disk_hi"))
      .join(broadcast(hist), Seq("bucket"))
      .select(col("bucket"), col("lo_cents"), col("hi_cents"),
        col("rows_on_disk"), col("hist_rows"),
        (col("rows_on_disk") === col("hist_rows")).as("depth_match"),
        (col("disk_lo") === col("lo_cents") &&
          col("disk_hi") === col("hi_cents")).as("bounds_match"),
        col("depth_x_buckets"))
      .orderBy("bucket")
  }

  /** DuckDB twin of [[rangePartitionedWrite]] — the oracle models the
    * round trip as the identity it must be: the same bucket assignment,
    * grouped, with min/max standing in for the read-back's on-disk
    * bounds. A hash match therefore certifies the files carry exactly
    * the planned rows. Embed after `WITH ` and select from
    * `range_write_audit`.
    */
  def rangePartitionedWriteSql(buckets: Int = 8): String =
    s"""${equiDepthHistogramSql(buckets)},
       |rpw_assign AS (
       |  SELECT h.bucket, h.lo_cents, h.hi_cents, h.n_rows AS hist_rows,
       |         h.depth_x_buckets, COUNT(*) AS rows_on_disk,
       |         MIN(r.cents) AS disk_lo, MAX(r.cents) AS disk_hi
       |  FROM (SELECT ${OracleSafe.quantSql("l_extendedprice", 100)} AS cents
       |        FROM lineitem) r
       |  JOIN equi_depth h
       |    ON r.cents >= h.lo_cents AND r.cents <= h.hi_cents
       |  GROUP BY 1, 2, 3, 4, 5),
       |range_write_audit AS (
       |  SELECT bucket, lo_cents, hi_cents,
       |         CAST(rows_on_disk AS BIGINT) AS rows_on_disk, hist_rows,
       |         rows_on_disk = hist_rows AS depth_match,
       |         (disk_lo = lo_cents AND disk_hi = hi_cents) AS bounds_match,
       |         depth_x_buckets
       |  FROM rpw_assign)""".stripMargin

  /** DuckDB twin of [[rangeBalancedShards]]; embed after `WITH ` and
    * select from `range_balanced`.
    */
  def rangeBalancedShardsSql(buckets: Int = 8): String =
    s"""${equiDepthHistogramSql(buckets)},
       |rbs_assign AS (
       |  SELECT h.bucket, h.lo_cents, h.hi_cents, h.n_rows AS hist_rows,
       |         h.depth_x_buckets, COUNT(*) AS assigned_rows
       |  FROM (SELECT ${OracleSafe.quantSql("l_extendedprice", 100)} AS cents
       |        FROM lineitem) r
       |  JOIN equi_depth h
       |    ON r.cents >= h.lo_cents AND r.cents <= h.hi_cents
       |  GROUP BY 1, 2, 3, 4, 5),
       |range_balanced AS (
       |  SELECT bucket, lo_cents, hi_cents,
       |         CAST(assigned_rows AS BIGINT) AS assigned_rows, hist_rows,
       |         assigned_rows = hist_rows AS depth_match, depth_x_buckets
       |  FROM rbs_assign)""".stripMargin

  /** DuckDB twin of [[equiDepthHistogram]] (a flat window — cumulative
    * sums are method-independent); embed after `WITH ` and select from
    * `equi_depth`.
    */
  def equiDepthHistogramSql(buckets: Int = 8): String =
    s"""edh_grid AS (
       |  SELECT ${OracleSafe.quantSql("l_extendedprice", 100)} AS cents,
       |         COUNT(*) AS w
       |  FROM lineitem GROUP BY 1),
       |edh_cum AS (
       |  SELECT cents, w,
       |         SUM(w) OVER (ORDER BY cents
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM edh_grid),
       |edh_tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM edh_grid),
       |equi_depth AS (
       |  SELECT CAST(${OracleSafe.intDivSql(s"(CAST(cum AS BIGINT) - 1) * $buckets", "tot")} AS BIGINT) AS bucket,
       |         MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
       |         CAST(SUM(w) AS BIGINT) AS n_rows,
       |         CAST(SUM(w) * $buckets AS DOUBLE) / CAST(MAX(tot) AS DOUBLE)
       |           AS depth_x_buckets
       |  FROM edh_cum, edh_tot GROUP BY 1)""".stripMargin

  // ------------------------------------------------- encoding advisor

  /** The columns [[encodingAdvisor]] profiles, each rendered to a string
    * BOTH engines print identically (doubles go through the cents/quant
    * grid first — a raw double-to-string differs between engines).
    * (name, Spark rendering, DuckDB rendering).
    */
  private val encodingCols: Seq[(String, Column, String)] = Seq(
    ("l_returnflag", col("l_returnflag"), "l_returnflag"),
    ("l_linestatus", col("l_linestatus"), "l_linestatus"),
    ("l_linenumber", col("l_linenumber").cast("string"),
      "CAST(l_linenumber AS VARCHAR)"),
    ("l_orderkey", col("l_orderkey").cast("string"),
      "CAST(l_orderkey AS VARCHAR)"),
    ("l_partkey", col("l_partkey").cast("string"),
      "CAST(l_partkey AS VARCHAR)"),
    ("l_suppkey", col("l_suppkey").cast("string"),
      "CAST(l_suppkey AS VARCHAR)"),
    ("l_quantity", OracleSafe.quant(col("l_quantity"), 1).cast("string"),
      s"CAST(${OracleSafe.quantSql("l_quantity", 1)} AS VARCHAR)"),
    ("l_extendedprice", OracleSafe.quant(col("l_extendedprice"), 100).cast("string"),
      s"CAST(${OracleSafe.quantSql("l_extendedprice", 100)} AS VARCHAR)"),
    ("l_discount", OracleSafe.quant(col("l_discount"), 100).cast("string"),
      s"CAST(${OracleSafe.quantSql("l_discount", 100)} AS VARCHAR)"),
    ("l_shipdate", date_format(col("l_shipdate"), "yyyy-MM-dd"),
      "strftime(l_shipdate, '%Y-%m-%d')"))

  /** Column-encoding advisor (q236): per column, the content statistics a
    * columnar writer's encoding chooser runs on — row count, exact
    * distinct count, total rendered width, and the number of value RUNS
    * the column exhibits under the table's CLUSTER order (sorted by
    * `l_shipdate`, the layout q217 writes) — plus the verdict an exact
    * chooser derives: `run_length` when the mean run is ≥ 8 values,
    * else `dictionary` when each distinct value repeats ≥ 64×, else
    * `plain`. `EncodingAdvisorSpec` closes the physical loop: the advised
    * encodings measurably shrink real parquet bytes on disk (dictionary
    * on/off, clustered vs shuffled row order).
    *
    * Scale shape: the columns unpivot into one (col_name, value) frame —
    * one scan, 10n rows — and runs are counted per (column, cluster-key
    * group) window, so no global sort exists anywhere: cluster groups are
    * what a writer sees inside one file. The per-column tie-break appends
    * the rendered value, making every window order total even when the
    * physical row id ties (the sf0.001 data has one duplicate row id).
    * At 100 TB the same plan runs on a row sample; exactness here is what
    * lets the oracle pin it.
    */
  def encodingAdvisor(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stacked = lineitem.select(
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("g"),
      col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
      col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
      explode(array(encodingCols.map { case (n, c, _) =>
        struct(lit(n).as("col_name"), c.as("v")) }: _*)).as("e"))
      .select(col("g"), col("ok"), col("ln"), col("pk"), col("sk"),
        col("e.col_name").as("col_name"), col("e.v").as("v"))
    val w = Window.partitionBy("col_name", "g")
      .orderBy(col("ok"), col("ln"), col("pk"), col("sk"), col("v"))
    val runs = stacked
      .withColumn("is_start", !(lag(col("v"), 1).over(w) <=> col("v")))
    runs.groupBy("col_name")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("v")).as("n_distinct"),
        sum(length(col("v"))).cast("long").as("sum_len"),
        sum(when(col("is_start"), 1L).otherwise(0L)).as("runs_clustered"))
      .select(col("col_name"), col("n"), col("n_distinct"), col("sum_len"),
        col("runs_clustered"),
        when(col("runs_clustered") * 8 <= col("n"), "run_length")
          .when(col("n_distinct") * 64 <= col("n"), "dictionary")
          .otherwise("plain").as("advice"))
  }

  /** DuckDB twin of [[encodingAdvisor]] — one branch per column (the
    * single-node engine needs no unpivot), identical rendering, window,
    * and thresholds. Embed after `WITH ` and select from `encoding_advice`.
    */
  def encodingAdvisorSql(): String = {
    val branches = encodingCols.map { case (n, _, sqlExpr) =>
      s"""  SELECT '$n' AS col_name, $sqlExpr AS v,
         |         strftime(l_shipdate, '%Y-%m-%d') AS g,
         |         l_orderkey AS ok, l_linenumber AS ln,
         |         l_partkey AS pk, l_suppkey AS sk
         |  FROM lineitem""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""enc_stack AS (
       |$branches),
       |enc_runs AS (
       |  SELECT col_name, v,
       |         CASE WHEN LAG(v) OVER (PARTITION BY col_name, g
       |                ORDER BY ok, ln, pk, sk, v) IS NOT DISTINCT FROM v
       |              THEN 0 ELSE 1 END AS is_start
       |  FROM enc_stack),
       |enc_stats AS (
       |  SELECT col_name, COUNT(*) AS n, COUNT(DISTINCT v) AS n_distinct,
       |         CAST(SUM(length(v)) AS BIGINT) AS sum_len,
       |         CAST(SUM(is_start) AS BIGINT) AS runs_clustered
       |  FROM enc_runs GROUP BY 1),
       |encoding_advice AS (
       |  SELECT col_name, n, n_distinct, sum_len, runs_clustered,
       |         CASE WHEN runs_clustered * 8 <= n THEN 'run_length'
       |              WHEN n_distinct * 64 <= n THEN 'dictionary'
       |              ELSE 'plain' END AS advice
       |  FROM enc_stats)""".stripMargin
  }

  // ------------------------------------------------- bloom point-lookup index

  /** Point lookups through a PERSISTED per-zone Bloom index (q237) — the
    * file-skipping structure q217's zone maps cannot provide: zone maps
    * prune RANGE predicates on the cluster key, but a point lookup on a
    * NON-cluster key (`l_orderkey` against the date-clustered layout) sees
    * every zone's [min,max] straddle it. The index writes, per month zone,
    * the Bloom bit positions of the zone's order keys (the q157/q222
    * 48-bit-md5 bloom, `bitsPerKey·n_z` bits, `kHash` probes — at
    * deployment a bitmap in the file footer, persisted relationally here
    * so the oracle can reproduce membership bit-for-bit). Serving loads
    * ONLY the index, routes each probe key to its candidate zones, and
    * scans just those partition dirs (pruning asserted physically in
    * `BloomIndexSpec`).
    *
    * Probe set: every order key ≡ 0 (mod `probeMod`) — plus each shifted
    * by +10⁹, keys guaranteed ABSENT, so the audit also measures the
    * all-miss path where candidates are pure false positives. Output per
    * probe key: candidate zones, truly-matching zones (their gap = the
    * index's false-positive I/O), rows and cent-exact total from the
    * PRUNED scan — which hash-match the oracle's direct full-table filter
    * because a Bloom filter admits no false negatives.
    *
    * Scale shape: the index is O(zones · keys-per-zone · kHash) positions
    * (a bitmap at deployment); probes touch it key-grain; the fact scan
    * reads only candidate dirs. The driver-side zone list is bounded by
    * the calendar, the same decision frame a file-skipping index hands
    * the scheduler (q217's pattern).
    */
  def bloomIndexedLookup(lineitem: DataFrame, outDir: String,
      bitsPerKey: Int = 8, kHash: Int = 3, probeMod: Int = 997): DataFrame = {
    buildBloomIndex(lineitem, outDir, bitsPerKey, kHash)
    serveBloomIndex(lineitem, outDir, kHash, probeMod)
  }

  /** The month-zone of a fact row — ONE definition shared by the bloom
    * index build, append, and both oracles.
    */
  private def monthZone: Column =
    (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).cast("long")

  /** Row ceiling for broadcasting the bloom serve path's
    * probes × zones × kHash candidate frame. The probe count scales
    * linearly with the fact table (distinct keys / probeMod × 2), so an
    * unconditional broadcast would eventually hit Spark's hard broadcast
    * caps (8 GB / 512 M rows) and driver memory at the 100 TB target;
    * above the ceiling the serve path falls back to the shuffled join,
    * which has no such ceiling (the same pattern as the position-delete
    * read's manifest-byte gate). The ceiling keeps the broadcast at
    * harness scale (~75 k candidate rows at sf0.1 vs the 8 M ceiling,
    * ~400 MB framed).
    */
  private[graft] val bloomCandidateBroadcastMaxRows: Long = 8L << 20

  /** Build half of [[bloomIndexedLookup]]: date-clustered fact + per-zone
    * bit sizes (`meta` — FROZEN at build time, the [[appendBloomIndexDelta]]
    * contract) + the per-zone Bloom bitmap packed as 64-bit words
    * (zone, widx = pos DIV 64, bits), each zone's words in its own
    * partition dir so maintenance appends touch only the zones a delta
    * lands in.
    */
  def buildBloomIndex(lineitem: DataFrame, outDir: String,
      bitsPerKey: Int = 8, kHash: Int = 3): Unit = {
    val spark = lineitem.sparkSession
    lineitem.select(col("l_orderkey"),
        OracleSafe.quant(col("l_extendedprice"), 100).as("cents"),
        monthZone.as("zone"))
      // hash, not range: partitionBy already yields one dir per zone and
      // each zone lands whole in one task either way, so the range
      // partitioner's extra sampling pass over the input bought nothing
      .repartition(col("zone"))
      .write.mode("overwrite").partitionBy("zone").parquet(s"$outDir/fact")
    // materialized once: without the checkpoint this subtree (fact scan +
    // md5 + distinct, the build's most expensive stage) re-executed THREE
    // times — under the meta write, under the broadcast's meta recompute,
    // and under the positions write (measured 4.7 s warm → 3.0 s)
    val zoneKeys = spark.read.parquet(s"$outDir/fact")
      .select(col("zone").cast("long").as("zone"),
        h48(col("l_orderkey")).as("hk")).distinct()
      .localCheckpoint()
    val meta = zoneKeys.groupBy("zone")
      .agg(greatest(count(lit(1)) * bitsPerKey, lit(1L)).as("m"))
      .localCheckpoint() // bounded by the calendar; feeds write + broadcast
    meta.write.mode("overwrite").parquet(s"$outDir/meta")
    zoneKeys.join(broadcast(meta), Seq("zone"))
      .select(col("zone"), explode(sequence(lit(0), lit(kHash - 1))).as("i"),
        col("hk"), col("m"))
      .select(col("zone"),
        (h48(concat(col("hk").cast("string"), lit(":"), col("i").cast("string")))
          % col("m")).as("pos"))
      // ONE shuffle (hash-partition by zone; HashPartitioning(zone)
      // satisfies the (zone, widx) clustering the aggregate requires — a
      // subset of its keys — so no second exchange is planned), and the
      // positions PACK into 64-bit words: (zone, pos DIV 64, OR of set
      // bits) is ~24× fewer rows than (zone, pos) at kHash/bitsPerKey =
      // 3/8 fill, which is exactly how a deployed Bloom filter stores
      // its bitmap — the aggregate replaces the old dropDuplicates (a
      // duplicate position simply ORs the same bit twice)
      .repartition(col("zone"))
      .groupBy(col("zone"), shiftright(col("pos"), 6).as("widx"))
      .agg(expr(BloomWordOrSql).as("bits"))
      .write.mode("overwrite").partitionBy("zone").parquet(s"$outDir/bloom")
  }

  /** OR-fold of a position frame's set bits into its 64-bit word — the
    * packing aggregate shared by the bloom build, append, and q284's
    * inline build (`pos` must be in scope).
    */
  private val BloomWordOrSql =
    "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))"

  /** Incremental maintenance of a built Bloom index (q245 — the q240/q243
    * pattern applied to the third persisted index): a delta batch of fact
    * rows is appended into its zone dirs, and each delta key's bit
    * positions are OR'd into its zone's Bloom — computed against the
    * FROZEN build-time `m` (resizing a Bloom filter is a rebuild, not
    * maintenance; the false-positive rate degrades gracefully instead,
    * exactly as a production filter ages). Zones the build never saw get
    * fresh `m` from their own delta keys and a `meta` append. The delta's
    * bits pack into their own 64-bit word rows and append blind — the
    * serve path's any-hit rule OR-folds overlapping (zone, widx) rows at
    * read time, so maintenance reads NOTHING of the existing index (not
    * even the touched zones). Delta-sized work in bytes read and written.
    */
  def appendBloomIndexDelta(delta: DataFrame, outDir: String,
      bitsPerKey: Int = 8, kHash: Int = 3): Unit = {
    val spark = delta.sparkSession
    import spark.implicits._
    delta.select(col("l_orderkey"),
        OracleSafe.quant(col("l_extendedprice"), 100).as("cents"),
        monthZone.as("zone"))
      .repartition(col("zone")) // hash — see buildBloomIndex
      .write.mode("append").partitionBy("zone").parquet(s"$outDir/fact")
    val meta = spark.read.parquet(s"$outDir/meta").localCheckpoint()
    val dKeys = delta.select(monthZone.as("zone"), h48(col("l_orderkey")).as("hk"))
      .distinct().localCheckpoint() // bounded: delta keys
    val newMeta = dKeys.join(meta, Seq("zone"), "left_anti")
      .groupBy("zone")
      .agg(greatest(count(lit(1)) * bitsPerKey, lit(1L)).as("m"))
    newMeta.write.mode("append").parquet(s"$outDir/meta")
    // the delta's bits pack into their own word rows and APPEND — the
    // existing zones' bloom words are never read (the old layout's
    // left-anti against existing positions is gone): the serve path's
    // any-hit rule OR-folds overlapping (zone, widx) rows from base and
    // delta files at read time, so a blind delta-sized append is safe.
    // This makes maintenance O(|delta|) in both bytes written AND bytes
    // read — at 100 TB the touched zones' bitmaps never travel.
    dKeys
      .join(broadcast(meta.unionByName(newMeta)), Seq("zone"))
      .select(col("zone"), explode(sequence(lit(0), lit(kHash - 1))).as("i"),
        col("hk"), col("m"))
      .select(col("zone"),
        (h48(concat(col("hk").cast("string"), lit(":"), col("i").cast("string")))
          % col("m")).as("pos"))
      .repartition(col("zone"))
      .groupBy(col("zone"), shiftright(col("pos"), 6).as("widx"))
      .agg(expr(BloomWordOrSql).as("bits"))
      .write.mode("append").partitionBy("zone").parquet(s"$outDir/bloom")
  }

  /** q284 — INDEX INTERSECTION: a query carrying BOTH a range predicate
    * on the cluster key (a ship-date window) and a point predicate on a
    * non-cluster key (l_orderkey) consults BOTH persisted indexes — the
    * zone map answers the range side (q217/q268), the per-zone Bloom
    * answers the point side (q237) — and the fact scan opens only the
    * INTERSECTION of their candidate zone dirs. This is how real
    * file-skipping stacks compose (Delta/Iceberg stats ∩ bloom columns):
    * each index alone leaves I/O on the table — the range survives many
    * months, the Bloom false-positives into out-of-window months — and
    * the intersection is strictly tighter than either (spec-pinned).
    * The window derives from the LOADED zone map (middle third of the
    * clustered span), so the serve path never reads the raw table for
    * its own workload.
    *
    * Output per probe key: candidate-zone counts per index and
    * intersected, plus rows/cent totals from the intersected pruned
    * scan — hash-equal to the oracle's direct filter because the zone
    * map is exact on ranges and the Bloom admits no false negatives.
    */
  def indexIntersectionLookup(lineitem: DataFrame, outDir: String,
      bitsPerKey: Int = 8, kHash: Int = 3, probeMod: Int = 997,
      bcastMaxRows: Long = bloomCandidateBroadcastMaxRows): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    // build: date-clustered fact carrying the sd column, zone map, bloom
    val sd = (year(col("l_shipdate")) * 10000 + month(col("l_shipdate")) * 100
      + dayofmonth(col("l_shipdate"))).cast("long")
    lineitem.select(col("l_orderkey"),
        OracleSafe.quant(col("l_extendedprice"), 100).as("cents"),
        sd.as("sd"), monthZone.as("zone"))
      // hash, not range — see buildBloomIndex: same dirs, one less pass
      .repartition(col("zone"))
      .write.mode("overwrite").partitionBy("zone").parquet(s"$outDir/fact")
    val built = spark.read.parquet(s"$outDir/fact")
      .select(col("zone").cast("long").as("zone"), col("l_orderkey"),
        col("sd"), col("cents"))
    built.groupBy("zone").agg(min("sd").as("zmin"), max("sd").as("zmax"))
      .write.mode("overwrite").parquet(s"$outDir/zonemap")
    // materialized once — the fact scan + md5 + distinct otherwise
    // re-executes under the meta write, the broadcast, and the positions
    // write (see buildBloomIndex)
    val zoneKeys = built
      .select(col("zone"), h48(col("l_orderkey")).as("hk")).distinct()
      .localCheckpoint()
    val meta = zoneKeys.groupBy("zone")
      .agg(greatest(count(lit(1)) * bitsPerKey, lit(1L)).as("m"))
      .localCheckpoint() // bounded by the calendar
    meta.write.mode("overwrite").parquet(s"$outDir/meta")
    zoneKeys.join(broadcast(meta), Seq("zone"))
      .select(col("zone"), explode(sequence(lit(0), lit(kHash - 1))).as("i"),
        col("hk"), col("m"))
      .select(col("zone"),
        (h48(concat(col("hk").cast("string"), lit(":"), col("i").cast("string")))
          % col("m")).as("pos"))
      // one shuffle, and positions pack into 64-bit words — see
      // buildBloomIndex
      .repartition(col("zone"))
      .groupBy(col("zone"), shiftright(col("pos"), 6).as("widx"))
      .agg(expr(BloomWordOrSql).as("bits"))
      .write.mode("overwrite").partitionBy("zone").parquet(s"$outDir/bloom")
    // serve: window from the LOADED zone map (middle third of the span)
    val zm = spark.read.parquet(s"$outDir/zonemap").localCheckpoint()
    val metaL = spark.read.parquet(s"$outDir/meta").localCheckpoint()
    val win = zm.agg(min("zmin").as("lo"), max("zmax").as("hi"))
      .select((col("lo") + OracleSafe.intDiv(col("hi") - col("lo"), lit(3L)))
        .as("wlo"),
        (col("lo") + lit(2L) * OracleSafe.intDiv(col("hi") - col("lo"), lit(3L)))
          .as("whi"))
      .localCheckpoint()
    val rangeZones = zm.crossJoin(broadcast(win))
      .filter(!(col("zmax") < col("wlo") || col("zmin") > col("whi")))
      .select("zone").localCheckpoint()
    val bloom = spark.read.parquet(s"$outDir/bloom")
      .select(col("zone").cast("long").as("zone"), col("widx"), col("bits"))
    val present = lineitem.select(col("l_orderkey").as("probe_key"))
      .distinct().filter(col("probe_key") % probeMod === 0)
      .localCheckpoint() // probe-workload-sized; feeds candidates AND counts
    val probes = present
      .unionByName(present.select((col("probe_key") + 1000000000L)
        .as("probe_key")))
      .select(col("probe_key"), h48(col("probe_key")).as("hk"))
    // broadcast the candidate (word, mask) frame (size-gated — see
    // serveBloomIndex: probe count scales with the fact table, so above
    // the gate the candidates flow through a plain shuffled join with
    // identical rows) and stream the loaded bloom words through the hash
    // join — the index is scanned once, never shuffled. Any-hit +
    // countDistinct(i) candidate rule as in serveBloomIndex.
    val ixnCandFrame = probes.crossJoin(metaL)
      .select(col("probe_key"), col("zone"),
        explode(sequence(lit(0), lit(kHash - 1))).as("i"), col("hk"), col("m"))
      .select(col("probe_key"), col("zone"), col("i"),
        (h48(concat(col("hk").cast("string"), lit(":"), col("i").cast("string")))
          % col("m")).as("pos"))
      .select(col("probe_key"), col("zone"), col("i"),
        shiftright(col("pos"), 6).as("widx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
    val ixnCandRows = 2L * present.count() * metaL.count() * kHash
    val ixnCandSide =
      if (ixnCandRows <= bcastMaxRows) broadcast(ixnCandFrame) else ixnCandFrame
    val bloomCands = bloom
      .join(ixnCandSide, Seq("zone", "widx"))
      .filter(col("bits").bitwiseAND(col("mask")) =!= 0L)
      .groupBy("probe_key", "zone")
      .agg(countDistinct(col("i")).as("hits"))
      .filter(col("hits") === kHash)
      .select("probe_key", "zone")
      .localCheckpoint() // bounded: probes × candidate months
    val used = bloomCands.join(rangeZones, Seq("zone"), "left_semi")
      .localCheckpoint()
    val zoneList = used.select("zone").distinct().as[Long].collect()
    val zoneFilter =
      if (zoneList.isEmpty) lit(false)
      else col("zone").isin(zoneList.toIndexedSeq.map(Long.box): _*)
    // gated build-side hints, as in serveBloomIndex: `used` and the
    // per-probe aggregates are probe-workload-sized, and without the
    // hint Catalyst broadcasts the pruned FACT scan (its compressed
    // estimate undercuts the threshold while the checkpointed frames
    // carry no stats)
    val gated = (df: DataFrame) =>
      if (ixnCandRows <= bcastMaxRows) broadcast(df) else df
    val matched = spark.read.parquet(s"$outDir/fact")
      .filter(zoneFilter) // only INTERSECTED dirs ever open
      .select(col("l_orderkey").as("probe_key"),
        col("zone").cast("long").as("zone"), col("sd"), col("cents"))
      .join(gated(used), Seq("probe_key", "zone"))
      .crossJoin(broadcast(win))
      .filter(col("sd").between(col("wlo"), col("whi")))
      .groupBy("probe_key")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
    val counts = probes.select("probe_key")
      .join(gated(bloomCands.groupBy("probe_key")
        .agg(count(lit(1)).as("zones_bloom"))), Seq("probe_key"), "left")
      .join(gated(used.groupBy("probe_key")
        .agg(count(lit(1)).as("zones_used"))), Seq("probe_key"), "left")
      .crossJoin(broadcast(zm.agg(count(lit(1)).as("zones_total"))))
      .crossJoin(broadcast(rangeZones.agg(count(lit(1)).as("zones_range"))))
    counts.join(gated(matched), Seq("probe_key"), "left")
      .select(col("probe_key"), col("zones_total"), col("zones_range"),
        coalesce(col("zones_bloom"), lit(0L)).as("zones_bloom"),
        coalesce(col("zones_used"), lit(0L)).as("zones_used"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"), col("total_cents"))
      .orderBy("probe_key")
  }

  /** DuckDB twin of [[indexIntersectionLookup]] — identical zones, bloom
    * rule, window derivation, and intersected totals, computed logically.
    * Embed after `WITH ` and select from `index_intersection`.
    */
  def indexIntersectionLookupSql(bitsPerKey: Int = 8, kHash: Int = 3,
      probeMod: Int = 997): String =
    s"""ixn_fact AS (
       |  SELECT l_orderkey,
       |         ${OracleSafe.quantSql("l_extendedprice", 100)} AS cents,
       |         CAST(year(l_shipdate) * 10000 + month(l_shipdate) * 100
       |              + day(l_shipdate) AS BIGINT) AS sd,
       |         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
       |           AS zone
       |  FROM lineitem),
       |ixn_zm AS (
       |  SELECT zone, MIN(sd) AS zmin, MAX(sd) AS zmax
       |  FROM ixn_fact GROUP BY 1),
       |ixn_win AS (
       |  SELECT lo + ${OracleSafe.intDivSql("hi - lo", "3")} AS wlo,
       |         lo + 2 * ${OracleSafe.intDivSql("hi - lo", "3")} AS whi
       |  FROM (SELECT MIN(zmin) AS lo, MAX(zmax) AS hi FROM ixn_zm)),
       |ixn_range AS (
       |  SELECT z.zone FROM ixn_zm z, ixn_win w
       |  WHERE NOT (z.zmax < w.wlo OR z.zmin > w.whi)),
       |ixn_zone_keys AS (
       |  SELECT DISTINCT zone, ${h48Sql("l_orderkey")} AS hk FROM ixn_fact),
       |ixn_meta AS (
       |  SELECT zone, GREATEST(COUNT(*) * $bitsPerKey, 1) AS m
       |  FROM ixn_zone_keys GROUP BY 1),
       |ixn_bloom AS (
       |  SELECT DISTINCT k.zone,
       |         (${h48Sql("CAST(k.hk AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}) % m.m AS pos
       |  FROM ixn_zone_keys k
       |  JOIN ixn_meta m ON m.zone = k.zone,
       |       (SELECT unnest(generate_series(0, $kHash - 1)) AS i)),
       |ixn_present AS (
       |  SELECT DISTINCT l_orderkey AS probe_key FROM lineitem
       |  WHERE l_orderkey % $probeMod = 0),
       |ixn_probes AS (
       |  SELECT probe_key, ${h48Sql("probe_key")} AS hk FROM (
       |    SELECT probe_key FROM ixn_present
       |    UNION ALL
       |    SELECT probe_key + 1000000000 FROM ixn_present)),
       |ixn_bcand AS (
       |  SELECT probe_key, zone FROM (
       |    SELECT p.probe_key, p.zone,
       |           SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS hits
       |    FROM (SELECT p0.probe_key, p0.hk, m0.zone, m0.m,
       |                 (${h48Sql("CAST(p0.hk AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}) % m0.m AS pos
       |          FROM ixn_probes p0, ixn_meta m0,
       |               (SELECT unnest(generate_series(0, $kHash - 1)) AS i)) p
       |    LEFT JOIN ixn_bloom b ON b.zone = p.zone AND b.pos = p.pos
       |    GROUP BY 1, 2)
       |  WHERE hits = $kHash),
       |ixn_used AS (
       |  SELECT c.probe_key, c.zone FROM ixn_bcand c
       |  WHERE EXISTS (SELECT 1 FROM ixn_range r WHERE r.zone = c.zone)),
       |ixn_matched AS (
       |  SELECT f.l_orderkey AS probe_key,
       |         COUNT(*) AS n_rows, SUM(f.cents) AS total_cents
       |  FROM ixn_fact f
       |  JOIN ixn_used u ON u.probe_key = f.l_orderkey AND u.zone = f.zone,
       |       ixn_win w
       |  WHERE f.sd BETWEEN w.wlo AND w.whi
       |  GROUP BY 1),
       |index_intersection AS (
       |  SELECT p.probe_key,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM ixn_zm) AS zones_total,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM ixn_range)
       |           AS zones_range,
       |         CAST(COALESCE(b.n, 0) AS BIGINT) AS zones_bloom,
       |         CAST(COALESCE(u.n, 0) AS BIGINT) AS zones_used,
       |         CAST(COALESCE(m.n_rows, 0) AS BIGINT) AS n_rows,
       |         CAST(m.total_cents AS BIGINT) AS total_cents
       |  FROM (SELECT DISTINCT probe_key FROM ixn_probes) p
       |  LEFT JOIN (SELECT probe_key, COUNT(*) AS n FROM ixn_bcand
       |             GROUP BY 1) b USING (probe_key)
       |  LEFT JOIN (SELECT probe_key, COUNT(*) AS n FROM ixn_used
       |             GROUP BY 1) u USING (probe_key)
       |  LEFT JOIN ixn_matched m USING (probe_key))""".stripMargin

  /** Serve half of [[bloomIndexedLookup]]: probe keys (drawn from
    * `keysFrom`'s order keys, plus guaranteed-absent shifts) route through
    * the LOADED index only, and the fact scan opens only candidate zone
    * dirs.
    */
  def serveBloomIndex(keysFrom: DataFrame, outDir: String,
      kHash: Int = 3, probeMod: Int = 997,
      bcastMaxRows: Long = bloomCandidateBroadcastMaxRows): DataFrame = {
    val spark = keysFrom.sparkSession
    import spark.implicits._
    val lineitem = keysFrom
    val bloom = spark.read.parquet(s"$outDir/bloom")
      .select(col("zone").cast("long").as("zone"), col("widx"), col("bits"))
    val zonesMeta = spark.read.parquet(s"$outDir/meta").localCheckpoint()
    val present = lineitem.select(col("l_orderkey").as("probe_key")).distinct()
      .filter(col("probe_key") % probeMod === 0)
      .localCheckpoint() // probe-workload-sized; feeds candidates AND the result frame
    val probes = present
      .unionByName(present.select((col("probe_key") + 1000000000L).as("probe_key")))
      .select(col("probe_key"), h48(col("probe_key")).as("hk"))
    // probes × zones × kHash candidate (word, mask) rows — BROADCAST it
    // (when its exact row count, from the two checkpointed inputs, fits
    // the gate) and stream the loaded bloom words through the hash join:
    // the index (the big side) is scanned once and never shuffled. Above
    // the gate the probe count has outgrown broadcast (it scales with the
    // fact table), so the candidates flow through a plain shuffled join
    // instead — identical rows, no broadcast ceiling. Candidate rule:
    // probe i hits iff ANY matching (zone, widx) word row has bit i's
    // mask set — countDistinct(i) == kHash then means every hash found
    // its bit. The any-hit + countDistinct shape is immune to
    // overlapping (zone, widx) rows, which is what lets the delta append
    // skip reading existing bits (see appendBloomIndexDelta).
    val candFrame = probes.crossJoin(zonesMeta)
      .select(col("probe_key"), col("zone"),
        explode(sequence(lit(0), lit(kHash - 1))).as("i"), col("hk"), col("m"))
      .select(col("probe_key"), col("zone"), col("i"),
        (h48(concat(col("hk").cast("string"), lit(":"), col("i").cast("string")))
          % col("m")).as("pos"))
      .select(col("probe_key"), col("zone"), col("i"),
        shiftright(col("pos"), 6).as("widx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
    val candRows = 2L * present.count() * zonesMeta.count() * kHash
    val candSide =
      if (candRows <= bcastMaxRows) broadcast(candFrame) else candFrame
    val candidates = bloom
      .join(candSide, Seq("zone", "widx"))
      .filter(col("bits").bitwiseAND(col("mask")) =!= 0L)
      .groupBy("probe_key", "zone")
      .agg(countDistinct(col("i")).as("hits"))
      .filter(col("hits") === kHash)
      .select("probe_key", "zone")
      .localCheckpoint() // bounded: probes × candidate months
    // the file-skipping decision: the union of candidate zone dirs
    val zoneList = candidates.select("zone").distinct().as[Long].collect()
    val zoneFilter =
      if (zoneList.isEmpty) lit(false)
      else col("zone").isin(zoneList.toIndexedSeq.map(Long.box): _*)
    // candidates is the BUILD side by construction (probe-workload-sized,
    // checkpointed): without the hint Catalyst broadcasts the pruned FACT
    // scan instead — its compressed-parquet estimate sits under the
    // auto-broadcast threshold at harness scale while the checkpointed
    // candidate frame carries no usable stats, and at 100 TB that choice
    // would broadcast the table. The aggregated per-probe frames below
    // are equally bounded, so they broadcast too (the final assembly was
    // two sort-merge joins + exchanges over sub-thousand-row frames).
    // All of these frames scale with the probe count, so the same gate
    // that governs the candidate-position broadcast governs the hints:
    // above it they fall back to Catalyst's shuffled strategies.
    val gated = (df: DataFrame) =>
      if (candRows <= bcastMaxRows) broadcast(df) else df
    val matched = spark.read.parquet(s"$outDir/fact")
      .filter(zoneFilter) // non-candidate dirs never open
      .select(col("l_orderkey").as("probe_key"),
        col("zone").cast("long").as("zone"), col("cents"))
      .join(gated(candidates), Seq("probe_key", "zone"))
      .groupBy("probe_key")
      .agg(countDistinct(col("zone")).as("zones_matching"),
        count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
    val nZones = zonesMeta.agg(count(lit(1)).as("zones_total"))
    probes.select("probe_key")
      .join(gated(candidates.groupBy("probe_key")
        .agg(count(lit(1)).as("zones_candidate"))), Seq("probe_key"), "left")
      .join(gated(matched), Seq("probe_key"), "left")
      .crossJoin(broadcast(nZones))
      .select(col("probe_key"), col("zones_total"),
        coalesce(col("zones_candidate"), lit(0L)).as("zones_candidate"),
        coalesce(col("zones_matching"), lit(0L)).as("zones_matching"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("total_cents"))
  }

  /** DuckDB twin of [[bloomIndexedLookup]] — identical zones, bloom
    * positions, candidate rule, and per-key totals, computed logically
    * (the oracle has no files to skip). Embed after `WITH ` and select
    * from `bloom_lookup`.
    */
  def bloomIndexedLookupSql(bitsPerKey: Int = 8, kHash: Int = 3,
      probeMod: Int = 997): String =
    s"""bil_fact AS (
       |  SELECT l_orderkey, ${OracleSafe.quantSql("l_extendedprice", 100)} AS cents,
       |         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS zone
       |  FROM lineitem),
       |bil_zone_keys AS (
       |  SELECT DISTINCT zone, ${h48Sql("l_orderkey")} AS hk FROM bil_fact),
       |bil_meta AS (
       |  SELECT zone, GREATEST(COUNT(*) * $bitsPerKey, 1) AS m
       |  FROM bil_zone_keys GROUP BY 1),
       |bil_bloom AS (
       |  SELECT DISTINCT k.zone,
       |         (${h48Sql("CAST(k.hk AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}) % m.m AS pos
       |  FROM bil_zone_keys k
       |  JOIN bil_meta m ON m.zone = k.zone,
       |       (SELECT unnest(generate_series(0, $kHash - 1)) AS i)),
       |bil_present AS (
       |  SELECT DISTINCT l_orderkey AS probe_key FROM lineitem
       |  WHERE l_orderkey % $probeMod = 0),
       |bil_probes AS (
       |  SELECT probe_key, ${h48Sql("probe_key")} AS hk FROM (
       |    SELECT probe_key FROM bil_present
       |    UNION ALL
       |    SELECT probe_key + 1000000000 FROM bil_present)),
       |bil_cand AS (
       |  SELECT probe_key, zone FROM (
       |    SELECT p.probe_key, m.zone,
       |           SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS hits
       |    FROM (SELECT p0.probe_key, p0.hk, m0.zone, m0.m,
       |                 (${h48Sql("CAST(p0.hk AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}) % m0.m AS pos
       |          FROM bil_probes p0, bil_meta m0,
       |               (SELECT unnest(generate_series(0, $kHash - 1)) AS i)) p
       |    JOIN bil_meta m ON m.zone = p.zone
       |    LEFT JOIN bil_bloom b ON b.zone = p.zone AND b.pos = p.pos
       |    GROUP BY 1, 2)
       |  WHERE hits = $kHash),
       |bil_matched AS (
       |  SELECT f.l_orderkey AS probe_key,
       |         COUNT(DISTINCT f.zone) AS zones_matching,
       |         COUNT(*) AS n_rows, SUM(f.cents) AS total_cents
       |  FROM bil_fact f JOIN bil_cand c
       |    ON c.probe_key = f.l_orderkey AND c.zone = f.zone
       |  GROUP BY 1),
       |bloom_lookup AS (
       |  SELECT p.probe_key,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM bil_meta) AS zones_total,
       |         CAST(COALESCE(c.zones_candidate, 0) AS BIGINT) AS zones_candidate,
       |         CAST(COALESCE(m.zones_matching, 0) AS BIGINT) AS zones_matching,
       |         CAST(COALESCE(m.n_rows, 0) AS BIGINT) AS n_rows,
       |         CAST(m.total_cents AS BIGINT) AS total_cents
       |  FROM (SELECT DISTINCT probe_key FROM bil_probes) p
       |  LEFT JOIN (SELECT probe_key, COUNT(*) AS zones_candidate
       |             FROM bil_cand GROUP BY 1) c ON c.probe_key = p.probe_key
       |  LEFT JOIN bil_matched m ON m.probe_key = p.probe_key)""".stripMargin

  /** q255 — aggregate pushdown through a block rollup: a per-block
    * pre-aggregate maintained beside the data answers the FULL blocks of
    * a range query from rollup rows alone, and only the two partial EDGE
    * blocks scan raw rows — the materialized-rollup + residual-scan
    * split every cube/ingest-time-aggregation system performs (and what
    * "aggregate pushdown" means physically: at 100 TB a month-long SUM
    * reads ~30 rollup rows and two partition dirs, not the month). The
    * block grain is `day DIV blockDays` — pure integer arithmetic, no
    * calendar in the compare path. The oracle aggregates the raw rows
    * directly over the same range: rollup + residual must be EXACTLY the
    * direct answer (cent-exact sums make the rollup lossless), which is
    * the invariant that makes the pushdown safe to plan. The physical
    * half — the residual scan opening only the two edge dirs — is
    * asserted in `RollupPushdownSpec`.
    */
  def rollupPushdownAggregate(events: DataFrame, outDir: String,
      blockDays: Int = 30): DataFrame = {
    val spark = events.sparkSession
    val dayC = OracleSafe.intDiv(expr("ts_ns DIV 1000000"), lit(86400000L))
    val base = events.select(col("event_type"),
      OracleSafe.quant(col("value"), 100).as("cents"), dayC.as("day"))
    // data, block-partitioned, and its lossless per-(block, type) rollup
    base.withColumn("p", OracleSafe.intDiv(col("day"), lit(blockDays.toLong)))
      .repartition(col("p"))
      .write.mode("overwrite").partitionBy("p").parquet(s"$outDir/data")
    spark.read.parquet(s"$outDir/data")
      .groupBy(col("p").cast("long").as("p"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .write.mode("overwrite").parquet(s"$outDir/rollup")
    // the straddling query range: the middle half of the day span
    val mm = base.agg(min("day").as("lo"), max("day").as("hi")).head()
    val (lo0, hi0) = (mm.getAs[Long]("lo"), mm.getAs[Long]("hi"))
    val (lo, hi) = (lo0 + (hi0 - lo0) / 4, lo0 + 3 * (hi0 - lo0) / 4)
    // block split: full blocks answer from the rollup, edges from data
    val blocks = (lo / blockDays) to (hi / blockDays)
    val full = blocks.filter(b =>
      b * blockDays >= lo && b * blockDays + blockDays - 1 <= hi)
    val edge = blocks.filterNot(full.contains)
    def inSet(c: Column, s: Seq[Long]): Column =
      if (s.isEmpty) lit(false) else c.isin(s.map(Long.box): _*)
    val fromRollup = spark.read.parquet(s"$outDir/rollup")
      .filter(inSet(col("p"), full))
      .select(col("event_type"), col("n"), col("cents"))
    val fromData = spark.read.parquet(s"$outDir/data")
      .filter(inSet(col("p").cast("long"), edge)) // only edge dirs open
      .filter(col("day").between(lo, hi))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
    fromRollup.unionByName(fromData)
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("cents").as("total_cents"))
      .orderBy("event_type")
  }

  /** DuckDB twin of [[rollupPushdownAggregate]]: the direct aggregate
    * over the same integer-derived range — rollup + residual must equal
    * it exactly. Embed after `WITH ` and select from `rollup_pushdown`.
    */
  def rollupPushdownAggregateSql(): String = {
    val dayDiv = OracleSafe.intDivSql("epoch_ms(ts)", "86400000")
    s"""rp_base AS (
       |  SELECT event_type, ${OracleSafe.quantSql("value", 100)} AS cents,
       |         $dayDiv AS day
       |  FROM events),
       |rp_range AS (
       |  SELECT MIN(day) + (MAX(day) - MIN(day)) // 4 AS lo,
       |         MIN(day) + (3 * (MAX(day) - MIN(day))) // 4 AS hi
       |  FROM rp_base),
       |rollup_pushdown AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS total_cents
       |  FROM rp_base, rp_range
       |  WHERE day BETWEEN lo AND hi
       |  GROUP BY 1)""".stripMargin
  }

  /** q256 — incremental maintenance of the q255 rollup from CHANGE
    * IMAGES, never a rescan: the q249 change set (errors deleted,
    * purchases updated to doubled values, clicks cloned as inserts)
    * folds into per-(block, type) adjustment rows — Δn and Δcents per
    * image, the classic delta-propagation-through-an-aggregate IVM —
    * and one outer join applies them to the persisted rollup. Work is
    * O(images + touched rollup rows); the base data is read once to
    * build the original rollup and NEVER again. The oracle rebuilds the
    * rollup from scratch over the post-change table: updated == rebuilt
    * is the maintenance proof, and here the ORACLE carries it (hash
    * equality), not just a spec. Groups whose count adjusts to zero are
    * dropped — a rollup row with no backing rows is a lie.
    */
  def incrementalRollupMaintenance(events: DataFrame,
      outDir: String, blockDays: Int = 30): DataFrame = {
    val spark = events.sparkSession
    val dayC = OracleSafe.intDiv(expr("ts_ns DIV 1000000"), lit(86400000L))
    val base = events.select(col("event_type"),
      OracleSafe.quant(col("value"), 100).as("cents"),
      OracleSafe.quant(col("value") * 2, 100).as("cents2"),
      OracleSafe.intDiv(dayC, lit(blockDays.toLong)).as("p"))
    base.groupBy("p", "event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .write.mode("overwrite").parquet(s"$outDir/rollup")
    // the change images, each already reduced to (block, type, Δn, Δcents)
    val deletes = base.filter(col("event_type") === "error")
      .select(col("p"), col("event_type"), lit(-1L).as("dn"),
        (-col("cents")).as("dc"))
    val updates = base.filter(col("event_type") === "purchase")
      .select(col("p"), col("event_type"), lit(0L).as("dn"),
        (col("cents2") - col("cents")).as("dc"))
    val inserts = base.filter(col("event_type") === "click")
      .select(col("p"), col("event_type"), lit(1L).as("dn"),
        col("cents").as("dc"))
    val deltas = deletes.unionByName(updates).unionByName(inserts)
      .groupBy("p", "event_type")
      .agg(sum("dn").as("dn"), sum("dc").as("dc"))
    // apply: one outer join, delta-sized against the loaded artifact
    spark.read.parquet(s"$outDir/rollup")
      .join(deltas, Seq("p", "event_type"), "full_outer")
      .select(col("p"), col("event_type"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("cents"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .as("cents"))
      .filter(col("n") > 0)
      .orderBy("p", "event_type")
  }

  /** DuckDB twin of [[incrementalRollupMaintenance]]: the rollup REBUILT
    * from scratch over the post-change table — equality with the
    * incrementally-maintained artifact is the IVM proof. Embed after
    * `WITH ` and select from `incremental_rollup`.
    */
  def incrementalRollupMaintenanceSql(blockDays: Int = 30): String = {
    val dayDiv = OracleSafe.intDivSql("epoch_ms(ts)", "86400000")
    s"""irm_base AS (
       |  SELECT event_type,
       |         ${OracleSafe.quantSql("value", 100)} AS cents,
       |         ${OracleSafe.quantSql("value * 2", 100)} AS cents2,
       |         ${OracleSafe.intDivSql(dayDiv, blockDays.toString)} AS p
       |  FROM events),
       |irm_final AS (
       |  SELECT event_type, p,
       |         CASE WHEN event_type = 'purchase' THEN cents2
       |              ELSE cents END AS c
       |  FROM irm_base WHERE event_type <> 'error'
       |  UNION ALL
       |  SELECT event_type, p, cents FROM irm_base
       |  WHERE event_type = 'click'),
       |incremental_rollup AS (
       |  SELECT p, event_type, COUNT(*) AS n,
       |         CAST(SUM(c) AS BIGINT) AS cents
       |  FROM irm_final GROUP BY 1, 2)""".stripMargin
  }

  /** q245 — incremental Bloom-index maintenance end to end, completing
    * the persisted-index maintenance trio (q240 inverted postings, q243
    * IVF cells, and now the per-zone Bloom): build from the base batch
    * (`l_orderkey % deltaMod != 1` — per-zone bit sizes frozen from the
    * base), append the delta batch against the frozen sizes
    * ([[appendBloomIndexDelta]]), then run the q237 probe workload from
    * the maintained artifacts. The oracle ([[incrementalBloomLookupSql]])
    * computes the same frozen-size index logically over base+delta — the
    * comparison a deployment makes (same `m` per zone; re-sizing is a
    * rebuild, not maintenance). Hash equality proves the delta's bits
    * landed under exactly the frozen sizes AND that no probe lost a
    * truly-matching zone — the no-false-negative contract survives
    * maintenance.
    */
  def incrementalBloomLookup(lineitem: DataFrame, outDir: String,
      bitsPerKey: Int = 8, kHash: Int = 3, probeMod: Int = 997,
      deltaMod: Long = 7L): DataFrame = {
    require(deltaMod >= 2, s"deltaMod must leave a non-empty base: $deltaMod")
    buildBloomIndex(lineitem.filter(col("l_orderkey") % deltaMod =!= 1L),
      outDir, bitsPerKey, kHash)
    appendBloomIndexDelta(lineitem.filter(col("l_orderkey") % deltaMod === 1L),
      outDir, bitsPerKey, kHash)
    serveBloomIndex(lineitem, outDir, kHash, probeMod)
  }

  /** DuckDB twin of [[incrementalBloomLookup]]: the frozen-size index
    * computed logically — per-zone `m` derives from BASE keys only (new
    * zones, which the base never saw, size from their own delta keys),
    * the bloom holds base ∪ delta positions under that `m`, and the q237
    * probe workload runs over the maintained whole. Embed after `WITH `
    * and select from `inc_bloom_lookup`.
    */
  def incrementalBloomLookupSql(bitsPerKey: Int = 8, kHash: Int = 3,
      probeMod: Int = 997, deltaMod: Long = 7L): String =
    s"""ibl_fact AS (
       |  SELECT l_orderkey, ${OracleSafe.quantSql("l_extendedprice", 100)} AS cents,
       |         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS zone
       |  FROM lineitem),
       |ibl_base_keys AS (
       |  SELECT DISTINCT zone, ${h48Sql("l_orderkey")} AS hk FROM ibl_fact
       |  WHERE l_orderkey % $deltaMod <> 1),
       |ibl_delta_keys AS (
       |  SELECT DISTINCT zone, ${h48Sql("l_orderkey")} AS hk FROM ibl_fact
       |  WHERE l_orderkey % $deltaMod = 1),
       |ibl_meta AS (
       |  SELECT zone, GREATEST(COUNT(*) * $bitsPerKey, 1) AS m
       |  FROM ibl_base_keys GROUP BY 1
       |  UNION ALL
       |  SELECT zone, GREATEST(COUNT(*) * $bitsPerKey, 1) AS m
       |  FROM ibl_delta_keys
       |  WHERE zone NOT IN (SELECT zone FROM ibl_base_keys)
       |  GROUP BY zone),
       |ibl_all_keys AS (
       |  SELECT zone, hk FROM ibl_base_keys
       |  UNION
       |  SELECT zone, hk FROM ibl_delta_keys),
       |ibl_bloom AS (
       |  SELECT DISTINCT k.zone,
       |         (${h48Sql("CAST(k.hk AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}) % m.m AS pos
       |  FROM ibl_all_keys k
       |  JOIN ibl_meta m ON m.zone = k.zone,
       |       (SELECT unnest(generate_series(0, $kHash - 1)) AS i)),
       |ibl_present AS (
       |  SELECT DISTINCT l_orderkey AS probe_key FROM lineitem
       |  WHERE l_orderkey % $probeMod = 0),
       |ibl_probes AS (
       |  SELECT probe_key, ${h48Sql("probe_key")} AS hk FROM (
       |    SELECT probe_key FROM ibl_present
       |    UNION ALL
       |    SELECT probe_key + 1000000000 FROM ibl_present)),
       |ibl_cand AS (
       |  SELECT probe_key, zone FROM (
       |    SELECT p.probe_key, p.zone,
       |           SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS hits
       |    FROM (SELECT p0.probe_key, p0.hk, m0.zone, m0.m,
       |                 (${h48Sql("CAST(p0.hk AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}) % m0.m AS pos
       |          FROM ibl_probes p0, ibl_meta m0,
       |               (SELECT unnest(generate_series(0, $kHash - 1)) AS i)) p
       |    LEFT JOIN ibl_bloom b ON b.zone = p.zone AND b.pos = p.pos
       |    GROUP BY 1, 2)
       |  WHERE hits = $kHash),
       |ibl_matched AS (
       |  SELECT f.l_orderkey AS probe_key,
       |         COUNT(DISTINCT f.zone) AS zones_matching,
       |         COUNT(*) AS n_rows, SUM(f.cents) AS total_cents
       |  FROM ibl_fact f JOIN ibl_cand c
       |    ON c.probe_key = f.l_orderkey AND c.zone = f.zone
       |  GROUP BY 1),
       |inc_bloom_lookup AS (
       |  SELECT p.probe_key,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM ibl_meta) AS zones_total,
       |         CAST(COALESCE(c.zones_candidate, 0) AS BIGINT) AS zones_candidate,
       |         CAST(COALESCE(m.zones_matching, 0) AS BIGINT) AS zones_matching,
       |         CAST(COALESCE(m.n_rows, 0) AS BIGINT) AS n_rows,
       |         CAST(m.total_cents AS BIGINT) AS total_cents
       |  FROM (SELECT DISTINCT probe_key FROM ibl_probes) p
       |  LEFT JOIN (SELECT probe_key, COUNT(*) AS zones_candidate
       |             FROM ibl_cand GROUP BY 1) c ON c.probe_key = p.probe_key
       |  LEFT JOIN ibl_matched m ON m.probe_key = p.probe_key)""".stripMargin

  /** q269 — clustering-LAYOUT ADVISOR, the q261/q94 curves closed into
    * the planner loop: for each workload predicate, score three sort
    * layouts of the same table — linear on `a`, Morton(a, b),
    * Hilbert(a, b) — by the rows a zone-pruned scan would read under
    * each, and pick the cheapest. Zones are fixed-width key ranges
    * (key DIV 2^14 over the 20-bit curve keys, a DIV 16 over the linear
    * key — 64 zones each, so the comparison is fair), and each zone's
    * (a, b) bounding box comes from the data; a zone survives a
    * rectangle predicate iff the boxes overlap. This is the decision an
    * OPTIMIZE-layout command makes from exactly this arithmetic — and
    * the expected physics falls out measurably: the a-only predicate
    * picks linear (perfect runs on its own sort key), the b-only and
    * both-dims predicates pick a space-filling curve (linear cannot
    * bound `b` at all), Hilbert ≤ Morton from the tighter boxes of the
    * continuous curve.
    *
    * All keys are deterministic integer arithmetic (no range-sampled
    * partitioner anywhere), so the DuckDB twin derives the same zones,
    * the same boxes, the same decision — the CHOICE is hashed, not
    * asserted. Exact match counts ride along per predicate
    * (layout-invariant, one conditional-sum pass).
    */
  def layoutAdvisor(events: DataFrame): DataFrame = {
    val zoneW = 1L << 14 // 2^20 key space / 2^14 = 64 zones
    val base = events.select(
      (col("user_id") % 1024).cast("long").as("a"),
      ((hour(col("ts")) * 60 + minute(col("ts"))) % 1024)
        .cast("long").as("b"))
    val preds = Seq( // (id, aLo, aHi, bLo, bHi) — inclusive rectangles
      ("p1_a_band", 100L, 199L, 0L, 1023L),
      ("p2_b_band", 0L, 1023L, 600L, 699L),
      ("p3_both", 100L, 399L, 600L, 899L))
    def zm(df: DataFrame, layout: String, zone: Column): DataFrame = df
      .groupBy(zone.as("zone"))
      .agg(min("a").as("amin"), max("a").as("amax"),
        min("b").as("bmin"), max("b").as("bmax"), count(lit(1)).as("zn"))
      .select(lit(layout).as("layout"), col("*"))
    val zms = zm(base, "linear", OracleSafe.intDiv(col("a"), lit(16L)))
      .unionByName(zm(
        base.select(col("a"), col("b"), ZOrder.morton(col("a"), col("b"))),
        "morton", OracleSafe.intDiv(col("zkey"), lit(zoneW))))
      .unionByName(zm(
        ZOrder.withHilbert(base, col("a"), col("b"), "hkey", bits = 10),
        "hilbert", OracleSafe.intDiv(col("hkey"), lit(zoneW))))
    val scored = preds.map { case (id, aLo, aHi, bLo, bHi) =>
      val survives = !(col("amax") < aLo || col("amin") > aHi ||
        col("bmax") < bLo || col("bmin") > bHi)
      zms.groupBy("layout")
        .agg(sum(when(survives, col("zn")).otherwise(lit(0L))).as("rows_read"),
          sum(when(survives, 1L).otherwise(0L)).as("zones_scanned"))
        .select(lit(id).as("pred_id"), col("layout"), col("rows_read"),
          col("zones_scanned"))
    }.reduce(_ unionByName _)
    val choice = scored.groupBy("pred_id")
      .agg(min(struct(col("rows_read"), col("layout"), col("zones_scanned")))
        .as("best"))
      .select(col("pred_id"), col("best.layout").as("layout"),
        col("best.rows_read").as("rows_read"),
        col("best.zones_scanned").as("zones_scanned"))
    val exactCols = preds.map { case (id, aLo, aHi, bLo, bHi) =>
      sum(when(col("a").between(aLo, aHi) && col("b").between(bLo, bHi),
        1L).otherwise(0L)).as(s"m_$id")
    }
    val exact = base.agg(exactCols.head, exactCols.tail: _*)
    val matches = preds.map { case (id, _, _, _, _) =>
      exact.select(lit(id).as("pred_id"), col(s"m_$id").as("n_match"))
    }.reduce(_ unionByName _)
    choice.join(broadcast(matches), Seq("pred_id")).orderBy("pred_id")
  }

  /** DuckDB twin of [[layoutAdvisor]]: the same three layouts' zone maps
    * from the same integer keys (the Morton and Hilbert CTE chains are
    * generated by the same code as the engine's expressions), the same
    * survival test and argmin. Embed after `WITH ` (the chains are
    * non-recursive) and select from `layout_advisor`.
    */
  def layoutAdvisorSql(): String = {
    val preds = Seq(
      ("p1_a_band", 100L, 199L, 0L, 1023L),
      ("p2_b_band", 0L, 1023L, 600L, 699L),
      ("p3_both", 100L, 399L, 600L, 899L))
    val predVals = preds.map { case (id, aLo, aHi, bLo, bHi) =>
      s"('$id', $aLo, $aHi, $bLo, $bHi)"
    }.mkString(", ")
    s"""la_base AS (
       |  SELECT user_id % 1024 AS a,
       |         (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) % 1024
       |           AS b
       |  FROM events),
       |${ZOrder.mortonSql("la_base", "a", "b", Seq("a", "b"))},
       |${ZOrder.hilbertSql("la_base", "a", "b", Seq("a", "b"), bits = 10)},
       |la_zm AS (
       |  SELECT 'linear' AS layout, a // 16 AS zone,
       |         MIN(a) AS amin, MAX(a) AS amax, MIN(b) AS bmin,
       |         MAX(b) AS bmax, COUNT(*) AS zn
       |  FROM la_base GROUP BY 2
       |  UNION ALL
       |  SELECT 'morton', zkey // 16384, MIN(a), MAX(a), MIN(b), MAX(b),
       |         COUNT(*)
       |  FROM zfinal GROUP BY 2
       |  UNION ALL
       |  SELECT 'hilbert', hkey // 16384, MIN(a), MAX(a), MIN(b), MAX(b),
       |         COUNT(*)
       |  FROM hfinal GROUP BY 2),
       |la_preds(pred_id, alo, ahi, blo, bhi) AS (VALUES $predVals),
       |la_scored AS (
       |  SELECT p.pred_id, z.layout,
       |         CAST(SUM(CASE WHEN NOT (z.amax < p.alo OR z.amin > p.ahi
       |                            OR z.bmax < p.blo OR z.bmin > p.bhi)
       |                       THEN z.zn ELSE 0 END) AS BIGINT) AS rows_read,
       |         CAST(SUM(CASE WHEN NOT (z.amax < p.alo OR z.amin > p.ahi
       |                            OR z.bmax < p.blo OR z.bmin > p.bhi)
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned
       |  FROM la_zm z, la_preds p GROUP BY 1, 2),
       |la_exact AS (
       |  SELECT p.pred_id, CAST(COUNT(*) FILTER (
       |           WHERE e.a BETWEEN p.alo AND p.ahi
       |             AND e.b BETWEEN p.blo AND p.bhi) AS BIGINT) AS n_match
       |  FROM la_base e, la_preds p GROUP BY 1),
       |layout_advisor AS (
       |  SELECT s.pred_id, s.layout, s.rows_read, s.zones_scanned, x.n_match
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY pred_id
       |                    ORDER BY rows_read, layout) AS rn
       |        FROM la_scored) s
       |  JOIN la_exact x USING (pred_id)
       |  WHERE s.rn = 1)""".stripMargin
  }

  /** q268 — incremental ZONE-MAP maintenance, the last member of the
    * persisted-index maintenance family (q240 inverted postings, q243
    * IVF cells, q245 Bloom bits, q256 rollup, q257 graph labels): the
    * zone map built from the base batch persists, and an append-only
    * delta updates it by aggregating THE DELTA ALONE — per-zone
    * min/max/count merge through one outer join against the loaded
    * artifact, the base files never rescanned (min/max/count are all
    * merge-able statistics, which is precisely why every lakehouse
    * format keeps them per data file). Dates ride as yyyymmdd BIGINTs so
    * the compare is integer-exact on both engines. Oracle = the zone map
    * rebuilt from scratch over base+delta; updated == rebuilt carried by
    * the hash.
    */
  def incrementalZoneMap(lineitem: DataFrame, outDir: String,
      deltaMod: Int = 10): DataFrame = {
    val spark = lineitem.sparkSession
    val slim = lineitem.select(
      (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
        .cast("long").as("zone"),
      (year(col("l_shipdate")) * 10000 + month(col("l_shipdate")) * 100
        + dayofmonth(col("l_shipdate"))).cast("long").as("sd"),
      col("l_orderkey"))
    def zmOf(df: DataFrame): DataFrame = df.groupBy("zone")
      .agg(min("sd").as("zmin"), max("sd").as("zmax"),
        count(lit(1)).as("zn"))
    val inDelta = col("l_orderkey") % lit(deltaMod.toLong) === 0
    zmOf(slim.filter(!inDelta)).write.mode("overwrite").parquet(s"$outDir/zm")
    // the maintenance: delta-only aggregate + one outer merge join
    val deltaZm = zmOf(slim.filter(inDelta))
      .select(col("zone"), col("zmin").as("dmin"), col("zmax").as("dmax"),
        col("zn").as("dn"))
    spark.read.parquet(s"$outDir/zm")
      .join(deltaZm, Seq("zone"), "full_outer")
      .select(col("zone"),
        when(col("zmin").isNull, col("dmin"))
          .when(col("dmin").isNull, col("zmin"))
          .otherwise(least(col("zmin"), col("dmin"))).as("zmin"),
        when(col("zmax").isNull, col("dmax"))
          .when(col("dmax").isNull, col("zmax"))
          .otherwise(greatest(col("zmax"), col("dmax"))).as("zmax"),
        (coalesce(col("zn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("zn"))
      .orderBy("zone")
  }

  /** DuckDB twin of [[incrementalZoneMap]]: the zone map rebuilt from
    * scratch over the full table. Embed after `WITH ` and select from
    * `inc_zonemap`.
    */
  def incrementalZoneMapSql(): String =
    s"""izm_slim AS (
       |  SELECT (year(l_shipdate) * 12 + month(l_shipdate)) AS zone,
       |         (year(l_shipdate) * 10000 + month(l_shipdate) * 100
       |          + day(l_shipdate)) AS sd
       |  FROM lineitem),
       |inc_zonemap AS (
       |  SELECT CAST(zone AS BIGINT) AS zone,
       |         CAST(MIN(sd) AS BIGINT) AS zmin,
       |         CAST(MAX(sd) AS BIGINT) AS zmax,
       |         COUNT(*) AS zn
       |  FROM izm_slim GROUP BY 1)""".stripMargin

  /** q259 — materialized-view LATTICE ROUTING: three cuboids of the
    * (returnflag, linestatus, ship-year) cube are materialized to disk —
    * the finest (rf, ls, yr) plus two partial rollups (rf, yr) and (ls) —
    * and each incoming grouping query is answered from the SMALLEST
    * persisted cuboid that subsumes its dimensions, never from the base
    * table. Subsumption is set containment (a cuboid can answer any
    * grouping of a subset of its dims, because SUM/COUNT re-aggregate
    * losslessly); among subsuming cuboids the router picks min row count,
    * name as the tie-break. This is the q255 rollup idea lifted to a
    * lattice with a CHOICE — the core of every OLAP MV-rewrite engine
    * (Harinarayan/Rajaraman/Ullman 1996's cube-lattice model).
    *
    * The answer frame carries per-target proof columns: the routed
    * cuboid's name and row count, plus group count / total / max-group
    * aggregates that only come out right if the re-aggregation grouped
    * correctly. Oracle = the same routing decision recomputed from
    * cuboid sizes in SQL and the answers taken DIRECTLY from the base
    * table — answered-from-cuboid == answered-from-base is the rewrite's
    * correctness claim.
    *
    * Scale shape: cuboids are map-side-combinable aggregates, bounded by
    * |rf|·|ls|·|years| (tiny vs the fact); routing reads three persisted
    * row counts (metadata-scale, like every planner frame here); each
    * answer re-aggregates a loaded cuboid, never rescans the fact.
    */
  def cuboidRouting(lineitem: DataFrame, outDir: String): DataFrame = {
    val spark = lineitem.sparkSession
    val base = lineitem.select(
      col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
      year(col("l_shipdate")).as("yr"),
      OracleSafe.quant(col("l_quantity"), 100).as("qc"))
    val cuboids: Seq[(String, Seq[String])] = Seq(
      "rf_ls_yr" -> Seq("rf", "ls", "yr"),
      "rf_yr"    -> Seq("rf", "yr"),
      "ls"       -> Seq("ls"))
    cuboids.foreach { case (name, dims) =>
      base.groupBy(dims.map(col): _*)
        .agg(count(lit(1)).as("n"), sum("qc").as("qty"))
        .write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // routing metadata: three persisted row counts (planner-frame scale)
    val sizes: Map[String, Long] =
      cuboids.map { case (name, _) =>
        name -> spark.read.parquet(s"$outDir/$name").count()
      }.toMap
    val targets: Seq[(String, Seq[String])] = Seq(
      "rf" -> Seq("rf"), "ls" -> Seq("ls"), "yr" -> Seq("yr"))
    val answers = targets.map { case (qname, qdims) =>
      val candidates = cuboids.filter { case (_, dims) =>
        qdims.forall(dims.contains)
      }
      val (routed, _) = candidates.minBy { case (name, _) => (sizes(name), name) }
      spark.read.parquet(s"$outDir/$routed")
        .groupBy(qdims.map(col): _*)
        .agg(sum("n").as("gn"), sum("qty").as("gq"))
        .agg(count(lit(1)).as("n_groups"), sum("gn").as("n_rows"),
          sum("gq").as("total_qc"), max("gq").as("max_group_qc"))
        .select(lit(qname).as("query_dims"), lit(routed).as("routed_cuboid"),
          lit(sizes(routed)).as("cuboid_rows"),
          col("n_groups"), col("n_rows"), col("total_qc"), col("max_group_qc"))
    }
    answers.reduce(_.unionByName(_)).orderBy("query_dims")
  }

  /** DuckDB twin of [[cuboidRouting]]: the routing decision recomputed
    * from cuboid group counts, the answers taken directly from the base
    * table. Embed after `WITH ` and select from `cuboid_routing`.
    */
  def cuboidRoutingSql(): String = {
    val qc = OracleSafe.quantSql("l_quantity", 100)
    // cuboid sizes as scalar subqueries over DISTINCT dim tuples; the
    // router is the same (size, name) argmin, unrolled per target
    s"""cr_base AS (
       |  SELECT l_returnflag AS rf, l_linestatus AS ls,
       |         year(l_shipdate) AS yr, $qc AS qc
       |  FROM lineitem),
       |cr_sizes AS (
       |  SELECT 'rf_ls_yr' AS c, COUNT(*) AS n
       |  FROM (SELECT DISTINCT rf, ls, yr FROM cr_base)
       |  UNION ALL
       |  SELECT 'rf_yr', COUNT(*) FROM (SELECT DISTINCT rf, yr FROM cr_base)
       |  UNION ALL
       |  SELECT 'ls', COUNT(*) FROM (SELECT DISTINCT ls FROM cr_base)),
       |cr_route AS (
       |  SELECT 'rf' AS query_dims, c AS routed_cuboid, n AS cuboid_rows
       |  FROM (SELECT c, n FROM cr_sizes WHERE c IN ('rf_ls_yr', 'rf_yr')
       |        ORDER BY n, c LIMIT 1)
       |  UNION ALL
       |  SELECT 'ls', c, n
       |  FROM (SELECT c, n FROM cr_sizes WHERE c IN ('rf_ls_yr', 'ls')
       |        ORDER BY n, c LIMIT 1)
       |  UNION ALL
       |  SELECT 'yr', c, n
       |  FROM (SELECT c, n FROM cr_sizes WHERE c IN ('rf_ls_yr', 'rf_yr')
       |        ORDER BY n, c LIMIT 1)),
       |cr_ans AS (
       |  SELECT 'rf' AS query_dims, COUNT(*) AS n_groups,
       |         CAST(SUM(gn) AS BIGINT) AS n_rows,
       |         CAST(SUM(gq) AS BIGINT) AS total_qc,
       |         CAST(MAX(gq) AS BIGINT) AS max_group_qc
       |  FROM (SELECT rf, COUNT(*) AS gn, SUM(qc) AS gq
       |        FROM cr_base GROUP BY rf)
       |  UNION ALL
       |  SELECT 'ls', COUNT(*), CAST(SUM(gn) AS BIGINT),
       |         CAST(SUM(gq) AS BIGINT), CAST(MAX(gq) AS BIGINT)
       |  FROM (SELECT ls, COUNT(*) AS gn, SUM(qc) AS gq
       |        FROM cr_base GROUP BY ls)
       |  UNION ALL
       |  SELECT 'yr', COUNT(*), CAST(SUM(gn) AS BIGINT),
       |         CAST(SUM(gq) AS BIGINT), CAST(MAX(gq) AS BIGINT)
       |  FROM (SELECT yr, COUNT(*) AS gn, SUM(qc) AS gq
       |        FROM cr_base GROUP BY yr)),
       |cuboid_routing AS (
       |  SELECT r.query_dims, r.routed_cuboid, r.cuboid_rows,
       |         a.n_groups, a.n_rows, a.total_qc, a.max_group_qc
       |  FROM cr_route r JOIN cr_ans a USING (query_dims))""".stripMargin
  }

  /** Frozen linear-counting table for [[hllSketchRollup]]: 64·ln(64/V)
    * for V = 1..63, computed once here and embedded as literals in BOTH
    * plans (the q228/q274 discipline — no engine libm in the result).
    */
  private lazy val hllLinearCount: IndexedSeq[(Long, Double)] =
    (1 to 63).map(v => (v.toLong, 64.0 * math.log(64.0 / v)))

  /** alpha · m² · 2⁴³ / 10⁶ as one frozen double literal (the raw-HLL
    * numerator over the 2⁴³-scaled integer harmonic denominator).
    * alpha here is the m ≥ 128 closed form 0.7213/(1 + 1.079/m)
    * EVALUATED AT m = 64 (= 0.709270), not the paper's tabulated
    * alpha_64 = 0.709 — the two differ in the 4th decimal. Engine
    * parity is unaffected (the same literal is frozen into both
    * plans); the constant choice only nudges the estimator ~0.04%
    * relative to the Flajolet et al. tabulation.
    */
  private lazy val hllNumConst: Double =
    709270.0 * 4096.0 * 8796093022208.0 / 1000000.0

  /** q282 — PERSISTED HLL-REGISTER ROLLUP: per-day HyperLogLog register
    * tables land on disk once, and month and global distinct-user
    * estimates are answered by MERGING the loaded registers (per-bucket
    * max — HLL's defining property: register-wise max IS the sketch of
    * the union), never by rescanning events. This is the pre-aggregated
    * COUNT(DISTINCT) story every metrics warehouse runs at 100 TB: the
    * day grain pays one scan ever; every coarser rollup is arithmetic
    * over 64-register rows. q75 audits Spark's built-in HLL error
    * contract; this one implements the registers EXPLICITLY (48-bit key
    * hash → 6-bit bucket, 42-bit rank via `bin()` length — identical
    * integers on both engines) so the merge is itself hash-checked.
    *
    * Estimates: the raw-HLL harmonic mean rides a 2⁴³-scaled INTEGER
    * denominator (register state pins through the hash), one frozen-
    * literal numerator and one double division; the small-range branch
    * uses the frozen linear-counting table. Exact audits ride along.
    */
  def hllSketchRollup(events: DataFrame, outDir: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events.select(
      (year(col("ts")) * 100 + month(col("ts"))).cast("long").as("ym"),
      OracleSafe.intDiv(expr("ts_ns DIV 1000000"), lit(86400000L)).as("day"),
      h48(col("user_id").cast("string")).as("h"))
    val regs = keyed.select(col("ym"), col("day"),
        (col("h") % 64).as("idx"),
        when(OracleSafe.intDiv(col("h"), lit(64L)) === 0L, lit(43L))
          .otherwise(lit(43L) -
            length(bin(OracleSafe.intDiv(col("h"), lit(64L))))).as("rho"))
      .groupBy("ym", "day", "idx").agg(max("rho").as("rho"))
    regs.write.mode("overwrite").parquet(s"$outDir/day_sketches")
    val loaded = spark.read.parquet(s"$outDir/day_sketches")
    val lc = broadcast(hllLinearCount.toDF("v", "lc_est"))
    def estimate(merged: DataFrame, scopeCol: Column): DataFrame = merged
      .groupBy(scopeCol.as("scope"))
      .agg(count(lit(1)).as("n_used"),
        sum(expr("shiftleft(1L, CAST(43 - rho AS INT))")).as("denom_used"))
      .select(col("scope"),
        (lit(64L) - col("n_used")).as("v_zeros"),
        (col("denom_used") +
          (lit(64L) - col("n_used")) * lit(1L << 43)).as("denom"))
      .withColumn("raw_est",
        lit(hllNumConst) / col("denom").cast("double"))
      .join(lc, col("v_zeros") === col("v"), "left")
      .select(col("scope"), col("v_zeros"), col("denom"),
        when(col("raw_est") <= 160.0 && col("v_zeros") > 0L, col("lc_est"))
          .otherwise(col("raw_est")).as("est"),
        when(col("raw_est") <= 160.0 && col("v_zeros") > 0L, lit("linear"))
          .otherwise(lit("raw")).as("branch"))
    val monthRegs = loaded.groupBy("ym", "idx").agg(max("rho").as("rho"))
    val months = estimate(monthRegs, concat(lit("m:"), col("ym")))
    val global = estimate(loaded.groupBy("idx").agg(max("rho").as("rho"))
      .withColumn("g", lit("global")), col("g"))
    val exact = events.select(
        concat(lit("m:"), (year(col("ts")) * 100 + month(col("ts")))
          .cast("long")).as("scope"), col("user_id"))
      .groupBy("scope").agg(countDistinct("user_id").as("n_exact"))
      .unionByName(events.agg(countDistinct("user_id").as("n_exact"))
        .select(lit("global").as("scope"), col("n_exact")))
    months.unionByName(global).join(exact, Seq("scope"))
      .orderBy("scope")
  }

  /** DuckDB twin of [[hllSketchRollup]] — identical registers, merges,
    * frozen constants. Embed after `WITH ` and select from `hll_rollup`.
    */
  def hllSketchRollupSql(): String = {
    val lcVals = hllLinearCount
      .map { case (v, e) => s"($v, $e)" }.mkString(", ")
    val p43 = 1L << 43
    def estSql(regCte: String, scopeExpr: String, grp: String) =
      s"""SELECT $scopeExpr AS scope,
         |       64 - COUNT(*) AS v_zeros,
         |       CAST(SUM(1::BIGINT << (43 - rho))
         |            + (64 - COUNT(*)) * $p43 AS BIGINT) AS denom
         |FROM $regCte GROUP BY $grp""".stripMargin
    s"""hr_keyed AS (
       |  SELECT CAST(EXTRACT(year FROM ts) * 100
       |              + EXTRACT(month FROM ts) AS BIGINT) AS ym,
       |         epoch_ms(ts) // 86400000 AS day,
       |         ${h48Sql("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events),
       |hr_regs AS (
       |  SELECT ym, day, h % 64 AS idx,
       |         MAX(CASE WHEN h // 64 = 0 THEN 43
       |                  ELSE 43 - length(bin(h // 64)) END) AS rho
       |  FROM hr_keyed GROUP BY 1, 2, 3),
       |hr_month AS (
       |  SELECT ym, idx, MAX(rho) AS rho FROM hr_regs GROUP BY 1, 2),
       |hr_glob AS (
       |  SELECT idx, MAX(rho) AS rho FROM hr_regs GROUP BY 1),
       |hr_lc(v, lc_est) AS (VALUES $lcVals),
       |hr_scoped AS (
       |  ${estSql("hr_month", "'m:' || CAST(ym AS VARCHAR)", "ym")}
       |  UNION ALL
       |  ${estSql("hr_glob", "'global'", "'global'")}),
       |hr_est AS (
       |  SELECT s.scope, s.v_zeros, s.denom,
       |         CASE WHEN $hllNumConst / CAST(s.denom AS DOUBLE) <= 160.0
       |                AND s.v_zeros > 0 THEN l.lc_est
       |              ELSE $hllNumConst / CAST(s.denom AS DOUBLE) END AS est,
       |         CASE WHEN $hllNumConst / CAST(s.denom AS DOUBLE) <= 160.0
       |                AND s.v_zeros > 0 THEN 'linear' ELSE 'raw' END
       |           AS branch
       |  FROM hr_scoped s LEFT JOIN hr_lc l ON l.v = s.v_zeros),
       |hr_exact AS (
       |  SELECT 'm:' || CAST(CAST(EXTRACT(year FROM ts) * 100
       |           + EXTRACT(month FROM ts) AS BIGINT) AS VARCHAR) AS scope,
       |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
       |  FROM events GROUP BY 1
       |  UNION ALL
       |  SELECT 'global', CAST(COUNT(DISTINCT user_id) AS BIGINT)
       |  FROM events),
       |hll_rollup AS (
       |  SELECT e.scope, e.v_zeros, e.denom, e.est, e.branch, x.n_exact
       |  FROM hr_est e JOIN hr_exact x USING (scope))""".stripMargin
  }

  /** q296 — the HLL registers as a NATIVE AGGREGATE: distinct users per
    * event type and globally from [[graft.plans.HllRegistersAgg]] — a
    * `TypedImperativeAggregate` carrying one 64-long buffer per group
    * through map-side partial aggregation, where q282's formulation
    * shuffles one row per (scope, register). Same register math
    * bit-for-bit (the spec proves array-equality against the exploded
    * groupBy), same frozen-literal estimate arithmetic; v-zeros and the
    * integer harmonic denominator are derived from the register array
    * with SQL lambda folds (exact integers), and the oracle computes
    * the identical registers via its own sparse groupBy — the hash
    * match is the proof the imperative buffer path IS the declarative
    * one.
    *
    * Scale: this is the single-pass form — one scan, constant 512 B of
    * state per group whatever the fan-in, merge in any order (register
    * max is associative/commutative). The custom-expression ladder's
    * aggregate rung, beside LongArrayDot (scalar) and TopKPerKey
    * (operator).
    */
  def hllNativeDistinct(events: DataFrame): DataFrame = {
    import graft.plans.HllRegistersAgg.hll_registers
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events.select(col("event_type"),
      h48(col("user_id").cast("string")).as("h")).localCheckpoint()
    val perType = keyed.groupBy("event_type")
      .agg(hll_registers(col("h")).as("regs"))
      .select(concat(lit("t:"), col("event_type")).as("scope"), col("regs"))
    val global = keyed.agg(hll_registers(col("h")).as("regs"))
      .select(lit("global").as("scope"), col("regs"))
    val lc = broadcast(hllLinearCount.toDF("v", "lc_est"))
    val est = perType.unionByName(global)
      .withColumn("v_zeros",
        expr("aggregate(regs, 0L, (acc, x) -> acc + IF(x = 0, 1L, 0L))"))
      .withColumn("denom",
        expr("aggregate(regs, 0L, (acc, x) -> acc + IF(x = 0, " +
          "8796093022208L, shiftleft(1L, CAST(43 - x AS INT))))"))
      .withColumn("raw_est", lit(hllNumConst) / col("denom").cast("double"))
      .join(lc, col("v_zeros") === col("v"), "left")
      .select(col("scope"), col("v_zeros"), col("denom"),
        when(col("raw_est") <= 160.0 && col("v_zeros") > 0L, col("lc_est"))
          .otherwise(col("raw_est")).as("est"),
        when(col("raw_est") <= 160.0 && col("v_zeros") > 0L, lit("linear"))
          .otherwise(lit("raw")).as("branch"))
    val exact = events
      .select(concat(lit("t:"), col("event_type")).as("scope"),
        col("user_id"))
      .groupBy("scope").agg(countDistinct("user_id").as("n_exact"))
      .unionByName(events.agg(countDistinct("user_id").as("n_exact"))
        .select(lit("global").as("scope"), col("n_exact")))
    est.join(exact, Seq("scope")).orderBy("scope")
  }

  /** DuckDB twin of [[hllNativeDistinct]] — the registers via the sparse
    * groupBy, identical constants. Embed after `WITH ` and select from
    * `hll_native`.
    */
  def hllNativeDistinctSql(): String = {
    val lcVals = hllLinearCount
      .map { case (v, e) => s"($v, $e)" }.mkString(", ")
    val p43 = 1L << 43
    def estSql(regCte: String, scopeExpr: String, grp: String) =
      s"""SELECT $scopeExpr AS scope,
         |       64 - COUNT(*) AS v_zeros,
         |       CAST(SUM(1::BIGINT << (43 - rho))
         |            + (64 - COUNT(*)) * $p43 AS BIGINT) AS denom
         |FROM $regCte GROUP BY $grp""".stripMargin
    s"""hn_keyed AS (
       |  SELECT event_type, ${h48Sql("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events),
       |hn_regs AS (
       |  SELECT event_type, h % 64 AS idx,
       |         MAX(CASE WHEN h // 64 = 0 THEN 43
       |                  ELSE 43 - length(bin(h // 64)) END) AS rho
       |  FROM hn_keyed GROUP BY 1, 2),
       |hn_glob AS (
       |  SELECT idx, MAX(rho) AS rho FROM hn_regs GROUP BY 1),
       |hn_lc(v, lc_est) AS (VALUES $lcVals),
       |hn_scoped AS (
       |  ${estSql("hn_regs", "'t:' || event_type", "event_type")}
       |  UNION ALL
       |  ${estSql("hn_glob", "'global'", "'global'")}),
       |hn_est AS (
       |  SELECT s.scope, s.v_zeros, s.denom,
       |         CASE WHEN $hllNumConst / CAST(s.denom AS DOUBLE) <= 160.0
       |                AND s.v_zeros > 0 THEN l.lc_est
       |              ELSE $hllNumConst / CAST(s.denom AS DOUBLE) END AS est,
       |         CASE WHEN $hllNumConst / CAST(s.denom AS DOUBLE) <= 160.0
       |                AND s.v_zeros > 0 THEN 'linear' ELSE 'raw' END
       |           AS branch
       |  FROM hn_scoped s LEFT JOIN hn_lc l ON l.v = s.v_zeros),
       |hn_exact AS (
       |  SELECT 't:' || event_type AS scope,
       |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
       |  FROM events GROUP BY 1
       |  UNION ALL
       |  SELECT 'global', CAST(COUNT(DISTINCT user_id) AS BIGINT)
       |  FROM events),
       |hll_native AS (
       |  SELECT e.scope, e.v_zeros, e.denom, e.est, e.branch, x.n_exact
       |  FROM hn_est e JOIN hn_exact x USING (scope))""".stripMargin
  }

  /** q279 — DYNAMIC PARTITION PRUNING star join: the fact lands on disk
    * partitioned by ship year-month, the date dimension carries the
    * quarter attribute, and the query filters the DIMENSION — so no
    * static pruning can touch the fact, yet Spark's DPP injects the
    * dim's surviving ym keys into the fact scan's partition filter AT
    * RUNTIME and the scan opens only those directories. This is the
    * lakehouse star-join pattern q217 (static zone pruning) cannot
    * cover: the pruning predicate does not exist until the dim filter
    * has run. `DppSpec` asserts the physical half — the executed fact
    * scan carries a DynamicPruningExpression and opens exactly the
    * quarter's partition dirs; this query hashes the logical half
    * (pruned join == direct filter) against the oracle.
    *
    * Scale: at 100 TB the fact's 1000s of ym dirs are the unit of I/O;
    * DPP turns a dim-attribute filter into fact-side dir elimination
    * with zero manual plumbing — exactly what `partitionBy` layouts
    * are FOR. The dim is distinct-ym-sized (bounded by the calendar).
    */
  def dppStarJoin(lineitem: DataFrame, outDir: String): DataFrame = {
    val spark = lineitem.sparkSession
    val fact = lineitem.select(col("l_orderkey"),
      OracleSafe.quant(col("l_extendedprice"), 100).as("cents"),
      (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
        .cast("long").as("ym"))
    // repartition by the partition column BEFORE the partitioned write:
    // otherwise every writer task holds every ym and the layout fans out
    // into tasks × dirs tiny files (the q243 lesson — serve-side scans
    // then pay per-file open cost on every probe)
    fact.repartition(col("ym"))
      .write.mode("overwrite").partitionBy("ym").parquet(s"$outDir/fact")
    fact.select("ym").distinct()
      .withColumn("quarter",
        OracleSafe.intDiv(col("ym") % 100 - 1, lit(3L)) + 1L)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/dim")
    val f = spark.read.parquet(s"$outDir/fact")
    val d = spark.read.parquet(s"$outDir/dim").filter(col("quarter") === 1L)
    f.join(d.select("ym"), Seq("ym"))
      .groupBy("ym")
      .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
      .orderBy("ym")
  }

  /** DuckDB twin of [[dppStarJoin]] — the same star join computed
    * logically. Embed after `WITH ` and select from `dpp_star`.
    */
  def dppStarJoinSql(): String =
    s"""dpp_fact AS (
       |  SELECT l_orderkey,
       |         ${OracleSafe.quantSql("l_extendedprice", 100)} AS cents,
       |         CAST(EXTRACT(year FROM l_shipdate) * 100
       |              + EXTRACT(month FROM l_shipdate) AS BIGINT) AS ym
       |  FROM lineitem),
       |dpp_dim AS (
       |  SELECT ym, ${OracleSafe.intDivSql("ym % 100 - 1", "3")} + 1
       |           AS quarter
       |  FROM (SELECT DISTINCT ym FROM dpp_fact)),
       |dpp_star AS (
       |  SELECT f.ym, CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(f.cents) AS BIGINT) AS total_cents
       |  FROM dpp_fact f JOIN dpp_dim d ON d.ym = f.ym
       |  WHERE d.quarter = 1
       |  GROUP BY 1)""".stripMargin

  /** q272 — THETA-SKETCH set algebra: distinct-count estimates for
    * A∪B, A∩B and A\B between per-event-type key sets, from nothing but
    * each set's bottom-k hash sketch — the sketch-family member
    * (MG q99, KMV q145/q154, HLL q75, KLL q90, Bloom q157, CM q159)
    * that answers SET EXPRESSIONS, which a plain cardinality sketch
    * cannot. Standard theta semantics: θ = min of the two sketches'
    * thresholds; every retained hash below θ is a uniform 1/θ-rate
    * sample of the underlying set, so |expr| ≈ count_below_θ · 2⁴⁸/θ
    * for ANY boolean combination — membership tests against a sketch
    * are exact below its own θ, which is why the min-θ rule works.
    *
    * Scale: one bottom-k aggregate per set (map-side partial heaps,
    * k·8 B state — [[graft.plans.TopK.perKey]]); everything after is
    * arithmetic over ≤ 2k-row frames. The exact audits (one distinct
    * join per pair) are the measurement a deployment drops. All counts
    * and θ are integers identical on both engines; the three estimate
    * doubles are single divisions of exactly-representable numerators.
    * Keys are (user, day) visit pairs so the sets genuinely differ per
    * event type; identity is the 48-bit key hash on both sides.
    * Both plans anchor on the STATIC pair list (left-join + COALESCE),
    * so degenerate inputs — an event type absent from the data, or no
    * merged hash below θ — still emit one zero-count row per pair with
    * a non-null θ (= max48 for an empty sketch) instead of diverging.
    */
  def thetaSketchSetOps(events: DataFrame, k: Int = 256): DataFrame = {
    require(k >= 2, s"theta sketch needs k >= 2, got $k")
    val spark = events.sparkSession
    import spark.implicits._
    val max48 = 1L << 48
    val keys = events.select(col("event_type"),
      h48(concat_ws(":", col("user_id").cast("string"),
        (year(col("ts")) * 10000 + month(col("ts")) * 100 +
          dayofmonth(col("ts"))).cast("long").cast("string"))).as("h"))
      .distinct().localCheckpoint()
    val sk = graft.plans.TopK.perKey(keys, Seq("event_type"),
      Seq(graft.plans.TopK.asc("h")), k = k, rankName = "rk")
      .localCheckpoint()
    val thetas = sk.groupBy("event_type")
      .agg(count(lit(1)).as("n_ret"), max("h").as("h_k"))
      .select(col("event_type"),
        when(col("n_ret") < k, lit(max48)).otherwise(col("h_k")).as("theta"))
    val pairs = Seq(("click", "purchase"), ("view", "error"),
      ("signup", "click"))
    // Anchor each pair's θ on the STATIC pair list: an event type absent
    // from the data has an empty sketch, i.e. < k retained hashes, so its
    // θ is max48 by the same rule the aggregate applies — a left join with
    // COALESCE keeps the pair row alive (and its θ non-null) on degenerate
    // inputs, matching the SQL twin's identical anchoring.
    def anchoredTheta(t: String, alias: String): DataFrame =
      broadcast(Seq(t).toDF("event_type")
        .join(thetas, Seq("event_type"), "left")
        .select(coalesce(col("theta"), lit(max48)).as(alias)))
    pairs.map { case (ta, tb) =>
      val th = broadcast(
        anchoredTheta(ta, "theta_a").crossJoin(anchoredTheta(tb, "theta_b"))
          .select(least(col("theta_a"), col("theta_b")).as("theta")))
      val sa = sk.filter(col("event_type") === ta).select(col("h").as("ha"))
      val sb = sk.filter(col("event_type") === tb).select(col("h").as("hb"))
      val merged = sa.join(sb, sa("ha") === sb("hb"), "full_outer")
        .crossJoin(th)
        .withColumn("h", coalesce(col("ha"), col("hb")))
        .filter(col("h") < col("theta"))
      // sums COALESCE to 0 and θ comes from the one-row anchor, so a pair
      // with no retained hash below θ still emits a fully-typed zero row.
      val cnt = merged.agg(
        count(lit(1)).as("n_union_below"),
        coalesce(sum(when(col("ha").isNotNull && col("hb").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_inter_below"),
        coalesce(sum(when(col("ha").isNotNull && col("hb").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_diff_below"))
        .crossJoin(th)
      val ea = keys.filter(col("event_type") === ta).select(col("h").as("ha"))
      val eb = keys.filter(col("event_type") === tb).select(col("h").as("hb"))
      val exact = ea.join(eb, ea("ha") === eb("hb"), "full_outer").agg(
        count(lit(1)).as("exact_union"),
        coalesce(sum(when(col("ha").isNotNull && col("hb").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("exact_inter"),
        coalesce(sum(when(col("ha").isNotNull && col("hb").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("exact_diff"))
      cnt.crossJoin(exact).select(
        lit(s"${ta}_$tb").as("pair"), col("theta"),
        col("n_union_below"), col("n_inter_below"), col("n_diff_below"),
        ((col("n_union_below") * max48).cast("double")
          / col("theta").cast("double")).as("est_union"),
        ((col("n_inter_below") * max48).cast("double")
          / col("theta").cast("double")).as("est_inter"),
        ((col("n_diff_below") * max48).cast("double")
          / col("theta").cast("double")).as("est_diff"),
        col("exact_union"), col("exact_inter"), col("exact_diff"))
    }.reduce(_ unionByName _).orderBy("pair")
  }

  /** DuckDB twin of [[thetaSketchSetOps]]: the same bottom-k sketches
    * via ROW_NUMBER, the same min-θ rule and count/estimate arithmetic.
    * Embed after `WITH ` and select from `theta_setops`.
    */
  def thetaSketchSetOpsSql(k: Int = 256): String = {
    val max48 = 1L << 48
    val pairVals = Seq(("click", "purchase"), ("view", "error"),
      ("signup", "click"))
      .map { case (a, b) => s"('${a}_$b', '$a', '$b')" }.mkString(", ")
    s"""ts_keys AS (
       |  SELECT DISTINCT event_type,
       |         ${h48Sql("CAST(user_id AS VARCHAR) || ':' || CAST(" +
        "EXTRACT(year FROM ts) * 10000 + EXTRACT(month FROM ts) * 100 + " +
        "EXTRACT(day FROM ts) AS VARCHAR)")} AS h
       |  FROM events),
       |ts_sk AS (
       |  SELECT event_type, h FROM (
       |    SELECT event_type, h,
       |           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
       |             AS rk
       |    FROM ts_keys)
       |  WHERE rk <= $k),
       |ts_theta AS (
       |  SELECT event_type,
       |         CASE WHEN COUNT(*) < $k THEN CAST($max48 AS BIGINT)
       |              ELSE MAX(h) END AS theta
       |  FROM ts_sk GROUP BY 1),
       |ts_pairs(pair, ta, tb) AS (VALUES $pairVals),
       |ts_mem AS (
       |  SELECT p.pair, s.h,
       |         MAX(CASE WHEN s.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
       |         MAX(CASE WHEN s.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
       |  FROM ts_pairs p JOIN ts_sk s ON s.event_type IN (p.ta, p.tb)
       |  GROUP BY 1, 2),
       |ts_thp AS (
       |  SELECT p.pair,
       |         LEAST(COALESCE(tha.theta, CAST($max48 AS BIGINT)),
       |               COALESCE(thb.theta, CAST($max48 AS BIGINT))) AS theta
       |  FROM ts_pairs p
       |  LEFT JOIN ts_theta tha ON tha.event_type = p.ta
       |  LEFT JOIN ts_theta thb ON thb.event_type = p.tb),
       |ts_below AS (
       |  SELECT t.pair, t.theta,
       |         CAST(COUNT(*) FILTER (WHERE m.h < t.theta) AS BIGINT)
       |           AS n_union_below,
       |         CAST(COUNT(*) FILTER (WHERE m.in_a = 1 AND m.in_b = 1
       |           AND m.h < t.theta) AS BIGINT) AS n_inter_below,
       |         CAST(COUNT(*) FILTER (WHERE m.in_a = 1 AND m.in_b = 0
       |           AND m.h < t.theta) AS BIGINT) AS n_diff_below
       |  FROM ts_thp t LEFT JOIN ts_mem m ON m.pair = t.pair
       |  GROUP BY 1, 2),
       |ts_emem AS (
       |  SELECT p.pair, s.h,
       |         MAX(CASE WHEN s.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
       |         MAX(CASE WHEN s.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
       |  FROM ts_pairs p JOIN ts_keys s ON s.event_type IN (p.ta, p.tb)
       |  GROUP BY 1, 2),
       |ts_exact AS (
       |  SELECT p.pair, CAST(COUNT(e.h) AS BIGINT) AS exact_union,
       |         CAST(COUNT(*) FILTER (WHERE e.in_a = 1 AND e.in_b = 1)
       |           AS BIGINT) AS exact_inter,
       |         CAST(COUNT(*) FILTER (WHERE e.in_a = 1 AND e.in_b = 0)
       |           AS BIGINT) AS exact_diff
       |  FROM ts_pairs p LEFT JOIN ts_emem e ON e.pair = p.pair
       |  GROUP BY 1),
       |theta_setops AS (
       |  SELECT w.pair, w.theta, w.n_union_below, w.n_inter_below,
       |         w.n_diff_below,
       |         CAST(w.n_union_below * $max48 AS DOUBLE)
       |           / CAST(w.theta AS DOUBLE) AS est_union,
       |         CAST(w.n_inter_below * $max48 AS DOUBLE)
       |           / CAST(w.theta AS DOUBLE) AS est_inter,
       |         CAST(w.n_diff_below * $max48 AS DOUBLE)
       |           / CAST(w.theta AS DOUBLE) AS est_diff,
       |         x.exact_union, x.exact_inter, x.exact_diff
       |  FROM ts_below w JOIN ts_exact x USING (pair))""".stripMargin
  }

  /** q270 — YANNAKAKIS full semi-join reduction over the acyclic join
    * path region–nation–customer–orders–lineitem: a bottom-up semi-join
    * pass (each relation keeps only tuples that can reach the filtered
    * root) followed by a top-down pass (each keeps only tuples some
    * surviving fact row actually uses), after which the final join runs
    * over DANGLING-TUPLE-FREE inputs — the classic guarantee that no
    * intermediate result exceeds the output size on an acyclic query.
    * This is the missing member of the join-program tier (q202/q208
    * order it, q163/q212 pick its strategies, q222 blooms one edge):
    * the 100 TB payoff is that the urgent/BUILDING/returned filters cut
    * each relation BEFORE anything wide shuffles, so the five-way join
    * moves only rows that appear in the answer. Every semi join here is
    * exact (Spark's runtime bloom pruning is the approximate fast path
    * of exactly this shape; q222 measures that one).
    *
    * Output: one `reduce` row per relation with the post-local-filter
    * count and the fully-reduced count (the measured benefit), then one
    * `result` row per surviving region with the cent-exact revenue from
    * the reduced join — equal, by the theorem, to the unreduced join's
    * answer, which is what the DuckDB twin computes structurally.
    */
  def yannakakisReduction(region: DataFrame, nation: DataFrame,
      customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val rF = region.filter(col("r_name").isin("ASIA", "EUROPE"))
      .select("r_regionkey", "r_name")
    val nF = nation.select("n_nationkey", "n_regionkey")
    val cF = customer.filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_nationkey")
    val oF = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_custkey")
    val lF = lineitem.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        OracleSafe.quant(col("l_extendedprice"), 100).as("cents"))
    // bottom-up: keep tuples that can reach the filtered region leaf
    val n1 = nF.join(broadcast(rF.select(col("r_regionkey").as("n_regionkey"))),
      Seq("n_regionkey"), "left_semi")
    val c1 = cF.join(broadcast(n1.select(col("n_nationkey").as("c_nationkey"))),
      Seq("c_nationkey"), "left_semi").localCheckpoint()
    val o1 = oF.join(c1.select(col("c_custkey").as("o_custkey")),
      Seq("o_custkey"), "left_semi").localCheckpoint()
    val l1 = lF.join(o1.select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_semi").localCheckpoint()
    // top-down: keep tuples some surviving fact row actually uses;
    // l1 finished the bottom-up pass LAST, so it is already fully reduced
    val o2 = o1.join(l1.select(col("l_orderkey").as("o_orderkey")),
      Seq("o_orderkey"), "left_semi").localCheckpoint()
    val c2 = c1.join(o2.select(col("o_custkey").as("c_custkey")),
      Seq("c_custkey"), "left_semi").localCheckpoint()
    // tiny frames; checkpointed to cut the shared lineage (n2 feeds both
    // the final join and r2's semi join — unbroken, the column resolver
    // sees a self-join) and to stop the counts re-executing the passes
    val n2 = n1.join(c2.select(col("c_nationkey").as("n_nationkey")),
      Seq("n_nationkey"), "left_semi").localCheckpoint()
    val r2 = rF.join(n2.select(col("n_regionkey").as("r_regionkey")),
      Seq("r_regionkey"), "left_semi").localCheckpoint()
    def cnt(name: String, filtered: DataFrame, reduced: DataFrame) =
      filtered.agg(count(lit(1)).as("n_filtered"))
        .crossJoin(reduced.agg(count(lit(1)).as("n_reduced")))
        .select(lit("reduce").as("section"), lit(name).as("name"),
          col("n_filtered"), col("n_reduced"),
          lit(null).cast("long").as("cents"))
    val counts = cnt("region", rF, r2)
      .unionByName(cnt("nation", nF, n2))
      .unionByName(cnt("customer", cF, c2))
      .unionByName(cnt("orders", oF, o2))
      .unionByName(cnt("lineitem", lF, l1))
    val result = l1
      .join(o2, l1("l_orderkey") === o2("o_orderkey"))
      .join(c2, o2("o_custkey") === c2("c_custkey"))
      .join(broadcast(n2), c2("c_nationkey") === n2("n_nationkey"))
      .join(broadcast(r2), n2("n_regionkey") === r2("r_regionkey"))
      .groupBy(r2("r_name"))
      .agg(count(lit(1)).as("n_reduced"), sum("cents").as("cents"))
      .select(lit("result").as("section"), col("r_name").as("name"),
        lit(null).cast("long").as("n_filtered"), col("n_reduced"),
        col("cents"))
    counts.unionByName(result).orderBy("section", "name")
  }

  /** DuckDB twin of [[yannakakisReduction]]: the same two semi-join
    * passes as EXISTS chains, the same counts and reduced-join aggregate.
    * Embed after `WITH ` and select from `yannakakis`.
    */
  def yannakakisReductionSql(): String =
    s"""yk_r AS (
       |  SELECT r_regionkey, r_name FROM region
       |  WHERE r_name IN ('ASIA', 'EUROPE')),
       |yk_c AS (
       |  SELECT c_custkey, c_nationkey FROM customer
       |  WHERE c_mktsegment = 'BUILDING'),
       |yk_o AS (
       |  SELECT o_orderkey, o_custkey FROM orders
       |  WHERE o_orderpriority = '1-URGENT'),
       |yk_l AS (
       |  SELECT l_orderkey,
       |         ${OracleSafe.quantSql("l_extendedprice", 100)} AS cents
       |  FROM lineitem WHERE l_returnflag = 'R'),
       |yk_n1 AS (
       |  SELECT n_nationkey, n_regionkey FROM nation n
       |  WHERE EXISTS (SELECT 1 FROM yk_r r
       |                WHERE r.r_regionkey = n.n_regionkey)),
       |yk_c1 AS (
       |  SELECT * FROM yk_c c
       |  WHERE EXISTS (SELECT 1 FROM yk_n1 n
       |                WHERE n.n_nationkey = c.c_nationkey)),
       |yk_o1 AS (
       |  SELECT * FROM yk_o o
       |  WHERE EXISTS (SELECT 1 FROM yk_c1 c
       |                WHERE c.c_custkey = o.o_custkey)),
       |yk_l1 AS (
       |  SELECT * FROM yk_l l
       |  WHERE EXISTS (SELECT 1 FROM yk_o1 o
       |                WHERE o.o_orderkey = l.l_orderkey)),
       |yk_o2 AS (
       |  SELECT * FROM yk_o1 o
       |  WHERE EXISTS (SELECT 1 FROM yk_l1 l
       |                WHERE l.l_orderkey = o.o_orderkey)),
       |yk_c2 AS (
       |  SELECT * FROM yk_c1 c
       |  WHERE EXISTS (SELECT 1 FROM yk_o2 o
       |                WHERE o.o_custkey = c.c_custkey)),
       |yk_n2 AS (
       |  SELECT * FROM yk_n1 n
       |  WHERE EXISTS (SELECT 1 FROM yk_c2 c
       |                WHERE c.c_nationkey = n.n_nationkey)),
       |yk_r2 AS (
       |  SELECT * FROM yk_r r
       |  WHERE EXISTS (SELECT 1 FROM yk_n2 n
       |                WHERE n.n_regionkey = r.r_regionkey)),
       |yk_counts AS (
       |  SELECT 'reduce' AS section, 'region' AS name,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM yk_r) AS n_filtered,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM yk_r2) AS n_reduced,
       |         CAST(NULL AS BIGINT) AS cents
       |  UNION ALL
       |  SELECT 'reduce', 'nation',
       |         (SELECT COUNT(*) FROM nation),
       |         (SELECT COUNT(*) FROM yk_n2), NULL
       |  UNION ALL
       |  SELECT 'reduce', 'customer',
       |         (SELECT COUNT(*) FROM yk_c),
       |         (SELECT COUNT(*) FROM yk_c2), NULL
       |  UNION ALL
       |  SELECT 'reduce', 'orders',
       |         (SELECT COUNT(*) FROM yk_o),
       |         (SELECT COUNT(*) FROM yk_o2), NULL
       |  UNION ALL
       |  SELECT 'reduce', 'lineitem',
       |         (SELECT COUNT(*) FROM yk_l),
       |         (SELECT COUNT(*) FROM yk_l1), NULL),
       |yk_result AS (
       |  SELECT 'result' AS section, r.r_name AS name,
       |         CAST(NULL AS BIGINT) AS n_filtered,
       |         CAST(COUNT(*) AS BIGINT) AS n_reduced,
       |         CAST(SUM(l.cents) AS BIGINT) AS cents
       |  FROM yk_l1 l
       |  JOIN yk_o2 o ON l.l_orderkey = o.o_orderkey
       |  JOIN yk_c2 c ON o.o_custkey = c.c_custkey
       |  JOIN yk_n2 n ON c.c_nationkey = n.n_nationkey
       |  JOIN yk_r2 r ON n.n_regionkey = r.r_regionkey
       |  GROUP BY r.r_name),
       |yannakakis AS (
       |  SELECT * FROM yk_counts UNION ALL SELECT * FROM yk_result)""".stripMargin
}
