package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.OracleSafe
import graft.functions.OracleSafe.{money, moneySql}

/** Event-stream operators (batch form; the streaming twins live in
  * [[graft.streaming.EventStream]]).
  *
  * All time arithmetic runs on integer epoch-milliseconds derived from the
  * exact nanosecond column (`ts_ns DIV 1e6`) — engine-precision-proof: the
  * oracle's ns→ms truncation lands on the same integers.
  */
object Events {

  private val msCol = expr("ts_ns DIV 1000000")

  /** Gap-based sessionization: a new session starts after `gapMinutes` of
    * inactivity; emits one row per session with span and value rollups.
    * Classic two-window formulation (lag → flag → running sum); shuffles
    * once on user_id.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapMs = gapMinutes * 60000L
    val byUser = Window.partitionBy("user_id").orderBy("ms", "event_id")
    events
      .withColumn("ms", msCol)
      .withColumn("prev_ms", lag("ms", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min("ms").as("start_ms"),
        max("ms").as("end_ms"),
        sum(money(col("value"))).cast("decimal(18,2)").cast("double").as("total_value"))
  }

  def sessionizeSql(gapMinutes: Int = 30): String = {
    val gapMs = gapMinutes * 60000L
    s"""SELECT user_id, session_seq, count(*) AS n_events,
       |       min(ms) AS start_ms, max(ms) AS end_ms,
       |       CAST(CAST(SUM(${moneySql("value")}) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
       |FROM (
       |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
       |  FROM (
       |    SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $gapMs THEN 1 ELSE 0 END
       |             AS new_session
       |    FROM (
       |      SELECT event_id, user_id, value, epoch_ms(ts) AS ms,
       |             LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
       |               AS prev_ms
       |      FROM events) l) f) s
       |GROUP BY user_id, session_seq""".stripMargin
  }

  /** Sessionization via Spark's native gap window (`session_window`) —
    * the built-in this engine prefers when its boundary semantics fit
    * (sessions merge while the gap is STRICTLY below the threshold; the
    * lag formulation in [[sessionize]] keeps an exactly-gap event in the
    * same session). Equal on any data without exact-gap ties
    * (differential-tested).
    */
  def sessionizeNative(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withColumn("tstamp", timestamp_micros(expr("ts_ns DIV 1000")))
      .groupBy(session_window(col("tstamp"), s"$gapMinutes minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(expr("ts_ns DIV 1000000")).as("start_ms"),
        max(expr("ts_ns DIV 1000000")).as("end_ms"))
      .select("user_id", "n_events", "start_ms", "end_ms")

  /** As-of join: each purchase matched to the user's most recent
    * at-or-before signup. Implemented the scalable way — one sort per user
    * over the UNION of both event roles, carrying the last-seen signup
    * forward with an ignore-nulls `last` window (no per-row range probe,
    * no nested-loop).
    */
  def asOfLastSignup(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ms"), col("signup_first"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("ms", msCol)
      .withColumn("signup_first", when(col("event_type") === "signup", 0).otherwise(1))
      .withColumn("signup_ms", when(col("event_type") === "signup", col("ms")))
      .withColumn("last_signup_ms", last("signup_ms", ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ms").as("purchase_ms"),
        col("last_signup_ms"))
  }

  val asOfLastSignupSql: String =
    """SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS purchase_ms,
      |       (SELECT max(epoch_ms(s.ts)) FROM events s
      |        WHERE s.user_id = e.user_id AND s.event_type = 'signup'
      |          AND epoch_ms(s.ts) <= epoch_ms(e.ts)) AS last_signup_ms
      |FROM events e
      |WHERE e.event_type = 'purchase'""".stripMargin

  /** Pivot: per-user event-type counts as columns. */
  val eventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def pivotCounts(events: DataFrame): DataFrame = {
    val p = events.groupBy("user_id").pivot("event_type", eventTypes).agg(count(lit(1)))
    eventTypes.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
  }

  val pivotCountsSql: String = {
    val cols = eventTypes
      .map(t => s"count(*) FILTER (WHERE event_type = '$t') AS $t")
      .mkString(",\n       ")
    s"""SELECT user_id,
       |       $cols
       |FROM events GROUP BY user_id""".stripMargin
  }

  /** Range (interval) join: events banded into value tiers by a θ-join
    * against a tiny range table — the generic dimension-banding shape
    * (price tiers, latency buckets, age bands). At scale this is a
    * broadcast nested-loop against 3 rows = 3 comparisons per event,
    * embarrassingly parallel, with the aggregate map-side combined; the
    * join stays correct for overlapping or gapped bands, which a CASE
    * bucketing can't express.
    */
  val valueTiers: Seq[(String, Double, Double)] = Seq(
    ("low", -1e18, 20.0), ("mid", 20.0, 100.0), ("high", 100.0, 1e18))

  def tierTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val tiers = valueTiers.toDF("tier", "lo", "hi")
    events.join(broadcast(tiers), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"),
        sum(money(col("value"))).cast("decimal(18,2)").cast("double").as("total_value"))
      .orderBy("tier")
  }

  /** First-order Markov transition matrix over each user's event sequence
    * — the behavioral model behind next-event prediction and anomaly
    * scoring. For every observed (prev_type → next_type) transition:
    * its count and P(next|prev) as the exact integer ratio n / n_prev
    * (single double division of exact BIGINTs — no float accumulation).
    *
    * Scale shape: one lag window partitioned by `user_id` (each user's
    * sequence sorts independently — partition-parallel, no global sort),
    * then a type²-cardinality aggregate. The conditional denominator is a
    * window sum over `prev_type` on the ALREADY-aggregated type² frame —
    * negligible next to the event scan.
    */
  def markovTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val trans = events.withColumn("ms", msCol)
      .select(col("user_id"), col("ms"), col("event_id"),
        col("event_type").as("next_type"))
      .withColumn("prev_type", lag("next_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val byPrev = Window.partitionBy("prev_type")
    trans.withColumn("p",
        col("n").cast("double") / sum("n").over(byPrev).cast("double"))
      .select("prev_type", "next_type", "n", "p")
  }

  /** DuckDB twin of [[markovTransitions]]. */
  val markovTransitionsSql: String =
    """SELECT prev_type, next_type, n,
      |       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
      |FROM (
      |  SELECT prev_type, next_type, COUNT(*) AS n
      |  FROM (SELECT event_type AS next_type,
      |               LAG(event_type, 1) OVER (PARTITION BY user_id
      |                                        ORDER BY epoch_ms(ts), event_id) AS prev_type
      |        FROM events) t
      |  WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, next_type) c""".stripMargin

  private val dayMs = 86400000L

  /** Sliding-window active users: DAU and trailing-7-day WAU per observed
    * day — the engagement pair every product dashboard tracks. Exact
    * distinct over a sliding window is the classic scale trap (a naive
    * self-join is 7× the scan); this does it with BOUNDED fan-out: the
    * (user, day) frame is distincted FIRST (collapsing any per-user event
    * volume), each row then contributes to at most 7 window days, and the
    * count per window day is over a re-distincted (user, window_day)
    * frame. Only observed days are emitted (inner join with the DAU
    * frame), so trailing windows past the last day don't invent rows.
    */
  def activeUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val days = events.select(col("user_id"),
      graft.functions.OracleSafe.intDiv(msCol, lit(dayMs)).as("day")).distinct()
    val dau = days.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = days
      .select(col("user_id"),
        explode(expr(s"sequence(day, day + ${windowDays - 1})")).as("wday"))
      .distinct()
      .groupBy(col("wday").as("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day")).select("day", "dau", "wau")
  }

  /** DuckDB twin of [[activeUsers]]. */
  def activeUsersSql(windowDays: Int = 7): String = {
    val dayDiv = graft.functions.OracleSafe.intDivSql("epoch_ms(ts)", dayMs.toString)
    s"""au_days AS (SELECT DISTINCT user_id, $dayDiv AS day FROM events),
       |au_dau AS (SELECT day, COUNT(*) AS dau FROM au_days GROUP BY day),
       |au_wau AS (
       |  SELECT wday AS day, COUNT(*) AS wau
       |  FROM (SELECT DISTINCT user_id,
       |               unnest(generate_series(day, day + ${windowDays - 1})) AS wday
       |        FROM au_days) w
       |  GROUP BY wday),
       |active_users AS (
       |  SELECT day, dau, wau FROM au_dau JOIN au_wau USING (day))""".stripMargin
  }

  private val hourMs = 3600000L

  /** Hourly burst detection: each hour's event count against its trailing
    * `windowHours`-hour sum; score = windowHours·n / trailing (an exact
    * integer ratio — 1.0 means "exactly the trailing average", higher is a
    * burst). The trailing sum is a RANGE window over the ALREADY-AGGREGATED
    * hour frame — bounded by the corpus time span (≈ 10⁵ rows per decade),
    * so the unpartitioned ordered window is NOT the single-partition
    * killer it would be on raw rows; the event-scale work is one
    * map-side-combinable aggregate. `n_window` (hours actually present in
    * the range) is emitted so warm-up hours are interpretable.
    */
  def hourlyBursts(events: DataFrame, windowHours: Int = 24): DataFrame = {
    require(windowHours >= 1, s"windowHours must be >= 1, got $windowHours")
    import org.apache.spark.sql.expressions.Window
    val byHour = events
      .select(graft.functions.OracleSafe.intDiv(msCol, lit(hourMs)).as("hour"))
      .groupBy("hour").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("hour").rangeBetween(-(windowHours - 1).toLong, 0L)
    byHour
      .withColumn("trailing_n", sum("n").over(w))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("score",
        (col("n") * windowHours).cast("double") / col("trailing_n").cast("double"))
      .select("hour", "n", "trailing_n", "n_window", "score")
  }

  /** DuckDB twin of [[hourlyBursts]]. */
  def hourlyBurstsSql(windowHours: Int = 24): String = {
    val hourDiv = graft.functions.OracleSafe.intDivSql("epoch_ms(ts)", hourMs.toString)
    s"""hb AS (SELECT $hourDiv AS hour, COUNT(*) AS n FROM events GROUP BY 1),
       |hourly_bursts AS (
       |  SELECT hour, n,
       |         CAST(SUM(n) OVER tw AS BIGINT) AS trailing_n,
       |         COUNT(*) OVER tw AS n_window,
       |         CAST(n * $windowHours AS DOUBLE)
       |           / CAST(SUM(n) OVER tw AS DOUBLE) AS score
       |  FROM hb
       |  WINDOW tw AS (ORDER BY hour
       |                RANGE BETWEEN ${windowHours - 1} PRECEDING AND CURRENT ROW))""".stripMargin
  }

  /** Per-type spend trend: the exact OLS slope of value (cents) against
    * the epoch day — drift detection without an ML library. All four
    * moment sums are BIGINTs on exact grids (cents; days CENTERED on the
    * per-type minimum so cross products stay far from 2⁶³ — centering
    * shifts the intercept, never the slope); the classic closed form
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    * is then evaluated in DECIMAL(38,0)/HUGEINT (products of two ~2⁶⁰
    * sums don't fit BIGINT at corpus scale) with ONE double division at
    * the boundary. A type whose events all land on one day has zero
    * variance → NULL slope, matching the oracle.
    *
    * Scale shape: one pass, one map-side-combinable aggregate per type;
    * the min-day centering rides the same aggregate via a self-join-free
    * two-phase (min first, broadcast back) — both frames are
    * type-cardinality tiny.
    */
  def spendTrend(events: DataFrame): DataFrame = {
    val base = events.select(col("event_type"),
      graft.functions.OracleSafe.intDiv(msCol, lit(dayMs)).as("day"),
      floor(col("value") * 100).cast("long").as("cents"))
    val minDay = base.groupBy("event_type").agg(min("day").as("day0"))
    val c = base.join(minDay, Seq("event_type"))
      .select(col("event_type"), (col("day") - col("day0")).as("x"), col("cents").as("y"))
    val d38 = "decimal(38,0)"
    val agg = c.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    val num = col("n").cast(d38) * col("sxy").cast(d38) -
      col("sx").cast(d38) * col("sy").cast(d38)
    val den = col("n").cast(d38) * col("sxx").cast(d38) -
      col("sx").cast(d38) * col("sx").cast(d38)
    agg.select(col("event_type"), col("n"),
      when(den =!= 0, num.cast("double") / den.cast("double")).as("slope_cents_per_day"))
  }

  /** DuckDB twin of [[spendTrend]] — HUGEINT plays DECIMAL(38,0). */
  val spendTrendSql: String = {
    val dayDiv = graft.functions.OracleSafe.intDivSql("epoch_ms(ts)", dayMs.toString)
    s"""tr_base AS (
       |  SELECT event_type, $dayDiv AS day,
       |         CAST(FLOOR(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |tr_min AS (SELECT event_type, MIN(day) AS day0 FROM tr_base GROUP BY event_type),
       |tr_c AS (
       |  SELECT b.event_type, b.day - m.day0 AS x, b.cents AS y
       |  FROM tr_base b JOIN tr_min m USING (event_type)),
       |tr_agg AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
       |  FROM tr_c GROUP BY event_type),
       |spend_trend AS (
       |  SELECT event_type, n,
       |         CASE WHEN n::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sx::HUGEINT <> 0
       |              THEN CAST(n::HUGEINT * sxy::HUGEINT - sx::HUGEINT * sy::HUGEINT AS DOUBLE)
       |                   / CAST(n::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sx::HUGEINT AS DOUBLE)
       |         END AS slope_cents_per_day
       |  FROM tr_agg)""".stripMargin
  }

  val tierTotalsSql: String = {
    val rows = valueTiers
      .map { case (t, lo, hi) => s"('$t', CAST($lo AS DOUBLE), CAST($hi AS DOUBLE))" }
      .mkString(", ")
    s"""SELECT tier, COUNT(*) AS n,
       |       CAST(CAST(SUM(${moneySql("value")}) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
       |FROM events e JOIN (VALUES $rows) tiers(tier, lo, hi)
       |  ON e.value >= tiers.lo AND e.value < tiers.hi
       |GROUP BY tier
       |ORDER BY tier""".stripMargin
  }

  /** Watermark-lateness audit: how out-of-order does each user's event
    * stream actually arrive? `event_id` stands in for arrival order (the
    * generator assigns ids in ingest sequence); an event's lateness is
    * how far its event time trails the running maximum event time its own
    * user had already produced. This is THE distribution a streaming
    * deployment reads before choosing `withWatermark()` — a delay that
    * covers the p-max bucket keeps every row, a shorter one quantifies
    * exactly what `dropDuplicatesWithinWatermark`/windowed aggs would
    * drop (q64/q68/q84's knob, measured instead of guessed).
    *
    * Shape at scale: one shuffle on user_id for the per-user running-max
    * window (users are numerous → partitions stay balanced; never a
    * global window), then a hash aggregate onto the tiny
    * band × event_type grid. All arithmetic is integer epoch-ms.
    *
    * Output: (event_type, band, n, max_late_ms) — bands: on_time,
    * under_1s, under_1m, under_1h, over_1h.
    */
  def latenessAudit(events: DataFrame): DataFrame =
    latenessAuditBy(events, col("event_id"))

  /** [[latenessAudit]] under an adversarially DISORDERED arrival order:
    * the generator's feed is ingest-ordered (event_id tracks ts), so the
    * plain audit lands every row in `on_time` and the banding branches go
    * unexercised. Arrival order here is the md5 of the event id — a
    * deterministic pseudo-random permutation both engines compute
    * identically — so event time genuinely trails the running max and
    * every lateness band fills. This is the worst-case disorder bound for
    * the watermark knob, alongside q150's observed bound.
    */
  def latenessDisordered(events: DataFrame): DataFrame =
    latenessAuditBy(events, md5(col("event_id").cast("string")))

  private def latenessAuditBy(events: DataFrame, arrival: Column): DataFrame = {
    val withArr = events.withColumn("arr", arrival)
    val byArrival = Window.partitionBy("user_id").orderBy("arr")
      .rowsBetween(Window.unboundedPreceding, -1)
    withArr
      .withColumn("ms", msCol)
      .withColumn("late_ms",
        greatest(lit(0L), max("ms").over(byArrival) - col("ms")))
      .withColumn("late_ms", coalesce(col("late_ms"), lit(0L)))
      .withColumn("band",
        when(col("late_ms") === 0L, "on_time")
          .when(col("late_ms") < 1000L, "under_1s")
          .when(col("late_ms") < 60000L, "under_1m")
          .when(col("late_ms") < 3600000L, "under_1h")
          .otherwise("over_1h"))
      .groupBy("event_type", "band")
      .agg(count(lit(1)).as("n"), max("late_ms").as("max_late_ms"))
  }

  /** DuckDB twin of [[latenessAudit]] — same window frame, same bands.
    * Parameterized on the arrival-order expression so the disordered
    * variant (md5 permutation, [[latenessDisordered]]) shares the CTE.
    */
  def latenessSqlBy(arrivalSql: String): String =
    s"""lateness AS (
       |  SELECT event_type,
       |         COALESCE(GREATEST(0,
       |           MAX(ms) OVER (PARTITION BY user_id ORDER BY arr
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - ms),
       |           0) AS late_ms
       |  FROM (SELECT user_id, $arrivalSql AS arr, event_type,
       |               epoch_ms(ts) AS ms FROM events) e),
       |lateness_audit AS (
       |  SELECT event_type,
       |         CASE WHEN late_ms = 0 THEN 'on_time'
       |              WHEN late_ms < 1000 THEN 'under_1s'
       |              WHEN late_ms < 60000 THEN 'under_1m'
       |              WHEN late_ms < 3600000 THEN 'under_1h'
       |              ELSE 'over_1h' END AS band,
       |         COUNT(*) AS n, CAST(MAX(late_ms) AS BIGINT) AS max_late_ms
       |  FROM lateness GROUP BY 1, 2)""".stripMargin

  val latenessAuditSql: String = latenessSqlBy("event_id")

  val latenessDisorderedSql: String =
    latenessSqlBy("md5(CAST(event_id AS VARCHAR))")

  /** Max GLOBAL-frontier lateness in ms over an arrival-ordered feed — the
    * number `withWatermark` actually needs. [[latenessAudit]] measures
    * per-USER disorder (how a user's own stream interleaves); the
    * watermark, though, is a single global event-time frontier, so the
    * delay that guarantees zero drops is the max of
    * `frontier_before_arrival − event_time` over the whole feed.
    *
    * Input contract: columns `arr` (numeric arrival position), `copy` and
    * `event_id` (arrival tie-breaks, in that order), `ms` (event time,
    * epoch millis). Output: ONE row `(max_late_ms)`.
    *
    * Scale shape: the naive formulation is a running max over ONE global
    * ordered window — the single-partition killer. This computes the same
    * exact number in two grains: per-arrival-minute maxima (map-side
    * combinable aggregate), a running max over that calendar-bounded grid
    * (the only unpartitioned window, sized by the time span), and a
    * WITHIN-bucket running max partitioned by bucket (balanced). An
    * event's frontier is the greater of the previous buckets' prefix max
    * and its own bucket's strictly-earlier max — exactly the global
    * running max, never a global sort of raw rows.
    */
  def globalMaxLatenessMs(feed: DataFrame, bucketMs: Long = 60000L): DataFrame = {
    require(bucketMs >= 1, s"bucketMs must be >= 1, got $bucketMs")
    val b = feed.select(col("arr"), col("copy"), col("event_id"), col("ms"))
      .withColumn("bucket", graft.functions.OracleSafe.intDiv(col("arr"), lit(bucketMs)))
    val grid = b.groupBy("bucket").agg(max("ms").as("bmax"))
    val prefix = grid.withColumn("pmax",
        max("bmax").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("bucket", "pmax")
    val inBucket = Window.partitionBy("bucket")
      .orderBy("arr", "copy", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(prefix), Seq("bucket"))
      .withColumn("imax", max("ms").over(inBucket))
      .withColumn("late",
        greatest(lit(0L),
          coalesce(greatest(col("pmax"), col("imax")) - col("ms"), lit(0L))))
      .agg(max("late").as("max_late_ms"))
  }

  /** Gaps-and-islands: maximal runs of CONSECUTIVE active days per user —
    * the canonical streak/churn shape (active streaks, lapse detection,
    * engagement-window features) built on the classic `day − row_number`
    * grouping trick, which is all-integer and engine-exact.
    *
    * Scale shape: the day-grain distinct collapses events to at most
    * (users × days) rows BEFORE the window — the window then runs over
    * per-user day sets (bounded by the calendar, not event volume), and
    * the one wide shuffle is on user_id, never a global window.
    */
  def activityIslands(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(min("day").as("start_day"), max("day").as("end_day"),
        count(lit(1)).as("len_days"))
      .select("user_id", "start_day", "end_day", "len_days")
  }

  /** DuckDB twin of [[activityIslands]]; embed after `WITH` and select
    * from `activity_islands`.
    */
  val activityIslandsSql: String =
    s"""gi_days AS (
       |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
       |gi AS (
       |  SELECT user_id, day,
       |         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
       |  FROM gi_days),
       |activity_islands AS (
       |  SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
       |         CAST(COUNT(*) AS BIGINT) AS len_days
       |  FROM gi GROUP BY user_id, grp)""".stripMargin

  /** Calendar densification + last-observation-carried-forward: each
    * user's CONTINUOUS epoch-day grid between their first and last active
    * day, with quiet days 0-filled for flows (spend, event count) and
    * LOCF-filled for levels (the last event type seen), plus the
    * days-since-active staleness counter — the user-day feature frame a
    * churn/engagement model trains on. The grid explode is bounded by the
    * CALENDAR SPAN, never the event count; the fill is one window per
    * user ordered by day (day grain, so partition size = span days); day
    * arithmetic stays on exact integer epoch-days like every Events op.
    */
  def gapFillDaily(events: DataFrame): DataFrame = {
    val day = graft.functions.OracleSafe.intDiv(msCol, lit(dayMs))
    val daily = events
      .select(col("user_id"), day.as("day"),
        floor(col("value") * 100).cast("long").as("cents"),
        col("ts_ns"), col("event_id"), col("event_type"))
      .groupBy("user_id", "day")
      .agg(sum("cents").as("day_cents"), count(lit(1)).as("n_events"),
        max(struct(col("ts_ns"), col("event_id"), col("event_type"))).as("l"))
      .select(col("user_id"), col("day"), col("day_cents"), col("n_events"),
        col("l.event_type").as("day_type"))
    val grid = daily.groupBy("user_id").agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("carried_type", last(col("day_type"), ignoreNulls = true).over(w))
      .withColumn("last_active_day",
        last(when(col("n_events").isNotNull, col("day")), ignoreNulls = true).over(w))
      .select(col("user_id"), col("day"),
        coalesce(col("day_cents"), lit(0L)).as("day_cents"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("carried_type"),
        (col("day") - col("last_active_day")).cast("int").as("days_since_active"))
      .orderBy("user_id", "day")
  }

  /** DuckDB twin of [[gapFillDaily]] (struct-max mirrored as the
    * ROW_NUMBER pick, like [[Scd.cdcApplySql]]); embed after `WITH ` and
    * select from `gap_fill`.
    */
  def gapFillDailySql(): String = {
    val dayDiv = graft.functions.OracleSafe.intDivSql("epoch_ms(ts)", dayMs.toString)
    s"""gf_ev AS (
       |  SELECT user_id, $dayDiv AS day,
       |         CAST(FLOOR(value * 100) AS BIGINT) AS cents,
       |         ts, event_id, event_type
       |  FROM events),
       |gf_daily AS (
       |  SELECT user_id, day,
       |         CAST(SUM(cents) AS BIGINT) AS day_cents,
       |         COUNT(*) AS n_events,
       |         MAX(day_type) AS day_type
       |  FROM (SELECT *, CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, day
       |                    ORDER BY ts DESC, event_id DESC) = 1
       |               THEN event_type END AS day_type
       |        FROM gf_ev) t
       |  GROUP BY 1, 2),
       |gf_grid AS (
       |  SELECT user_id, unnest(generate_series(MIN(day), MAX(day))) AS day
       |  FROM gf_daily GROUP BY user_id),
       |gap_fill AS (
       |  SELECT user_id, day,
       |         COALESCE(day_cents, 0) AS day_cents,
       |         COALESCE(n_events, 0) AS n_events,
       |         LAST_VALUE(day_type IGNORE NULLS) OVER w AS carried_type,
       |         CAST(day - LAST_VALUE(CASE WHEN n_events IS NOT NULL THEN day END
       |                               IGNORE NULLS) OVER w AS INT)
       |           AS days_since_active
       |  FROM gf_grid LEFT JOIN gf_daily USING (user_id, day)
       |  WINDOW w AS (PARTITION BY user_id ORDER BY day
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""".stripMargin
  }
  /** q251 — classical additive seasonal decomposition of the daily spend
    * series (the moving-average method of Persons/Macaulay that STL
    * refines; Cleveland et al. 1990 §1 describes the family): daily cent
    * totals on a gap-filled calendar grid, trend as the centered 7-day
    * window sum, weekly seasonality as the per-weekday mean of the
    * detrended series, residual as what remains. Everything stays exact
    * integers until the LAST step: working with `7·value − trendSum`
    * (both BIGINT) instead of `value − trendSum/7` defers the only
    * divisions to the per-season mean and final residual — one double
    * division and one subtraction, deterministic on both engines. Series
    * edges (incomplete 7-day windows) carry NULL trend/residual rather
    * than a silently-shortened window.
    *
    * Scale shape: the daily aggregate is map-side-combinable over the
    * raw events; everything after runs on the DAY-GRAIN frame, bounded
    * by the calendar span (a single-partition window over thousands of
    * rows, like every day-grain Events op), never the event count.
    */
  def seasonalDecompose(events: DataFrame): DataFrame = {
    val day = graft.functions.OracleSafe.intDiv(msCol, lit(dayMs))
    val daily = events
      .select(day.as("day"), floor(col("value") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents"))
    val grid = daily.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val filled = grid.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    val trended = filled
      .withColumn("n7", count(lit(1)).over(w))
      .withColumn("trend7", when(col("n7") === 7, sum("cents").over(w)))
      .withColumn("detrended7",
        when(col("n7") === 7, col("cents") * 7 - col("trend7")))
      .withColumn("season", pmod(col("day"), lit(7L)))
    val seasonal = trended.filter(col("detrended7").isNotNull)
      .groupBy("season")
      .agg((sum("detrended7").cast("double") / count(lit(1)).cast("double"))
        .as("seasonal7"))
    trended.join(broadcast(seasonal), Seq("season"), "left")
      .select(col("day"), col("season"), col("cents"), col("trend7"),
        col("seasonal7"),
        (col("detrended7").cast("double") - col("seasonal7")).as("residual7"))
  }

  /** DuckDB twin of [[seasonalDecompose]]; embed after `WITH ` and select
    * from `seasonal_decompose`.
    */
  def seasonalDecomposeSql(): String = {
    val dayDiv = graft.functions.OracleSafe.intDivSql("epoch_ms(ts)", dayMs.toString)
    s"""sd_daily AS (
       |  SELECT $dayDiv AS day,
       |         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
       |  FROM events GROUP BY 1),
       |sd_grid AS (
       |  SELECT unnest(generate_series(MIN(day), MAX(day))) AS day FROM sd_daily),
       |sd_filled AS (
       |  SELECT g.day, COALESCE(d.cents, 0) AS cents
       |  FROM sd_grid g LEFT JOIN sd_daily d USING (day)),
       |sd_trend AS (
       |  SELECT day, cents, day % 7 AS season,
       |         COUNT(*) OVER w AS n7,
       |         CASE WHEN COUNT(*) OVER w = 7
       |              THEN CAST(SUM(cents) OVER w AS BIGINT) END AS trend7
       |  FROM sd_filled
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |sd_det AS (
       |  SELECT *, CASE WHEN n7 = 7 THEN cents * 7 - trend7 END AS detrended7
       |  FROM sd_trend),
       |sd_season AS (
       |  SELECT season, CAST(SUM(detrended7) AS DOUBLE) / COUNT(*) AS seasonal7
       |  FROM sd_det WHERE detrended7 IS NOT NULL GROUP BY 1),
       |seasonal_decompose AS (
       |  SELECT t.day, t.season, t.cents, t.trend7, s.seasonal7,
       |         CAST(t.detrended7 AS DOUBLE) - s.seasonal7 AS residual7
       |  FROM sd_det t LEFT JOIN sd_season s USING (season))""".stripMargin
  }

  /** q258 — anomalous days in the [[seasonalDecompose]] residual series:
    * days whose residual sits more than `k` robust scales from the robust
    * center, i.e. |residual − median| > k·MAD. Median/MAD (not
    * mean/stddev) because the fence must not move when the anomaly it is
    * hunting arrives — one mis-keyed 10⁹ amount shifts a mean past its
    * own 3σ fence; it moves a median at most one rank. This is the
    * trend/seasonality-aware upgrade of the q106 static fence: a Friday
    * spike that is NORMAL for Fridays is absorbed by the seasonal term
    * and never flagged.
    *
    * Exactness: both medians use the q85 lower/upper-middle convention
    * (row_number over a (value, day) total order, midpoint of the picked
    * one or two values); the flag compares |residual − med| against
    * k·MAD by MULTIPLICATION — no division, so a degenerate zero-MAD
    * series flags nothing instead of dividing by zero.
    *
    * Scale shape: everything runs on the day-grain frame (bounded by the
    * calendar span, like q251 itself); the two scalar statistics ride
    * single-row broadcast joins.
    */
  def residualAnomalies(events: DataFrame, k: Int = 3): DataFrame = {
    val res = seasonalDecompose(events)
      .filter(col("residual7").isNotNull)
      .select("day", "cents", "residual7")
      .localCheckpoint() // day-grain; feeds three consumers below
    def middle(df: DataFrame, order: Column, out: String): DataFrame =
      df.withColumn("rn", row_number().over(Window.orderBy(order, col("day"))))
        .withColumn("n", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter((col("rn") * 2 - col("n")).isin(0, 1, 2))
        .agg(((min(order) + max(order)) / 2).as(out))
    val med = middle(res, col("residual7"), "med_res")
    val dev = res.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("residual7") - col("med_res")))
    val mad = middle(dev, col("dev"), "mad_res")
    dev.crossJoin(broadcast(mad))
      .filter(col("dev") > lit(k.toDouble) * col("mad_res"))
      .select("day", "cents", "residual7", "med_res", "mad_res")
      .orderBy("day")
  }

  /** DuckDB twin of [[residualAnomalies]]; embed after `WITH ` and select
    * from `residual_anomalies`.
    */
  def residualAnomaliesSql(k: Int = 3): String =
    s"""${seasonalDecomposeSql()},
       |ra_res AS (
       |  SELECT day, cents, residual7 FROM seasonal_decompose
       |  WHERE residual7 IS NOT NULL),
       |ra_med AS (
       |  SELECT (MIN(residual7) + MAX(residual7)) / 2 AS med_res
       |  FROM (SELECT residual7,
       |               ROW_NUMBER() OVER (ORDER BY residual7, day) AS rn,
       |               COUNT(*) OVER () AS n
       |        FROM ra_res) t
       |  WHERE rn * 2 - n IN (0, 1, 2)),
       |ra_dev AS (
       |  SELECT r.day, r.cents, r.residual7, m.med_res,
       |         ABS(r.residual7 - m.med_res) AS dev
       |  FROM ra_res r, ra_med m),
       |ra_mad AS (
       |  SELECT (MIN(dev) + MAX(dev)) / 2 AS mad_res
       |  FROM (SELECT dev, ROW_NUMBER() OVER (ORDER BY dev, day) AS rn,
       |               COUNT(*) OVER () AS n
       |        FROM ra_dev) t
       |  WHERE rn * 2 - n IN (0, 1, 2)),
       |residual_anomalies AS (
       |  SELECT d.day, d.cents, d.residual7, d.med_res, a.mad_res
       |  FROM ra_dev d, ra_mad a
       |  WHERE d.dev > $k * a.mad_res)""".stripMargin

  /** q285 — TIME-WEIGHTED average over an IRREGULARLY-sampled series:
    * per user, the mean of `value` weighted by how long each observation
    * HELD (step interpolation until the next event) — the TWAP/metrics
    * semantics a plain AVG silently gets wrong whenever sampling is
    * bursty (a value observed for 10 hours must count 3600× one observed
    * for 10 seconds). One lead() window per user supplies each sample's
    * holding interval; the weighted sum is exact BIGINT (cents ×
    * interval-ms), with ONE double division per user at the boundary.
    * Users with a single event have no held interval and are excluded
    * (the spec pins this and the burst-vs-plain divergence).
    *
    * Scale: one user_id shuffle serves the window and the aggregate;
    * nothing global, nothing iterative.
    */
  def timeWeightedAverage(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    events.select(col("user_id"), col("event_id"), msCol.as("ms"),
        OracleSafe.quant(col("value"), 100).as("cents"))
      .withColumn("next_ms", lead("ms", 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        (max("ms") - min("ms")).as("span_ms"),
        sum(when(col("next_ms").isNotNull,
          col("cents") * (col("next_ms") - col("ms")))).as("wsum"))
      .filter(col("span_ms") > 0L)
      .select(col("user_id"), col("n_events"), col("span_ms"), col("wsum"),
        (col("wsum").cast("double") / col("span_ms").cast("double"))
          .as("twap_cents"))
      .orderBy("user_id")
  }

  /** DuckDB twin of [[timeWeightedAverage]]. Embed after `WITH ` and
    * select from `twap`.
    */
  def timeWeightedAverageSql(): String =
    s"""twap_steps AS (
       |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
       |         ${OracleSafe.quantSql("value", 100)} AS cents,
       |         LEAD(epoch_ms(ts), 1) OVER (PARTITION BY user_id
       |           ORDER BY epoch_ms(ts), event_id) AS next_ms
       |  FROM events),
       |twap AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       |         MAX(ms) - MIN(ms) AS span_ms,
       |         CAST(SUM(CASE WHEN next_ms IS NOT NULL
       |                       THEN cents * (next_ms - ms) END) AS BIGINT)
       |           AS wsum,
       |         CAST(SUM(CASE WHEN next_ms IS NOT NULL
       |                       THEN cents * (next_ms - ms) END) AS DOUBLE)
       |           / CAST(MAX(ms) - MIN(ms) AS DOUBLE) AS twap_cents
       |  FROM twap_steps GROUP BY 1
       |  HAVING MAX(ms) - MIN(ms) > 0)""".stripMargin

  /** q275 — CUSUM changepoint detection over the daily event-count
    * series, in the CLOSED FORM that makes the sequential recurrence
    * window-expressible: the textbook one-sided CUSUM
    * `C_t = max(0, C_{t-1} + (x_t − μ0 − κ))` equals
    * `P_t − min(0, min_{j≤t} P_j)` where `P` is the prefix sum of the
    * drift-adjusted deviations — a prefix sum plus a running min, two
    * frames of ONE ordered window instead of an inherently sequential
    * fold. Complements q258 (seasonal-residual outliers flag single
    * days; CUSUM accumulates evidence of a sustained LEVEL SHIFT that
    * no single day reveals).
    *
    * Exactness: deviations are scaled by the day count so the baseline
    * μ0 = total/n_days and the slack κ = μ0/4 both clear their
    * denominators — the whole statistic is BIGINT; the threshold is
    * 2·total (≡ a cumulative excess of two mean days). The ordered
    * window runs over the DAY-GRAIN frame (bounded by the calendar
    * span, the q167 convention), never raw events.
    */
  def cusumChangepoints(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(graft.functions.OracleSafe.intDiv(msCol, lit(86400000L))
        .as("day"))
      .agg(count(lit(1)).as("n"))
    val tot = daily.agg(sum("n").as("total"), count(lit(1)).as("nd"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot))
      .withColumn("s",
        col("n") * col("nd") - col("total")
          - graft.functions.OracleSafe.intDiv(col("total"), lit(4L)))
      .withColumn("p", sum("s").over(w))
      .withColumn("cusum", col("p") - least(min("p").over(w), lit(0L)))
      .select(col("day"), col("n"), col("cusum"),
        (col("cusum") > lit(2L) * col("total")).as("flagged"))
      .orderBy("day")
  }

  /** DuckDB twin of [[cusumChangepoints]]. Embed after `WITH ` and
    * select from `cusum_days`.
    */
  def cusumChangepointsSql(): String =
    s"""cu_daily AS (
       |  SELECT epoch_ms(ts) // 86400000 AS day,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |cu_tot AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS total,
       |         CAST(COUNT(*) AS BIGINT) AS nd
       |  FROM cu_daily),
       |cu_p AS (
       |  SELECT d.day, d.n, t.total,
       |         SUM(d.n * t.nd - t.total - t.total // 4)
       |           OVER (ORDER BY d.day
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS p
       |  FROM cu_daily d, cu_tot t),
       |cusum_days AS (
       |  SELECT day, n,
       |         CAST(p - LEAST(MIN(p) OVER (ORDER BY day
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
       |           AS BIGINT) AS cusum,
       |         CAST(p - LEAST(MIN(p) OVER (ORDER BY day
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
       |           AS BIGINT) > 2 * total AS flagged
       |  FROM cu_p)""".stripMargin

  /** q273 — ROW-PATTERN MATCHING, the `MATCH_RECOGNIZE` shape compiled
    * to windows: per user, in (ts, event_id) order, find every maximal
    * run of >= `minRise` strictly-RISING value steps immediately
    * followed by a DROP — the `A{3,} B` regex over row sequences that
    * SQL:2016 pattern matching expresses and that fraud/funnel teams
    * actually hunt (pump-then-dump, escalating retries, bid ramps).
    *
    * Compilation: lag → per-step direction symbol, gaps-and-islands
    * (`rn − rn_per_symbol`, the q158 trick) → maximal same-symbol runs,
    * then each qualifying U-run joins the single step AFTER it to test
    * the drop. One shuffle on user_id serves every window; runs are
    * row-bounded; no self-join over raw events. Cent-exact peaks.
    *
    * Output: per matching user, pattern count, the longest rise length
    * and the cent-exact sum of matched peak values.
    */
  def risePatterns(events: DataFrame, minRise: Int = 3): DataFrame = {
    require(minRise >= 1, s"minRise must be >= 1, got $minRise")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val steps = events.select(col("user_id"), col("ts"), col("event_id"),
      OracleSafe.quant(col("value"), 100).as("cents"))
      .withColumn("prev", lag("cents", 1).over(w))
      .withColumn("dir",
        when(col("prev").isNull, lit("S"))
          .when(col("cents") > col("prev"), lit("U"))
          .when(col("cents") < col("prev"), lit("D"))
          .otherwise(lit("F")))
      .withColumn("rn", row_number().over(w))
      .localCheckpoint() // steps feed both the runs and the after-probe
    val runs = steps
      .withColumn("grp", col("rn") - row_number().over(
        Window.partitionBy("user_id", "dir").orderBy("ts", "event_id")))
      .filter(col("dir") === "U")
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("rise_len"), max("rn").as("end_rn"),
        max("cents").as("peak_cents"))
      .filter(col("rise_len") >= minRise)
    runs.join(steps.select(col("user_id").as("u2"),
        (col("rn") - 1).as("after_rn"), col("dir").as("next_dir")),
        runs("user_id") === col("u2") && runs("end_rn") === col("after_rn"))
      .filter(col("next_dir") === "D")
      .groupBy(runs("user_id"))
      .agg(count(lit(1)).as("n_patterns"), max("rise_len").as("max_rise"),
        sum("peak_cents").as("peak_cents"))
      .orderBy("user_id")
  }

  /** DuckDB twin of [[risePatterns]]: identical window chain. Embed
    * after `WITH ` and select from `rise_patterns`.
    */
  def risePatternsSql(minRise: Int = 3): String =
    s"""rp_steps AS (
       |  SELECT user_id, ts, event_id,
       |         ${OracleSafe.quantSql("value", 100)} AS cents,
       |         ROW_NUMBER() OVER (PARTITION BY user_id
       |                            ORDER BY ts, event_id) AS rn
       |  FROM events),
       |rp_dir AS (
       |  SELECT *,
       |         CASE WHEN prev IS NULL THEN 'S'
       |              WHEN cents > prev THEN 'U'
       |              WHEN cents < prev THEN 'D'
       |              ELSE 'F' END AS dir
       |  FROM (SELECT *, LAG(cents, 1) OVER (PARTITION BY user_id
       |                  ORDER BY ts, event_id) AS prev
       |        FROM rp_steps)),
       |rp_runs AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS rise_len,
       |         MAX(rn) AS end_rn, MAX(cents) AS peak_cents
       |  FROM (SELECT *, rn - ROW_NUMBER() OVER (
       |          PARTITION BY user_id, dir ORDER BY ts, event_id) AS grp
       |        FROM rp_dir)
       |  WHERE dir = 'U'
       |  GROUP BY user_id, grp
       |  HAVING COUNT(*) >= $minRise),
       |rise_patterns AS (
       |  SELECT r.user_id, CAST(COUNT(*) AS BIGINT) AS n_patterns,
       |         MAX(r.rise_len) AS max_rise,
       |         CAST(SUM(r.peak_cents) AS BIGINT) AS peak_cents
       |  FROM rp_runs r JOIN rp_dir s
       |    ON s.user_id = r.user_id AND s.rn = r.end_rn + 1
       |  WHERE s.dir = 'D'
       |  GROUP BY r.user_id)""".stripMargin

  /** q291 — EXACT tie-aware ROC AUC, one-vs-rest per event type: does
    * `value` separate each event type from the rest? The model-eval
    * statistic every training pipeline gates on, computed EXACTLY via
    * the Mann-Whitney pair count — never a sampled or binned
    * approximation: with cent-quantized scores,
    * `U₂ = 2·#{pos>neg} + #{pos=neg}` is an integer both engines agree
    * on bit-for-bit, and AUC = U₂ / (2·n₁·n₀) is one division of
    * exactly-representable integers.
    *
    * Scale shape: events collapse to the (type, score)-grain frame
    * FIRST (map-side combinable; ≤ |types|·|distinct cents| rows), so
    * no pairwise join and no global sort of raw rows ever happens. The
    * strictly-below negative count decomposes as
    * `total_below − own_type_below`; the global prefix runs in the
    * q(globalMaxLateness) two-grain discipline — a coarse score-bucket
    * grid (the only unpartitioned window, sized by the score RANGE, not
    * the data) plus a within-bucket prefix partitioned by bucket — and
    * the per-type prefix is partitioned by type. Everything downstream
    * is arithmetic on the grouped frame.
    */
  def rocAucByType(events: DataFrame): DataFrame =
    aucFromGrain(typeScoreGrain(events).localCheckpoint())

  /** The shared (type, cent-score) grain the eval tier collapses to
    * FIRST — one map-side-combinable aggregate, ≤ |types|·|distinct
    * cents| rows; q314's report derives EVERY metric from one instance
    * of it (one scan where q291+q299+q301+q305 separately run four).
    */
  private def typeScoreGrain(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        OracleSafe.quant(col("value"), 100).as("s"))
      .groupBy("event_type", "s").agg(count(lit(1)).as("pn"))

  /** The q291 machinery from the grain down (see [[rocAucByType]]). */
  private def aucFromGrain(byTypeScore: DataFrame): DataFrame = {
    val byScore = byTypeScore.groupBy("s").agg(sum("pn").as("tn"))
      .withColumn("bucket", OracleSafe.intDiv(col("s"), lit(10000L)))
    val bucketPrefix = byScore.groupBy("bucket").agg(sum("tn").as("btn"))
      .withColumn("pfx", coalesce(
        sum("btn").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "pfx")
    val withinW = Window.partitionBy("bucket").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val totBelow = byScore.join(broadcast(bucketPrefix), Seq("bucket"))
      .withColumn("wb", coalesce(sum("tn").over(withinW), lit(0L)))
      .select(col("s"), col("tn"), (col("pfx") + col("wb")).as("tot_below"))
    val typeW = Window.partitionBy("event_type").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val typeBelow = byTypeScore
      .withColumn("type_below", coalesce(sum("pn").over(typeW), lit(0L)))
    val nAll = broadcast(byTypeScore.agg(sum("pn").as("n_all")))
    typeBelow.join(totBelow, Seq("s"))
      .groupBy("event_type")
      .agg(sum("pn").as("n_pos"),
        sum(col("pn") * (col("tot_below") - col("type_below")))
          .as("concordant"),
        sum(col("pn") * (col("tn") - col("pn"))).as("tie_pairs"))
      .crossJoin(nAll)
      .select(col("event_type"), col("n_pos"),
        (col("n_all") - col("n_pos")).as("n_neg"),
        (lit(2L) * col("concordant") + col("tie_pairs")).as("u2"))
      // a single-class input (n_pos or n_neg = 0) has no ranking question
      // to answer — NULL, never a 0/0 NaN (the q299/q301 convention)
      .withColumn("auc",
        when(col("n_pos") === 0L || col("n_neg") === 0L,
          lit(null).cast("double"))
          .otherwise(col("u2").cast("double") /
            (lit(2L) * col("n_pos") * (col("n_neg"))).cast("double")))
      .orderBy("event_type")
  }

  /** q292 — CALIBRATION BINS (the reliability diagram): does the score
    * MEAN what it says? The companion gate to q291's AUC — a model can
    * rank perfectly and still be miscalibrated. The score is the
    * cent-quantized value normalized by the corpus max (a 1-row
    * broadcast scalar), the label is `event_type = 'purchase'`, and
    * rows land in 10 equal-width bins by INTEGER arithmetic
    * (`(10·cents) DIV max_cents`, clamped) so bin assignment is
    * engine-exact. Per bin: count, positives, the exact integer score
    * sum, then mean-predicted and observed-rate as single divisions of
    * exactly-representable integers and the |gap| as one subtraction.
    * The output stays PER-BIN (10 rows): ECE is the n-weighted gap sum
    * a consumer takes over them — kept out of the engine compare so no
    * cross-bin double accumulation (summation-order fp) enters the
    * oracle hash.
    *
    * Scale: one map-side-combinable groupBy on a 10-value key after a
    * scan; the max is the only extra pass (and a deployment caches it).
    */
  def calibrationBins(events: DataFrame): DataFrame = {
    val scored = events.select(
      OracleSafe.quant(col("value"), 100).as("cents"),
      (col("event_type") === "purchase").cast("long").as("pos"))
    val mx = broadcast(scored.agg(max("cents").as("max_cents")))
    // a degenerate score domain (max_cents <= 0) has no bin arithmetic to
    // run — everything lands in bin 0 and mean_pred reports NULL, never a
    // division by zero (the q299/q301 convention)
    val binned = scored.crossJoin(mx)
      .withColumn("bin", when(col("max_cents") <= 0L, lit(0L))
        .otherwise(greatest(lit(0L), least(lit(9L),
          OracleSafe.intDiv(col("cents") * 10, col("max_cents"))))))
    binned.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"),
        sum("cents").as("sum_cents"), max("max_cents").as("max_cents"))
      .select(col("bin"), col("n"), col("n_pos"), col("sum_cents"),
        when(col("max_cents") <= 0L, lit(null).cast("double"))
          .otherwise(col("sum_cents").cast("double") /
            (col("n") * col("max_cents")).cast("double")).as("mean_pred"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("obs_rate"))
      .withColumn("abs_gap", abs(col("mean_pred") - col("obs_rate")))
      .orderBy("bin")
  }

  /** DuckDB twin of [[calibrationBins]]: same integer binning against
    * the same max scalar, same single-division statistics. Embed after
    * `WITH ` and select from `calibration`.
    */
  def calibrationBinsSql(): String = {
    val cents = OracleSafe.quantSql("value", 100)
    s"""cb_scored AS (
       |  SELECT $cents AS cents,
       |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
       |  FROM events),
       |cb_max AS (SELECT MAX(cents) AS max_cents FROM cb_scored),
       |cb_binned AS (
       |  SELECT CASE WHEN max_cents <= 0 THEN CAST(0 AS BIGINT)
       |              ELSE CAST(GREATEST(0, LEAST(9,
       |                ${OracleSafe.intDivSql("cents * 10", "max_cents")}))
       |                AS BIGINT) END AS bin,
       |         cents, pos, max_cents
       |  FROM cb_scored CROSS JOIN cb_max),
       |calibration AS (
       |  SELECT bin, COUNT(*) AS n,
       |         CAST(SUM(pos) AS BIGINT) AS n_pos,
       |         CAST(SUM(cents) AS BIGINT) AS sum_cents,
       |         CASE WHEN MAX(max_cents) <= 0 THEN NULL
       |              ELSE CAST(SUM(cents) AS DOUBLE)
       |                / CAST(COUNT(*) * MAX(max_cents) AS DOUBLE)
       |           END AS mean_pred,
       |         CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |           AS obs_rate,
       |         ABS(CASE WHEN MAX(max_cents) <= 0 THEN NULL
       |               ELSE CAST(SUM(cents) AS DOUBLE)
       |                 / CAST(COUNT(*) * MAX(max_cents) AS DOUBLE) END
       |           - CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
       |           AS abs_gap
       |  FROM cb_binned GROUP BY 1)""".stripMargin
  }

  /** q299 classifier: the event types in label order, and the frozen
    * cent-band thresholds that map a value to a predicted type — pure
    * literals in both plans, so prediction is engine-exact.
    */
  private val evalClasses = Seq("click", "error", "purchase", "signup",
    "view")

  /** q299 — MULTI-CLASS CLASSIFIER EVALUATION: the confusion matrix and
    * per-class precision / recall / F1 (plus the micro average) for a
    * frozen value-band classifier against the event-type label — the
    * eval table every labeling / distillation pipeline gates on, beside
    * q291 (ranking), q292 (calibration), q294 (targeting). Counts are
    * exact integers off one (label, pred)-grain aggregate; each metric
    * is ONE division of exactly-representable integers (F1 as
    * 2·tp / (2·tp + fp + fn), never the p·r composition — one division,
    * no intermediate rounding); classes anchor on the STATIC list with
    * zero-coalesce (the q272 lesson), and a class never predicted
    * reports NULL precision rather than a 0/0.
    *
    * Scale: one map-side-combinable aggregate to a ≤ |classes|² frame;
    * everything after is arithmetic on 5-row frames.
    */
  /** The frozen value-band classifier on a cent-quantized score column
    * — shared between the row path (q299) and the grain path (q314).
    */
  private def bandOf(cents: Column): Column =
    when(cents < 5000L, lit("click"))
      .when(cents < 15000L, lit("error"))
      .when(cents < 30000L, lit("purchase"))
      .when(cents < 40000L, lit("signup"))
      .otherwise(lit("view"))

  /** (cls, tp, fp, fn) off a grouped (label, pred, m) confusion frame,
    * anchored on the static class list with zero-coalesce (the q272
    * lesson) — shared between q299 and q314.
    */
  private def perClassFromConf(conf: DataFrame): DataFrame = {
    val spark = conf.sparkSession
    import spark.implicits._
    val classes = evalClasses.toDF("cls")
    val tp = conf.filter(col("label") === col("pred"))
      .select(col("label").as("cls"), col("m").as("tp"))
    val predTot = conf.groupBy(col("pred").as("cls"))
      .agg(sum("m").as("pred_n"))
    val labelTot = conf.groupBy(col("label").as("cls"))
      .agg(sum("m").as("label_n"))
    classes
      .join(tp, Seq("cls"), "left")
      .join(predTot, Seq("cls"), "left")
      .join(labelTot, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("pred_n"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("label_n"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
  }

  def classifierEval(events: DataFrame): DataFrame = {
    val conf = events.select(col("event_type").as("label"),
        bandOf(OracleSafe.quant(col("value"), 100)).as("pred"))
      .groupBy("label", "pred").agg(count(lit(1)).as("m"))
      .localCheckpoint()
    val perClass = perClassFromConf(conf)
    val micro = perClass.agg(sum("tp").as("tp"), sum("fp").as("fp"),
        sum("fn").as("fn"))
      .select(lit("zz_micro").as("cls"), col("tp"), col("fp"), col("fn"))
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    perClass.unionByName(micro)
      .select(col("cls"), col("tp"), col("fp"), col("fn"),
        ratio(col("tp"), col("tp") + col("fp")).as("precision"),
        ratio(col("tp"), col("tp") + col("fn")).as("recall"),
        ratio(lit(2L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn")).as("f1"))
      .orderBy("cls")
  }

  /** DuckDB twin of [[classifierEval]]: the same frozen bands, static
    * class anchor, and single-division metrics. Embed after `WITH ` and
    * select from `classifier_eval`.
    */
  def classifierEvalSql(): String = {
    val cents = OracleSafe.quantSql("value", 100)
    val clsVals = evalClasses.map(c => s"('$c')").mkString(", ")
    s"""ce_conf AS (
       |  SELECT event_type AS label,
       |         CASE WHEN $cents < 5000 THEN 'click'
       |              WHEN $cents < 15000 THEN 'error'
       |              WHEN $cents < 30000 THEN 'purchase'
       |              WHEN $cents < 40000 THEN 'signup'
       |              ELSE 'view' END AS pred,
       |         COUNT(*) AS m
       |  FROM events GROUP BY 1, 2),
       |ce_cls(cls) AS (VALUES $clsVals),
       |ce_per AS (
       |  SELECT c.cls,
       |         CAST(COALESCE(t.tp, 0) AS BIGINT) AS tp,
       |         CAST(COALESCE(p.pred_n, 0) - COALESCE(t.tp, 0) AS BIGINT)
       |           AS fp,
       |         CAST(COALESCE(l.label_n, 0) - COALESCE(t.tp, 0) AS BIGINT)
       |           AS fn
       |  FROM ce_cls c
       |  LEFT JOIN (SELECT label AS cls, m AS tp FROM ce_conf
       |             WHERE label = pred) t ON t.cls = c.cls
       |  LEFT JOIN (SELECT pred AS cls, SUM(m) AS pred_n FROM ce_conf
       |             GROUP BY 1) p ON p.cls = c.cls
       |  LEFT JOIN (SELECT label AS cls, SUM(m) AS label_n FROM ce_conf
       |             GROUP BY 1) l ON l.cls = c.cls),
       |ce_all AS (
       |  SELECT cls, tp, fp, fn FROM ce_per
       |  UNION ALL
       |  SELECT 'zz_micro', CAST(SUM(tp) AS BIGINT),
       |         CAST(SUM(fp) AS BIGINT), CAST(SUM(fn) AS BIGINT)
       |  FROM ce_per),
       |classifier_eval AS (
       |  SELECT cls, tp, fp, fn,
       |         CASE WHEN tp + fp = 0 THEN NULL
       |              ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
       |           END AS precision,
       |         CASE WHEN tp + fn = 0 THEN NULL
       |              ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
       |           END AS recall,
       |         CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
       |              ELSE CAST(2 * tp AS DOUBLE)
       |                / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
       |  FROM ce_all)""".stripMargin
  }

  /** q301 — MATTHEWS CORRELATION per class (one-vs-rest), the
    * balance-robust single-number companion to q299's P/R/F1 (F1
    * ignores true negatives; MCC doesn't, which is why imbalanced-label
    * evals prefer it). Rides the same confusion frame: tn closes the
    * square from the total count, the numerator `tp·tn − fp·fn` is an
    * exact BIGINT difference cast to an exactly-representable double,
    * and the denominator is computed as the PRODUCT OF FOUR SQUARE
    * ROOTS — sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn)) as one BIGINT product
    * would overflow at ~10⁵ rows per factor, while each factor alone is
    * ≤ n and its sqrt is correctly rounded (IEEE 754, the q286
    * precedent), so the left-associated product is bit-identical on
    * both engines. A degenerate class (any zero factor) reports NULL,
    * never a 0/0.
    */
  def mccPerClass(events: DataFrame): DataFrame = {
    val per = classifierEval(events).filter(col("cls") =!= "zz_micro")
      .select("cls", "tp", "fp", "fn")
    val nAll = broadcast(events.agg(count(lit(1)).as("n_all")))
    def s(c: Column): Column = sqrt(c.cast("double"))
    per.crossJoin(nAll)
      .withColumn("tn", col("n_all") - col("tp") - col("fp") - col("fn"))
      .withColumn("num",
        (col("tp") * col("tn") - col("fp") * col("fn")).cast("double"))
      .withColumn("den",
        s(col("tp") + col("fp")) * s(col("tp") + col("fn")) *
          s(col("tn") + col("fp")) * s(col("tn") + col("fn")))
      .select(col("cls"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("den") === 0.0, lit(null).cast("double"))
          .otherwise(col("num") / col("den")).as("mcc"))
      .orderBy("cls")
  }

  /** DuckDB twin of [[mccPerClass]] — the q299 confusion CTEs plus the
    * identical sqrt-product arithmetic. Embed after `WITH ` and select
    * from `mcc_eval`.
    */
  def mccPerClassSql(): String =
    s"""${classifierEvalSql()},
       |mcc_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM events),
       |mcc_sq AS (
       |  SELECT cls, tp, fp, fn,
       |         CAST(n_all - tp - fp - fn AS BIGINT) AS tn
       |  FROM ce_per CROSS JOIN mcc_n),
       |mcc_eval AS (
       |  SELECT cls, tp, fp, fn, tn,
       |         CASE WHEN sqrt(CAST(tp + fp AS DOUBLE))
       |                   * sqrt(CAST(tp + fn AS DOUBLE))
       |                   * sqrt(CAST(tn + fp AS DOUBLE))
       |                   * sqrt(CAST(tn + fn AS DOUBLE)) = 0.0 THEN NULL
       |              ELSE CAST(tp * tn - fp * fn AS DOUBLE)
       |                   / (sqrt(CAST(tp + fp AS DOUBLE))
       |                      * sqrt(CAST(tp + fn AS DOUBLE))
       |                      * sqrt(CAST(tn + fp AS DOUBLE))
       |                      * sqrt(CAST(tn + fn AS DOUBLE)))
       |           END AS mcc
       |  FROM mcc_sq)""".stripMargin

  /** q305 — BRIER SCORE per class (one-vs-rest), the strictly-proper
    * scoring rule beside q292's reliability diagram: one number that
    * punishes BOTH miscalibration and indiscrimination. The score is
    * the q292 normalization (cents / max_cents) and the whole statistic
    * stays EXACT: with p = c/M and y ∈ {0,1},
    * `Σ (p − y)² = Σ (c − y·M)² / M²`, and the integer numerator
    * decomposes as `Σc² − 2·M·Σ_{y=1}c + n_pos·M²` — so ONE pass at the
    * event-type grain (count, Σc, Σc², all map-side combinable) plus a
    * global Σc² scalar yields every class's numerator by 5-row
    * arithmetic, and the Brier score is a single division of
    * exactly-representable integers. Classes anchor on the static list
    * with zero-coalesce (the q272 lesson); a degenerate score domain
    * (M ≤ 0) reports NULL, the q292 convention.
    *
    * Scale: one aggregate to a ≤ |types| frame — no per-class fan-out
    * of the scan; the numerator stays < 2⁶³ far past 10⁹ rows (Σc² at
    * cent scale is ~10¹⁶ for a billion rows of 10⁵-cent values).
    */
  def brierByType(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val scored = events.select(col("event_type"),
      OracleSafe.quant(col("value"), 100).as("c"))
    val perType = scored.groupBy("event_type")
      .agg(count(lit(1)).as("tn"), sum("c").as("sc"),
        sum(col("c") * col("c")).as("sc2"), max("c").as("mx"))
      .localCheckpoint()
    val glob = broadcast(perType.agg(sum("tn").as("n_all"),
      sum("sc2").as("sum_c2"), max("mx").as("max_c")))
    val classes = evalClasses.toDF("cls")
    classes
      .join(perType.withColumnRenamed("event_type", "cls"), Seq("cls"),
        "left")
      .crossJoin(glob)
      .select(col("cls"),
        coalesce(col("tn"), lit(0L)).as("n_pos"),
        coalesce(col("sc"), lit(0L)).as("pos_cents"),
        col("n_all"), col("sum_c2"), col("max_c"))
      .withColumn("sq_num", col("sum_c2")
        - lit(2L) * col("max_c") * col("pos_cents")
        + col("n_pos") * col("max_c") * col("max_c"))
      .select(col("cls"), col("n_all"), col("n_pos"), col("sq_num"),
        when(col("max_c") <= 0L, lit(null).cast("double"))
          .otherwise(col("sq_num").cast("double") /
            (col("n_all") * col("max_c") * col("max_c")).cast("double"))
          .as("brier"))
      .orderBy("cls")
  }

  /** DuckDB twin of [[brierByType]]: same decomposition, same single
    * division. Embed after `WITH ` and select from `brier_eval`.
    */
  def brierByTypeSql(): String = {
    val cents = OracleSafe.quantSql("value", 100)
    val clsVals = evalClasses.map(c => s"('$c')").mkString(", ")
    s"""br_pt AS (
       |  SELECT event_type, COUNT(*) AS tn,
       |         CAST(SUM($cents) AS BIGINT) AS sc,
       |         CAST(SUM($cents * $cents) AS BIGINT) AS sc2
       |  FROM events GROUP BY 1),
       |br_g AS (
       |  SELECT CAST(SUM(tn) AS BIGINT) AS n_all,
       |         CAST(SUM(sc2) AS BIGINT) AS sum_c2,
       |         (SELECT CAST(MAX($cents) AS BIGINT) FROM events) AS max_c
       |  FROM br_pt),
       |br_cls(cls) AS (VALUES $clsVals),
       |br_num AS (
       |  SELECT c.cls,
       |         CAST(COALESCE(p.tn, 0) AS BIGINT) AS n_pos,
       |         g.n_all, g.max_c,
       |         g.sum_c2 - 2 * g.max_c * CAST(COALESCE(p.sc, 0) AS BIGINT)
       |           + CAST(COALESCE(p.tn, 0) AS BIGINT) * g.max_c * g.max_c
       |           AS sq_num
       |  FROM br_cls c
       |  LEFT JOIN br_pt p ON p.event_type = c.cls
       |  CROSS JOIN br_g g),
       |brier_eval AS (
       |  SELECT cls, n_all, n_pos, CAST(sq_num AS BIGINT) AS sq_num,
       |         CASE WHEN max_c <= 0 THEN NULL
       |              ELSE CAST(sq_num AS DOUBLE)
       |                / CAST(n_all * max_c * max_c AS DOUBLE)
       |           END AS brier
       |  FROM br_num)""".stripMargin
  }

  /** q307 — COHEN'S KAPPA over the q299 confusion frame: chance-
    * corrected agreement between the frozen value-band classifier and
    * the label, the inter-rater statistic that closes the multi-class
    * eval set (accuracy = q299 micro, balance-robust = q301 MCC,
    * chance-corrected = this). The whole statistic is ONE exact
    * division:
    * `κ = (n·Σtpᵢ − Σ rowᵢ·colᵢ) / (n² − Σ rowᵢ·colᵢ)` — observed and
    * chance agreement cleared of their denominators, every term an
    * exact BIGINT off the same (label, pred) aggregate q299 rides.
    * Perfect chance saturation (n² = Σ row·col — every marginal in one
    * class) reports NULL, never 0/0. p_o and p_e ride along as their
    * own single divisions.
    *
    * Scale: the q299 shape — one map-side-combinable aggregate to a
    * ≤ |classes|² frame, then arithmetic on 5-row frames; BIGINT-safe
    * to ~3·10⁹ rows (n² < 2⁶³).
    */
  def cohensKappa(events: DataFrame): DataFrame = {
    val per = classifierEval(events).filter(col("cls") =!= "zz_micro")
      .select(col("cls"), col("tp"),
        (col("tp") + col("fp")).as("pred_n"),
        (col("tp") + col("fn")).as("label_n"))
    val nAll = broadcast(events.agg(count(lit(1)).as("n_all")))
    per.agg(sum("tp").as("agree"),
        sum(col("pred_n") * col("label_n")).as("chance"))
      .crossJoin(nAll)
      .select(col("n_all"), col("agree"), col("chance"),
        (col("agree").cast("double") / col("n_all").cast("double"))
          .as("p_o"),
        (col("chance").cast("double") /
          (col("n_all") * col("n_all")).cast("double")).as("p_e"),
        when(col("n_all") * col("n_all") === col("chance"),
          lit(null).cast("double"))
          .otherwise(
            (col("n_all") * col("agree") - col("chance")).cast("double") /
              (col("n_all") * col("n_all") - col("chance")).cast("double"))
          .as("kappa"))
  }

  /** DuckDB twin of [[cohensKappa]] — the q299 confusion CTEs plus the
    * identical cleared-denominator arithmetic. Embed after `WITH ` and
    * select from `kappa_eval`.
    */
  def cohensKappaSql(): String =
    s"""${classifierEvalSql()},
       |ka_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM events),
       |ka_agg AS (
       |  SELECT CAST(SUM(tp) AS BIGINT) AS agree,
       |         CAST(SUM((tp + fp) * (tp + fn)) AS BIGINT) AS chance
       |  FROM ce_per),
       |kappa_eval AS (
       |  SELECT n_all, agree, chance,
       |         CAST(agree AS DOUBLE) / CAST(n_all AS DOUBLE) AS p_o,
       |         CAST(chance AS DOUBLE) / CAST(n_all * n_all AS DOUBLE)
       |           AS p_e,
       |         CASE WHEN n_all * n_all = chance THEN NULL
       |              ELSE CAST(n_all * agree - chance AS DOUBLE)
       |                / CAST(n_all * n_all - chance AS DOUBLE)
       |           END AS kappa
       |  FROM ka_agg CROSS JOIN ka_n)""".stripMargin

  /** q294 — CUMULATIVE GAINS / LIFT TABLE, completing the eval trio
    * (q291 ranks, q292 calibrates, this one answers "how much of the
    * positives do the top-k% capture?" — the targeting statistic).
    * Deciles are assigned at the SCORE-GROUP grain by descending score:
    * a group's decile is `(10·cum_before) DIV N` — all-integer, tied
    * scores stay whole (grouped-gains semantics, so no tie-break order
    * can leak into the result), and a giant tied group may leave later
    * deciles empty rather than being split arbitrarily. Per decile:
    * exact counts, then cumulative capture (share of all positives) and
    * lift (capture ÷ share of rows) as single divisions of
    * exactly-representable integer products.
    *
    * Scale: the q291 shape again — collapse to distinct cent scores,
    * two-grain prefix (coarse bucket grid + within-bucket window) for
    * the descending cumulative, then a 10-row frame for the decile
    * cumulative. No global row sort, no NTILE single-partition window.
    */
  def gainLift(events: DataFrame): DataFrame = {
    val scored = events.select(OracleSafe.quant(col("value"), 100).as("s"),
      (col("event_type") === "purchase").cast("long").as("pos"))
    // d = −s: ascending d IS descending score, so the q291 prefix
    // machinery applies unchanged
    val byScore = scored.groupBy("s")
      .agg(count(lit(1)).as("tn"), sum("pos").as("pn"))
      .withColumn("d", -col("s"))
      .withColumn("bucket", OracleSafe.intDiv(col("d"), lit(10000L)))
      .localCheckpoint()
    val bucketPrefix = byScore.groupBy("bucket").agg(sum("tn").as("btn"))
      .withColumn("pfx", coalesce(
        sum("btn").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "pfx")
    val withinW = Window.partitionBy("bucket").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, -1)
    val nAll = broadcast(byScore.agg(sum("tn").as("n_all"),
      sum("pn").as("pos_all")))
    val perDecile = byScore.join(broadcast(bucketPrefix), Seq("bucket"))
      .withColumn("wb", coalesce(sum("tn").over(withinW), lit(0L)))
      .crossJoin(nAll)
      .withColumn("decile", OracleSafe.intDiv(
        (col("pfx") + col("wb")) * 10, col("n_all")))
      .groupBy("decile")
      .agg(sum("tn").as("n"), sum("pn").as("n_pos"))
    val cumW = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0) // ≤ 10-row frame
    perDecile.crossJoin(nAll)
      .withColumn("cum_n", sum("n").over(cumW))
      .withColumn("cum_pos", sum("n_pos").over(cumW))
      .select(col("decile"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"),
        (col("cum_pos").cast("double") / col("pos_all").cast("double"))
          .as("capture"),
        ((col("cum_pos") * col("n_all")).cast("double") /
          (col("cum_n") * col("pos_all")).cast("double")).as("lift"))
      .orderBy("decile")
  }

  /** DuckDB twin of [[gainLift]]: plain descending-order windows stand
    * in for the engine's two-grain prefix (identical integers), same
    * decile arithmetic and single divisions. Embed after `WITH ` and
    * select from `gain_lift`.
    */
  def gainLiftSql(): String = {
    val cents = OracleSafe.quantSql("value", 100)
    s"""gl_sc AS (
       |  SELECT $cents AS s, COUNT(*) AS tn,
       |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |           END) AS BIGINT) AS pn
       |  FROM events GROUP BY 1),
       |gl_n AS (
       |  SELECT CAST(SUM(tn) AS BIGINT) AS n_all,
       |         CAST(SUM(pn) AS BIGINT) AS pos_all
       |  FROM gl_sc),
       |gl_dec AS (
       |  SELECT ${OracleSafe.intDivSql(
                 "CAST(COALESCE(SUM(tn) OVER (ORDER BY s DESC " +
                   "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
                   "AS BIGINT) * 10", "n.n_all")} AS decile,
       |         tn, pn
       |  FROM gl_sc CROSS JOIN gl_n n),
       |gl_per AS (
       |  SELECT decile, CAST(SUM(tn) AS BIGINT) AS n,
       |         CAST(SUM(pn) AS BIGINT) AS n_pos
       |  FROM gl_dec GROUP BY 1),
       |gain_lift AS (
       |  SELECT decile, n, n_pos,
       |         CAST(SUM(n) OVER (ORDER BY decile
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS BIGINT) AS cum_n,
       |         CAST(SUM(n_pos) OVER (ORDER BY decile
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS BIGINT) AS cum_pos,
       |         CAST(SUM(n_pos) OVER (ORDER BY decile
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |             AS DOUBLE)
       |           / CAST(nn.pos_all AS DOUBLE) AS capture,
       |         CAST(SUM(n_pos) OVER (ORDER BY decile
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |             * nn.n_all AS DOUBLE)
       |           / CAST(SUM(n) OVER (ORDER BY decile
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |             * nn.pos_all AS DOUBLE) AS lift
       |  FROM gl_per CROSS JOIN gl_n nn)""".stripMargin
  }

  /** q303 — PRECISION-RECALL CURVE per event type (one-vs-rest), the
    * imbalanced-class companion to q291's ROC: when positives are rare
    * (the dominant case in training-data gating), ROC AUC saturates
    * while the PR curve still discriminates. Rides q291's exact
    * (type, cent-score) grain unchanged — one row per cut the data
    * actually has, where the cut at score s means "everything scoring
    * ≥ s is predicted positive":
    * `precision = cum_tp / cum_n`, `recall = cum_tp / n_pos`, each ONE
    * division of exactly-representable integers (NULL recall for an
    * absent class, the q299 convention; cum_n ≥ 1 at every existing
    * cut, so precision needs no guard). Average precision is the
    * consumer-side fold over these rows (Σ ΔR·P descending) — kept OUT
    * of the engine compare exactly like q292 keeps ECE out: a cross-row
    * double accumulation would hash on summation order, not math.
    *
    * Scale shape: the descending cumulative runs in the q291/q294
    * two-grain discipline — the only unpartitioned window is over the
    * score-RANGE-bounded bucket grid; the within-bucket and per-type
    * prefixes are partitioned. No global row sort, no pairwise join;
    * output is bounded by |types| · |distinct cent scores|.
    */
  def prCurveByType(events: DataFrame): DataFrame = {
    val byTypeScore = events.select(col("event_type"),
        OracleSafe.quant(col("value"), 100).as("s"))
      .groupBy("event_type", "s").agg(count(lit(1)).as("pn"))
      // d = −s: ascending d IS descending score (the q294 device)
      .withColumn("d", -col("s"))
      .withColumn("bucket", OracleSafe.intDiv(col("d"), lit(10000L)))
      .localCheckpoint()
    val byScore = byTypeScore.groupBy("s", "d", "bucket")
      .agg(sum("pn").as("tn"))
    val bucketPrefix = byScore.groupBy("bucket").agg(sum("tn").as("btn"))
      .withColumn("pfx", coalesce(
        sum("btn").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "pfx")
    val withinW = Window.partitionBy("bucket").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0) // INCLUSIVE: score >= s
    val cumN = byScore.join(broadcast(bucketPrefix), Seq("bucket"))
      .withColumn("wb", sum("tn").over(withinW))
      .select(col("s"), (col("pfx") + col("wb")).as("cum_n"))
    val typeW = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    val nPos = broadcast(byTypeScore.groupBy("event_type")
      .agg(sum("pn").as("n_pos")))
    byTypeScore
      .withColumn("cum_tp", sum("pn").over(typeW))
      .join(cumN, Seq("s"))
      .join(nPos, Seq("event_type"))
      .select(col("event_type"), col("s"), col("pn"), col("cum_n"),
        col("cum_tp"), col("n_pos"),
        (col("cum_tp").cast("double") / col("cum_n").cast("double"))
          .as("precision"),
        when(col("n_pos") === 0L, lit(null).cast("double"))
          .otherwise(col("cum_tp").cast("double") /
            col("n_pos").cast("double")).as("recall"))
      .orderBy("event_type", "s")
  }

  /** DuckDB twin of [[prCurveByType]]: the q291 (type, score) CTE grain
    * with plain descending windows standing in for the engine's
    * two-grain prefix (identical integers), same single divisions.
    * Embed after `WITH ` and select from `pr_curve`.
    */
  def prCurveByTypeSql(): String = {
    val cents = OracleSafe.quantSql("value", 100)
    s"""pr_ts AS (
       |  SELECT event_type, $cents AS s, COUNT(*) AS pn
       |  FROM events GROUP BY 1, 2),
       |pr_cn AS (
       |  SELECT s, CAST(SUM(tn) OVER (ORDER BY s DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_n
       |  FROM (SELECT s, SUM(pn) AS tn FROM pr_ts GROUP BY 1)),
       |pr_tp AS (
       |  SELECT event_type, s, pn, CAST(SUM(pn) OVER (
       |    PARTITION BY event_type ORDER BY s DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_tp
       |  FROM pr_ts),
       |pr_np AS (
       |  SELECT event_type, CAST(SUM(pn) AS BIGINT) AS n_pos
       |  FROM pr_ts GROUP BY 1),
       |pr_curve AS (
       |  SELECT t.event_type, t.s, t.pn, c.cum_n, t.cum_tp, p.n_pos,
       |         CAST(t.cum_tp AS DOUBLE) / CAST(c.cum_n AS DOUBLE)
       |           AS precision,
       |         CASE WHEN p.n_pos = 0 THEN NULL
       |              ELSE CAST(t.cum_tp AS DOUBLE)
       |                   / CAST(p.n_pos AS DOUBLE) END AS recall
       |  FROM pr_tp t JOIN pr_cn c USING (s) JOIN pr_np p
       |    USING (event_type))""".stripMargin
  }

  /** DuckDB twin of [[rocAucByType]]: the same (type, score)-grain
    * collapse and strictly-below decomposition, with plain global
    * windows standing in for the engine's two-grain prefix (identical
    * integers either way). Embed after `WITH ` and select from
    * `roc_auc`.
    */
  def rocAucByTypeSql(): String = {
    val cents = OracleSafe.quantSql("value", 100)
    s"""auc_ts AS (
       |  SELECT event_type, $cents AS s, COUNT(*) AS pn
       |  FROM events GROUP BY 1, 2),
       |auc_sc AS (
       |  SELECT s, CAST(SUM(pn) AS BIGINT) AS tn FROM auc_ts GROUP BY 1),
       |auc_tot AS (
       |  SELECT s, tn, CAST(COALESCE(SUM(tn) OVER (ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS tot_below
       |  FROM auc_sc),
       |auc_tb AS (
       |  SELECT event_type, s, pn, CAST(COALESCE(SUM(pn) OVER (
       |    PARTITION BY event_type ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS type_below
       |  FROM auc_ts),
       |auc_n AS (SELECT CAST(SUM(pn) AS BIGINT) AS n_all FROM auc_ts),
       |auc_agg AS (
       |  SELECT t.event_type,
       |         CAST(SUM(t.pn) AS BIGINT) AS n_pos,
       |         n.n_all - CAST(SUM(t.pn) AS BIGINT) AS n_neg,
       |         CAST(2 * SUM(t.pn * (o.tot_below - t.type_below))
       |           + SUM(t.pn * (o.tn - t.pn)) AS BIGINT) AS u2
       |  FROM auc_tb t JOIN auc_tot o USING (s) CROSS JOIN auc_n n
       |  GROUP BY 1, n.n_all),
       |roc_auc AS (
       |  SELECT event_type, n_pos, n_neg, u2,
       |         CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
       |              ELSE CAST(u2 AS DOUBLE)
       |                   / CAST(2 * n_pos * n_neg AS DOUBLE)
       |           END AS auc
       |  FROM auc_agg)""".stripMargin
  }

  /** q314 — the ONE-PASS EVAL REPORT: every per-class metric the tier
    * computes separately (q291 AUC, q305 Brier, q299 confusion +
    * P/R/F1, q301 MCC) derived from a SINGLE instance of the shared
    * (type, cent-score) grain — one scan and one map-side-combinable
    * aggregate where running the four queries costs four. This works
    * because the grain is a sufficient statistic for all of them: AUC
    * needs the per-score counts, the band classifier is a function of
    * the score (so the confusion matrix is a grain re-aggregation),
    * and the Brier moments are Σ pn, Σ s·pn, Σ s²·pn. Formulas are the
    * SAME code paths ([[aucFromGrain]], [[perClassFromConf]], the q305
    * decomposition, the q301 sqrt-product), so each column is
    * bit-identical to its standalone query — the composition adds no
    * new numerics, it removes three scans.
    *
    * Scale: at 100 TB of predictions this is the difference between
    * one pass over the score column and four; everything after the
    * grain is arithmetic on bounded frames.
    */
  def evalReport(events: DataFrame): DataFrame =
    evalReportFromGrain(typeScoreGrain(events).localCheckpoint())

  /** The report off an already-materialized (event_type, s, pn) grain —
    * shared by q314 (grain built in-plan), q315 (grain maintained
    * incrementally from a persisted artifact), and any stream that
    * keeps the grain as state.
    */
  private[graft] def evalReportFromGrain(grain: DataFrame): DataFrame = {
    val auc = aucFromGrain(grain)
      .select(col("event_type").as("cls"), col("auc"))
    val conf = grain.select(col("event_type").as("label"),
        bandOf(col("s")).as("pred"), col("pn"))
      .groupBy("label", "pred").agg(sum("pn").as("m"))
    val per = perClassFromConf(conf)
    val glob = broadcast(grain.agg(sum("pn").as("n_all"),
      sum(col("s") * col("s") * col("pn")).as("sum_c2"),
      max("s").as("max_c")))
    val perType = grain.groupBy(col("event_type").as("cls"))
      .agg(sum("pn").as("n_t"), sum(col("s") * col("pn")).as("pos_cents"))
    def sq(c: Column): Column = sqrt(c.cast("double"))
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    per.join(auc, Seq("cls"), "left")
      .join(perType, Seq("cls"), "left")
      .crossJoin(glob)
      .withColumn("n", coalesce(col("n_t"), lit(0L)))
      .withColumn("tn", col("n_all") - col("tp") - col("fp") - col("fn"))
      .withColumn("sq_num", col("sum_c2")
        - lit(2L) * col("max_c") * coalesce(col("pos_cents"), lit(0L))
        + col("n") * col("max_c") * col("max_c"))
      .withColumn("den",
        sq(col("tp") + col("fp")) * sq(col("tp") + col("fn")) *
          sq(col("tn") + col("fp")) * sq(col("tn") + col("fn")))
      .select(col("cls"), col("n"), col("auc"),
        when(col("max_c") <= 0L, lit(null).cast("double"))
          .otherwise(col("sq_num").cast("double") /
            (col("n_all") * col("max_c") * col("max_c")).cast("double"))
          .as("brier"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        ratio(col("tp"), col("tp") + col("fp")).as("precision"),
        ratio(col("tp"), col("tp") + col("fn")).as("recall"),
        ratio(lit(2L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn")).as("f1"),
        when(col("den") === 0.0, lit(null).cast("double"))
          .otherwise((col("tp") * col("tn") - col("fp") * col("fn"))
            .cast("double") / col("den")).as("mcc"))
      .orderBy("cls")
  }

  /** DuckDB twin of [[evalReport]] — the q291/q299/q301/q305 CTE
    * chains re-rooted on ONE grain. Embed after `WITH ` and select
    * from `eval_report`.
    */
  def evalReportSql(prefix: String = "er", where: String = "TRUE",
      outName: String = "eval_report"): String = {
    val cents = OracleSafe.quantSql("value", 100)
    val clsVals = evalClasses.map(c => s"('$c')").mkString(", ")
    val p = prefix
    s"""${p}_grain AS (
       |  SELECT event_type, $cents AS s, COUNT(*) AS pn
       |  FROM events WHERE $where GROUP BY 1, 2),
       |${p}_sc AS (
       |  SELECT s, CAST(SUM(pn) AS BIGINT) AS tn FROM ${p}_grain GROUP BY 1),
       |${p}_tot AS (
       |  SELECT s, tn, CAST(COALESCE(SUM(tn) OVER (ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS tot_below
       |  FROM ${p}_sc),
       |${p}_tb AS (
       |  SELECT event_type, s, pn, CAST(COALESCE(SUM(pn) OVER (
       |    PARTITION BY event_type ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS type_below
       |  FROM ${p}_grain),
       |${p}_g AS (
       |  SELECT CAST(SUM(pn) AS BIGINT) AS n_all,
       |         CAST(SUM(s * s * pn) AS BIGINT) AS sum_c2,
       |         CAST(MAX(s) AS BIGINT) AS max_c
       |  FROM ${p}_grain),
       |${p}_auc AS (
       |  SELECT cls, CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
       |              ELSE CAST(u2 AS DOUBLE)
       |                   / CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc
       |  FROM (
       |    SELECT t.event_type AS cls,
       |           CAST(SUM(t.pn) AS BIGINT) AS n_pos,
       |           g.n_all - CAST(SUM(t.pn) AS BIGINT) AS n_neg,
       |           CAST(2 * SUM(t.pn * (o.tot_below - t.type_below))
       |             + SUM(t.pn * (o.tn - t.pn)) AS BIGINT) AS u2
       |    FROM ${p}_tb t JOIN ${p}_tot o USING (s) CROSS JOIN ${p}_g g
       |    GROUP BY 1, g.n_all) a),
       |${p}_conf AS (
       |  SELECT event_type AS label,
       |         CASE WHEN s < 5000 THEN 'click'
       |              WHEN s < 15000 THEN 'error'
       |              WHEN s < 30000 THEN 'purchase'
       |              WHEN s < 40000 THEN 'signup'
       |              ELSE 'view' END AS pred,
       |         SUM(pn) AS m
       |  FROM ${p}_grain GROUP BY 1, 2),
       |${p}_cls(cls) AS (VALUES $clsVals),
       |${p}_per AS (
       |  SELECT c.cls,
       |         CAST(COALESCE(t.tp, 0) AS BIGINT) AS tp,
       |         CAST(COALESCE(p.pred_n, 0) - COALESCE(t.tp, 0) AS BIGINT)
       |           AS fp,
       |         CAST(COALESCE(l.label_n, 0) - COALESCE(t.tp, 0) AS BIGINT)
       |           AS fn
       |  FROM ${p}_cls c
       |  LEFT JOIN (SELECT label AS cls, m AS tp FROM ${p}_conf
       |             WHERE label = pred) t ON t.cls = c.cls
       |  LEFT JOIN (SELECT pred AS cls, SUM(m) AS pred_n FROM ${p}_conf
       |             GROUP BY 1) p ON p.cls = c.cls
       |  LEFT JOIN (SELECT label AS cls, SUM(m) AS label_n FROM ${p}_conf
       |             GROUP BY 1) l ON l.cls = c.cls),
       |${p}_pt AS (
       |  SELECT event_type AS cls, CAST(SUM(pn) AS BIGINT) AS n_t,
       |         CAST(SUM(s * pn) AS BIGINT) AS pos_cents
       |  FROM ${p}_grain GROUP BY 1),
       |${p}_sq AS (
       |  SELECT p.cls, p.tp, p.fp, p.fn,
       |         CAST(g.n_all - p.tp - p.fp - p.fn AS BIGINT) AS tn,
       |         CAST(COALESCE(t.n_t, 0) AS BIGINT) AS n,
       |         g.sum_c2 - 2 * g.max_c * COALESCE(t.pos_cents, 0)
       |           + COALESCE(t.n_t, 0) * g.max_c * g.max_c AS sq_num,
       |         g.n_all, g.max_c, a.auc
       |  FROM ${p}_per p
       |  LEFT JOIN ${p}_auc a ON a.cls = p.cls
       |  LEFT JOIN ${p}_pt t ON t.cls = p.cls
       |  CROSS JOIN ${p}_g g),
       |$outName AS (
       |  SELECT cls, n, auc,
       |         CASE WHEN max_c <= 0 THEN NULL
       |              ELSE CAST(sq_num AS DOUBLE)
       |                / CAST(n_all * max_c * max_c AS DOUBLE)
       |           END AS brier,
       |         tp, fp, fn, tn,
       |         CASE WHEN tp + fp = 0 THEN NULL
       |              ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
       |           END AS precision,
       |         CASE WHEN tp + fn = 0 THEN NULL
       |              ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
       |           END AS recall,
       |         CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
       |              ELSE CAST(2 * tp AS DOUBLE)
       |                / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1,
       |         CASE WHEN sqrt(CAST(tp + fp AS DOUBLE))
       |                   * sqrt(CAST(tp + fn AS DOUBLE))
       |                   * sqrt(CAST(tn + fp AS DOUBLE))
       |                   * sqrt(CAST(tn + fn AS DOUBLE)) = 0.0 THEN NULL
       |              ELSE CAST(tp * tn - fp * fn AS DOUBLE)
       |                   / (sqrt(CAST(tp + fp AS DOUBLE))
       |                      * sqrt(CAST(tp + fn AS DOUBLE))
       |                      * sqrt(CAST(tn + fp AS DOUBLE))
       |                      * sqrt(CAST(tn + fn AS DOUBLE)))
       |           END AS mcc
       |  FROM ${p}_sq)""".stripMargin
  }

  /** q315 — INCREMENTAL maintenance of the q314 report: the
    * (type, cent-score) grain is a pure SUM table, so a delta batch
    * maintains the persisted artifact with one delta-only scan and a
    * pn-sum merge — the report NEVER rescans history (the q240/q243/
    * q245/q268/q297 discipline, applied to the eval tier). Stage a is
    * the report served from the persisted base grain; stage b is the
    * report after merging the delta's grain — the oracle computes both
    * from the raw split, so equality proves the merged artifact is
    * indistinguishable from a full rebuild. The merge is
    * order-independent exact integer addition; every downstream metric
    * then rides [[evalReportFromGrain]] unchanged.
    *
    * Scale: nightly evals over an append-only prediction log cost
    * O(|delta|) + O(|grain|) instead of O(|history|); the grain is
    * bounded by |types|·|distinct cents|, not by rows.
    */
  def incrementalEvalReport(events: DataFrame, tableDir: String,
      deltaMod: Long = 7L): DataFrame = {
    val spark = events.sparkSession
    val base = events.filter(col("event_id") % deltaMod =!= 1L)
    val delta = events.filter(col("event_id") % deltaMod === 1L)
    // BOOTSTRAP vs MAINTENANCE are split (the artifact lifecycle, not
    // just the merge): the base grain lands ONLY when absent — a
    // re-run against an existing artifact never rescans history — and
    // the delta-merged grain lands as the NEXT artifact version, so
    // the served stage-b report round-trips through the maintained
    // artifact rather than an in-memory frame
    val hd = spark.sparkContext.hadoopConfiguration
    val v1 = s"$tableDir/grain/v1"
    val v2 = s"$tableDir/grain/v2"
    val fs = new org.apache.hadoop.fs.Path(tableDir).getFileSystem(hd)
    if (!fs.exists(new org.apache.hadoop.fs.Path(v1)))
      typeScoreGrain(base).write.parquet(v1)
    val loaded = spark.read.parquet(v1)
    spark.read.parquet(v1).unionByName(typeScoreGrain(delta))
      .groupBy("event_type", "s").agg(sum("pn").as("pn"))
      .write.mode(SaveMode.Overwrite).parquet(v2)
    val a = evalReportFromGrain(loaded.localCheckpoint())
      .withColumn("stage", lit("a_base"))
    val b = evalReportFromGrain(spark.read.parquet(v2).localCheckpoint())
      .withColumn("stage", lit("b_merged"))
    a.unionByName(b)
      .select(col("stage"), col("cls"), col("n"), col("auc"), col("brier"),
        col("tp"), col("fp"), col("fn"), col("tn"), col("precision"),
        col("recall"), col("f1"), col("mcc"))
      .orderBy("stage", "cls")
  }

  /** DuckDB twin of [[incrementalEvalReport]]: the q314 chain run twice
    * — once over the base split, once over everything — stacked with
    * stage labels. Embed after `WITH ` and select from
    * `inc_eval_report`.
    */
  def incrementalEvalReportSql(deltaMod: Long = 7L): String =
    s"""${evalReportSql("iea", s"event_id % $deltaMod <> 1", "iea_report")},
       |${evalReportSql("ieb", "TRUE", "ieb_report")},
       |inc_eval_report AS (
       |  SELECT 'a_base' AS stage, * FROM iea_report
       |  UNION ALL
       |  SELECT 'b_merged', * FROM ieb_report)""".stripMargin
}
