package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Temporal join operators Spark has no built-in for: as-of join and
  * interval range join — both expressed so the plan shuffles on a bounded
  * key (user, time-bin), never a cross product.
  */
object TimeJoins {

  // --- q37: as-of join -----------------------------------------------------
  /** For every 'click' event, the same user's most recent prior (ts' ≤ ts)
    * 'purchase' event.
    *
    * Spark-first shape: NO join at all — union both sides tagged by kind,
    * one window over (user_id ORDER BY ts, kind) carries the last purchase
    * struct forward, clicks read it. A single hash shuffle on user_id,
    * linear in input — the classic scalable as-of plan (a time-range join
    * would be quadratic per user; a per-click subquery would be a shuffle
    * per probe). Purchases are pre-deduped to one per (user, ts) — max
    * event_id wins — so the carried value is deterministic under ties;
    * kind sorts purchases before clicks at equal ts, making the match
    * inclusive (ts' = ts counts), exactly DuckDB's `ASOF JOIN ... >=`.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val purch = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("p_event_id"))
    val clicks = ev.filter(col("event_type") === "click")
    val pType  = "struct<p_event_id:bigint,p_ts:timestamp>"
    val tagged = purch
      .select(
        col("user_id"),
        col("ts"),
        lit(0).as("kind"),
        lit(null).cast("bigint").as("event_id"),
        struct(col("p_event_id"), col("ts").as("p_ts")).as("p"))
      .unionByName(
        clicks.select(
          col("user_id"),
          col("ts"),
          lit(1).as("kind"),
          col("event_id"),
          lit(null).cast(pType).as("p")))
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("m", last(col("p"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("m").isNotNull)
      // SURVEY §4: timestamps leave query output as exact epoch micros
      .select(
        col("event_id"),
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("m.p_event_id").as("p_event_id"),
        unix_micros(col("m.p_ts")).as("p_ts_us"))
      .orderBy(col("event_id"))
  }

  /** DuckDB's native ASOF JOIN is the oracle — an independent
    * implementation of the same semantics (greatest p_ts ≤ ts per key).
    */
  val asofJoinSql: String =
    """WITH p AS (SELECT user_id, ts AS p_ts, max(event_id) AS p_event_id
      |           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
      |     c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, p.p_event_id,
      |       epoch_us(p.p_ts) AS p_ts_us
      |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.ts >= p.p_ts
      |ORDER BY c.event_id""".stripMargin

  // --- q38: interval range join --------------------------------------------
  val RangeWindowMinutes = 30
  val RangeWindowEvery   = 200L

  /** Pure range join (no equi key): per time window [ts, ts+30min) anchored
    * at every 200th event, aggregate ALL events inside the window.
    *
    * Spark-first shape: both sides get a coarse time-bin key (bin width =
    * window width, so a window spans at most 2 bins); windows explode to
    * their covered bins, the join is a plain equi join on bin, and the
    * exact containment predicate filters after. Each event lands in exactly
    * one bin, so no post-join dedup is needed. The join shuffles on bin
    * (or broadcasts the window side when AQE sees it is small — it is NOT
    * force-broadcast here, since the window count grows with the corpus).
    * This turns an O(n·m) theta join into an O(n + m) bucketed join — the
    * standard interval-bucketing shape that survives 100 TB.
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val binMicros = RangeWindowMinutes * 60L * 1000000L
    val ev        = Tables.events(spark, dir).select(col("event_id"), col("ts"))
    val win = ev
      .filter(col("event_id") % RangeWindowEvery === 0)
      .select(
        col("event_id").as("w_id"),
        col("ts").as("w_start"),
        expr(s"ts + INTERVAL $RangeWindowMinutes MINUTES").as("w_end"))
    val evB = ev.withColumn("bin", expr(s"unix_micros(ts) div $binMicros"))
    val winB = win.withColumn(
      "bin",
      explode(expr(s"sequence(unix_micros(w_start) div $binMicros, unix_micros(w_end) div $binMicros)")))
    evB
      .join(winB, Seq("bin"))
      .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy(col("w_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_eid"),
        max(col("event_id")).as("max_eid"))
      .orderBy(col("w_id"))
  }

  /** Oracle: the naive theta join (exact containment, no bucketing). */
  val rangeJoinSql: String =
    s"""WITH w AS (SELECT event_id AS w_id, ts AS w_start,
       |            ts + INTERVAL $RangeWindowMinutes MINUTE AS w_end
       |          FROM events WHERE event_id % $RangeWindowEvery = 0)
       |SELECT w.w_id, count(*) AS n_events, min(e.event_id) AS min_eid, max(e.event_id) AS max_eid
       |FROM w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
       |GROUP BY w.w_id ORDER BY w.w_id""".stripMargin

  // --- q101: retention cohort matrix ----------------------------------------

  /** Weekly retention cohorts over events: users grouped by their FIRST
    * active week, then per (cohort, week offset) the count still active
    * and the retention fraction — the standard product-analytics matrix.
    *
    * Scale shape: dedupe to distinct (user, week) FIRST (map-side partial
    * + one keyed shuffle — shrinks the fact table to at most
    * users × weeks), per-user min for the cohort, one user-keyed join
    * back, then a plain count per (cohort, offset) — each (user, week)
    * row is already unique, so `count(*)` IS the distinct-user count and
    * the plan never needs countDistinct's Expand (which would triple the
    * aggregate input at 100 TB). Offset-0 size joins back for the
    * retention denominator (|cohorts| rows, broadcast).
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    val act = uw
      .join(first, "user_id")
      .groupBy(
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        expr("datediff(wk, cohort) div 7").cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      // persisted: the offset-0 denominator leg would otherwise re-run the
      // corpus aggregates; the matrix itself is |cohorts|×|offsets| rows
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = act.filter(col("week_offset") === 0L)
      .select(col("cohort"), col("n_active").as("cohort_size"))
    act
      .join(broadcast(sizes), "cohort")
      .select(
        col("cohort"),
        col("week_offset"),
        col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6).as("retention"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  /** q101 oracle: identical dedupe-first shape; ISO Monday week truncation
    * agrees between engines, offsets are exact integer day diffs div 7.
    */
  val retentionCohortsSql: String =
    """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id),
      |a AS (
      |  SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
      |    (date_diff('day', f.cohort, uw.wk) // 7)::BIGINT AS week_offset,
      |    count(*)::BIGINT AS n_active
      |  FROM uw JOIN f USING (user_id)
      |  GROUP BY 1, 2),
      |c AS (SELECT cohort, n_active AS cohort_size FROM a WHERE week_offset = 0)
      |SELECT a.cohort, a.week_offset, a.n_active, c.cohort_size,
      |  round(a.n_active::DOUBLE / c.cohort_size, 6) AS retention
      |FROM a JOIN c USING (cohort)
      |ORDER BY a.cohort, a.week_offset""".stripMargin

  // --- q103: Markov transition matrix over event sequences -------------------

  /** First-order event-type transition matrix over per-user sequences:
    * P(next = b | current = a) with counts — the clickstream path-analysis
    * staple. One user-keyed `lead()` window (ordered by the unique
    * (ts, event_id)) + one (cur, nxt) aggregate; per-row work and a
    * ≤ |types|² result, so the corpus cost is exactly one keyed window
    * pass at any scale. Probabilities are one exact integer division,
    * denominators ride a window over the tiny matrix.
    */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val m = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    m.withColumn("p",
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("cur"))).cast("double"), 6))
      .orderBy(col("cur"), col("nxt"))
  }

  /** q103 oracle: same window — ns timestamps truncated to µs so ordering
    * ties break identically to the loader's DIV 1000 rebuild.
    */
  val markovTransitionsSql: String =
    """WITH s AS (
      |  SELECT event_type AS cur,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY date_trunc('microsecond', ts), event_id) AS nxt
      |  FROM events),
      |m AS (SELECT cur, nxt, count(*)::BIGINT AS n FROM s WHERE nxt IS NOT NULL GROUP BY cur, nxt)
      |SELECT cur, nxt, n,
      |  round(n::DOUBLE / sum(n) OVER (PARTITION BY cur), 6) AS p
      |FROM m
      |ORDER BY cur, nxt""".stripMargin

  // --- q94: time-series gap-fill / resample --------------------------------

  /** Per-user hourly resample with forward fill — the standard time-series
    * regularization pass (sensor/metric pipelines): one row per (user,
    * hour) over each user's own observed span, event count in the hour,
    * the hour's last value carried forward through empty hours, and a gap
    * flag.
    *
    * Spark-first shape: per-(user, hour) aggregate (ONE keyed shuffle of
    * the events scan, map-side partial agg), then one user-keyed `lead`
    * window over the BUCKET grain and a map-side `sequence()` explode:
    * each bucket owns the gap hours up to the next bucket, and its
    * last-in-hour value IS the forward fill over that span — so the grid
    * join and the `last(ignoreNulls)` carry window the textbook
    * formulation needs never exist (grid rows = Σ span-hours, never
    * events × hours; the corpus meets no join). Every operator keyed by
    * user_id, nothing unpartitioned, no state proportional to anything
    * but one user's bucket list.
    *
    * Determinism: "last value in hour" = max_by on the (ts, event_id)
    * struct — event_id is unique, so ties at equal µs cannot flip; the
    * oracle truncates its ns timestamps to µs first, matching
    * [[graft.core.Tables.events]]'s `DIV 1000` rebuild exactly. Hours
    * render as strings (the q11 rule — never raw timestamps across
    * engines).
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("hour", date_trunc("hour", col("ts")))

    // r14.2: "last value in the hour" = max_by over a PACKED DECIMAL
    // ordering key (ts_µs · 2⁶³ + event_id — lexicographic (ts, event_id)
    // exactly, since both are non-negative longs and (ts, event_id) is
    // unique so ties cannot exist). A struct max — the previous spelling —
    // has a struct aggregation buffer, which HashAggregateExec cannot
    // hold: the plan silently fell to SortAggregate, sorting EVERY corpus
    // partition by (user, hour) before the partial agg — the expensive
    // shape at a billion groups this comment used to claim it avoided.
    // max_by over (decimal, double) buffers IS hash-aggregable: plan now
    // shows HashAggregate with partial_max_by (pinned by PlanGuardSpec).
    // DECIMAL(17,0)·(19,0) + event_id = precision 37+1 = 38 exactly and is
    // exact across ±10¹⁷ µs (~years −1200…5138) — r15 widened from (16,0),
    // whose overflow-to-NULL outside ~1653–2286 would have made max_by/
    // min_by silently IGNORE out-of-range events where the old struct
    // min/max ranked them; same argmax row, same value out.
    val packedTs = expr(
      "CAST(unix_micros(ts) AS DECIMAL(17,0)) * CAST(9223372036854775808 AS DECIMAL(19,0)) + event_id")
    val hourly = ev
      .groupBy(col("user_id"), col("hour"))
      .agg(
        count(lit(1)).as("n_events"),
        max_by(col("value"), packedTs).as("last_in_hour"))

    // Gap fill WITHOUT a grid join or a second carry-forward window: each
    // bucket OWNS the gap hours up to the next bucket (lead), and its
    // last_in_hour IS the forward-filled value over that span — the
    // grid × left-join × last(ignoreNulls) formulation collapses into one
    // lead window plus a map-side sequence explode (two exchanges fewer,
    // and the corpus never meets a join).
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("hour"))
    hourly
      .withColumn("next_hour", lead(col("hour"), 1).over(byUser))
      .select(
        col("user_id"),
        col("n_events"),
        col("last_in_hour"),
        col("hour").as("bucket_hour"),
        explode(sequence(
          col("hour"),
          coalesce(col("next_hour") - expr("INTERVAL 1 HOUR"), col("hour")),
          expr("INTERVAL 1 HOUR"))).as("grid_hour"))
      .select(
        col("user_id"),
        date_format(col("grid_hour"), "yyyy-MM-dd HH").as("hour"),
        when(col("grid_hour") === col("bucket_hour"), col("n_events")).otherwise(lit(0L))
          .as("n_events"),
        col("last_in_hour").as("value_ff"),
        (col("grid_hour") =!= col("bucket_hour")).as("is_gap"))
      .orderBy(col("user_id"), col("hour"))
  }

  /** Oracle: identical grid + fill — µs-truncated row_number picks the
    * hour's last value, `generate_series` builds each user's span,
    * `last_value IGNORE NULLS` carries it forward.
    */
  val gapFillSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, ts, value, date_trunc('hour', ts) AS hour FROM events),
      |hr AS (
      |  SELECT user_id, hour, value,
      |    row_number() OVER (PARTITION BY user_id, hour
      |      ORDER BY date_trunc('microsecond', ts) DESC, event_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id, hour) AS n_events
      |  FROM e),
      |hourly AS (
      |  SELECT user_id, hour, value AS last_in_hour, n_events::BIGINT AS n_events
      |  FROM hr WHERE rn = 1),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |  FROM (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM e GROUP BY user_id)),
      |j AS (
      |  SELECT g.user_id, g.hour, coalesce(h.n_events, 0) AS n_events, h.last_in_hour
      |  FROM grid g LEFT JOIN hourly h ON h.user_id = g.user_id AND h.hour = g.hour)
      |SELECT user_id, strftime(hour, '%Y-%m-%d %H') AS hour, n_events,
      |  last_value(last_in_hour IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff,
      |  (last_in_hour IS NULL) AS is_gap
      |FROM j
      |ORDER BY user_id, hour""".stripMargin

  // --- q107: OHLC time-series downsample ------------------------------------

  /** Per-(event_type, hour) OHLC downsample — the metric-rollup staple
    * (monitoring dashboards, feature aggregation for time-windowed
    * training examples): open = the hour's earliest value, close = the
    * latest, high/low extremes, event count, and the hour's total as
    * `volume`.
    *
    * Spark-first shape: ONE keyed aggregate of the events scan — open and
    * close ride `min_by`/`max_by` over q94's PACKED DECIMAL ordering key
    * (ts_µs · 2⁶³ + event_id — lexicographic (ts, event_id) exactly, and
    * unique so ties cannot exist). r14.2: the previous struct min/max
    * spelling carried a struct aggregation buffer, which HashAggregateExec
    * cannot hold — the plan silently fell to SortAggregate, sorting every
    * corpus partition by (type, hour) before the partial agg; min_by/
    * max_by over (decimal, double) buffers hash-aggregate (pinned by
    * PlanGuardSpec). Volume sums exact DECIMAL(18,2) —
    * decimal addition is associative-exact, so the result is independent
    * of partial-aggregation order on any cluster layout (a double sum
    * would not be), then renders as DOUBLE (2-dp decimals are IEEE-exact).
    */
  def ohlcResample(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        date_trunc("hour", col("ts")).as("hour"),
        col("ts"), col("event_id"), col("value"))
      .groupBy(col("event_type"), col("hour"))
      .agg(
        min_by(col("value"), expr(
          "CAST(unix_micros(ts) AS DECIMAL(17,0)) * CAST(9223372036854775808 AS DECIMAL(19,0)) + event_id"))
          .as("o"),
        max_by(col("value"), expr(
          "CAST(unix_micros(ts) AS DECIMAL(17,0)) * CAST(9223372036854775808 AS DECIMAL(19,0)) + event_id"))
          .as("c"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("vol"))
      .select(
        col("event_type"),
        date_format(col("hour"), "yyyy-MM-dd HH").as("hour"),
        col("o").as("open"),
        col("high"),
        col("low"),
        col("c").as("close"),
        col("n_events"),
        col("vol").cast("double").as("volume"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** q107 oracle: first/last via µs-truncated row_number windows (the q94
    * tie rule), extremes and counts directly, volume as the same
    * DECIMAL(18,2) sum rendered DOUBLE.
    */
  val ohlcResampleSql: String =
    """WITH q107e AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour,
      |    date_trunc('microsecond', ts) AS uts, event_id, value
      |  FROM events),
      |q107r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, hour ORDER BY uts, event_id) AS ra,
      |    row_number() OVER (PARTITION BY event_type, hour ORDER BY uts DESC, event_id DESC) AS rd
      |  FROM q107e)
      |SELECT event_type, strftime(hour, '%Y-%m-%d %H') AS hour,
      |  max(CASE WHEN ra = 1 THEN value END) AS open,
      |  max(value) AS high, min(value) AS low,
      |  max(CASE WHEN rd = 1 THEN value END) AS close,
      |  count(*)::BIGINT AS n_events,
      |  (sum(CAST(value AS DECIMAL(18,2))))::DOUBLE AS volume
      |FROM q107r GROUP BY event_type, hour
      |ORDER BY event_type, hour""".stripMargin

  // --- q110: session path mining ---------------------------------------------

  val PathLen  = 3
  val TopPaths = 20

  /** Top session paths: the most common first-[[PathLen]] event-type
    * sequences across 30-minute-gap sessions — path mining, the
    * clickstream companion to q103's transition matrix (q103 says which
    * single hops are likely; this says which multi-step journeys actually
    * happen). Sessionization is q10's exact rule (gap > 30 min on the
    * µs-unique (ts, event_id) order) so the two operators report on the
    * same sessions.
    *
    * Scale shape: two user-keyed windows (lag-gap sessionize + per-session
    * row_number — both partition by user, nothing unpartitioned), the
    * prefix filter drops everything past position [[PathLen]] BEFORE the
    * path aggregate, the path string builds from a sorted in-group struct
    * array (deterministic — never collect_list order), and the final
    * top-[[TopPaths]] is TakeOrdered, not a global sort.
    */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum    = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bySess = Window
      .partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn(
        "new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(cum))
      .withColumn("rn", row_number().over(bySess))
      .filter(col("rn") <= PathLen)
      .groupBy(col("user_id"), col("session_id"))
      .agg(collect_list(struct(col("rn"), col("event_type"))).as("steps"))
      .select(
        expr("array_join(transform(array_sort(steps), x -> x.event_type), '>')").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(TopPaths)
  }

  /** q110 oracle: q10's exact sessionize SQL + `string_agg(… ORDER BY rn)`
    * prefix paths; the top-20 tie at the boundary breaks on the unique
    * path string in both engines.
    */
  val sessionPathsSql: String =
    s"""WITH q110e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
       |  FROM events),
       |q110s AS (
       |  SELECT *, CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |  FROM q110e),
       |q110r AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, session_id
       |    ORDER BY us, event_id) AS rn
       |  FROM q110s),
       |q110p AS (
       |  SELECT user_id, session_id, string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM q110r WHERE rn <= $PathLen GROUP BY user_id, session_id)
       |SELECT path, count(*)::BIGINT AS n_sessions FROM q110p GROUP BY path
       |ORDER BY n_sessions DESC, path LIMIT $TopPaths""".stripMargin

  // --- q112: rolling 7-day distinct active users -----------------------------

  val ActiveWindowDays = 7

  /** Daily + rolling-7-day distinct active users (DAU/WAU) — the product
    * metric every event pipeline reports, and the one naive SQL gets
    * catastrophically wrong at scale: `count(DISTINCT user) OVER (RANGE 6
    * days)` re-deduplicates the raw event stream once per output day.
    *
    * Spark-first shape: dedupe ONCE to the (user, day) grain (one keyed
    * shuffle of the corpus — day grain ≪ events), then each active day
    * SCATTERS to the ≤[[ActiveWindowDays]] report days it can serve
    * (map-side `sequence()` explode of the tiny grain table), dedupe
    * (user, report_day), and count. Every stage after the first shuffle
    * works on |users|×|days| rows, never on raw events; the window
    * "contains" relation becomes an equi-key, so no range join and no
    * per-day re-scan. Report days are clamped to observed days
    * (broadcast semi join on the ≤|days| day list).
    */
  def rollingActives(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dau = daily.groupBy(col("day")).agg(count(lit(1)).as("n_active"))
    val wau = daily
      .select(
        col("user_id"),
        explode(expr(s"sequence(day, date_add(day, ${ActiveWindowDays - 1}))")).as("day"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active_7d"))
    dau
      .join(wau, Seq("day")) // inner: every observed day has both legs
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_active"),
        col("n_active_7d"))
      .orderBy(col("day"))
  }

  /** q112 oracle: the textbook range-join spelling — observed days × the
    * deduped day grain with `BETWEEN d-6 AND d` — quadratic in days but
    * independent of the scatter plan; agreement proves the equi-key
    * rewrite computes the same windowed distinct counts.
    */
  val rollingActivesSql: String =
    s"""WITH q112d AS MATERIALIZED (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
       |q112dau AS (SELECT day, count(*)::BIGINT AS n_active FROM q112d GROUP BY day)
       |SELECT strftime(dd.day, '%Y-%m-%d') AS day, dd.n_active,
       |  (SELECT count(DISTINCT da.user_id) FROM q112d da
       |   WHERE da.day BETWEEN dd.day - ${ActiveWindowDays - 1} AND dd.day)::BIGINT AS n_active_7d
       |FROM q112dau dd
       |ORDER BY day""".stripMargin

  // --- q113: EWMA trend smoothing over hourly volume -------------------------

  val EwmaK = 8

  /** Exponentially-weighted moving average of hourly event volume per
    * type, with the per-bucket deviation — trend smoothing + drift
    * flagging for pipeline telemetry (ingest-volume anomaly pages run on
    * exactly this). The kernel is FINITE: weights ½^k over the last
    * [[EwmaK]] observed buckets, renormalized over the lags that exist —
    * the infinite-history recurrence is not expressible as a distributed
    * one-pass without sequential state, and a ½⁸-tailed kernel is within
    * 0.4 % of it while staying a pure window projection.
    *
    * Scale shape: ONE keyed aggregate to the (type, hour) grain (volume
    * sums exact DECIMAL — q107's associativity rule), then [[EwmaK]]−1
    * `lag`s over ONE type-keyed window pass; everything downstream of the
    * first shuffle works on the bucket grain. Determinism: 2-dp decimal
    * volumes are IEEE-exact doubles, weights are powers of two, and the
    * weighted sum folds in one fixed textual order in both engines.
    */
  private[graft] def ewmaBuckets(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables
      .events(spark, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"), col("value"))
      .groupBy(col("event_type"), col("hour"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("vol"))
      .select(col("event_type"), col("hour"), col("vol").cast("double").as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val lagged = (1 until EwmaK).foldLeft(hourly)((df, k) => df.withColumn(s"x$k", lag(col("x"), k).over(w)))
    val terms = (0 until EwmaK).map { k =>
      val xk = if (k == 0) col("x") else col(s"x$k")
      val wk = lit(math.pow(0.5, k)) // exact powers of two
      (when(xk.isNotNull, xk * wk).otherwise(lit(0.0)), when(xk.isNotNull, wk).otherwise(lit(0.0)))
    }
    val num  = terms.map(_._1).reduce(_ + _)
    val den  = terms.map(_._2).reduce(_ + _)
    val ewma = num / den
    lagged
      .select(
        col("event_type"),
        date_format(col("hour"), "yyyy-MM-dd HH").as("hour"),
        col("x").as("volume"),
        round(ewma, 6).as("ewma"),
        round(col("x") - ewma, 6).as("dev"))
  }

  /** q113 presentation shape: [[ewmaBuckets]] plus the output ordering.
    * Internal consumers (q120) persist the UNSORTED buckets — caching this
    * sorted form would materialize a global sort Catalyst otherwise
    * eliminates under downstream aggregates/joins.
    */
  def ewmaTrend(spark: SparkSession, dir: String): DataFrame =
    ewmaBuckets(spark, dir).orderBy(col("event_type"), col("hour"))

  /** q113 oracle: identical lag spelling — the weighted sum is written in
    * the same left-fold order (k = 0…7) so the IEEE additions match
    * bitwise before the 6-dp round.
    */
  // --- q120: volume anomaly flags (EWMA deviation × MAD screen) --------------

  /** Hourly volume anomaly detection — the alerting op q113 + q102 exist
    * to feed: per event type, the EWMA deviation of every hour is screened
    * against the robust `3 · 1.4826 · MAD` threshold of that type's OWN
    * deviation distribution (median/MAD, not mean/stddev — the anomalies
    * being hunted would poison the gaussian screen). `is_anomaly` marks
    * the hours an ingest-volume pager would fire on: sudden surges,
    * stalls, and scraper bursts against a type's normal rhythm.
    *
    * Scale shape: everything downstream of q113's one keyed aggregate
    * operates on the (type, hour) BUCKET table (≤ |types|×|hours| rows):
    * the deviation medians run q43's cumulative-window interpolation over
    * the (type, dev) histogram of that tiny table — corpus cost is q113's
    * single shuffle, full stop. Determinism: devs are q113's 6-dp rounded
    * outputs; both medians are the q102-proven type-7 interpolation
    * (≡ DuckDB `quantile_cont` bitwise); the threshold arithmetic is one
    * fixed shape.
    */
  def volumeAnomalies(spark: SparkSession, dir: String): DataFrame = {
    // the EWMA bucket table feeds THREE consumers (the dev histogram, and
    // the final join twice-removed) — persist it or the whole q113 chain
    // (scan + keyed agg + 7-lag window) re-executes per consumer; the
    // histogram likewise feeds both medians
    val t = graft.core.CacheScope.persist(ewmaBuckets(spark, dir))
    val hist = t
      .groupBy(col("event_type").as("g"), col("dev").as("v"))
      .agg(count(lit(1)).as("c"))
    val med = TrainingOps.histMedian(hist).select(col("g"), col("med"))
    val devHist = hist
      .join(med, "g")
      .groupBy(col("g"), abs(col("v") - col("med")).as("v"))
      .agg(sum(col("c")).as("c"))
    val mad = TrainingOps.histMedian(devHist).select(col("g"), col("med").as("mad"))
    t.join(med.withColumnRenamed("g", "event_type"), "event_type")
      .join(mad.withColumnRenamed("g", "event_type"), "event_type")
      .select(
        col("event_type"),
        col("hour"),
        col("volume"),
        col("ewma"),
        col("dev"),
        round(col("med"), 6).as("med_dev"),
        round(col("mad"), 6).as("mad"),
        (abs(col("dev") - col("med")) > lit(3.0) * lit(1.4826) * col("mad")).as("is_anomaly"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** The q120 screen as a pure function — shared verbatim by the E27
    * streaming anomaly gate so stream and batch flag with IDENTICAL
    * arithmetic (the E18 `cdfPct` pattern).
    */
  def anomalyFlag(dev: Double, medDev: Double, mad: Double): Boolean =
    math.abs(dev - medDev) > 3.0 * 1.4826 * mad

  /** Snapshot calibration for the E27 gate: per type (med_dev, mad) from
    * the batch screen — ≤|types| rows collected (the model-gate rule).
    */
  def anomalyBars(spark: SparkSession, dir: String): Map[String, (Double, Double)] =
    volumeAnomalies(spark, dir)
      .select(col("event_type"), col("med_dev"), col("mad"))
      .distinct()
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap

  /** q120 oracle: q113's chain verbatim as the bucket table, row-level
    * `quantile_cont` medians (q102-proven type-7 equivalence), identical
    * threshold arithmetic.
    */
  lazy val volumeAnomaliesSql: String =
    s"""WITH q120t AS MATERIALIZED (SELECT * FROM ($ewmaTrendSql)),
       |q120m AS (SELECT event_type, quantile_cont(dev, 0.5) AS med
       |  FROM q120t GROUP BY event_type),
       |q120d AS (SELECT t.event_type, quantile_cont(abs(t.dev - m.med), 0.5) AS mad
       |  FROM q120t t JOIN q120m m USING (event_type) GROUP BY t.event_type)
       |SELECT t.event_type, t.hour, t.volume, t.ewma, t.dev,
       |  round(m.med, 6) AS med_dev, round(d.mad, 6) AS mad,
       |  (abs(t.dev - m.med) > 3.0 * 1.4826 * d.mad) AS is_anomaly
       |FROM q120t t JOIN q120m m USING (event_type) JOIN q120d d USING (event_type)
       |ORDER BY t.event_type, t.hour""".stripMargin

  // --- q121: association rules over session baskets -------------------------

  /** Market-basket association rules over q10's sessions: each 30-minute-gap
    * session is a basket of the DISTINCT event types it contains, and every
    * type pair (a < b) reports support `n_ab/N`, confidence `n_ab/n_a`, and
    * lift `n_ab·N/(n_a·n_b)` — the classic co-occurrence screen ("do errors
    * travel with purchases?") that turns raw clickstream into correlated-
    * behavior evidence. Reference scope: jshrake/healthkit-to-sqlite stores
    * each sample row independently (src/main.rs:131-210); pairwise behavior
    * analysis is exactly the kind of query its SQLite users hand-write.
    *
    * Scale shape: sessionization is ONE user-keyed window shuffle (q10's
    * exact rule, so baskets ≡ q10/q110 sessions); the distinct collapses to
    * the (basket, type) grain before any join; the self-join is equi-keyed
    * on the basket id and expands at most |types|² per basket (|types| is a
    * bounded vocabulary, 5 here); both marginal tables and the 1-row basket
    * count are broadcast back. Nothing after the first shuffle touches raw
    * events. Determinism: all counts are exact longs; each ratio is one
    * fixed multiply/divide shape rounded to 6 dp.
    */
  def cooccurrenceLift(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum    = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val items = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn(
        "new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(cum))
      .select(col("user_id"), col("session_id"), col("event_type"))
      .distinct()
    val itemsP = graft.core.CacheScope.persist(items)
    val nBaskets = itemsP.select(col("user_id"), col("session_id")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val typeCounts = itemsP.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val pairs = itemsP
      .select(col("user_id"), col("session_id"), col("event_type").as("type_a"))
      .join(
        itemsP.select(col("user_id"), col("session_id"), col("event_type").as("type_b")),
        Seq("user_id", "session_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(
        broadcast(typeCounts.select(col("event_type").as("type_a"), col("n_t").as("n_a"))),
        "type_a")
      .join(
        broadcast(typeCounts.select(col("event_type").as("type_b"), col("n_t").as("n_b"))),
        "type_b")
      .crossJoin(broadcast(nBaskets))
      .select(
        col("type_a"),
        col("type_b"),
        col("n_ab"),
        round(col("n_ab").cast("double") / col("n_baskets").cast("double"), 6).as("support"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6).as("confidence"),
        round(
          (col("n_ab").cast("double") * col("n_baskets").cast("double")) /
            (col("n_a").cast("double") * col("n_b").cast("double")),
          6).as("lift"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q121 oracle: q10's exact sessionize SQL, the same distinct basket
    * grain, and the identical two-multiply-one-divide lift shape.
    */
  val cooccurrenceLiftSql: String =
    """WITH q121e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |q121s AS (
      |  SELECT *, CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
      |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM q121e),
      |q121i AS MATERIALIZED (SELECT DISTINCT user_id, session_id, event_type FROM q121s),
      |q121n AS (SELECT count(*)::BIGINT AS n_baskets
      |  FROM (SELECT DISTINCT user_id, session_id FROM q121i)),
      |q121t AS (SELECT event_type, count(*)::BIGINT AS n_t FROM q121i GROUP BY event_type),
      |q121p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*)::BIGINT AS n_ab
      |  FROM q121i a JOIN q121i b USING (user_id, session_id)
      |  WHERE a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_ab,
      |  round(n_ab::DOUBLE / n.n_baskets::DOUBLE, 6) AS support,
      |  round(n_ab::DOUBLE / ta.n_t::DOUBLE, 6) AS confidence,
      |  round((n_ab::DOUBLE * n.n_baskets::DOUBLE) / (ta.n_t::DOUBLE * tb.n_t::DOUBLE), 6) AS lift
      |FROM q121p p, q121n n
      |JOIN q121t ta ON p.type_a = ta.event_type
      |JOIN q121t tb ON p.type_b = tb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  // --- q123: seasonal (day-of-week × hour) profile ---------------------------

  /** Seasonal traffic/value profile: per (event_type, day-of-week,
    * hour-of-day) cell — event count, the type's traffic share landing in
    * that cell, the cell's mean value, and its deviation from the type's
    * overall mean. This is the seasonal-baseline table q120's anomaly
    * screen implicitly assumes away (EWMA deviations conflate "Monday 9am
    * is always big" with "this hour is anomalous"); dividing dev by the
    * cell profile is how a production screen deseasonalizes.
    *
    * Scale shape: ONE map-side-combinable aggregate collapses the corpus
    * to ≤ |types|·7·24 cells; everything downstream (per-type totals,
    * the profile join) operates on that bounded table, totals broadcast
    * back. Determinism: counts are longs, value sums ride DECIMAL(18,2)
    * (exact, order-free — the q107 discipline), each ratio is one fixed
    * divide/subtract shape rounded to 6 dp. Spark's `dayofweek` is
    * 1=Sunday; minus 1 aligns it with DuckDB's 0=Sunday.
    */
  def seasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the per-type totals derive from the SAME ≤|types|·7·24
    // cell table — without it the totals branch re-scans the corpus
    val cells = graft.core.CacheScope.persist(
      Tables
        .events(spark, dir)
        .select(
          col("event_type"),
          (dayofweek(col("ts")) - lit(1)).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hod"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("event_type"), col("dow"), col("hod"))
        .agg(count(lit(1)).as("n_events"), sum(col("v")).as("sv")))
    val types = cells
      .groupBy(col("event_type"))
      .agg(sum(col("n_events")).as("n_t"), sum(col("sv")).as("sv_t"))
    cells
      .join(broadcast(types), "event_type")
      .select(
        col("event_type"),
        col("dow"),
        col("hod"),
        col("n_events"),
        round(col("n_events").cast("double") / col("n_t").cast("double"), 6).as("share"),
        round(col("sv").cast("double") / col("n_events").cast("double"), 6).as("avg_value"),
        round(
          col("sv").cast("double") / col("n_events").cast("double") -
            col("sv_t").cast("double") / col("n_t").cast("double"),
          6).as("dev_value"))
      .orderBy(col("event_type"), col("dow"), col("hod"))
  }

  /** q123 oracle: identical cell grain, DECIMAL value sums, and divide/
    * subtract shapes; DuckDB `dayofweek` is already 0=Sunday.
    */
  val seasonalProfileSql: String =
    """WITH q123c AS MATERIALIZED (
      |  SELECT event_type, dayofweek(ts)::BIGINT AS dow, hour(ts)::BIGINT AS hod,
      |    count(*)::BIGINT AS n_events, sum(CAST(value AS DECIMAL(18,2))) AS sv
      |  FROM events GROUP BY 1, 2, 3),
      |q123t AS (
      |  SELECT event_type, sum(n_events)::BIGINT AS n_t, sum(sv) AS sv_t
      |  FROM q123c GROUP BY event_type)
      |SELECT c.event_type, c.dow, c.hod, c.n_events,
      |  round(c.n_events::DOUBLE / t.n_t::DOUBLE, 6) AS share,
      |  round(c.sv::DOUBLE / c.n_events::DOUBLE, 6) AS avg_value,
      |  round(c.sv::DOUBLE / c.n_events::DOUBLE - t.sv_t::DOUBLE / t.n_t::DOUBLE, 6) AS dev_value
      |FROM q123c c JOIN q123t t USING (event_type)
      |ORDER BY c.event_type, c.dow, c.hod""".stripMargin

  // --- q125: RFM user segmentation -------------------------------------------

  val RfmCuts = Seq(0.2, 0.4, 0.6, 0.8)

  /** RFM segmentation: every user scored 1–5 on Recency (days since last
    * event), Frequency (event count) and Monetary (value sum) against the
    * population's quintile cut-points, plus the composite `rfm` segment
    * code — the standard behavioral-cohort table (511 = recent/frequent/
    * high-value champions, 111 = churned) that marketing and retention
    * pipelines key on.
    *
    * Scale shape: the corpus collapses to the user grain in ONE keyed
    * aggregate; cut-points are ORDER STATISTICS (the ⌈p·N⌉-th smallest
    * value, via cumulative counts over the per-metric value histogram —
    * q43's machinery, but rank-based so the thresholds are exact values
    * from the data, no float interpolation to disagree on); the 12
    * thresholds pivot to one broadcast row and every user scores map-side.
    * The monetary histogram's cardinality is data-dependent (~|users|
    * distinct DECIMAL sums), so the cut ranks are located by BIN
    * REFINEMENT (the q43 r14.2 shape): a ≤4096-bin equi-width count
    * histogram per metric finds each cut's covering bin, and only
    * boundary-bin values get exact ranks — no corpus-grain range shuffle,
    * no checkpoint. The per-metric single-task window runs over the
    * ≤4096-row bin table; the exact-rank window holds one covering bin's
    * distinct values, which stays small while values spread across bins
    * (an outlier that funnels most users into one bin is not guarded
    * against). Tile rule: score = 1 + #cuts passed (strictly
    * below for recency where smaller is better, strictly above for
    * frequency/monetary), so ties share the lower tile deterministically.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val u = graft.core.CacheScope.persist(
      Tables
        .events(spark, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("user_id"))
        .agg(max(col("us")).as("last_us"), count(lit(1)).as("n_events"), sum(col("v")).as("mon")))
    val t = graft.core.CacheScope.persist(
      u.crossJoin(broadcast(u.agg(max(col("last_us")).as("max_us"))))
        .select(
          col("user_id"),
          expr("(max_us - last_us) DIV 86400000000").as("recency_days"),
          col("n_events"),
          col("mon").cast("double").as("mon_d")))
    // ONE melt pass builds all three metric histograms (no per-metric
    // re-scan of the user grain)
    val hist = graft.core.CacheScope.persist(
      t.select(explode(expr(
        """array(
          |  struct('r' AS g, CAST(recency_days AS DOUBLE) AS v),
          |  struct('f' AS g, CAST(n_events AS DOUBLE) AS v),
          |  struct('m' AS g, mon_d AS v))""".stripMargin)).as("x"))
        .select(col("x.g").as("g"), col("x.v").as("v"))
        .groupBy(col("g"), col("v"))
        .agg(count(lit(1)).as("c")))
    // r14.2: the 4 cuts per metric are ORDER STATISTICS — located by bin
    // refinement (the q43 shape) instead of a full groupedPrefixSum over
    // the near-user-grain monetary histogram (which range-shuffled AND
    // checkpointed it to read 12 boundary ranks). Equi-width bins with a
    // data-derived width (the E18 cdf binning ops: subtract, divide,
    // floor, clamp) — only determinism (equal v → equal bin) and
    // monotonicity (bin order respects v order) matter, and both hold for
    // IEEE subtract/divide/floor with a fixed per-metric (mn, w).
    val RfmBins = 4096
    val stats = hist.groupBy(col("g")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val binOf =
      when(col("mx") === col("mn"), lit(0L))
        .otherwise(least(
          lit(RfmBins - 1L),
          floor((col("v") - col("mn")) / ((col("mx") - col("mn")) / lit(RfmBins.toDouble)))
            .cast("long")))
    val binned = hist.join(broadcast(stats), "g").withColumn("bin", binOf)
    val byG  = Window.partitionBy(col("g"))
    val binCum = binned
      .groupBy(col("g"), col("bin"))
      .agg(sum(col("c")).as("bc"))
      .withColumn("cumb", sum(col("bc")).over(byG.orderBy(col("bin"))))
      .withColumn("n", sum(col("bc")).over(byG))
    // a bin covers cut p iff it contains rank ⌈p·n⌉ — ≤ |RfmCuts| bins
    // per metric survive, broadcastable by construction
    val coversAny = RfmCuts
      .map(p => (col("cumb") - col("bc") < ceil(lit(p) * col("n").cast("double"))) &&
        (ceil(lit(p) * col("n").cast("double")) <= col("cumb")))
      .reduce(_ || _)
    val bBins = binCum
      .filter(coversAny)
      .select(col("g"), col("bin"), (col("cumb") - col("bc")).as("cum0"), col("n"))
    // exact ranks for boundary-bin values only: within-bin running count
    // offset by the bin's cum-before; the covering value of every cut is
    // in a boundary bin, so min(v | cum ≥ ⌈p·n⌉) is unchanged
    val ranked = binned
      .join(broadcast(bBins), Seq("g", "bin"))
      .withColumn("cum",
        col("cum0") + sum(col("c")).over(Window.partitionBy(col("g"), col("bin")).orderBy(col("v"))))
    val cuts = ranked
      .withColumn("p", explode(expr(RfmCuts.map(p => s"${p}D").mkString("array(", ", ", ")"))))
      .filter(col("cum") >= ceil(col("p") * col("n").cast("double")))
      .groupBy(col("g"), col("p"))
      .agg(min(col("v")).as("q"))
    val aggs = for {
      g <- Seq("r", "f", "m"); (p, i) <- RfmCuts.zipWithIndex
    } yield max(when(col("g") === g && col("p") === lit(p), col("q"))).as(s"$g${i + 1}")
    val wide = cuts.groupBy().agg(aggs.head, aggs.tail: _*)
    def tile(v: org.apache.spark.sql.Column, pfx: String, lowerIsBetter: Boolean) =
      (1 to RfmCuts.length)
        .map { i =>
          val cut = col(s"$pfx$i")
          when(if (lowerIsBetter) v < cut else v > cut, 1L).otherwise(0L)
        }
        .foldLeft(lit(1L): org.apache.spark.sql.Column)(_ + _)
    t.crossJoin(broadcast(wide))
      .select(
        col("user_id"),
        col("recency_days"),
        col("n_events"),
        round(col("mon_d"), 6).as("monetary"),
        tile(col("recency_days").cast("double"), "r", lowerIsBetter = true).as("r_tile"),
        tile(col("n_events").cast("double"), "f", lowerIsBetter = false).as("f_tile"),
        tile(col("mon_d"), "m", lowerIsBetter = false).as("m_tile"))
      .withColumn("segment", col("r_tile") * lit(100L) + col("f_tile") * lit(10L) + col("m_tile"))
      .orderBy(col("user_id"))
  }

  /** q125 oracle: the same user-grain metrics, the same ⌈p·N⌉ cumulative-
    * count order statistics (identical `ceil(p * n::DOUBLE)` arithmetic),
    * and the same strict-comparison tile rule.
    */
  lazy val rfmSegmentsSql: String = {
    val cutsList = RfmCuts.mkString("[", ", ", "]")
    val wideCols = (for {
      g <- Seq("r", "f", "m"); (p, i) <- RfmCuts.zipWithIndex
    } yield s"max(CASE WHEN g = '$g' AND p = $p THEN q END) AS $g${i + 1}").mkString(",\n    ")
    def tileSql(v: String, pfx: String, op: String) =
      "(1 " + (1 to RfmCuts.length).map(i => s"+ (CASE WHEN $v $op w.$pfx$i THEN 1 ELSE 0 END)").mkString(" ") + ")::BIGINT"
    s"""WITH q125u AS MATERIALIZED (
       |  SELECT user_id, max(epoch_us(ts)) AS last_us, count(*)::BIGINT AS n_events,
       |    sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS mon_d
       |  FROM events GROUP BY user_id),
       |q125t AS MATERIALIZED (
       |  SELECT user_id, ((mx.max_us - u.last_us) // 86400000000)::BIGINT AS recency_days,
       |    n_events, mon_d
       |  FROM q125u u, (SELECT max(last_us) AS max_us FROM q125u) mx),
       |q125h AS (SELECT g, v, count(*)::BIGINT AS c FROM (
       |    SELECT 'r' AS g, recency_days::DOUBLE AS v FROM q125t
       |    UNION ALL SELECT 'f', n_events::DOUBLE FROM q125t
       |    UNION ALL SELECT 'm', mon_d FROM q125t) GROUP BY g, v),
       |q125r AS (SELECT g, v,
       |    sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
       |    sum(c) OVER (PARTITION BY g) AS n FROM q125h),
       |q125c AS (
       |  SELECT g, p, min(v) AS q
       |  FROM q125r, (SELECT unnest($cutsList) AS p)
       |  WHERE cum >= ceil(p * n::DOUBLE) GROUP BY g, p),
       |q125w AS (SELECT
       |    $wideCols
       |  FROM q125c),
       |q125s AS (
       |  SELECT t.user_id, t.recency_days, t.n_events, round(t.mon_d, 6) AS monetary,
       |    ${tileSql("t.recency_days::DOUBLE", "r", "<")} AS r_tile,
       |    ${tileSql("t.n_events::DOUBLE", "f", ">")} AS f_tile,
       |    ${tileSql("t.mon_d", "m", ">")} AS m_tile
       |  FROM q125t t, q125w w)
       |SELECT user_id, recency_days, n_events, monetary, r_tile, f_tile, m_tile,
       |  (r_tile * 100 + f_tile * 10 + m_tile)::BIGINT AS segment
       |FROM q125s ORDER BY user_id""".stripMargin
  }

  // --- q131: traffic burstiness (Fano factor) --------------------------------

  /** Per-type traffic burstiness over the corpus span: the Fano factor
    * (index of dispersion, `var/mean` of hourly counts) plus the
    * peak-to-mean ratio — the one-number answer to "is this event type
    * Poisson-ish background or bursty?" that decides batch sizing,
    * rate-limit budgets, and whether q120's EWMA screen needs a seasonal
    * correction (bursty types false-positive under IID assumptions).
    * Empty hours COUNT: the mean and variance are taken over the full
    * corpus hour span, not just active buckets — computed WITHOUT
    * zero-filling, since zero buckets contribute nothing to Σn and Σn²
    * and the span enters only as the divisor.
    *
    * Scale shape: ONE keyed map-side-combinable aggregate to the
    * (type, hour) grain (q113's bucket table, persisted); the span is a
    * 1-row min/max broadcast; per-type moments are integer sums (squares
    * as DECIMAL — exact at any count) over that bounded grain. All ratios
    * fixed divide shapes rounded to 6 dp.
    */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val hourly = graft.core.CacheScope.persist(
      Tables
        .events(spark, dir)
        .groupBy(col("event_type"),
          expr("unix_micros(ts) DIV 3600000000").as("hr"))
        .agg(count(lit(1)).as("n")))
    val span = hourly.agg(
      ((max(col("hr")) - min(col("hr"))) + lit(1L)).as("span_hours"))
    hourly
      .groupBy(col("event_type"))
      .agg(
        sum(col("n")).as("n_events"),
        count(lit(1)).as("n_hours_active"),
        sum(col("n").cast("decimal(38,0)") * col("n").cast("decimal(38,0)")).as("sn2"),
        max(col("n")).as("peak"))
      .crossJoin(broadcast(span))
      .withColumn("mean_h", col("n_events").cast("double") / col("span_hours").cast("double"))
      .withColumn(
        "var_h",
        col("sn2").cast("double") / col("span_hours").cast("double") -
          col("mean_h") * col("mean_h"))
      .select(
        col("event_type"),
        col("n_events"),
        col("n_hours_active"),
        col("span_hours"),
        round(col("mean_h"), 6).as("mean_per_hour"),
        round(col("var_h") / col("mean_h"), 6).as("fano"),
        round(col("peak").cast("double") / col("mean_h"), 6).as("peak_ratio"))
      .orderBy(col("event_type"))
  }

  /** q131 oracle: identical hour bucketing (`epoch_us // 3600e6`), integer
    * moments with HUGEINT squares, and the same divide shapes.
    */
  val burstinessSql: String =
    """WITH q131h AS MATERIALIZED (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |q131s AS (SELECT (max(hr) - min(hr) + 1)::BIGINT AS span_hours FROM q131h),
      |q131t AS (
      |  SELECT event_type, sum(n)::BIGINT AS n_events, count(*)::BIGINT AS n_hours_active,
      |    sum(n::HUGEINT * n) AS sn2, max(n)::BIGINT AS peak
      |  FROM q131h GROUP BY event_type),
      |q131m AS (
      |  SELECT t.event_type, t.n_events, t.n_hours_active, s.span_hours, t.peak,
      |    t.n_events::DOUBLE / s.span_hours::DOUBLE AS mean_h,
      |    t.sn2::DOUBLE / s.span_hours::DOUBLE -
      |      (t.n_events::DOUBLE / s.span_hours::DOUBLE) * (t.n_events::DOUBLE / s.span_hours::DOUBLE) AS var_h
      |  FROM q131t t, q131s s)
      |SELECT event_type, n_events, n_hours_active, span_hours,
      |  round(mean_h, 6) AS mean_per_hour,
      |  round(var_h / mean_h, 6) AS fano,
      |  round(peak::DOUBLE / mean_h, 6) AS peak_ratio
      |FROM q131m ORDER BY event_type""".stripMargin

  // --- q133: conversion latency funnel ----------------------------------------

  /** Session conversion latency: across q10's 30-minute sessions, how many
    * sessions saw a `view`, how many of those converted (a `purchase` at
    * or after the first view, same session), and the distribution of
    * time-to-convert — the latency companion to q35's step funnel (q35
    * counts who converts; this says how long conversion takes, the number
    * a checkout-flow change is judged by).
    *
    * Scale shape: one user-keyed window pass sessionizes and carries each
    * session's first-view timestamp (no self-join — the q37 carry trick);
    * per-session reduction is one keyed aggregate; the latency
    * distribution collapses to a value histogram and the reported median/
    * p90 are ⌈p·N⌉ ORDER STATISTICS over exact integer seconds (the q125
    * rank rule — no interpolation), so every output value is either an
    * exact long or one rounded ratio.
    */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum    = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn(
        "new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(cum))
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
    val perSession = graft.core.CacheScope.persist(
      sess
        .withColumn("vu", min(when(col("event_type") === "view", col("us"))).over(bySess))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          max(col("vu")).as("vu"),
          min(when(col("event_type") === "purchase" && col("us") >= col("vu"), col("us")))
            .as("pu")))
    val counts = perSession.agg(
      count(lit(1)).as("n_sessions"),
      sum(when(col("vu").isNotNull, 1L).otherwise(0L)).as("n_with_view"),
      sum(when(col("pu").isNotNull, 1L).otherwise(0L)).as("n_converted"))
    val deltas = perSession
      .filter(col("pu").isNotNull)
      .select(expr("(pu - vu) DIV 1000000").as("secs"))
    val ranked = deltas
      .groupBy(col("secs"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.partitionBy(lit(1)).orderBy(col("secs"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(lit(1))))
    val quants = ranked
      .withColumn("p", explode(expr("array(0.5D, 0.9D)")))
      .filter(col("cum") >= ceil(col("p") * col("n").cast("double")))
      .groupBy(col("p"))
      .agg(min(col("secs")).as("q"))
      .groupBy()
      .agg(
        max(when(col("p") === 0.5, col("q"))).as("median_secs"),
        max(when(col("p") === 0.9, col("q"))).as("p90_secs"))
    counts
      .crossJoin(broadcast(quants))
      .select(
        col("n_sessions"),
        col("n_with_view"),
        col("n_converted"),
        round(col("n_converted").cast("double") / col("n_with_view").cast("double"), 6)
          .as("conv_rate"),
        col("median_secs"),
        col("p90_secs"))
  }

  /** q133 oracle: q10's sessionize SQL, the same windowed first-view
    * carry, and identical ⌈p·N⌉ order statistics on integer seconds.
    */
  val conversionLatencySql: String =
    """WITH q133e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |q133s AS (
      |  SELECT *, CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
      |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM q133e),
      |q133v AS (
      |  SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
      |      OVER (PARTITION BY user_id, session_id) AS vu
      |  FROM q133s),
      |q133p AS MATERIALIZED (
      |  SELECT user_id, session_id, max(vu) AS vu,
      |    min(CASE WHEN event_type = 'purchase' AND us >= vu THEN us END) AS pu
      |  FROM q133v GROUP BY user_id, session_id),
      |q133c AS (
      |  SELECT count(*)::BIGINT AS n_sessions,
      |    sum(CASE WHEN vu IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_with_view,
      |    sum(CASE WHEN pu IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_converted
      |  FROM q133p),
      |q133h AS (
      |  SELECT (pu - vu) // 1000000 AS secs, count(*)::BIGINT AS c
      |  FROM q133p WHERE pu IS NOT NULL GROUP BY 1),
      |q133r AS (
      |  SELECT secs, sum(c) OVER (ORDER BY secs) AS cum, sum(c) OVER () AS n FROM q133h),
      |q133q AS (
      |  SELECT
      |    max(CASE WHEN p = 0.5 THEN q END)::BIGINT AS median_secs,
      |    max(CASE WHEN p = 0.9 THEN q END)::BIGINT AS p90_secs
      |  FROM (SELECT p, min(secs) AS q
      |        FROM q133r, (SELECT unnest([0.5, 0.9]) AS p)
      |        WHERE cum >= ceil(p * n::DOUBLE) GROUP BY p))
      |SELECT c.n_sessions, c.n_with_view, c.n_converted,
      |  round(c.n_converted::DOUBLE / c.n_with_view::DOUBLE, 6) AS conv_rate,
      |  q.median_secs, q.p90_secs
      |FROM q133c c, q133q q""".stripMargin

  // --- q169: SCD2 state-history compaction -------------------------------------

  /** Slowly-changing-dimension (type 2) compaction of the event stream:
    * per user, consecutive runs of the same event_type collapse into one
    * versioned validity interval — (version, state, valid_from_us,
    * valid_to_us, is_current), the temporal dimension table a warehouse
    * MERGE builds from a changelog (q103 aggregates the transitions;
    * q169 MATERIALIZES the history rows a point-in-time join consumes).
    * valid_to is the next change's first µs (half-open intervals, −1 on
    * the open current row), so `from ≤ t < to` lookups partition time
    * exactly.
    *
    * Scale shape: ONE user-keyed shuffle serves everything — the
    * change-flag window, the (user, version) run aggregate (user
    * partitioning already clusters it), and the lead window over the
    * compacted grain ride the same partitioning with no new exchange;
    * the output sort is the only other shuffle. Determinism: (ts µs,
    * event_id) total order (q10's rule), integer µs, run states are
    * constant within a version by construction.
    */
  def scd2Compaction(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val cum    = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .withColumn(
        "chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("version", sum(col("chg")).over(cum))
      .groupBy(col("user_id"), col("version"))
      .agg(
        max(col("event_type")).as("state"),
        min(col("us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy(col("user_id")).orderBy(col("version"))
    runs
      .withColumn(
        "valid_to_us",
        coalesce(lead(col("valid_from_us"), 1).over(byVersion), lit(-1L)))
      .withColumn("is_current", col("valid_to_us") === -1L)
      .select(col("user_id"), col("version"), col("state"), col("valid_from_us"),
        col("valid_to_us"), col("n_events"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** q169 oracle: the same change-flag window, run aggregate, and lead
    * carry — integer µs end to end.
    */
  val scd2CompactionSql: String =
    """WITH q169e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |q169v AS (
      |  SELECT *, CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
      |  FROM q169e),
      |q169r AS (
      |  SELECT user_id, version, max(event_type) AS state,
      |    min(us) AS valid_from_us, count(*)::BIGINT AS n_events
      |  FROM q169v GROUP BY user_id, version)
      |SELECT user_id, version, state, valid_from_us,
      |  coalesce(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version), -1)
      |    AS valid_to_us,
      |  n_events,
      |  (coalesce(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version), -1) = -1)
      |    AS is_current
      |FROM q169r ORDER BY user_id, version""".stripMargin

  // --- q135: stationary event mix ---------------------------------------------

  val StatRounds = 12

  /** Stationary distribution of q103's transition chain vs the actual
    * event mix: [[StatRounds]] power-iteration rounds from a uniform
    * start over the EXACT (unrounded) row-normalized transition matrix,
    * each iterate rounded to 6 dp before reuse (q97's round-before-reuse
    * rule — what makes an iterative float computation engine-exact). The
    * drift column answers "is today's traffic mix what the observed
    * dynamics converge to?" — a large gap means the mix is transient
    * (ramp, incident, campaign) rather than steady-state, which changes
    * how q53-style mixing weights should read it.
    *
    * Scale shape: the matrix is ≤|types|² rows after ONE corpus window
    * pass (q103's); every iteration round is a keyed join + ordered-fold
    * aggregate over that bounded table — 12 tiny stages, nothing
    * corpus-proportional after the first shuffle. Types that never
    * receive a transition surface with p_stationary = 0.
    */
  def stationaryMix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val m = Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("cur"))).cast("double"))
      .select(col("cur"), col("nxt"), col("p"))
    val actual = graft.core.CacheScope.persist(
      Tables.events(spark, dir).groupBy(col("event_type")).agg(count(lit(1)).as("n_events")))
    // the transition matrix is bounded (≤|types|² rows by construction) —
    // collect it ONCE and run the power iteration driver-side (the q194
    // rule): the previous formulation chained StatRounds join+agg jobs
    // whose fixed overhead dwarfed the bounded-table arithmetic. The
    // driver loop replays the DF version's exact semantics: inner-join
    // drop of cur-rows without a pi entry, ascending-by-cur left fold
    // from 0.0, and a HALF_UP 6-dp round between rounds (Spark's
    // `round` ≡ BigDecimal HALF_UP — same rule the oracle's unrolled
    // CTE rounds apply).
    val mRows = m.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val types = actual.select(col("event_type")).collect().map(_.getString(0))
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    var piM: Map[String, Double] = types.map(t => t -> 1.0 / types.length.toDouble).toMap
    for (_ <- 1 to StatRounds) {
      piM = mRows
        .filter(r => piM.contains(r._1))
        .groupBy(_._2)
        .map { case (nxt, rs) =>
          nxt -> r6(rs.sortBy(_._1).foldLeft(0.0)((a, r) => a + piM(r._1) * r._3))
        }
    }
    import spark.implicits._
    val pi = piM.toSeq.toDF("t", "pi")
    actual
      .crossJoin(broadcast(actual.agg(sum(col("n_events")).as("total"))))
      .join(pi, col("event_type") === col("t"), "left")
      .select(
        col("event_type"),
        col("n_events"),
        round(col("n_events").cast("double") / col("total").cast("double"), 6).as("p_actual"),
        coalesce(col("pi"), lit(0.0)).as("p_stationary"),
        round(
          coalesce(col("pi"), lit(0.0)) -
            col("n_events").cast("double") / col("total").cast("double"),
          6).as("drift"))
      .orderBy(col("event_type"))
  }

  /** q135 oracle: q103's window + unrounded row-normalized matrix, the
    * same [[StatRounds]] unrolled rounds with ascending-by-cur folds and
    * round-before-reuse.
    */
  lazy val stationaryMixSql: String = {
    val rounds = (1 to StatRounds).map { k =>
      s"""q135pi$k AS MATERIALIZED (
         |  SELECT m.nxt AS t,
         |    round(list_reduce(list_prepend(0.0::DOUBLE, list(p.pi * m.p ORDER BY m.cur)),
         |      (a, b) -> a + b), 6) AS pi
         |  FROM q135m m JOIN q135pi${k - 1} p ON p.t = m.cur
         |  GROUP BY m.nxt)""".stripMargin
    }.mkString(",\n")
    s"""WITH q135s AS (
       |  SELECT event_type AS cur,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY date_trunc('microsecond', ts), event_id) AS nxt
       |  FROM events),
       |q135m AS MATERIALIZED (
       |  SELECT cur, nxt, n::DOUBLE / sum(n) OVER (PARTITION BY cur) AS p FROM (
       |    SELECT cur, nxt, count(*)::BIGINT AS n FROM q135s
       |    WHERE nxt IS NOT NULL GROUP BY cur, nxt)),
       |q135a AS MATERIALIZED (
       |  SELECT event_type, count(*)::BIGINT AS n_events FROM events GROUP BY event_type),
       |q135pi0 AS (
       |  SELECT event_type AS t, 1.0::DOUBLE / (SELECT count(*) FROM q135a)::DOUBLE AS pi
       |  FROM q135a),
       |$rounds
       |SELECT a.event_type, a.n_events,
       |  round(a.n_events::DOUBLE / tot.total::DOUBLE, 6) AS p_actual,
       |  coalesce(pk.pi, 0.0::DOUBLE) AS p_stationary,
       |  round(coalesce(pk.pi, 0.0::DOUBLE) - a.n_events::DOUBLE / tot.total::DOUBLE, 6) AS drift
       |FROM q135a a
       |CROSS JOIN (SELECT sum(n_events)::BIGINT AS total FROM q135a) tot
       |LEFT JOIN q135pi$StatRounds pk ON pk.t = a.event_type
       |ORDER BY a.event_type""".stripMargin
  }

  // --- q141: winsorization impact report --------------------------------------

  /** Per-type winsorization report: the p1/p99 ORDER-STATISTIC caps on
    * event value, how many events each cap would clip, and the raw vs
    * winsorized mean — the robust-preprocessing decision table ("does
    * capping move the metric, and how many points does it touch?") that
    * belongs in front of any mean-based dashboard q107/q113 feed, since a
    * handful of fat-finger values can own an uncapped mean.
    *
    * Determinism: caps are ⌈p·N⌉ order statistics (actual data values, no
    * interpolation); clip counts are integers; value sums ride
    * DECIMAL(18,2) (the q107 discipline) with the winsorized sum clamping
    * in the decimal domain. Scale shape: ONE (type, value) histogram
    * aggregate; caps from cumulative windows over it; the impact rollup
    * re-reads the persisted histogram, never the corpus.
    */
  def winsorizeReport(spark: SparkSession, dir: String): DataFrame = {
    val hist = graft.core.CacheScope.persist(
      Tables
        .events(spark, dir)
        .groupBy(col("event_type"), col("value").as("v"))
        .agg(count(lit(1)).as("c")))
    val byT = Window.partitionBy(col("event_type"))
    val ranked = hist
      .withColumn("cum", sum(col("c")).over(byT.orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over(byT))
    val caps = ranked
      .withColumn("p", explode(expr("array(0.01D, 0.99D)")))
      .filter(col("cum") >= ceil(col("p") * col("n").cast("double")))
      .groupBy(col("event_type"), col("p"))
      .agg(min(col("v")).as("q"))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("p") === 0.01, col("q"))).as("lo"),
        max(when(col("p") === 0.99, col("q"))).as("hi"))
    hist
      .join(caps, "event_type")
      .groupBy(col("event_type"))
      .agg(
        sum(col("c")).as("n_events"),
        max(col("lo")).as("p01"),
        max(col("hi")).as("p99"),
        sum(when(col("v") < col("lo"), col("c")).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("v") > col("hi"), col("c")).otherwise(0L)).as("n_clipped_hi"),
        sum(col("c") * col("v").cast("decimal(18,2)")).as("sv"),
        sum(col("c") *
          when(col("v") < col("lo"), col("lo"))
            .when(col("v") > col("hi"), col("hi"))
            .otherwise(col("v"))
            .cast("decimal(18,2)")).as("sw"))
      .select(
        col("event_type"),
        col("n_events"),
        round(col("p01"), 6).as("p01"),
        round(col("p99"), 6).as("p99"),
        col("n_clipped_lo"),
        col("n_clipped_hi"),
        round(col("sv").cast("double") / col("n_events").cast("double"), 6).as("mean_raw"),
        round(col("sw").cast("double") / col("n_events").cast("double"), 6)
          .as("mean_winsorized"))
      .orderBy(col("event_type"))
  }

  /** Snapshot calibration for the E29 gate: per type (p01, p99) caps from
    * the batch report — ≤|types| rows collected (the model-gate rule).
    */
  def winsorizeCaps(spark: SparkSession, dir: String): Map[String, (Double, Double)] =
    winsorizeReport(spark, dir)
      .select(col("event_type"), col("p01"), col("p99"))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap

  /** q141 oracle: identical histogram, ⌈p·N⌉ caps, decimal-domain clamp. */
  val winsorizeReportSql: String =
    """WITH q141h AS MATERIALIZED (
      |  SELECT event_type, value AS v, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |q141r AS (
      |  SELECT event_type, v, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM q141h),
      |q141c AS (
      |  SELECT event_type,
      |    max(CASE WHEN p = 0.01 THEN q END) AS lo,
      |    max(CASE WHEN p = 0.99 THEN q END) AS hi
      |  FROM (SELECT event_type, p, min(v) AS q
      |        FROM q141r, (SELECT unnest([0.01, 0.99]) AS p)
      |        WHERE cum >= ceil(p * n::DOUBLE) GROUP BY event_type, p)
      |  GROUP BY event_type)
      |SELECT h.event_type,
      |  sum(h.c)::BIGINT AS n_events,
      |  round(max(c.lo), 6) AS p01, round(max(c.hi), 6) AS p99,
      |  sum(CASE WHEN h.v < c.lo THEN h.c ELSE 0 END)::BIGINT AS n_clipped_lo,
      |  sum(CASE WHEN h.v > c.hi THEN h.c ELSE 0 END)::BIGINT AS n_clipped_hi,
      |  round(sum(h.c * CAST(h.v AS DECIMAL(18,2)))::DOUBLE / sum(h.c)::DOUBLE, 6) AS mean_raw,
      |  round(sum(h.c * CAST(CASE WHEN h.v < c.lo THEN c.lo
      |      WHEN h.v > c.hi THEN c.hi ELSE h.v END AS DECIMAL(18,2)))::DOUBLE
      |    / sum(h.c)::DOUBLE, 6) AS mean_winsorized
      |FROM q141h h JOIN q141c c USING (event_type)
      |GROUP BY h.event_type
      |ORDER BY h.event_type""".stripMargin

  // --- q144: Benford first-digit audit -----------------------------------------

  /** First-significant-digit literals: Benford probabilities
    * `log10(1 + 1/d)` computed ONCE in Scala and embedded verbatim in
    * both engines' expressions — 17 significant digits round-trips a
    * double exactly, so neither engine evaluates a log. Shared with the
    * E30 streaming tripwire.
    */
  private[graft] val BenfordP: Seq[(Int, String)] =
    (1 to 9).map(d => d -> f"${math.log10(1.0 + 1.0 / d)}%.17g")

  /** The integer first-digit CASE over a positive cents column `c` —
    * shared verbatim by batch q144 and the E30 stream.
    */
  private[graft] val BenfordDigitCase: String = (17 to 1 by -1)
    .map { k =>
      val p = BigInt(10).pow(k)
      s"WHEN c >= $p THEN CAST(c DIV $p AS BIGINT)"
    }
    .mkString("CASE ", " ", " ELSE c END")

  /** Benford's-law audit of event values: the observed first-significant-
    * digit distribution vs `log10(1+1/d)`, with per-digit chi-square
    * contributions — the classic fabricated-/synthetic-data tripwire
    * (organic transaction amounts follow Benford; generated, capped, or
    * tampered streams don't, and the digit that breaks says how). Values
    * ride the DECIMAL(18,2) cents grid, and the first digit comes from a
    * pure integer magnitude CASE — no logs, no string formatting, nothing
    * engine-dependent anywhere in the pipeline.
    *
    * Scale shape: ONE map-side projection to the 9-digit key + one tiny
    * keyed aggregate; the total broadcasts back as a 1-row aggregate.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
    val counts = Tables
      .events(spark, dir)
      .select(cents.as("c"))
      .filter(col("c") > 0)
      .select(expr(BenfordDigitCase).as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val expected = BenfordP
      .map { case (d, p) => s"WHEN digit = $d THEN CAST($p AS DOUBLE)" }
      .mkString("CASE ", " ", " END")
    counts
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("total"))))
      .withColumn("p", expr(expected))
      .select(
        col("digit"),
        col("n"),
        round(col("n").cast("double") / col("total").cast("double"), 6).as("obs_share"),
        round(col("p"), 6).as("benford_p"),
        round(
          (col("n").cast("double") - col("total").cast("double") * col("p")) *
            (col("n").cast("double") - col("total").cast("double") * col("p")) /
            (col("total").cast("double") * col("p")),
          6).as("chi_contrib"))
      .orderBy(col("digit"))
  }

  /** q144 oracle: the same cents grid, integer magnitude CASE, and the
    * SAME embedded 17-digit Benford literals and chi shape.
    */
  lazy val benfordAuditSql: String = {
    val digitCase = (17 to 1 by -1)
      .map { k =>
        val p = BigInt(10).pow(k)
        s"WHEN c >= $p THEN (c // $p)::BIGINT"
      }
      .mkString("CASE ", " ", " ELSE c END")
    val expected = BenfordP
      .map { case (d, p) => s"WHEN digit = $d THEN CAST($p AS DOUBLE)" }
      .mkString("CASE ", " ", " END")
    s"""WITH q144c AS (
       |  SELECT (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS c FROM events),
       |q144d AS MATERIALIZED (
       |  SELECT ($digitCase) AS digit FROM q144c WHERE c > 0),
       |q144n AS (SELECT digit, count(*)::BIGINT AS n FROM q144d GROUP BY digit),
       |q144t AS (SELECT sum(n)::BIGINT AS total FROM q144n)
       |SELECT n.digit, n.n,
       |  round(n.n::DOUBLE / t.total::DOUBLE, 6) AS obs_share,
       |  round(($expected), 6) AS benford_p,
       |  round((n.n::DOUBLE - t.total::DOUBLE * ($expected)) *
       |    (n.n::DOUBLE - t.total::DOUBLE * ($expected)) /
       |    (t.total::DOUBLE * ($expected)), 6) AS chi_contrib
       |FROM q144n n, q144t t
       |ORDER BY n.digit""".stripMargin
  }

  val ewmaTrendSql: String = {
    val lags = (1 until EwmaK).map(k => s"lag(x, $k) OVER w AS x$k").mkString(", ")
    def xk(k: Int) = if (k == 0) "x" else s"x$k"
    val num = (0 until EwmaK)
      .map(k => s"(CASE WHEN ${xk(k)} IS NOT NULL THEN ${xk(k)} * ${math.pow(0.5, k)} ELSE 0.0 END)")
      .mkString(" + ")
    val den = (0 until EwmaK)
      .map(k => s"(CASE WHEN ${xk(k)} IS NOT NULL THEN ${math.pow(0.5, k)}::DOUBLE ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH q113h AS MATERIALIZED (
       |  SELECT event_type, date_trunc('hour', ts) AS hour,
       |    (sum(CAST(value AS DECIMAL(18,2))))::DOUBLE AS x
       |  FROM events GROUP BY 1, 2),
       |q113l AS (
       |  SELECT *, $lags
       |  FROM q113h WINDOW w AS (PARTITION BY event_type ORDER BY hour))
       |SELECT event_type, strftime(hour, '%Y-%m-%d %H') AS hour, x AS volume,
       |  round(($num) / ($den), 6) AS ewma,
       |  round(x - ($num) / ($den), 6) AS dev
       |FROM q113l
       |ORDER BY event_type, hour""".stripMargin
  }

  // --- q148: offline change-point localization (max-CUSUM contrast) ----------

  /** Where did the level SHIFT? Per event type, the offline CUSUM
    * change-point over hourly volumes: the split hour τ maximizing
    * `|C_τ·n − τ·C_n|` (C = prefix sum of hourly cents) — the classic
    * single-change-point statistic, algebraically `τ(n−τ)·|mean_before −
    * mean_after|·n/…` so its argmax IS the strongest level break. q120
    * flags which HOURS are abnormal against a stationary baseline; q148
    * answers the orthogonal question "did the baseline itself move, and
    * when?" — the deploy/incident/traffic-migration boundary an ingest
    * campaign must know before trusting any whole-corpus statistic
    * (mixing across an undetected shift poisons q113/q120/q123 alike).
    *
    * Scale shape: ONE keyed aggregate to the (type, hour) bucket grain;
    * prefix sums, totals, and the argmax rank are three window passes
    * over that ≤|types|×|hours| table sharing ONE type-keyed partitioning
    * — corpus cost is the single bucket shuffle. Determinism: volumes
    * ride the exact cents grid, the contrast key `|C_τ·n − τ·C_n|` is
    * pure integer arithmetic carried as DECIMAL(38,0) (HUGEINT in the
    * oracle — no float enters the argmax), ties break to the earliest τ,
    * and the reported means are one fixed cast-divide-round shape.
    * Sequential-alarm CUSUM (the S⁺/S⁻ recurrence) is deliberately NOT
    * here: a max(0,·) recurrence has no one-pass distributed form — it is
    * exactly what per-key streaming state is for, and [[graft.streaming.EventStreams.cusumGateStream]]
    * (E31) runs it against this query's calibration.
    */
  def changePoint(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
    val hourly = Tables
      .events(spark, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"), cents.as("c0"))
      .groupBy(col("event_type"), col("hour"))
      .agg(sum(col("c0")).as("v"))
    val byHour = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val cum    = byHour.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole  = Window.partitionBy(col("event_type"))
    val keyed = hourly
      .withColumn("tau", row_number().over(byHour).cast("long"))
      .withColumn("c", sum(col("v")).over(cum))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("cn", sum(col("v")).over(whole))
      .filter(col("tau") < col("n")) // τ = n has no after-segment
      .withColumn(
        "key",
        abs(
          col("c").cast("decimal(38,0)") * col("n") -
            col("tau").cast("decimal(38,0)") * col("cn")))
    val best = Window
      .partitionBy(col("event_type"))
      .orderBy(col("key").desc, col("tau").asc)
    val before = col("c").cast("double") / (lit(100.0) * col("tau").cast("double"))
    val after = (col("cn") - col("c")).cast("double") /
      (lit(100.0) * (col("n") - col("tau")).cast("double"))
    keyed
      .withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(
        col("event_type"),
        col("n").as("n_buckets"),
        col("tau"),
        date_format(col("hour"), "yyyy-MM-dd HH").as("cp_hour"),
        round(before, 6).as("mean_before"),
        round(after, 6).as("mean_after"),
        round(after - before, 6).as("shift"))
      .orderBy(col("event_type"))
  }

  /** q148 oracle: the same cents buckets, HUGEINT contrast key, earliest-τ
    * tie-break, and identical cast-divide-round mean shapes.
    */
  lazy val changePointSql: String =
    s"""WITH q148h AS MATERIALIZED (
       |  SELECT event_type, date_trunc('hour', ts) AS hour,
       |    sum((CAST(value AS DECIMAL(18,2)) * 100)::BIGINT) AS v
       |  FROM events GROUP BY 1, 2),
       |q148w AS (
       |  SELECT event_type, hour, v,
       |    row_number() OVER w AS tau,
       |    sum(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
       |    count(*) OVER (PARTITION BY event_type) AS n,
       |    sum(v) OVER (PARTITION BY event_type) AS cn
       |  FROM q148h WINDOW w AS (PARTITION BY event_type ORDER BY hour)),
       |q148k AS (
       |  SELECT *, abs(c * n - tau * cn) AS key FROM q148w WHERE tau < n),
       |q148r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY event_type ORDER BY key DESC, tau ASC) AS rk
       |  FROM q148k)
       |SELECT event_type, n AS n_buckets, tau,
       |  strftime(hour, '%Y-%m-%d %H') AS cp_hour,
       |  round(c::DOUBLE / (100.0 * tau::DOUBLE), 6) AS mean_before,
       |  round((cn - c)::DOUBLE / (100.0 * (n - tau)::DOUBLE), 6) AS mean_after,
       |  round((cn - c)::DOUBLE / (100.0 * (n - tau)::DOUBLE)
       |    - c::DOUBLE / (100.0 * tau::DOUBLE), 6) AS shift
       |FROM q148r WHERE rk = 1
       |ORDER BY event_type""".stripMargin

  // --- q151: first/last-touch revenue attribution ----------------------------

  /** Marketing-style revenue attribution over q10's sessions: every
    * purchase credits its value to a CHANNEL — the session's first
    * non-purchase event type up to the purchase (first-touch: "what
    * started the journey") and the last non-purchase type strictly
    * before it (last-touch: "what closed it") — with purchases that open
    * their session crediting 'direct'. The per-channel divergence
    * between the two models is the classic attribution report; q35/q100
    * count WHO converts, q133 times HOW LONG it takes, q151 says WHAT
    * gets the credit.
    *
    * Scale shape: q10's exact sessionize rule (one user-keyed window
    * shuffle), both touch carries ride the SAME (user, session) window
    * partitioning, the purchase grain is persisted once and the two
    * ≤|types|-row rollups join full-outer. Determinism: (us, event_id)
    * total order, DECIMAL(18,2) value sums (exact, order-free), one
    * fixed cast-round shape.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum    = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn(
        "new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(cum))
    val bySess = Window
      .partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("us"), col("event_id"))
    val chan = when(col("event_type") =!= "purchase", col("event_type"))
    val touched = graft.core.CacheScope.persist(
      sess
        .withColumn(
          "first_ch",
          first(chan, ignoreNulls = true)
            .over(bySess.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn(
          "last_ch",
          last(chan, ignoreNulls = true)
            .over(bySess.rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("event_type") === "purchase")
        .select(
          coalesce(col("first_ch"), lit("direct")).as("first_ch"),
          coalesce(col("last_ch"), lit("direct")).as("last_ch"),
          col("value").cast("decimal(18,2)").as("v")))
    val firsts = touched
      .groupBy(col("first_ch").as("channel"))
      .agg(count(lit(1)).as("n_first"), sum(col("v")).as("v_first"))
    val lasts = touched
      .groupBy(col("last_ch").as("channel"))
      .agg(count(lit(1)).as("n_last"), sum(col("v")).as("v_last"))
    firsts
      .join(lasts, Seq("channel"), "full_outer")
      .select(
        col("channel"),
        coalesce(col("n_first"), lit(0L)).as("n_first_touch"),
        round(coalesce(col("v_first").cast("double"), lit(0.0)), 2).as("value_first_touch"),
        coalesce(col("n_last"), lit(0L)).as("n_last_touch"),
        round(coalesce(col("v_last").cast("double"), lit(0.0)), 2).as("value_last_touch"))
      .orderBy(col("channel"))
  }

  /** q151 oracle: q10's sessionize chain, IGNORE NULLS window carries over
    * the identical frames, DECIMAL sums, same coalesce/round shapes.
    */
  lazy val attributionSql: String =
    """WITH q151e AS (
      |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |q151s AS (
      |  SELECT *, CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
      |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM q151e),
      |q151t AS (
      |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
      |    coalesce(first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |        IGNORE NULLS) OVER (PARTITION BY user_id, session_id ORDER BY us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 'direct') AS first_ch,
      |    coalesce(last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |        IGNORE NULLS) OVER (PARTITION BY user_id, session_id ORDER BY us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'direct') AS last_ch
      |  FROM q151s),
      |q151p AS MATERIALIZED (
      |  SELECT first_ch, last_ch, v FROM q151t WHERE event_type = 'purchase'),
      |q151f AS (SELECT first_ch AS channel, count(*)::BIGINT AS n_first,
      |  sum(v) AS v_first FROM q151p GROUP BY 1),
      |q151l AS (SELECT last_ch AS channel, count(*)::BIGINT AS n_last,
      |  sum(v) AS v_last FROM q151p GROUP BY 1)
      |SELECT coalesce(f.channel, l.channel) AS channel,
      |  coalesce(f.n_first, 0)::BIGINT AS n_first_touch,
      |  round(coalesce(f.v_first::DOUBLE, 0.0), 2) AS value_first_touch,
      |  coalesce(l.n_last, 0)::BIGINT AS n_last_touch,
      |  round(coalesce(l.v_last::DOUBLE, 0.0), 2) AS value_last_touch
      |FROM q151f f FULL OUTER JOIN q151l l ON f.channel = l.channel
      |ORDER BY channel""".stripMargin

  // --- q154: incremental cube-upsert report ----------------------------------

  /** Late-data share of the simulated delta batch (1-in-10 by event-id
    * hash — deterministic, so both engines split identically).
    */
  val DeltaMod = 10L

  /** The MERGE-INTO planning table for an incrementally-maintained hourly
    * cube: treating a deterministic 1-in-[[DeltaMod]] hash slice of
    * events as the late-arriving delta batch, emit ONLY the (type, hour)
    * cube rows the delta touches, each with its before/after count and
    * exact DECIMAL volume. This is the contract that keeps a 100 TB
    * aggregate alive: late data updates the touched partitions
    * (`n_after = n_before + n_delta`, spec-pinned), the other ~90% of
    * the cube is never read, and a full recompute never happens. The
    * report is what an upsert job would write and what its reviewer
    * would diff.
    *
    * Scale shape: ONE corpus pass — a single (type, hour) keyed aggregate
    * with conditional sums produces base and after side by side (the
    * decomposable-aggregate property that makes the merge valid is the
    * same one that makes the conditional split free), filtered to
    * delta-touched rows. Determinism: the slice is `pmod(xxhash64(
    * event_id), 10)`, volumes ride DECIMAL(18,2), one fixed
    * coalesce-cast-round shape.
    */
  def incrementalCube(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
        col("value").cast("decimal(18,2)").as("v"),
        (pmod(xxhash64(col("event_id")), lit(DeltaMod)) === 0L).as("is_delta"))
    ev.groupBy(col("event_type"), col("hour"))
      .agg(
        sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_before"),
        count(lit(1)).as("n_after"),
        sum(when(!col("is_delta"), col("v"))).as("v_base"),
        sum(col("v")).as("v_after"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"))
      .filter(col("n_delta") > 0)
      .select(
        col("event_type"),
        col("hour"),
        col("n_before"),
        col("n_delta"),
        col("n_after"),
        round(coalesce(col("v_base"), lit(0).cast("decimal(18,2)")).cast("double"), 2)
          .as("vol_before"),
        round(col("v_after").cast("double"), 2).as("vol_after"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** q154 oracle: the DuckHash xxhash64 emulation on event_id, identical
    * conditional sums and coalesce-cast-round shapes.
    */
  lazy val incrementalCubeSql: String = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      "q154e" ->
        """(SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
          |  CAST(value AS DECIMAL(18,2)) AS v, event_id::HUGEINT AS l
          | FROM events)""".stripMargin
    )
    val ch = new SqlChain("q154h", "q154e", Seq("event_type", "hour", "v", "l"))
    hashLongLevels(ch, toUnsigned("l"), "42", "hh")
    ctes ++= ch.ctes
    ctes += ("q154d" ->
      s"""(SELECT event_type, hour, v,
         |  ((((${toSigned("hh")}) % $DeltaMod) + $DeltaMod) % $DeltaMod = 0) AS is_delta
         | FROM ${ch.last})""".stripMargin)
    assemble(
      ctes.toSeq,
      s"""SELECT event_type, hour,
         |  CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
         |  CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |  count(*)::BIGINT AS n_after,
         |  round(coalesce(sum(CASE WHEN NOT is_delta THEN v END), 0)::DOUBLE, 2) AS vol_before,
         |  round(sum(v)::DOUBLE, 2) AS vol_after
         |FROM q154d
         |GROUP BY event_type, hour
         |HAVING sum(CASE WHEN is_delta THEN 1 ELSE 0 END) > 0
         |ORDER BY event_type, hour""".stripMargin)
  }

  /** One step of the sequential (tabular) CUSUM recurrence — shared
    * verbatim by the E31 stream and its spec's reference fold:
    * `S⁺ ← max(0, S⁺ + (x−μ−slack))`, `S⁻ ← max(0, S⁻ + (μ−slack−x))`,
    * alarm when either side exceeds `h`. Pure arithmetic on doubles fed
    * from the exact cents grid.
    */
  def cusumStep(
      sPlus: Double,
      sMinus: Double,
      x: Double,
      mu: Double,
      slack: Double): (Double, Double) =
    (
      math.max(0.0, sPlus + (x - mu - slack)),
      math.max(0.0, sMinus + (mu - slack - x)))

  /** Snapshot calibration for the E31 CUSUM gate: per type
    * `(μ, slack = σ/2, h = 4σ)` from the batch hourly-volume buckets —
    * the textbook k = σ/2, h = 4σ tabular-CUSUM tuning. ≤|types| rows
    * collected (the model-gate rule); σ uses the population variance of
    * the observed buckets (a calibration constant, not an oracle-compared
    * output, so libm sqrt is fine here).
    */
  def cusumBars(spark: SparkSession, dir: String): Map[String, (Double, Double, Double)] = {
    val cents = (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
    Tables
      .events(spark, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"), cents.as("c0"))
      .groupBy(col("event_type"), col("hour"))
      .agg(sum(col("c0")).as("v"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).as("s1"),
        sum((col("v").cast("decimal(38,0)") * col("v"))).as("s2"))
      .collect()
      .map { r =>
        val n  = r.getLong(1).toDouble
        val s1 = r.getDecimal(2).doubleValue() / 100.0
        val s2 = r.getDecimal(3).doubleValue() / 10000.0
        val mu = s1 / n
        val sd = math.sqrt(math.max(0.0, s2 / n - mu * mu))
        r.getString(0) -> ((mu, sd / 2.0, 4.0 * sd))
      }
      .toMap
  }

  // --- q171: autocorrelation of hourly volume per type -----------------------

  val AcfMaxLag = 6

  /** Autocorrelation function of hourly event volume per type at lags
    * 1..[[AcfMaxLag]] — the periodicity diagnostic the q113/q120/q123
    * family stops short of: EWMA smooths, the seasonal profile averages
    * by cell, but only the ACF says whether volume at hour t PREDICTS
    * hour t+k (bot traffic and cron-driven scrapers show near-1 lag
    * spikes; organic traffic decays smoothly). Each (type, lag) row
    * carries the Pearson r of the zero-filled hourly series against its
    * k-shifted self, the ±2/√n white-noise band, and the significance
    * flag — the inputs an alerting screen needs before trusting q120's
    * "this hour is anomalous" on a series that is simply periodic.
    *
    * Scale shape: ONE map-side-combinable aggregate collapses the corpus
    * to the ≤ |types|·|hours| hourly grain; the dense grid (per-type
    * `sequence(min_hr, max_hr)` explode — gaps are real zeros, and a
    * gappy series must not silently skip them) and the lag windows
    * operate on that bounded table, partitioned by type — no global
    * window, no corpus re-scan. Determinism: the series is integer
    * counts, so all six moment sums are exact longs (order-free); r's
    * numerator and both variance legs are exact integer expressions, and
    * the only float ops are two correctly-rounded `sqrt`s, one multiply,
    * one divide — bit-identical across engines — before the 6-dp round.
    * Degenerate legs (zero variance) yield NULL r / false significance.
    */
  def acf(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        (unix_micros(date_trunc("hour", col("ts"))) / lit(3600000000L)).cast("long").as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"))
    val grid = cells
      .groupBy(col("event_type"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hr"))
    val dense = grid
      .join(cells, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"), coalesce(col("n"), lit(0L)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val lagged = (1 to AcfMaxLag).foldLeft(dense)((df, k) =>
      df.withColumn(s"y$k", lead(col("x"), k).over(w)))
    val pairs = lagged
      .selectExpr(
        "event_type",
        "x",
        s"stack($AcfMaxLag, ${(1 to AcfMaxLag)
            .map(k => s"cast($k as bigint), y$k")
            .mkString(", ")}) as (lag, y)")
      .where(col("y").isNotNull)
    val stats = pairs
      .groupBy(col("event_type"), col("lag"))
      .agg(
        count(lit(1)).as("np"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val num = (col("np") * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx  = col("np") * col("sxx") - col("sx") * col("sx")
    val vy  = col("np") * col("syy") - col("sy") * col("sy")
    val ok  = vx > lit(0L) && vy > lit(0L)
    val r   = num / (sqrt(vx.cast("double")) * sqrt(vy.cast("double")))
    val band = lit(2.0) / sqrt(col("np").cast("double"))
    stats
      .select(
        col("event_type"),
        col("lag"),
        col("np").as("n_pairs"),
        round(when(ok, r), 6).as("r"),
        round(band, 6).as("wn_band"),
        when(ok, abs(r) > band).otherwise(lit(false)).as("significant"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** q171 oracle: identical dense grid, lag windows, exact integer moment
    * sums (DuckDB's HUGEINT sums cast back to BIGINT — the values are
    * bounded by |hours|·max_cell² ≪ 2⁶³), and the same
    * `num / (sqrt·sqrt)` float shape before the 6-dp round.
    */
  val acfSql: String = {
    val leads = (1 to AcfMaxLag).map(k => s"lead(x, $k) OVER w AS y$k").mkString(", ")
    val cases = (1 to AcfMaxLag - 1).map(k => s"WHEN $k THEN y$k").mkString(" ")
    s"""WITH q171c AS MATERIALIZED (
       |  SELECT event_type, epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
       |    count(*)::BIGINT AS n
       |  FROM events GROUP BY 1, 2),
       |q171g AS (
       |  SELECT event_type, unnest(generate_series(min(hr), max(hr))) AS hr
       |  FROM q171c GROUP BY event_type),
       |q171d AS (
       |  SELECT g.event_type, g.hr, coalesce(c.n, 0)::BIGINT AS x
       |  FROM q171g g LEFT JOIN q171c c ON g.event_type = c.event_type AND g.hr = c.hr),
       |q171l AS (
       |  SELECT event_type, x, $leads
       |  FROM q171d WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
       |q171p AS (
       |  SELECT event_type, x, t.lag,
       |    CASE t.lag $cases ELSE y$AcfMaxLag END AS y
       |  FROM q171l CROSS JOIN (VALUES ${(1 to AcfMaxLag)
        .map(k => s"(${k}::BIGINT)")
        .mkString(",")}) t(lag)),
       |q171s AS (
       |  SELECT event_type, lag, count(*)::BIGINT AS np,
       |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, sum(x*y)::BIGINT AS sxy,
       |    sum(x*x)::BIGINT AS sxx, sum(y*y)::BIGINT AS syy
       |  FROM q171p WHERE y IS NOT NULL GROUP BY 1, 2)
       |SELECT event_type, lag, np AS n_pairs,
       |  round(CASE WHEN np*sxx - sx*sx > 0 AND np*syy - sy*sy > 0 THEN
       |    (np*sxy - sx*sy)::DOUBLE
       |      / (sqrt((np*sxx - sx*sx)::DOUBLE) * sqrt((np*syy - sy*sy)::DOUBLE)) END, 6) AS r,
       |  round(2.0 / sqrt(np::DOUBLE), 6) AS wn_band,
       |  CASE WHEN np*sxx - sx*sx > 0 AND np*syy - sy*sy > 0 THEN
       |    abs((np*sxy - sx*sy)::DOUBLE
       |      / (sqrt((np*sxx - sx*sx)::DOUBLE) * sqrt((np*syy - sy*sy)::DOUBLE)))
       |      > 2.0 / sqrt(np::DOUBLE)
       |  ELSE FALSE END AS significant
       |FROM q171s ORDER BY event_type, lag""".stripMargin
  }

  // --- q188: event-time disorder / watermark profile --------------------------

  /** Event-time disorder profile — the number every `withWatermark`
    * duration in the streaming layer should come FROM instead of being
    * guessed: treating event_id as ingest order (the feed's arrival
    * proxy), each event's LATENESS is how far it arrived behind the
    * event-time frontier (running max of ts so far); per type the report
    * gives the in-order share and the exact p50/p90/p99/max lateness in
    * seconds. A watermark below p99 silently drops ~1% of events (E40
    * meters exactly that downstream); one far above max holds state for
    * no reason — q188 is the calibration table between those failure
    * modes, re-run per feed before deploying the E-section.
    *
    * Scale shape: ONE type-keyed shuffle serves the frontier window
    * (running max over ingest order); the lateness HISTOGRAM collapses
    * the corpus again to ≤ |types|·|distinct lateness| rows and the
    * order statistics are q181's integer `cum·den ≥ N·num` rule over
    * per-type cumulative windows on that bounded table — no global
    * sort, no raw-value buffering. Longs end to end.
    */
  def watermarkProfile(spark: SparkSession, dir: String): DataFrame = {
    val late = Tables
      .events(spark, dir)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("lateness", expr("(max(us) OVER (PARTITION BY event_type ORDER BY event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us) DIV 1000000"))
    val hist = graft.core.CacheScope.persist(
      late.groupBy(col("event_type"), col("lateness")).agg(count(lit(1)).as("c")))
    val wCum = Window
      .partitionBy(col("event_type"))
      .orderBy(col("lateness"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cumc", sum(col("c")).over(wCum))
      .join(broadcast(hist.groupBy(col("event_type")).agg(sum(col("c")).as("n"))), "event_type")
    cum
      .groupBy(col("event_type"), col("n"))
      .agg(
        coalesce(sum(when(col("lateness") === 0, col("c"))), lit(0L)).as("in_order"),
        min(when(col("cumc") * 2 >= col("n"), col("lateness"))).as("p50_lateness_s"),
        min(when(col("cumc") * 10 >= col("n") * 9, col("lateness"))).as("p90_lateness_s"),
        min(when(col("cumc") * 100 >= col("n") * 99, col("lateness"))).as("p99_lateness_s"),
        max(col("lateness")).as("max_lateness_s"))
      .select(
        col("event_type"),
        col("n").as("n_events"),
        round(col("in_order").cast("double") / col("n").cast("double"), 6).as("in_order_share"),
        col("p50_lateness_s"),
        col("p90_lateness_s"),
        col("p99_lateness_s"),
        col("max_lateness_s"))
      .orderBy(col("event_type"))
  }

  /** q188 oracle: identical frontier window over ingest order, lateness
    * histogram, and the integer `cum·den ≥ N·num` order-statistic rule.
    */
  val watermarkProfileSql: String =
    """WITH q188l AS MATERIALIZED (
      |  SELECT event_type,
      |    (max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - epoch_us(ts)) // 1000000
      |      AS lateness
      |  FROM events),
      |q188h AS (
      |  SELECT event_type, lateness, count(*)::BIGINT AS c FROM q188l GROUP BY 1, 2),
      |q188c AS (
      |  SELECT event_type, lateness, c,
      |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY lateness
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc,
      |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM q188h)
      |SELECT event_type, n AS n_events,
      |  round(coalesce(sum(CASE WHEN lateness = 0 THEN c END), 0)::DOUBLE / n::DOUBLE, 6)
      |    AS in_order_share,
      |  CAST(min(CASE WHEN cumc * 2 >= n THEN lateness END) AS BIGINT) AS p50_lateness_s,
      |  CAST(min(CASE WHEN cumc * 10 >= n * 9 THEN lateness END) AS BIGINT) AS p90_lateness_s,
      |  CAST(min(CASE WHEN cumc * 100 >= n * 99 THEN lateness END) AS BIGINT) AS p99_lateness_s,
      |  CAST(max(lateness) AS BIGINT) AS max_lateness_s
      |FROM q188c GROUP BY event_type, n ORDER BY event_type""".stripMargin

  // --- q186: bot-regularity screen ---------------------------------------------

  val BotMinEvents = 20L
  val BotMaxCv     = 0.1

  /** Bot-regularity screen over per-user event cadence — the behavioral
    * complement of q120's volume anomalies and q48's content scrubbing:
    * humans are bursty (coefficient of variation of inter-event gaps near
    * or above 1), schedulers and scrapers are metronomes (CV → 0), so per
    * user the screen reports event count, mean gap, the gap CV, the
    * distinct event-type count and top-type share (scripted traffic also
    * repeats ONE action), and the `bot_like` verdict: ≥ [[BotMinEvents]]
    * events with CV below [[BotMaxCv]]. Training-data pipelines run
    * exactly this before trusting engagement signals (q125/q151) or
    * sampling "real user" sessions.
    *
    * Scale shape: ONE user-keyed shuffle serves both the gap window and
    * the type aggregate (same partitioning); everything is the user
    * grain, no global window. Determinism: gaps truncate to integer
    * seconds; Σg and Σg² ride DECIMAL(38,0) (a month-long gap squared
    * overflows BIGINT at high counts); CV = sqrt(n·Σg² − (Σg)²)/Σg — one
    * correctly-rounded sqrt over exact integers, one divide — compared
    * UNROUNDED to the shared literal, then 6-dp rounded for display;
    * single-event users have no gaps → NULL stats, never bot_like.
    */
  def botScreen(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gaps = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .withColumn("pus", lag(col("us"), 1).over(byUser))
      .withColumn("g", expr("(us - pus) DIV 1000000"))
    val agg = gaps
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("g")).as("n_gaps"),
        sum(col("g").cast("decimal(38,0)")).as("sg"),
        sum(col("g").cast("decimal(38,0)") * col("g")).as("sgg"),
        countDistinct(col("event_type")).as("n_types"))
    val top = gaps
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(max(col("c")).as("top_c"))
    val nG  = col("n_gaps").cast("decimal(38,0)")
    val varL = nG * col("sgg") - col("sg") * col("sg")
    val cv  = sqrt(varL.cast("double")) / col("sg").cast("double")
    agg
      .join(top, Seq("user_id"))
      .select(
        col("user_id"),
        col("n_events"),
        when(col("n_gaps") > 0,
          round(col("sg").cast("double") / col("n_gaps").cast("double"), 6)).as("mean_gap_s"),
        when(col("n_gaps") > 0 && col("sg") > 0, round(cv, 6)).as("cv_gap"),
        col("n_types"),
        round(col("top_c").cast("double") / col("n_events").cast("double"), 6).as("top_share"),
        (col("n_events") >= BotMinEvents && col("sg") > 0 &&
          col("n_gaps") > 0 && cv < lit(BotMaxCv)).as("bot_like"))
      .orderBy(col("user_id"))
  }

  /** q186 oracle: identical gap window, DECIMAL/HUGEINT moment sums, the
    * same sqrt/divide CV shape and literal compare.
    */
  val botScreenSql: String =
    s"""WITH q186e AS MATERIALIZED (
       |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pus
       |  FROM events),
       |q186g AS (
       |  SELECT user_id, event_type, (us - pus) // 1000000 AS g FROM q186e),
       |q186a AS (
       |  SELECT user_id, count(*)::BIGINT AS n_events, count(g)::BIGINT AS n_gaps,
       |    CAST(sum(g) AS HUGEINT) AS sg, CAST(sum(g::HUGEINT * g) AS HUGEINT) AS sgg,
       |    count(DISTINCT event_type)::BIGINT AS n_types
       |  FROM q186g GROUP BY user_id),
       |q186t AS (
       |  SELECT user_id, CAST(max(c) AS BIGINT) AS top_c FROM (
       |    SELECT user_id, event_type, count(*)::BIGINT AS c FROM q186g GROUP BY 1, 2)
       |  GROUP BY user_id)
       |SELECT a.user_id, a.n_events,
       |  CASE WHEN a.n_gaps > 0 THEN round(a.sg::DOUBLE / a.n_gaps::DOUBLE, 6) END AS mean_gap_s,
       |  CASE WHEN a.n_gaps > 0 AND a.sg > 0 THEN
       |    round(sqrt((a.n_gaps::HUGEINT * a.sgg - a.sg * a.sg)::DOUBLE) / a.sg::DOUBLE, 6)
       |  END AS cv_gap,
       |  a.n_types,
       |  round(t.top_c::DOUBLE / a.n_events::DOUBLE, 6) AS top_share,
       |  (a.n_events >= $BotMinEvents AND a.sg > 0 AND a.n_gaps > 0 AND
       |   sqrt((a.n_gaps::HUGEINT * a.sgg - a.sg * a.sg)::DOUBLE) / a.sg::DOUBLE < $BotMaxCv)
       |    AS bot_like
       |FROM q186a a JOIN q186t t USING (user_id)
       |ORDER BY a.user_id""".stripMargin

  // --- q182: forecast-baseline MASE table -------------------------------------

  /** Forecast-baseline evaluation of hourly volume per type: the MAE of
    * the three zero-parameter forecasters every capacity plan starts
    * from — naive-1 (last hour), day-naive (t−24), week-naive (t−168) —
    * plus each seasonal model's MASE (its MAE over naive-1's, the
    * scale-free skill score; < 1 = the seasonal pattern is real signal,
    * ≥ 1 = yesterday's shape adds nothing) and the winning baseline.
    * This is the table that says whether q123's seasonal profile is
    * worth operationalizing BEFORE anyone builds a real forecaster — and
    * the yardstick that forecaster must beat.
    *
    * Scale shape: q171's dense zero-filled hourly grid (ONE corpus agg,
    * per-type `sequence` explode), three lag windows partitioned by
    * type, one fold to |types| rows. Determinism: volumes are integer
    * counts so every |v_t − v_{t−k}| sum is an exact long; each MAE is
    * one divide-round, each MASE one integer-derived ratio
    * (Σ|d_k|·n₁)/(Σ|d₁|·n_k) spelled as a single divide of exact
    * products; zero naive-1 error (constant series) yields NULL MASE.
    */
  def forecastBaseline(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        (unix_micros(date_trunc("hour", col("ts"))) / lit(3600000000L)).cast("long").as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"))
    val grid = cells
      .groupBy(col("event_type"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hr"))
    val dense = grid
      .join(cells, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"), coalesce(col("n"), lit(0L)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val lagged = Seq(1, 24, 168).foldLeft(dense)((df, k) =>
      df.withColumn(s"l$k", lag(col("x"), k).over(w)))
    val agg = lagged
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum(when(col("l1").isNotNull, abs(col("x") - col("l1")))).as("s1"),
        sum(when(col("l1").isNotNull, 1L)).as("c1"),
        sum(when(col("l24").isNotNull, abs(col("x") - col("l24")))).as("s24"),
        sum(when(col("l24").isNotNull, 1L)).as("c24"),
        sum(when(col("l168").isNotNull, abs(col("x") - col("l168")))).as("s168"),
        sum(when(col("l168").isNotNull, 1L)).as("c168"))
    def mae(s: String, c: String)  = round(col(s).cast("double") / col(c).cast("double"), 6)
    def mase(s: String, c: String) = when(col("s1") > 0,
      round((col(s) * col("c1")).cast("double") / (col("s1") * col(c)).cast("double"), 6))
    agg
      .select(
        col("event_type"),
        col("n_hours"),
        mae("s1", "c1").as("mae_naive1"),
        mae("s24", "c24").as("mae_day"),
        mae("s168", "c168").as("mae_week"),
        mase("s24", "c24").as("mase_day"),
        mase("s168", "c168").as("mase_week"),
        when(col("s168").isNull || col("s24") * col("c168") <= col("s168") * col("c24"),
          lit("day")).otherwise(lit("week")).as("best_seasonal"))
      .orderBy(col("event_type"))
  }

  /** q182 oracle: q171's grid spelling, the same lag windows, exact
    * integer |diff| sums, and identical ratio shapes.
    */
  val forecastBaselineSql: String =
    """WITH q182c AS MATERIALIZED (
      |  SELECT event_type, epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
      |    count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |q182g AS (
      |  SELECT event_type, unnest(generate_series(min(hr), max(hr))) AS hr
      |  FROM q182c GROUP BY event_type),
      |q182d AS (
      |  SELECT g.event_type, g.hr, coalesce(c.n, 0)::BIGINT AS x
      |  FROM q182g g LEFT JOIN q182c c ON g.event_type = c.event_type AND g.hr = c.hr),
      |q182l AS (
      |  SELECT event_type, x, lag(x, 1) OVER w AS l1, lag(x, 24) OVER w AS l24,
      |    lag(x, 168) OVER w AS l168
      |  FROM q182d WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
      |q182s AS (
      |  SELECT event_type, count(*)::BIGINT AS n_hours,
      |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN abs(x - l1) END) AS BIGINT) AS s1,
      |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN 1 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN l24 IS NOT NULL THEN abs(x - l24) END) AS BIGINT) AS s24,
      |    CAST(sum(CASE WHEN l24 IS NOT NULL THEN 1 END) AS BIGINT) AS c24,
      |    CAST(sum(CASE WHEN l168 IS NOT NULL THEN abs(x - l168) END) AS BIGINT) AS s168,
      |    CAST(sum(CASE WHEN l168 IS NOT NULL THEN 1 END) AS BIGINT) AS c168
      |  FROM q182l GROUP BY event_type)
      |SELECT event_type, n_hours,
      |  round(s1::DOUBLE / c1::DOUBLE, 6) AS mae_naive1,
      |  round(s24::DOUBLE / c24::DOUBLE, 6) AS mae_day,
      |  round(s168::DOUBLE / c168::DOUBLE, 6) AS mae_week,
      |  CASE WHEN s1 > 0 THEN round((s24 * c1)::DOUBLE / (s1 * c24)::DOUBLE, 6) END AS mase_day,
      |  CASE WHEN s1 > 0 THEN round((s168 * c1)::DOUBLE / (s1 * c168)::DOUBLE, 6) END AS mase_week,
      |  CASE WHEN s168 IS NULL OR s24 * c168 <= s168 * c24 THEN 'day' ELSE 'week' END
      |    AS best_seasonal
      |FROM q182s ORDER BY event_type""".stripMargin

  // --- q172: Kaplan–Meier user-lifetime survival ------------------------------

  val SurvCensorDays = 7L

  /** Kaplan–Meier survival curve over user lifetimes — the churn analysis
    * q101's retention triangle approximates by cohort: lifetime = days
    * between a user's first and last activity; a user still active within
    * [[SurvCensorDays]] of the corpus frontier is CENSORED (we know their
    * lifetime exceeds t, not where it ends), and KM is the estimator that
    * uses that partial information instead of discarding it (naive "mean
    * lifetime of churned users" is biased low exactly when the product is
    * growing). Per distinct lifetime t: the at-risk count, churn and
    * censor counts, and S(t) = Π_{t_i ≤ t} (1 − d_i/n_i).
    *
    * Scale shape: ONE user-keyed aggregate collapses the corpus to the
    * user grain; the lifetime table collapses again to ≤ |days| distinct-t
    * rows, and the KM product folds over THAT tiny table via a 1-row
    * collected array crossJoin (the q61/q106 ordered-fold idiom — never a
    * partitionless window, never a second corpus pass). Determinism:
    * lifetimes/counts are exact longs; the survival fold is a left fold in
    * t order whose only float ops are one divide, one subtract, one
    * multiply per step, 6-dp rounded BEFORE the next step reads it (the
    * round-before-reuse rule), mirrored element-for-element by the oracle.
    */
  def kmSurvival(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables
      .events(spark, dir)
      .select(
        col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).cast("long").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val tot = users
      .groupBy()
      .agg(max(col("last_day")).as("max_day"), count(lit(1)).as("n_users"))
    val byT = users
      .crossJoin(broadcast(tot)) // 1-row frontier + population, bounded
      .select(
        (col("last_day") - col("first_day")).as("t"),
        (col("last_day") > col("max_day") - lit(SurvCensorDays)).as("censored"))
      .groupBy(col("t"))
      .agg(
        sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
    val packed = byT
      .groupBy()
      .agg(sort_array(collect_list(struct(col("t"), col("d"), col("c")))).as("arr"))
      .crossJoin(broadcast(tot.select(col("n_users")))) // 1×1
    byT
      .crossJoin(broadcast(packed))
      .selectExpr("t", "d", "c", "arr", "n_users",
        "size(filter(arr, e -> e.t < t)) AS i0")
      .selectExpr(
        "t",
        "CAST(n_users - aggregate(slice(arr, 1, i0), 0L, (a, e) -> a + e.d + e.c) AS BIGINT) AS n_risk",
        "d AS n_churn",
        "c AS n_censored",
        """aggregate(slice(arr, 1, i0 + 1),
             named_struct('rem', CAST(n_users AS BIGINT), 's', CAST(1.0 AS DOUBLE)),
             (a, e) -> named_struct(
               'rem', a.rem - e.d - e.c,
               's', round(a.s * (CAST(1.0 AS DOUBLE) - CAST(e.d AS DOUBLE) / CAST(a.rem AS DOUBLE)), 6)),
             a -> a.s) AS survival""")
      .orderBy(col("t"))
  }

  /** q172 oracle: identical user grain, censor rule, and the SAME left
    * fold in t order, spelled as a RECURSIVE CTE over the ordered event-
    * time list rather than `list_reduce` — DuckDB 1.0.0's list_reduce
    * returns NULL for the row with the longest list when that row leads
    * the vectorized batch (reproduced standalone; row order off parquet
    * made q172's largest-t row first). The recursion computes the exact
    * per-step (rem, s) sequence Spark's `aggregate` fold does — one
    * divide/subtract/multiply per step, 6-dp rounded before the next step
    * — and each output row joins its prefix length. Float literals pinned
    * to DOUBLE (a bare 1.0 is DECIMAL in DuckDB and would change every
    * product's rounding).
    */
  val kmSurvivalSql: String =
    s"""WITH RECURSIVE q172u AS MATERIALIZED (
       |  SELECT user_id, min(date_diff('day', DATE '1970-01-01', ts::DATE))::BIGINT AS first_day,
       |    max(date_diff('day', DATE '1970-01-01', ts::DATE))::BIGINT AS last_day
       |  FROM events GROUP BY user_id),
       |q172t AS (SELECT max(last_day) AS max_day, count(*)::BIGINT AS n_users FROM q172u),
       |q172b AS (
       |  SELECT last_day - first_day AS t,
       |    sum(CASE WHEN last_day > max_day - $SurvCensorDays THEN 0 ELSE 1 END)::BIGINT AS d,
       |    sum(CASE WHEN last_day > max_day - $SurvCensorDays THEN 1 ELSE 0 END)::BIGINT AS c
       |  FROM q172u CROSS JOIN q172t GROUP BY 1),
       |q172a AS (
       |  SELECT list(struct_pack(t := t, d := d, c := c) ORDER BY t) AS L,
       |    any_value(n_users) AS n_users
       |  FROM q172b CROSS JOIN q172t),
       |q172r AS (
       |  SELECT 0::BIGINT AS i, a.n_users AS rem, 1.0::DOUBLE AS s FROM q172a a
       |  UNION ALL
       |  SELECT r.i + 1, r.rem - a.L[(r.i + 1)::INT].d - a.L[(r.i + 1)::INT].c,
       |    round(r.s * (1.0::DOUBLE - a.L[(r.i + 1)::INT].d::DOUBLE / r.rem::DOUBLE), 6)
       |  FROM q172r r CROSS JOIN q172a a WHERE r.i < len(a.L))
       |SELECT b.t, rpre.rem::BIGINT AS n_risk, b.d AS n_churn, b.c AS n_censored,
       |  rcur.s AS survival
       |FROM q172b b CROSS JOIN q172a a
       |JOIN q172r rpre ON rpre.i = len(list_filter(a.L, x -> x.t < b.t))
       |JOIN q172r rcur ON rcur.i = len(list_filter(a.L, x -> x.t < b.t)) + 1
       |ORDER BY b.t""".stripMargin

  // --- q237: two-sample log-rank test over user lifetimes ---------------------

  /** Two-sample log-rank test (Mantel 1966) of user lifetimes between the
    * hash-assigned experiment arms — the survival-curve companion to
    * q226's mean-uplift readout: "did the treatment change WHEN users
    * churn, not just how much they spend?" Uses q172's exact lifetime and
    * censoring semantics (a user active within [[SurvCensorDays]] of the
    * corpus frontier is censored, their partial information still moves
    * the at-risk denominators), q226's deterministic
    * `pmod(xxhash64(user_id), 2)` arm coin. Per distinct lifetime t:
    * arm-1 observed deaths `O₁ = Σ d₁ₜ`, hypergeometric expectation
    * `E₁ = Σ dₜ·n₁ₜ/nₜ`, variance
    * `V = Σ dₜ·(n₁ₜ/nₜ)·(n₀ₜ/nₜ)·(nₜ−dₜ)/(nₜ−1)`, and the z / χ²
    * statistics.
    *
    * Scale shape: ONE user-keyed aggregate collapses the corpus; the
    * lifetime table is ≤|days| distinct-t rows and the at-risk suffix
    * counts ride the q172 collected-array fold (bounded by the day
    * domain — never a second corpus pass, never a partitionless window).
    * Determinism: counts are exact longs; per-t E/V terms are
    * identically-shaped IEEE doubles micro-quantized before the bounded
    * fold (§4 rule); z/χ² read the published integer-micro sums.
    */
  def logrankTest(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables
      .events(spark, dir)
      .select(
        col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).cast("long").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .withColumn("arm", pmod(xxhash64(col("user_id")), lit(2L)))
    val tot = users
      .groupBy()
      .agg(
        max(col("last_day")).as("max_day"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"))
    val byT = users
      .crossJoin(broadcast(tot))
      .select(
        (col("last_day") - col("first_day")).as("t"),
        col("arm"),
        (col("last_day") > col("max_day") - lit(SurvCensorDays)).as("censored"))
      .groupBy(col("t"))
      .agg(
        sum(when(!col("censored") && col("arm") === 1L, 1L).otherwise(0L)).as("d1"),
        sum(when(!col("censored") && col("arm") === 0L, 1L).otherwise(0L)).as("d0"),
        sum(when(col("censored") && col("arm") === 1L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("censored") && col("arm") === 0L, 1L).otherwise(0L)).as("c0"))
    val packed = byT
      .groupBy()
      .agg(sort_array(collect_list(struct(
        col("t"), col("d1"), col("d0"), col("c1"), col("c0")))).as("arr"))
      .crossJoin(broadcast(tot))
    val sums = byT
      .crossJoin(broadcast(packed))
      .selectExpr("t", "d1", "d0", "arr", "n1", "n0",
        "size(filter(arr, e -> e.t < t)) AS i0")
      .selectExpr(
        "d1",
        "CAST(n1 - aggregate(slice(arr, 1, i0), 0L, (a, e) -> a + e.d1 + e.c1) AS DOUBLE) AS r1",
        "CAST(n0 - aggregate(slice(arr, 1, i0), 0L, (a, e) -> a + e.d0 + e.c0) AS DOUBLE) AS r0",
        "CAST(d1 + d0 AS DOUBLE) AS dt")
      .selectExpr(
        "d1",
        """CASE WHEN dt > 0.0 THEN
             CAST(round(dt * (r1 / (r1 + r0)) * 1000000.0, 0) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS e1m""",
        """CASE WHEN dt > 0.0 AND r1 + r0 > 1.0 THEN
             CAST(round(dt * (r1 / (r1 + r0)) * (r0 / (r1 + r0))
               * ((r1 + r0 - dt) / (r1 + r0 - 1.0)) * 1000000.0, 0) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS vm""")
      .agg(sum(col("d1")).as("o1"), sum(col("e1m")).as("e1s"), sum(col("vm")).as("vs"))
    sums
      .crossJoin(tot)
      .selectExpr(
        "n1 + n0 AS n_users", "n1 AS n_treat", "n0 AS n_control",
        "o1 AS obs_treat",
        "round(CAST(e1s AS DOUBLE) / 1000000.0, 6) AS exp_treat",
        "round(CAST(vs AS DOUBLE) / 1000000.0, 6) AS variance",
        """CASE WHEN vs > 0 THEN
             round((CAST(o1 AS DOUBLE) - CAST(e1s AS DOUBLE) / 1000000.0)
               / sqrt(CAST(vs AS DOUBLE) / 1000000.0), 6) END AS z""",
        """CASE WHEN vs > 0 THEN
             round((CAST(o1 AS DOUBLE) - CAST(e1s AS DOUBLE) / 1000000.0)
               * (CAST(o1 AS DOUBLE) - CAST(e1s AS DOUBLE) / 1000000.0)
               / (CAST(vs AS DOUBLE) / 1000000.0), 6) END AS chi2""")
  }

  /** q237 oracle: the arm hash through [[graft.functions.DuckHash]], q172's
    * lifetime/censor CTEs, window prefix sums for the at-risk counts
    * (windows are fine oracle-side), and textually identical micro-
    * quantized E/V terms and z/χ² shapes.
    */
  lazy val logrankTestSql: String = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      "q237u" ->
        """(SELECT user_id, min(date_diff('day', DATE '1970-01-01', ts::DATE))::BIGINT AS first_day,
          |    max(date_diff('day', DATE '1970-01-01', ts::DATE))::BIGINT AS last_day
          |  FROM events GROUP BY user_id)""".stripMargin,
      "q237du" -> "(SELECT user_id, user_id::HUGEINT AS l, first_day, last_day FROM q237u)"
    )
    val ch = new SqlChain("q237h", "q237du", Seq("user_id", "l", "first_day", "last_day"))
    hashLongLevels(ch, toUnsigned("l"), "42", "h")
    ctes ++= ch.ctes
    ctes += ("q237a" ->
      s"""(SELECT user_id, first_day, last_day,
         |    (((${toSigned("h")} % 2) + 2) % 2)::BIGINT AS arm FROM ${ch.last})""".stripMargin)
    ctes += ("q237t" ->
      """(SELECT max(last_day) AS max_day,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
        |  FROM q237a)""".stripMargin)
    ctes += ("q237b" ->
      s"""(SELECT last_day - first_day AS t,
         |    CAST(sum(CASE WHEN last_day <= max_day - $SurvCensorDays AND arm = 1
         |      THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(sum(CASE WHEN last_day <= max_day - $SurvCensorDays AND arm = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS d0,
         |    CAST(sum(CASE WHEN last_day > max_day - $SurvCensorDays AND arm = 1
         |      THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN last_day > max_day - $SurvCensorDays AND arm = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS c0
         |  FROM q237a CROSS JOIN q237t GROUP BY 1)""".stripMargin)
    ctes += ("q237r" ->
      """(SELECT d1, d0,
        |    CAST(n1 - (sum(d1 + c1) OVER (ORDER BY t) - (d1 + c1)) AS DOUBLE) AS r1,
        |    CAST(n0 - (sum(d0 + c0) OVER (ORDER BY t) - (d0 + c0)) AS DOUBLE) AS r0,
        |    CAST(d1 + d0 AS DOUBLE) AS dt
        |  FROM q237b CROSS JOIN q237t)""".stripMargin)
    ctes += ("q237s" ->
      """(SELECT CAST(sum(d1) AS BIGINT) AS o1,
        |    CAST(sum(CASE WHEN dt > 0.0 THEN
        |      CAST(round(dt * (r1 / (r1 + r0)) * 1000000.0, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS e1s,
        |    CAST(sum(CASE WHEN dt > 0.0 AND r1 + r0 > 1.0 THEN
        |      CAST(round(dt * (r1 / (r1 + r0)) * (r0 / (r1 + r0))
        |        * ((r1 + r0 - dt) / (r1 + r0 - 1.0)) * 1000000.0, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS vs
        |  FROM q237r)""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT n1 + n0 AS n_users, n1 AS n_treat, n0 AS n_control,
        |  o1 AS obs_treat,
        |  round(e1s::DOUBLE / 1000000.0, 6) AS exp_treat,
        |  round(vs::DOUBLE / 1000000.0, 6) AS variance,
        |  CASE WHEN vs > 0 THEN
        |    round((o1::DOUBLE - e1s::DOUBLE / 1000000.0)
        |      / sqrt(vs::DOUBLE / 1000000.0), 6) END AS z,
        |  CASE WHEN vs > 0 THEN
        |    round((o1::DOUBLE - e1s::DOUBLE / 1000000.0)
        |      * (o1::DOUBLE - e1s::DOUBLE / 1000000.0)
        |      / (vs::DOUBLE / 1000000.0), 6) END AS chi2
        |FROM q237s, q237t""".stripMargin)
  }

  // --- q244: Kaplan–Meier with Greenwood variance bands ----------------------

  /** q172's Kaplan–Meier curve with Greenwood (1926) standard errors and
    * the 95 % plain-scale confidence band — the uncertainty q172's point
    * estimate hides: a cohort's S(t) = 0.3 read off 10 at-risk users and
    * off 10,000 are different facts, and the band is what makes the churn
    * curve decision-grade (clamped to [0,1]; the log-log transform is the
    * usual refinement, the plain band is the published-constant one).
    * `Var(S) = S²·Σ_{tᵢ≤t} dᵢ/(nᵢ(nᵢ−dᵢ))`, accumulated in the SAME
    * ordered fold that builds S itself.
    *
    * Scale shape: identical to q172 — one user-keyed collapse, a ≤|days|
    * bounded lifetime table, the collected-array left fold; the fold just
    * carries one more accumulator (the Greenwood sum, 12-dp rounded
    * before the next step reads it — the round-before-reuse rule at a
    * scale fine enough that the 6-dp published SE absorbs it). Steps with
    * nᵢ = dᵢ (everyone at risk dies) push S to 0 and the Greenwood sum is
    * left unchanged (its term is undefined there; SE honestly 0 at S=0).
    */
  def kmGreenwood(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables
      .events(spark, dir)
      .select(
        col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).cast("long").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val tot = users
      .groupBy()
      .agg(max(col("last_day")).as("max_day"), count(lit(1)).as("n_users"))
    val byT = users
      .crossJoin(broadcast(tot))
      .select(
        (col("last_day") - col("first_day")).as("t"),
        (col("last_day") > col("max_day") - lit(SurvCensorDays)).as("censored"))
      .groupBy(col("t"))
      .agg(
        sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
    val packed = byT
      .groupBy()
      .agg(sort_array(collect_list(struct(col("t"), col("d"), col("c")))).as("arr"))
      .crossJoin(broadcast(tot.select(col("n_users"))))
    byT
      .crossJoin(broadcast(packed))
      .selectExpr("t", "d", "c", "arr", "n_users",
        "size(filter(arr, e -> e.t < t)) AS i0")
      .selectExpr(
        "t",
        "CAST(n_users - aggregate(slice(arr, 1, i0), 0L, (a, e) -> a + e.d + e.c) AS BIGINT) AS n_risk",
        "d AS n_churn",
        "c AS n_censored",
        """aggregate(slice(arr, 1, i0 + 1),
             named_struct('rem', CAST(n_users AS BIGINT),
               's', CAST(1.0 AS DOUBLE), 'g', CAST(0.0 AS DOUBLE)),
             (a, e) -> named_struct(
               'rem', a.rem - e.d - e.c,
               's', round(a.s * (CAST(1.0 AS DOUBLE) - CAST(e.d AS DOUBLE) / CAST(a.rem AS DOUBLE)), 6),
               'g', CASE WHEN a.rem > e.d THEN
                 round(a.g + CAST(e.d AS DOUBLE)
                   / (CAST(a.rem AS DOUBLE) * CAST(a.rem - e.d AS DOUBLE)), 12)
                 ELSE a.g END),
             a -> named_struct('s', a.s, 'g', a.g)) AS fin""")
      .selectExpr("t", "n_risk", "n_churn", "n_censored",
        "fin.s AS survival",
        "round(fin.s * sqrt(fin.g), 6) AS se",
        "greatest(round(fin.s - CAST(" + StatsOps.ZAlphaTwoSided + " AS DOUBLE) * fin.s * sqrt(fin.g), 6), CAST(0.0 AS DOUBLE)) AS ci_lo",
        "least(round(fin.s + CAST(" + StatsOps.ZAlphaTwoSided + " AS DOUBLE) * fin.s * sqrt(fin.g), 6), CAST(1.0 AS DOUBLE)) AS ci_hi")
      .orderBy(col("t"))
  }

  /** q244 oracle: q172's recursive-CTE fold extended with the Greenwood
    * accumulator — same per-step round-before-reuse (6 dp on S, 12 dp on
    * the Greenwood sum), same n=d guard, same published-constant band.
    */
  val kmGreenwoodSql: String =
    s"""WITH RECURSIVE q244u AS MATERIALIZED (
       |  SELECT user_id, min(date_diff('day', DATE '1970-01-01', ts::DATE))::BIGINT AS first_day,
       |    max(date_diff('day', DATE '1970-01-01', ts::DATE))::BIGINT AS last_day
       |  FROM events GROUP BY user_id),
       |q244t AS (SELECT max(last_day) AS max_day, count(*)::BIGINT AS n_users FROM q244u),
       |q244b AS (
       |  SELECT last_day - first_day AS t,
       |    sum(CASE WHEN last_day > max_day - $SurvCensorDays THEN 0 ELSE 1 END)::BIGINT AS d,
       |    sum(CASE WHEN last_day > max_day - $SurvCensorDays THEN 1 ELSE 0 END)::BIGINT AS c
       |  FROM q244u CROSS JOIN q244t GROUP BY 1),
       |q244a AS (
       |  SELECT list(struct_pack(t := t, d := d, c := c) ORDER BY t) AS L,
       |    any_value(n_users) AS n_users
       |  FROM q244b CROSS JOIN q244t),
       |q244r AS (
       |  SELECT 0::BIGINT AS i, a.n_users AS rem, 1.0::DOUBLE AS s, 0.0::DOUBLE AS g FROM q244a a
       |  UNION ALL
       |  SELECT r.i + 1, r.rem - a.L[(r.i + 1)::INT].d - a.L[(r.i + 1)::INT].c,
       |    round(r.s * (1.0::DOUBLE - a.L[(r.i + 1)::INT].d::DOUBLE / r.rem::DOUBLE), 6),
       |    CASE WHEN r.rem > a.L[(r.i + 1)::INT].d THEN
       |      round(r.g + a.L[(r.i + 1)::INT].d::DOUBLE
       |        / (r.rem::DOUBLE * (r.rem - a.L[(r.i + 1)::INT].d)::DOUBLE), 12)
       |    ELSE r.g END
       |  FROM q244r r CROSS JOIN q244a a WHERE r.i < len(a.L))
       |SELECT b.t, rpre.rem::BIGINT AS n_risk, b.d AS n_churn, b.c AS n_censored,
       |  rcur.s AS survival,
       |  round(rcur.s * sqrt(rcur.g), 6) AS se,
       |  greatest(round(rcur.s - CAST(${StatsOps.ZAlphaTwoSided} AS DOUBLE) * rcur.s * sqrt(rcur.g), 6), 0.0::DOUBLE) AS ci_lo,
       |  least(round(rcur.s + CAST(${StatsOps.ZAlphaTwoSided} AS DOUBLE) * rcur.s * sqrt(rcur.g), 6), 1.0::DOUBLE) AS ci_hi
       |FROM q244b b CROSS JOIN q244a a
       |JOIN q244r rpre ON rpre.i = len(list_filter(a.L, x -> x.t < b.t))
       |JOIN q244r rcur ON rcur.i = len(list_filter(a.L, x -> x.t < b.t)) + 1
       |ORDER BY b.t""".stripMargin

  // --- q199: transition-anomaly residuals ------------------------------------

  /** Rare/forbidden-transition audit over q103's first-order Markov
    * grain: for every (cur, nxt) cell of the OBSERVED-MARGIN grid —
    * types seen at least once as `cur` crossed with types seen at least
    * once as `nxt` — the observed count, the independence expectation
    * `e = rowTot·colTot/N`, and the Pearson standardized residual
    * `(o − e)/√e`. Cells whose margins are both observed but whose
    * transition never occurs get o = 0 and a real negative residual (an
    * anomalously ABSENT transition never appears in q103 at all); a type
    * absent from an entire axis is excluded — its margin total is 0, so
    * e = 0 and the residual is undefined (0/0), carrying no signal.
    * Large positive residuals are sticky machine-like paths, large
    * negative ones transitions the product makes impossible (or a bot
    * AVOIDS — the q186 screen reads both tails); q103 reports the
    * observed matrix, this scores its STRUCTURE against the
    * no-structure null.
    *
    * Scale shape: one user-keyed lead window (q103's pass) → the bounded
    * (cur, nxt) count table (persisted); margins and the grid are
    * aggregates OF that table (|types| rows each, broadcast) — the grid
    * crossJoin multiplies two bounded dimension aggregates, never data.
    * Exactness: e is one division of exact integer products; √ is
    * IEEE-correctly-rounded, so the residual is one identical double
    * composition, rounded at the end.
    */
  def transitionAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val m = graft.core.CacheScope.persist(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("cur"))
        .withColumn("nxt", lead(col("cur"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("cur"), col("nxt"))
        .agg(count(lit(1)).as("o")))
    val rows = m.groupBy(col("cur")).agg(sum(col("o")).as("rt"))
    val cols = m.groupBy(col("nxt")).agg(sum(col("o")).as("ct"))
    val tot  = m.agg(sum(col("o")).as("nn"))
    rows
      .crossJoin(broadcast(cols))
      .crossJoin(broadcast(tot))
      .join(m, Seq("cur", "nxt"), "left")
      .select(
        col("cur"), col("nxt"),
        coalesce(col("o"), lit(0L)).as("o"),
        ((col("rt") * col("ct")).cast("double") / col("nn").cast("double")).as("e"))
      .withColumn("resid",
        round((col("o").cast("double") - col("e")) / sqrt(col("e")), 6))
      .select(
        col("cur"), col("nxt"), col("o"),
        round(col("e"), 6).as("expected"),
        col("resid"),
        (abs(col("resid")) > 3.0).as("flagged"))
      .orderBy(col("cur"), col("nxt"))
  }

  /** q199 oracle: q103's lead pass, same margins, same exact-integer
    * expectation and residual composition.
    */
  val transitionAnomalySql: String =
    """WITH s AS (
      |  SELECT event_type AS cur,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY date_trunc('microsecond', ts), event_id) AS nxt
      |  FROM events),
      |m AS (SELECT cur, nxt, count(*)::BIGINT AS o FROM s WHERE nxt IS NOT NULL GROUP BY cur, nxt),
      |r AS (SELECT cur, CAST(sum(o) AS BIGINT) AS rt FROM m GROUP BY cur),
      |c AS (SELECT nxt, CAST(sum(o) AS BIGINT) AS ct FROM m GROUP BY nxt),
      |t AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM m),
      |g AS (
      |  SELECT r.cur, c.nxt, coalesce(m.o, 0)::BIGINT AS o,
      |    CAST(r.rt * c.ct AS DOUBLE) / CAST(t.nn AS DOUBLE) AS e
      |  FROM r CROSS JOIN c CROSS JOIN t
      |  LEFT JOIN m ON m.cur = r.cur AND m.nxt = c.nxt)
      |SELECT cur, nxt, o, round(e, 6) AS expected,
      |  round((CAST(o AS DOUBLE) - e) / sqrt(e), 6) AS resid,
      |  abs(round((CAST(o AS DOUBLE) - e) / sqrt(e), 6)) > 3.0 AS flagged
      |FROM g
      |ORDER BY cur, nxt""".stripMargin
}
