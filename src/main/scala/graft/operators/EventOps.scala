package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytic/windowed surface over the `events` stream-shaped table
  * (SURVEY.md §2.5, §2.9). The reference's only "streaming" is its stdin
  * query REPL (`main.go:190-213`); these are the batch forms of the
  * streaming operators — the same expressions run under Structured
  * Streaming in [[graft.streaming.EventsStream]].
  *
  * Scale notes: windowed aggregation shuffles once on (bucket, type);
  * per-user windows shuffle once on user_id and AQE splits skewed users;
  * running sums stay inside one partition per user (no cross-partition
  * frame).
  */
object EventOps {

  /** Q-json-events: schema-on-read over the JSON `props` column
    * (SURVEY.md §2.8 json family). The extraction is a map-side
    * projection; only (event_type, props) are read from Parquet. */
  def jsonEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val jsonEventsSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q-window-events: tumbling 1-hour windowed aggregate — the batch form
    * of `groupBy(window($"ts", ...))`. Window start is emitted as a
    * formatted string so both engines hash identical values. */
  def windowEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 3).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("bucket"), col("event_type"))

  val windowEventsSql: String =
    """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS bucket,
      |  event_type, COUNT(*) AS n_events, ROUND(SUM(value), 3) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  /** Q-window-sliding: SLIDING 1-hour windows every 15 minutes — each
    * event contributes to exactly 4 overlapping windows. Spark's
    * `window(ts, size, slide)` enumerates the windows natively; the
    * oracle enumerates them explicitly (start = 15-min bucket − k·15 min,
    * k ∈ 0..3 — the k ≤ size/slide − 1 windows that contain ts). Both
    * align to the epoch, so starts agree bit-for-bit. */
  def windowSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n_events"))
      .orderBy(col("bucket"), col("event_type"))

  val windowSlidingSql: String =
    """SELECT strftime(time_bucket(INTERVAL 15 MINUTE, ts) - k.k * INTERVAL 15 MINUTE,
      |                '%Y-%m-%d %H:%M:%S') AS bucket,
      |  event_type, COUNT(*) AS n_events
      |FROM events, range(0, 4) k(k)
      |GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  /** Q-sessionize: gap-based sessionization (30-min inactivity closes a
    * session) via lag over a per-user time-ordered window — the batch
    * equivalent of `session_window` (SURVEY.md §2.9). */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionCountsPerUser(Tables.events(spark, dir), gapSecs = 1800L)

  /** The sessionization core — callable on any events frame so the
    * hand-computed semantics tests exercise THIS code, not a copy. A gap
    * strictly greater than `gapSecs` opens a new session. */
  def sessionCountsPerUser(events: DataFrame, gapSecs: Long): DataFrame = {
    val byUserTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUserTime))
      .withColumn("new_session",
        (col("prev_us").isNull ||
          (unix_micros(col("ts")) - col("prev_us")) > gapSecs * 1000000L).cast("int"))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val sessionizeSql: String =
    """WITH gaps AS (
      |  SELECT user_id,
      |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT user_id,
      |  CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events
      |FROM gaps GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Q-running-sum: per-user running total (rows-frame window, W3).
    * Frame order is total (ts, event_id) so the sequential double
    * accumulation is identical in both engines. */
  def runningSum(spark: SparkSession, dir: String): DataFrame = {
    val frame = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        round(sum(col("value")).over(frame), 3).as("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val runningSumSql: String =
    """SELECT event_id, user_id,
      |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3)
      |    AS running_value
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** Q-lag-lead: analytic functions over the event stream (W2): time since
    * the user's previous event and type of their next one. */
  def lagLead(spark: SparkSession, dir: String): DataFrame = {
    val byUserTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        floor((unix_micros(col("ts")) -
          lag(unix_micros(col("ts")), 1).over(byUserTime)) / 1000000L)
          .cast("long").as("secs_since_prev"),
        lead(col("event_type"), 1).over(byUserTime).as("next_type"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val lagLeadSql: String =
    """SELECT event_id, user_id, event_type,
      |  (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) // 1000000 AS secs_since_prev,
      |  LEAD(event_type) OVER w AS next_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** Q-distinct-users: exact distinct-count per type (A6 exact half; the
    * approximate HLL half is q_approx_distinct, rows-only — sketch
    * implementations differ across engines by design). */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  val distinctUsersSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q-approx-distinct: HyperLogLog++ distinct estimate (A6 approx half).
    * No oracle — DuckDB's approx sketch is a different implementation, so
    * the driver's rows-only check applies; ScalaTest bounds the estimate
    * against the exact count instead. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy(col("event_type"))

  /** Q-approx-quantiles: sketch-based percentiles per event_type
    * (Greenwald–Khanna summaries, mergeable map-side partials — the
    * 100 TB path where the EXACT q_percentiles' per-group sort is the
    * price of exactness). Declared rows-only like q_approx_distinct:
    * DuckDB's approx_quantile is a different sketch (t-digest), so
    * there is no bit-exact oracle BY CONSTRUCTION; the rank-error
    * contract (ε = 0.01 vs the exact quantiles) is asserted in
    * ProfilingOpsSpec instead. */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(100)).as("p50"),
        percentile_approx(col("value"), lit(0.95), lit(100)).as("p95"),
        percentile_approx(col("value"), lit(0.99), lit(100)).as("p99"))
      .orderBy(col("event_type"))

  /** Q-map-props: the metadata-map surface (SURVEY.md §2.8 map family —
    * the reference declares `map[string]string` metadata but never stores
    * it, bug B8). `props` is parsed into a real MapType and accessed with
    * map functions; the oracle extracts the same values via JSON (the
    * engines' map layouts differ, the VALUES must not). */
  def mapProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("m", from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType)))
      .select(col("event_id"),
        size(map_keys(col("m"))).as("n_keys"),
        element_at(col("m"), "k").as("k_value"))
      .orderBy(col("event_id"))

  val mapPropsSql: String =
    """SELECT event_id,
      |  len(json_keys(props)) AS n_keys,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
      |FROM events ORDER BY event_id""".stripMargin

  /** Q-pivot-events: per-user event-type counts pivoted to columns — the
    * DataFrame `pivot` surface with an explicit value list (no extra
    * distinct-values scan). Missing combinations coalesce to 0 so both
    * engines hash the same cells; the oracle is the portable
    * COUNT(...) FILTER form. */
  /** The explicit pivot value list, single-sourced: the Spark pivot, the
    * unpivot value columns, and both oracle SQLs are all derived from
    * this Seq, so a testdata event-type change touches one place. */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def pivotEvents(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
    p.select(col("user_id") +:
        eventTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy(col("user_id"))
  }

  val pivotEventsSql: String = {
    val cols = eventTypes
      .map(t => s"  COUNT(*) FILTER (WHERE event_type = '$t') AS n_$t")
      .mkString(",\n")
    s"SELECT user_id,\n$cols\nFROM events GROUP BY user_id ORDER BY user_id"
  }

  /** Q-unpivot-events: melt the pivoted frame back to long form with
    * `Dataset.unpivot` — the wide↔long round-trip a feature-engineering
    * pipeline does constantly. Zero cells survive the round-trip (the
    * pivot coalesced them), so the oracle enumerates every (user, metric)
    * combination via a VALUES cross join. */
  def unpivotEvents(spark: SparkSession, dir: String): DataFrame =
    pivotEvents(spark, dir)
      .unpivot(Array(col("user_id")), eventTypes.map(t => col(s"n_$t")).toArray,
        "metric", "n")
      .orderBy(col("user_id"), col("metric"))

  val unpivotEventsSql: String = {
    val vals = eventTypes.map(t => s"('n_$t','$t')").mkString(", ")
    s"""SELECT user_id, m.metric, COUNT(*) FILTER (WHERE event_type = m.ty) AS n
       |FROM events, (VALUES $vals) m(metric, ty)
       |GROUP BY user_id, m.metric
       |ORDER BY user_id, metric""".stripMargin
  }

  /** Q-cube-events: CUBE over (event_type, weekday) — all four grouping
    * combinations with labelled totals (A7's second half next to ROLLUP). */
  def cubeEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("weekday", date_format(col("ts"), "E"))
      .cube(col("event_type"), col("weekday"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 3).as("sum_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("weekday"), lit("ALL")).as("weekday"),
        col("n_events"), col("sum_value"))
      .orderBy(col("event_type"), col("weekday"))

  val cubeEventsSql: String =
    """SELECT COALESCE(event_type, 'ALL') AS event_type,
      |  COALESCE(strftime(ts, '%a'), 'ALL') AS weekday,
      |  COUNT(*) AS n_events, ROUND(SUM(value), 3) AS sum_value
      |FROM events
      |GROUP BY CUBE(event_type, strftime(ts, '%a'))
      |ORDER BY event_type, weekday""".stripMargin

  /** Q-funnel: strictly-ordered conversion funnel signup → view →
    * purchase. A user reaches stage k only with an event of that type
    * STRICTLY AFTER their earliest stage-(k−1) arrival — the sequential
    * semantics marketing funnels mean, not three independent existence
    * checks. Each stage is one filtered aggregate joined on user_id
    * (pre-aggregated before the join, so at 100 TB the join moves one row
    * per user, not per event; the type filter prunes the scan first).
    * Timestamps compare in integer micros — no FP, no TZ. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelStages(Tables.events(spark, dir),
      Seq("signup", "view", "purchase")).orderBy(col("stage"))

  /** The funnel core — callable on any events frame (hand-computed
    * semantics tests exercise THIS code) and over any stage sequence.
    * Stage k's arrival time is the min event time of its type strictly
    * after the user's stage-(k−1) arrival. */
  def funnelStages(events: DataFrame, stages: Seq[String]): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val arrivals = stages.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (t, _)) =>
        val st = ev.filter(col("event_type") === t)
        Some(prev match {
          case None => st.groupBy(col("user_id")).agg(min(col("us")).as("arr"))
          case Some(p) =>
            st.join(p.select(col("user_id"), col("arr").as("prev_arr")), "user_id")
              .filter(col("us") > col("prev_arr"))
              .groupBy(col("user_id")).agg(min(col("us")).as("arr"))
        })
    }.flatten
    stages.zip(arrivals).zipWithIndex.map { case ((t, df), k) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit(s"${k + 1}_$t").as("stage"), col("users"))
    }.reduce(_ unionByName _)
  }

  val funnelSql: String =
    """WITH a AS (SELECT user_id, MIN(epoch_us(ts)) AS ta FROM events
      |           WHERE event_type = 'signup' GROUP BY user_id),
      |b AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS tb
      |      FROM events e JOIN a ON e.user_id = a.user_id
      |      WHERE e.event_type = 'view' AND epoch_us(e.ts) > a.ta
      |      GROUP BY e.user_id),
      |c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS tc
      |      FROM events e JOIN b ON e.user_id = b.user_id
      |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > b.tb
      |      GROUP BY e.user_id)
      |SELECT '1_signup' AS stage, COUNT(*) AS users FROM a
      |UNION ALL SELECT '2_view', COUNT(*) FROM b
      |UNION ALL SELECT '3_purchase', COUNT(*) FROM c
      |ORDER BY stage""".stripMargin

  /** Q-retention: classic cohort-retention matrix — users grouped by
    * first-seen day, distinct-counted at each day offset 0–7. Two
    * shuffles: the per-user min (reduces events → users before anything
    * else moves) and the cohort-cell distinct count. Dates emitted as
    * formatted strings (oracle-parity rule for derived time values). */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), to_date(col("ts")).as("d"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("d")).as("c0"))
    ev.join(cohort, "user_id")
      .withColumn("offset", datediff(col("d"), col("c0")))
      .filter(col("offset") <= 7)
      .groupBy(date_format(col("c0"), "yyyy-MM-dd").as("cohort"), col("offset"))
      .agg(countDistinct(col("user_id")).as("users"))
      .orderBy(col("cohort"), col("offset"))
  }

  val retentionSql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |cohort AS (SELECT user_id, MIN(d) AS c0 FROM ev GROUP BY user_id)
      |SELECT strftime(c0, '%Y-%m-%d') AS cohort,
      |  datediff('day', c0, d) AS "offset",
      |  COUNT(DISTINCT ev.user_id) AS users
      |FROM ev JOIN cohort ON ev.user_id = cohort.user_id
      |WHERE datediff('day', c0, d) <= 7
      |GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin

  /** Q-anomaly: z-score outliers per event_type (|z| > 3). The moments are
    * computed over DECIMAL casts — the testdata values are exact 2-decimal
    * doubles, so Σv and Σv² are exact integers-in-decimal and the
    * engine-dependent double-accumulation-order problem never arises; the
    * final mean/variance/z arithmetic runs in double from identical exact
    * inputs, so it is bit-identical too. One partial-aggregated pass for
    * the 5 per-type moment rows (broadcast back), one map-side scoring
    * pass — the profiling shape that scales to any corpus. */
  def anomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val moments = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("s"),
        sum((col("value").cast("decimal(12,2)") * col("value").cast("decimal(12,2)"))
          .cast("decimal(24,4)")).cast("double").as("ssq"))
      .withColumn("mean", col("s") / col("n"))
      .withColumn("std", sqrt((col("ssq") - col("s") * col("s") / col("n")) / col("n")))
    ev.join(broadcast(moments), "event_type")
      .withColumn("z", round((col("value") - col("mean")) / col("std"), 6))
      .filter(abs(col("z")) > 3.0)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  val anomalySql: String =
    """WITH m AS (SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) AS DECIMAL(24,4))) AS DOUBLE) AS ssq
      |  FROM events GROUP BY event_type),
      |scored AS (SELECT event_id, e.event_type, value,
      |    ROUND((value - s / n) / sqrt((ssq - s * s / n) / n), 6) AS z
      |  FROM events e JOIN m ON e.event_type = m.event_type)
      |SELECT event_id, event_type, value, z FROM scored
      |WHERE abs(z) > 3.0 ORDER BY event_id""".stripMargin

  /** Q-transition: first-order Markov transition matrix over per-user
    * event sequences — the sequence-analytics complement of the funnel
    * (which checks ONE ordered path; this measures all of them). One
    * window pass for the lagged type, one partial-aggregated count, and
    * probabilities from exact integer counts (single division, round 6 —
    * no FP accumulation). */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val byUserTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("event_type"),
        lag(col("event_type"), 1).over(byUserTime).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("c"))
    val fromTotals = pairs.groupBy(col("prev_type")).agg(sum(col("c")).as("tot"))
    pairs.join(fromTotals, "prev_type")
      .select(col("prev_type"), col("next_type"), col("c"),
        round(col("c").cast("double") / col("tot").cast("double"), 6).as("p"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val transitionsSql: String =
    """WITH seq AS (SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |pairs AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS c
      |          FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev_type, CAST(SUM(c) AS BIGINT) AS tot FROM pairs GROUP BY prev_type)
      |SELECT prev_type, next_type, c,
      |  ROUND(CAST(c AS DOUBLE) / tot, 6) AS p
      |FROM pairs JOIN tot USING (prev_type)
      |ORDER BY prev_type, next_type""".stripMargin

  /** Q-time-decay: recency-weighted per-user engagement — each event
    * weighs 0.5^⌊age_days/7⌋ (one-week half-life against the fixed
    * anchor date after the testdata's last event), top-25 users by
    * decayed score. The weights are EXACT DYADIC DECIMALS (0.5^n for
    * n ≤ 8 is an 8-decimal-digit literal): the sum is exact and
    * order-free like the q_anomaly moments, so the score is
    * bit-identical across engines and partitionings — where a
    * `pow(0.5, age/7.0)` double fold would depend on both libm and
    * accumulation order. One partial-aggregated pass; the weight CASE is
    * map-side. */
  def timeDecay(spark: SparkSession, dir: String): DataFrame = {
    val halfLives = (0 to 8).map(n =>
      java.math.BigDecimal.valueOf(1L).divide(
        java.math.BigDecimal.valueOf(1L << n), 8, java.math.RoundingMode.UNNECESSARY))
    // clamp BOTH ends: an event after the anchor (negative age) weighs 1.0
    // — without the greatest() a future timestamp under-runs the weight
    // array (element_at index 0 throws; negative indexes silently read
    // from the end), and the oracle's CASE would fall to ELSE instead
    val weight = element_at(
      array(halfLives.map(w => lit(w).cast("decimal(12,8)")): _*),
      greatest(least(floor(datediff(lit(java.sql.Date.valueOf("2024-01-31")),
        col("ts").cast("date")) / 7).cast("int"), lit(8)), lit(0)) + 1)
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(weight).cast("double"), 6).as("decayed"))
      .orderBy(col("decayed").desc, col("user_id"))
      .limit(25)
  }

  val timeDecaySql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  ROUND(CAST(SUM(CASE GREATEST(LEAST(CAST(datediff('day', CAST(ts AS DATE), DATE '2024-01-31') AS INT) // 7, 8), 0)
      |    WHEN 0 THEN CAST('1' AS DECIMAL(12,8)) WHEN 1 THEN CAST('0.5' AS DECIMAL(12,8))
      |    WHEN 2 THEN CAST('0.25' AS DECIMAL(12,8)) WHEN 3 THEN CAST('0.125' AS DECIMAL(12,8))
      |    WHEN 4 THEN CAST('0.0625' AS DECIMAL(12,8)) WHEN 5 THEN CAST('0.03125' AS DECIMAL(12,8))
      |    WHEN 6 THEN CAST('0.015625' AS DECIMAL(12,8)) WHEN 7 THEN CAST('0.0078125' AS DECIMAL(12,8))
      |    ELSE CAST('0.00390625' AS DECIMAL(12,8)) END) AS DOUBLE), 6) AS decayed
      |FROM events GROUP BY user_id ORDER BY decayed DESC, user_id LIMIT 25""".stripMargin

  /** Q-minmax-norm: per-type min-max feature scaling — the standard
    * normalize-before-train primitive next to q_anomaly's z-scores. Range
    * stats are min/max (no summation at all, so no FP-accumulation-order
    * exposure to start with); the #types-row stats frame broadcasts back
    * for a map-side scoring pass. A degenerate type (max == min)
    * normalizes to 0.0 rather than dividing by zero. */
  def minmaxNorm(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val stats = ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("norm",
        when(col("vmax") === col("vmin"), lit(0.0))
          .otherwise(round((col("value") - col("vmin")) / (col("vmax") - col("vmin")), 6)))
      .select(col("event_id"), col("event_type"), col("value"), col("norm"))
      .orderBy(col("event_id"))
      .limit(2000)
  }

  val minmaxNormSql: String =
    """WITH st AS (SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
      |            FROM events GROUP BY event_type)
      |SELECT event_id, e.event_type, value,
      |  CASE WHEN vmax = vmin THEN 0.0
      |       ELSE ROUND((value - vmin) / (vmax - vmin), 6) END AS norm
      |FROM events e JOIN st ON e.event_type = st.event_type
      |ORDER BY event_id LIMIT 2000""".stripMargin

  /** Refresh cutoff for [[incrAgg]]: rows before it are the "already
    * materialized" aggregate, rows at/after it are the new partition. */
  val IncrAggCutoff = "2024-01-21"

  /** Q-incr-agg: INCREMENTAL aggregate maintenance — refresh a stored
    * per-type daily rollup with one new day-range's delta instead of
    * recomputing over the full history. The "materialized view" (the
    * pre-cutoff aggregate) persists ONCE per dataset under the index
    * cache (the q_ann_ivf_persisted / PCA-model createIfAbsent
    * discipline — built on first run, atomically installed, reused by
    * every later run), so the STEADY-STATE query reads #groups stored
    * rows plus the post-cutoff delta and never touches pre-cutoff
    * events; the merge re-aggregates the union of partial states. Works
    * because count/decimal-sum are
    * DISTRIBUTIVE: merge(agg(A), agg(B)) == agg(A ∪ B), which is exactly
    * what the oracle states (one flat aggregate over everything) — the
    * green gate IS the refresh-correctness proof.
    *
    * Scale shape: the delta aggregate scans ONE day-range partition (at
    * 100 TB the events table is date-partitioned, so this is partition
    * pruning, not a filter over history); the stored MV is #groups rows.
    * The exact-decimal sum is order-free, so merge order can never change
    * the result — the property that makes incremental refresh safe to
    * repeat/parallelize. AVG-style aggregates ride the same path as
    * (sum, count) pairs finalized at read time. */
  def incrAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"),
        col("value").cast("decimal(38,18)").as("v"))
    val cutoff = to_timestamp(lit(IncrAggCutoff))
    val mv = java.nio.file.Paths.get(
      graft.sources.IndexCatalog.cacheBase(dir), "incragg-mv-v1")
    // publish-if-absent: concurrent builders (bench + verify on one
    // sfDir) must never interleave part files into the shared location —
    // the loser's rename fails and its build is discarded (deterministic
    // content, so nothing is lost)
    graft.sources.Maintenance.publishIfAbsent(mv)(
      ev.filter(col("ts") < cutoff)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .coalesce(1)
        .write.mode("overwrite").parquet(_))
    val stored = spark.read.parquet(mv.toString)
    val delta = ev.filter(col("ts") >= cutoff)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    stored.unionByName(delta)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        round(sum(col("s")).cast("double"), 3).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val incrAggSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(38,18))) AS DOUBLE), 3) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Q-incr-distinct: INCREMENTAL DISTINCT-COUNT maintenance — the
    * non-distributive aggregate [[incrAgg]] cannot carry: COUNT(DISTINCT)
    * over partial states needs the states to be MERGEABLE, which exact
    * counts are not (distinct users of day A ∪ day B ≠ sum of per-day
    * distincts) — the textbook case for sketches. Per day the stored MV
    * keeps a Datasketches HLL sketch of the user ids (a few KB,
    * order-independent register state); a refresh computes ONLY the new
    * days' sketches and appends; any window's distinct estimate is one
    * `hll_union_agg` over the stored sketches — never a rescan of
    * history. Declared result: per-day estimates + a TOTAL row (the
    * all-days union).
    *
    * Rows-only BY DESIGN: sketch estimates are engine-specific (DuckDB's
    * approx_count_distinct is a different sketch family — the
    * q_approx_distinct precedent). The gates live in IncrDistinctSpec:
    * estimates within the HLL error envelope of exact counts, and the
    * INCREMENTAL result row-identical to a from-scratch rebuild (HLL
    * register state is update-order-independent, so merge(MV, delta)
    * must equal rebuild exactly — the sketch analog of incrAgg's
    * distributive-merge proof).
    *
    * Scale shape: the delta aggregate scans new partitions only
    * (partition pruning on a date-partitioned table); the MV is
    * #days × sketch-size. Union cost is #sketches, independent of row
    * count — the whole point at 100 TB. */
  def incrDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
    val mv = java.nio.file.Paths.get(
      graft.sources.IndexCatalog.cacheBase(dir), "hlldistinct-mv-v1")
    graft.sources.Maintenance.publishIfAbsent(mv)(
      ev.filter(col("day") < IncrAggCutoff)
        .groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .coalesce(1)
        .write.mode("overwrite").parquet(_))
    val stored = spark.read.parquet(mv.toString)
    val delta = ev.filter(col("day") >= IncrAggCutoff)
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val all = stored.unionByName(delta).localCheckpoint(true) // #days rows
    val daily = all.select(col("day"), hll_sketch_estimate(col("sk")).as("n_users_est"))
    val total = all
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_users_est"))
      .select(lit("TOTAL").as("day"), col("n_users_est"))
    daily.unionByName(total).orderBy(col("day"))
  }

  /** Q-anomaly-mad: ROBUST outlier detection — q_anomaly's z-score uses
    * mean/σ, which the outliers themselves inflate (one 1000× spike
    * raises σ enough to hide the 10× spikes — the classic masking
    * failure); the median/MAD pair is the standard robust replacement
    * (50% breakdown point). Per event type: median, the median absolute
    * deviation, and the count of values beyond 3 scaled MADs (1.4826 ·
    * MAD ≈ σ under normality, so the threshold is comparable to 3σ).
    *
    * Cross-engine discipline: every percentile result is ROUNDED to the
    * engine-portable 6 places at the boundary where it re-enters
    * arithmetic (q_percentiles proved `percentile` ↔ `quantile_cont`
    * parity on this data, but that precedent's inputs were 2-decimal
    * money — here values are arbitrary doubles, so a last-ulp
    * interpolation difference must never reach a strict comparison:
    * deviations derive from the rounded median, the outlier test
    * compares a rounded deviation against a rounded-MAD threshold, and
    * both engines therefore compare identical doubles).
    *
    * Scale shape: two grouped exact-percentile passes (each one shuffle
    * keyed by type) + one counting pass with the #types frame broadcast
    * back; at true scale the exact percentile swaps for the GK sketch
    * (q_approx_quantiles) with the same downstream shape. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val withDev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", round(abs(col("value") - col("med")), 6))
    val madF = withDev.groupBy(col("event_type"))
      .agg(round(expr("percentile(adev, 0.5)"), 6).as("mad"))
    withDev.join(broadcast(madF), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        max(col("med")).as("med_out"),
        max(col("mad")).as("mad_out"),
        sum(when(col("adev") > round(lit(3.0) * lit(1.4826) * col("mad"), 6), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"),
        col("med_out").as("med"), col("mad_out").as("mad"), col("n_outliers"))
      .orderBy(col("event_type"))
  }

  val anomalyMadSql: String =
    """WITH med AS (
      |  SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, ROUND(ABS(e.value - m.med), 6) AS adev, m.med
      |  FROM events e JOIN med m ON e.event_type = m.event_type),
      |madf AS (
      |  SELECT event_type, ROUND(quantile_cont(adev, 0.5), 6) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(d.med) AS med,
      |  MAX(f.mad) AS mad,
      |  CAST(COALESCE(SUM(CASE WHEN d.adev > ROUND(3.0 * 1.4826 * f.mad, 6)
      |                         THEN 1 END), 0) AS BIGINT) AS n_outliers
      |FROM dev d JOIN madf f ON d.event_type = f.event_type
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  /** Reference/current boundary for [[psiDrift]] — mid-corpus. */
  val PsiSplit = "2024-01-16"

  /** Fixed-width value bins for [[psiDrift]] (width 50, clamped to 10). */
  val PsiBins = 10

  /** Q-psi-drift: population-stability-index drift monitor — the
    * data-quality counterpart of q_ivf_drift's index monitor. Per event
    * type, the `value` distribution of the CURRENT window (from
    * [[PsiSplit]]) is compared to the REFERENCE window before it over
    * fixed-width bins: PSI = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref),
    * zero-count bins floored at the standard 10⁻⁴ so the log is total;
    * a bin empty in BOTH windows contributes (ε−ε)·ln 1 = 0, so the
    * sparse count frame needs no densification. The industry reading:
    * PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted.
    *
    * Scale shape: ONE corpus-sized count aggregation (map-side partial
    * over (type, bin, window)); the windowed totals and the log terms
    * live on the types·bins frame. The 10-term PSI sum quantizes each
    * double term to DECIMAL(38,20) — the q_pagerank contribution
    * discipline — so the partitioned sum is order-free and
    * hash-matches DuckDB's sequential one. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        (col("ts") >= lit(PsiSplit).cast("timestamp")).cast("int").as("cur"),
        greatest(least(floor(col("value") / 50).cast("int"),
          lit(PsiBins - 1)), lit(0)).as("bin"))
    val counts = ev.groupBy(col("event_type"), col("bin"))
      .agg(sum(lit(1) - col("cur")).as("n_ref"), sum(col("cur")).as("n_cur"))
    val w = Window.partitionBy(col("event_type"))
    // the zero-total guard is load-bearing, not defensive: a type with NO
    // reference window (it first appears after the split — exactly the
    // drift this monitor exists to catch) has t_ref = 0, and the division
    // would throw under ANSI before the ε floor could apply
    def share(n: String, t: String) = greatest(
      when(col(t) === 0, lit(0.0))
        .otherwise(col(n).cast("double") / col(t)), lit(1e-4))
    counts
      .withColumn("t_ref", sum(col("n_ref")).over(w))
      .withColumn("t_cur", sum(col("n_cur")).over(w))
      .withColumn("pr", share("n_ref", "t_ref"))
      .withColumn("pc", share("n_cur", "t_cur"))
      .groupBy(col("event_type"))
      .agg(max(col("t_ref")).as("n_ref"), max(col("t_cur")).as("n_cur"),
        round(sum(((col("pc") - col("pr")) * log(col("pc") / col("pr")))
          .cast("decimal(38,20)")).cast("double"), 6).as("psi"))
      .orderBy(col("event_type"))
  }

  val psiDriftSql: String =
    s"""WITH ev AS (SELECT event_type,
       |    CAST(ts >= TIMESTAMP '$PsiSplit' AS INT) AS cur,
       |    GREATEST(LEAST(CAST(FLOOR(value / 50) AS INT), ${PsiBins - 1}), 0) AS bin
       |  FROM events),
       |counts AS (SELECT event_type, bin,
       |    SUM(1 - cur) AS n_ref, SUM(cur) AS n_cur FROM ev GROUP BY 1, 2),
       |t AS (SELECT *,
       |    SUM(n_ref) OVER (PARTITION BY event_type) AS t_ref,
       |    SUM(n_cur) OVER (PARTITION BY event_type) AS t_cur FROM counts),
       |terms AS (SELECT event_type, t_ref, t_cur,
       |    GREATEST(CASE WHEN t_ref = 0 THEN 0.0
       |             ELSE CAST(n_ref AS DOUBLE) / t_ref END, 0.0001) AS pr,
       |    GREATEST(CASE WHEN t_cur = 0 THEN 0.0
       |             ELSE CAST(n_cur AS DOUBLE) / t_cur END, 0.0001) AS pc FROM t)
       |SELECT event_type,
       |  CAST(MAX(t_ref) AS BIGINT) AS n_ref, CAST(MAX(t_cur) AS BIGINT) AS n_cur,
       |  ROUND(CAST(SUM(CAST((pc - pr) * LN(pc / pr) AS DECIMAL(38,20))) AS DOUBLE), 6) AS psi
       |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_psi_drift" -> (psiDrift _),
    "q_incr_agg" -> (incrAgg _),
    "q_incr_distinct" -> (incrDistinct _),
    "q_minmax_norm" -> (minmaxNorm _),
    "q_time_decay" -> (timeDecay _),
    "q_transition" -> (transitions _),
    "q_anomaly" -> (anomaly _),
    "q_anomaly_mad" -> (anomalyMad _),
    "q_funnel" -> (funnel _),
    "q_retention" -> (retention _),
    "q_map_props" -> (mapProps _),
    "q_cube_events" -> (cubeEvents _),
    "q_pivot_events" -> (pivotEvents _),
    "q_unpivot_events" -> (unpivotEvents _),
    "q_json_events" -> (jsonEvents _),
    "q_window_events" -> (windowEvents _),
    "q_window_sliding" -> (windowSliding _),
    "q_sessionize" -> (sessionize _),
    "q_running_sum" -> (runningSum _),
    "q_lag_lead" -> (lagLead _),
    "q_distinct_users" -> (distinctUsers _),
    "q_approx_distinct" -> (approxDistinct _),
    "q_approx_quantiles" -> (approxQuantiles _))

  def oracles: Map[String, String] = Map(
    "q_psi_drift" -> psiDriftSql,
    "q_incr_agg" -> incrAggSql,
    "q_minmax_norm" -> minmaxNormSql,
    "q_time_decay" -> timeDecaySql,
    "q_transition" -> transitionsSql,
    "q_anomaly" -> anomalySql,
    "q_anomaly_mad" -> anomalyMadSql,
    "q_funnel" -> funnelSql,
    "q_retention" -> retentionSql,
    "q_map_props" -> mapPropsSql,
    "q_cube_events" -> cubeEventsSql,
    "q_pivot_events" -> pivotEventsSql,
    "q_unpivot_events" -> unpivotEventsSql,
    "q_json_events" -> jsonEventsSql,
    "q_window_events" -> windowEventsSql,
    "q_window_sliding" -> windowSlidingSql,
    "q_sessionize" -> sessionizeSql,
    "q_running_sum" -> runningSumSql,
    "q_lag_lead" -> lagLeadSql,
    "q_distinct_users" -> distinctUsersSql)
}
