package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics (SURVEY.md §2.6, §2.10 T3-T4 and the join
  * shapes the engine inherits): sessionization, as-of join, interval/range
  * join, pivot, cube. These are the batch duals of the Structured
  * Streaming operators in graft.streaming.
  *
  * Scale notes: every window partitions by user_id (the natural shuffle
  * key — no global sort); the as-of join is the forward-fill window form
  * (O(n log n) per key) rather than a quadratic range join; the range join
  * keeps an equi-key (user_id) so Spark plans sort-merge, not
  * nested-loop.
  */
object EventsOps {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** T4/session windows: 30-minute-gap sessionization per user (batch
    * form of session_window; lag → flag → running sum). */
  val q60Sessionize: QueryDef = QueryDef(
    "q60_sessionize",
    (s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(byUser))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("session_value"),
          min(col("ts")).as("session_start"))
        .orderBy(col("user_id"), col("session_id"))
    },
    Some("""SELECT user_id, session_id, count(*) AS n_events,
      round(sum(value), 2) AS session_value,
      CAST(min(ts) AS TIMESTAMP) AS session_start FROM (
        SELECT user_id, ts, value,
          CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM (
          SELECT user_id, event_id, ts, value,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                 THEN 1 ELSE 0 END AS new_session
          FROM events) f) g
      GROUP BY user_id, session_id ORDER BY user_id, session_id"""),
    headline = true)

  /** As-of join (forward-fill window form): each purchase joined to the
    * most recent prior error of the same user. */
  val q61AsofJoin: QueryDef = QueryDef(
    "q61_asof_join",
    (s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .withColumn("err_ts", when(col("event_type") === "error", col("ts")))
        .withColumn("last_err_ts", last(col("err_ts"), ignoreNulls = true).over(byUser))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("last_err_ts"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id,
      CAST(ts AS TIMESTAMP) AS purchase_ts,
      CAST(last_err_ts AS TIMESTAMP) AS last_err_ts FROM (
        SELECT event_id, user_id, ts, event_type,
          last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_err_ts
        FROM events) x
      WHERE event_type = 'purchase' ORDER BY event_id"""))

  /** Range join, BUCKETIZED (the published range-join optimization —
    * bin the time axis at the range width, join equi on (key, bin)
    * with the probe side exploded to its two candidate bins, exact
    * predicate after): a 300 s-window event can only land in the
    * error's own 300 s bucket or the next one, so the join key
    * becomes (user, bucket) and per-key work is bounded by events per
    * (user, 5 min) instead of events per user — the difference
    * between linear and quadratic on a hot key at 100 TB. Same
    * results as the plain equi-join + range filter by construction
    * (the exact predicates still apply after the bucket equi-join). */
  val q62RangeJoin: QueryDef = QueryDef(
    "q62_range_join",
    (s, dir) => {
      val e = ev(s, dir)
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id").as("err_user"), col("ts").as("err_ts"))
        .withColumn("b0", expr("floor(unix_timestamp(err_ts) / 300)"))
        .withColumn("eb", explode(array(col("b0"), col("b0") + 1)))
      val others = e.select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("b", expr("floor(unix_timestamp(ts) / 300)"))
      errors.join(others,
          col("err_user") === col("user_id") && col("eb") === col("b") &&
            col("event_id") =!= col("err_id") &&
            col("ts") >= col("err_ts") &&
            // timestamp→double keeps the microsecond fraction, exactly
            // like the oracle's epoch(); unix_timestamp would TRUNCATE
            // and disagree on gaps that straddle 300 s only fractionally
            col("ts").cast("double") - col("err_ts").cast("double") <= 300.0)
        .groupBy(col("err_id"))
        .agg(count(lit(1)).as("n_following"))
        .orderBy(col("err_id"))
    },
    Some("""SELECT e.event_id AS err_id, count(*) AS n_following
      FROM events e JOIN events o
        ON e.user_id = o.user_id AND o.event_id <> e.event_id
          AND o.ts >= e.ts AND epoch(o.ts) - epoch(e.ts) <= 300
      WHERE e.event_type = 'error'
      GROUP BY e.event_id ORDER BY err_id"""))

  /** Pivot: daily event counts, one column per event type. */
  val q63Pivot: QueryDef = QueryDef(
    "q63_pivot",
    (s, dir) =>
      ev(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy(col("day")),
    Some("""SELECT CAST(ts AS DATE) AS day,
      count(*) FILTER (WHERE event_type = 'click') AS click,
      count(*) FILTER (WHERE event_type = 'error') AS error,
      count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      count(*) FILTER (WHERE event_type = 'signup') AS signup,
      count(*) FILTER (WHERE event_type = 'view') AS view
      FROM events GROUP BY 1 ORDER BY day"""))

  /** Cube over (event_type, weekday) with explicit null-ordering. */
  val q64Cube: QueryDef = QueryDef(
    "q64_cube",
    (s, dir) =>
      ev(s, dir)
        .withColumn("weekday", dayofweek(col("ts")).cast("long"))
        .cube(col("event_type"), col("weekday"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("weekday")),
    Some("""SELECT event_type, weekday, count(*) AS n,
      round(sum(value), 2) AS total_value FROM (
        SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS weekday, value
        FROM events) e
      GROUP BY CUBE (event_type, weekday)
      ORDER BY event_type NULLS FIRST, weekday NULLS FIRST"""))

  /** q135's funnel-step CTEs (earliest signup, earliest view strictly
    * after it, earliest purchase strictly after that) as shared oracle
    * text — used verbatim by q135 and q194 so the latency percentiles
    * can never measure a different funnel than the counts. */
  private val funnelStepsSqlCtes =
    """s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |    WHERE event_type = 'signup' GROUP BY user_id),
      |  s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |    JOIN s1 ON e.user_id = s1.user_id
      |    WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id),
      |  s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |    JOIN s2 ON e.user_id = s2.user_id
      |    WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)""".stripMargin

  /** q136's retention CTEs (cohort day + per-offset distinct users) as
    * shared oracle text — used verbatim by q136 and q193. */
  private val retentionSqlCtes =
    """d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |  cohort AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id),
      |  ret AS (SELECT c.cohort_day,
      |      CAST(date_diff('day', c.cohort_day, d.day) AS BIGINT) AS day_offset,
      |      CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
      |    FROM d JOIN cohort c ON d.user_id = c.user_id
      |    GROUP BY c.cohort_day, day_offset)""".stripMargin

  // ---------------------------------------------------------------
  // q135: funnel analysis (ordered step completion per user)
  // ---------------------------------------------------------------

  /** Three-step funnel signup → view → purchase: per user, the
    * earliest signup, the earliest view STRICTLY AFTER it, and the
    * earliest purchase strictly after that — the classic ordered
    * funnel (earliest-completion semantics, the default in product
    * analytics engines), with the step count reached.
    *
    * Scale: each step is one filtered aggregate keyed on user_id
    * joined equi to the previous step's (user_id, ts) frame — three
    * user-keyed hash joins that co-partition under one shuffle key,
    * never a self-cross; step frames shrink monotonically (funnels
    * only narrow), so later joins are cheaper than earlier ones. */
  val q135Funnel: QueryDef = QueryDef(
    "q135_funnel",
    (s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_signup"))
      val s2 = e.filter(col("event_type") === "view")
        .join(s1, Seq("user_id"))
        .filter(col("ts") > col("t_signup"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      e.select(col("user_id")).distinct()
        .join(s1, Seq("user_id"), "left_outer")
        .join(s2, Seq("user_id"), "left_outer")
        .join(s3, Seq("user_id"), "left_outer")
        .withColumn("steps",
          when(col("t_purchase").isNotNull, 3L)
            .when(col("t_view").isNotNull, 2L)
            .when(col("t_signup").isNotNull, 1L).otherwise(0L))
        .select(col("user_id"), col("t_signup"), col("t_view"),
          col("t_purchase"), col("steps"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH u AS (SELECT DISTINCT user_id FROM events),
      $funnelStepsSqlCtes
      SELECT u.user_id, CAST(s1.t1 AS TIMESTAMP) AS t_signup,
        CAST(s2.t2 AS TIMESTAMP) AS t_view,
        CAST(s3.t3 AS TIMESTAMP) AS t_purchase,
        CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                  WHEN s2.t2 IS NOT NULL THEN 2
                  WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS steps
      FROM u
      LEFT JOIN s1 ON u.user_id = s1.user_id
      LEFT JOIN s2 ON u.user_id = s2.user_id
      LEFT JOIN s3 ON u.user_id = s3.user_id
      ORDER BY u.user_id"""),
    headline = true)

  // ---------------------------------------------------------------
  // q136: cohort retention matrix
  // ---------------------------------------------------------------

  /** Cohort retention: users grouped by first-active day, counted
    * active at each day offset — the (cohort_day × day_offset) matrix
    * every retention dashboard draws. All-integer counts over date
    * arithmetic both engines define identically.
    *
    * Scale: first-active day is one user-keyed aggregate (broadcast
    * back or co-partitioned join — user cardinality ≪ events); the
    * matrix aggregate shuffles (cohort_day, day_offset) pairs, a
    * frame bounded by days², independent of event volume. */
  val q136Retention: QueryDef = QueryDef(
    "q136_retention",
    (s, dir) => {
      val d = ev(s, dir).select(col("user_id"), to_date(col("ts")).as("day"))
      val cohort = d.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      d.join(cohort, Seq("user_id"))
        .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
    Some(s"""WITH $retentionSqlCtes
      SELECT cohort_day, day_offset, n_users FROM ret
      ORDER BY cohort_day, day_offset"""),
    headline = true)

  // ---------------------------------------------------------------
  // q196: last-touch attribution (native as-of join composition)
  // ---------------------------------------------------------------

  /** Last-touch revenue attribution — the marketing-analytics classic:
    * each purchase's value credits the user's most recent click or
    * view within a 1-hour window; purchases with no in-window touch
    * report as unattributed. Built ON the engine's native as-of
    * operator ([[graft.plans.AsOfJoinExec]]) with `tolerance` doing
    * the window — the composition story: the custom plan is not a
    * demo, downstream analytics consume it like any join.
    *
    * The rollup: per touch type (click / view / none), purchase count
    * and attributed revenue (sum of `value`, rounded 2 — the q15
    * money convention).
    *
    * Scale: exactly the q139/q149 cost — two key-clustered exchanges,
    * two sorts, one forward merge; the rollup aggregates three rows.
    * The tolerance bound is one subtraction inside the merge.
    *
    * Same-timestamp semantics (the non-strict as-of contract): a touch
    * whose ts EQUALS the purchase ts is eligible regardless of
    * event_id, ties among equal-ts touches broken by greatest
    * touch_id. The oracle window mirrors this by ordering same-ts
    * touches BEFORE the purchase row (ts, then touches-first, then
    * event_id), so its ROWS frame contains every same-ts touch —
    * spec-pinned with an explicit same-ts collision
    * (EventsOpsSpec "q196 same-ts"). */
  val q196LastTouch: QueryDef = QueryDef(
    "q196_last_touch",
    (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("value"))
      val touches = e.filter(col("event_type").isin("click", "view"))
        .select(col("event_id").as("touch_id"),
          col("user_id").as("touch_user"), col("ts").as("touch_ts"),
          col("event_type").as("touch_type"))
      graft.plans.AsOf.join(purchases, touches,
          "user_id", "touch_user", "purchase_ts", "touch_ts",
          rightTiebreak = Some("touch_id"),
          tolerance = Some(3600L * 1000000L)) // 1 h in epoch micros
        .groupBy(coalesce(col("touch_type"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value")), 2).as("attributed_value"))
        .orderBy(col("touch_type"))
    },
    Some("""WITH x AS (SELECT event_id, user_id, ts, event_type, value,
          last_value(CASE WHEN event_type IN ('click', 'view') THEN ts END IGNORE NULLS)
            OVER w AS touch_ts,
          last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END IGNORE NULLS)
            OVER w AS touch_type
        FROM events
        WINDOW w AS (PARTITION BY user_id
          ORDER BY ts, CASE WHEN event_type IN ('click', 'view') THEN 0 ELSE 1 END, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      p AS (SELECT CASE WHEN touch_ts IS NOT NULL
              AND epoch_us(ts) - epoch_us(touch_ts) <= 3600000000
            THEN touch_type ELSE 'none' END AS touch_type, value
        FROM x WHERE event_type = 'purchase')
      SELECT touch_type, CAST(count(*) AS BIGINT) AS n_purchases,
        round(sum(value), 2) AS attributed_value
      FROM p GROUP BY touch_type ORDER BY touch_type"""),
    headline = false)

  // ---------------------------------------------------------------
  // q194: funnel conversion-latency percentiles
  // ---------------------------------------------------------------

  /** Time-to-convert distribution per funnel transition — the question
    * q135's completion counts beg: not just HOW MANY users advanced
    * signup→view→purchase but HOW LONG each hop took, as median/p90
    * (the percentile pair product analytics quotes, means being
    * useless under heavy-tailed latencies). Latencies are
    * microsecond-fractional seconds (both engines keep the fraction —
    * truncation is what diverges, see the cast note below); parity
    * rests on the q102 convention: interpolated percentiles and means
    * rounded at 6/2.
    *
    * Scale: rides q135's per-user funnel table (the user-keyed
    * aggregates already paid); the percentile aggregates over the
    * completed-user latency column, grouped into exactly two rows. */
  val q194FunnelLatency: QueryDef = QueryDef(
    "q194_funnel_latency",
    (s, dir) => {
      val f = q135Funnel.fn(s, dir)
      // timestamp→double keeps the microsecond fraction exactly like
      // DuckDB's epoch() (unix_timestamp would TRUNCATE to seconds and
      // diverge from the oracle)
      val l1 = f.filter(col("t_view").isNotNull)
        .select(lit("1_signup_to_view").as("step"),
          (col("t_view").cast("double") - col("t_signup").cast("double"))
            .as("lat"))
      val l2 = f.filter(col("t_purchase").isNotNull)
        .select(lit("2_view_to_purchase").as("step"),
          (col("t_purchase").cast("double") - col("t_view").cast("double"))
            .as("lat"))
      l1.unionByName(l2)
        .groupBy(col("step"))
        .agg(count(lit(1)).as("n_users"),
          round(avg(col("lat")), 2).as("mean_secs"),
          round(expr("percentile(lat, 0.5D)"), 6).as("p50_secs"),
          round(expr("percentile(lat, 0.9D)"), 6).as("p90_secs"))
        .orderBy(col("step"))
    },
    Some(s"""WITH $funnelStepsSqlCtes,
      lat AS (
        SELECT '1_signup_to_view' AS step,
          epoch(s2.t2) - epoch(s1.t1) AS lat
        FROM s2 JOIN s1 USING (user_id)
        UNION ALL
        SELECT '2_view_to_purchase' AS step,
          epoch(s3.t3) - epoch(s2.t2) AS lat
        FROM s3 JOIN s2 USING (user_id))
      SELECT step, CAST(count(*) AS BIGINT) AS n_users,
        round(avg(lat), 2) AS mean_secs,
        round(quantile_cont(lat, 0.5), 6) AS p50_secs,
        round(quantile_cont(lat, 0.9), 6) AS p90_secs
      FROM lat GROUP BY step ORDER BY step"""),
    headline = false)

  // ---------------------------------------------------------------
  // q193: retention half-life fit (exponential-decay summary)
  // ---------------------------------------------------------------

  /** Exponential decay fit over the q136 retention matrix — the
    * one-number summary a growth dashboard quotes per cohort: model
    * retention(t) ≈ e^(b·t), fit ln(n_t/n_0) = a + b·t by least
    * squares over offsets ≥ 1, and report the decay rate and its
    * half-life −ln2/b. A cohort whose half-life shrinks release over
    * release is churning faster — the trend the raw matrix buries in
    * 60 columns. Cohorts need ≥ 5 observed offsets to fit; a
    * non-negative slope (no decay) reports a null half-life rather
    * than a fabricated one.
    *
    * Parity: the q181 regression recipe — exact integer counts in,
    * one ln per point, closed-form sums rounded at 4.
    *
    * Scale: rides q136's output (cohorts × offsets rows — tiny); the
    * fit is a grouped closed-form aggregate over that table, nothing
    * touches the event stream again. */
  val q193RetentionHalfLife: QueryDef = QueryDef(
    "q193_retention_half_life",
    (s, dir) => {
      val ret = Staging.materialize(q136Retention.fn(s, dir), "retention")
      val base = ret.filter(col("day_offset") === 0L)
        .select(col("cohort_day"), col("n_users").as("n0"))
      val pts = ret.filter(col("day_offset") >= 1L)
        .join(base, Seq("cohort_day"))
        .select(col("cohort_day"), col("n0"),
          col("day_offset").cast("double").as("x"),
          log(col("n_users").cast("double") / col("n0")).as("y"))
      pts.groupBy(col("cohort_day"), col("n0"))
        .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .filter(col("m") >= 5L)
        .withColumn("b",
          (col("sxy") - col("sx") * col("sy") / col("m")) /
            (col("sxx") - col("sx") * col("sx") / col("m")))
        // + 0.0: a cohort whose decay rounds to zero from below prints
        // IEEE -0.0 in DuckDB otherwise (sf0.1 hit this). Half-life is
        // derived from the ROUNDED decay, for two reasons: the
        // reciprocal amplifies each engine's last-ulp b onto rounding
        // boundaries (sf0.1 hit .4667 vs .4668), and a decay that
        // rounds to zero should report no half-life rather than a
        // million-day artifact of FP noise.
        .withColumn("decay", round(col("b"), 4) + lit(0.0))
        .select(col("cohort_day"), col("n0"), col("m").as("n_points"),
          col("decay"),
          when(col("decay") < 0.0, round(-log(lit(2.0)) / col("decay"), 4))
            .as("half_life_days"))
        .orderBy(col("cohort_day"))
    },
    Some(s"""WITH $retentionSqlCtes,
      base AS (SELECT cohort_day, n_users AS n0 FROM ret WHERE day_offset = 0),
      pts AS (SELECT r.cohort_day, b.n0,
          CAST(r.day_offset AS DOUBLE) AS x,
          ln(CAST(r.n_users AS DOUBLE) / b.n0) AS y
        FROM ret r JOIN base b USING (cohort_day) WHERE r.day_offset >= 1),
      f AS (SELECT cohort_day, n0, CAST(count(*) AS BIGINT) AS m,
          sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM pts GROUP BY 1, 2),
      fit AS (SELECT cohort_day, n0, m,
          (sxy - sx * sy / m) / (sxx - sx * sx / m) AS b
        FROM f WHERE m >= 5),
      fit2 AS (SELECT cohort_day, n0, m, round(b, 4) + 0.0 AS decay FROM fit)
      SELECT cohort_day, n0, m AS n_points, decay,
        CASE WHEN decay < 0.0 THEN round(-ln(2.0) / decay, 4) END
          AS half_life_days
      FROM fit2 ORDER BY cohort_day"""),
    headline = false)

  // ---------------------------------------------------------------
  // q137: next-event transition matrix (first-order Markov counts)
  // ---------------------------------------------------------------

  /** Per-user next-event transitions: for each ordered (event_type →
    * next event_type) pair, the count and the row-normalized
    * probability — the first-order Markov matrix behind "what do users
    * do after X" path analysis.
    *
    * Scale: the lead() window shuffles on user_id (the same key class
    * as sessionization — never a global sort); the aggregate shuffles
    * (from, to) pairs bounded by the event-type vocabulary squared;
    * row normalization is a window over that matrix-sized table only.
    * Order within a user is total (ts, event_id), so the matrix is
    * deterministic cluster-wide. */
  val q137Transitions: QueryDef = QueryDef(
    "q137_transitions",
    (s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val matrix = ev(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n_trans"))
      matrix
        .withColumn("tot",
          sum(col("n_trans")).over(Window.partitionBy(col("event_type"))))
        .withColumn("p", round(col("n_trans") / col("tot"), 6))
        .select(col("event_type"), col("next_type"), col("n_trans"), col("p"))
        .orderBy(col("event_type"), col("next_type"))
    },
    Some("""WITH seq AS (
        SELECT event_type, lead(event_type) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events),
      t AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n_trans
        FROM seq WHERE next_type IS NOT NULL GROUP BY event_type, next_type)
      SELECT event_type, next_type, n_trans,
        round(n_trans / CAST(sum(n_trans) OVER (PARTITION BY event_type) AS BIGINT), 6) AS p
      FROM t ORDER BY event_type, next_type"""))

  // ---------------------------------------------------------------
  // q138: sliding (hopping) window counts — T4's overlapping form
  // ---------------------------------------------------------------

  /** 1-hour windows sliding every 15 minutes: each event lands in
    * exactly 4 overlapping windows (the batch dual of
    * `window(ts, "1 hour", "15 minutes")` in Structured Streaming;
    * the oracle derives the same epoch-aligned starts arithmetically).
    *
    * Scale: the window() explode is a narrow ×4 fan-out (the
    * overlap factor, a constant) followed by one aggregate keyed on
    * the window start — q15's shuffle class. At 100 TB the knob is
    * the overlap factor itself (duration/slide), not data volume;
    * the streaming form pays state instead of fan-out. */
  val q138SlidingWindows: QueryDef = QueryDef(
    "q138_sliding_windows",
    (s, dir) => {
      ev(s, dir).select(col("ts"), col("value"))
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .select(col("w.start").as("window_start"),
          col("n_events"), col("total_value"))
        .orderBy(col("window_start"))
    },
    Some("""WITH g AS (
        SELECT CAST(floor(epoch(ts)/900) AS BIGINT)*900 - 900*t.k AS s, value
        FROM events, (SELECT unnest(range(0, 4)) AS k) t)
      SELECT TIMESTAMP '1970-01-01' + s * INTERVAL 1 SECOND AS window_start,
        CAST(count(*) AS BIGINT) AS n_events,
        round(sum(value), 2) AS total_value
      FROM g GROUP BY s ORDER BY window_start"""))

  // ---------------------------------------------------------------
  // q139: as-of join via the NATIVE custom operator
  // ---------------------------------------------------------------

  /** q61's as-of join answered by the custom whole-operator plan
    * (`graft.plans.AsOfJoinPlan` → `AsOfJoinExec`, injected through
    * GraftExtensions) instead of the window-form composition: each
    * purchase joined to the most recent error of the same user at or
    * before it. Shares q61's oracle — the driver's DuckDB gate proves
    * the custom physical operator computes the public as-of semantics.
    *
    * Scale: plans as two key-clustered exchanges + per-partition sorts
    * (the sort-merge-join shape) and a forward-only streaming merge
    * holding ONE candidate row — unlike the window form, no per-user
    * frame is carried. See AsOfJoin.scala for the operator contract. */
  val q139AsofNative: QueryDef = QueryDef(
    "q139_asof_native",
    (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_event_id"),
          col("user_id").as("err_user"), col("ts").as("err_ts"))
      // rightTiebreak pins which same-timestamp error wins (greatest
      // event_id — q61's window-oracle tie rule), making the matched
      // row's non-time columns deterministic and oracle-checkable
      graft.plans.AsOf.join(purchases, errors,
          "user_id", "err_user", "purchase_ts", "err_ts",
          rightTiebreak = Some("err_event_id"))
        .select(col("event_id"), col("user_id"), col("purchase_ts"),
          col("err_ts").as("last_err_ts"),
          col("err_event_id").as("last_err_id"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id,
      CAST(ts AS TIMESTAMP) AS purchase_ts,
      CAST(last_err_ts AS TIMESTAMP) AS last_err_ts, last_err_id FROM (
        SELECT event_id, user_id, ts, event_type,
          last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_err_ts,
          last_value(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_err_id
        FROM events) x
      WHERE event_type = 'purchase' ORDER BY event_id"""),
    headline = true)

  /** q149: the native as-of join with merge_asof's `tolerance` — each
    * purchase matches its most recent prior error only when that error
    * is at most 10 minutes back; staler errors leave the right side
    * null. Inside [[graft.plans.AsOfJoinExec]] the bound is ONE
    * subtraction on the already-found candidate (the last absorbed
    * right is always the nearest in time), so the plan and cost are
    * exactly q139's — two key-clustered exchanges, two sorts, one
    * forward merge — with zero extra passes. The oracle is q61's
    * window form masked by the same 10-minute bound. */
  val q149AsofTolerance: QueryDef = QueryDef(
    "q149_asof_tolerance",
    (s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_event_id"),
          col("user_id").as("err_user"), col("ts").as("err_ts"))
      graft.plans.AsOf.join(purchases, errors,
          "user_id", "err_user", "purchase_ts", "err_ts",
          rightTiebreak = Some("err_event_id"),
          tolerance = Some(600L * 1000000L)) // 10 min in micros
        .select(col("event_id"), col("user_id"), col("purchase_ts"),
          col("err_ts").as("recent_err_ts"),
          col("err_event_id").as("recent_err_id"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id,
      CAST(ts AS TIMESTAMP) AS purchase_ts,
      CAST(CASE WHEN ts - last_err_ts <= INTERVAL 10 MINUTE
        THEN last_err_ts END AS TIMESTAMP) AS recent_err_ts,
      CASE WHEN ts - last_err_ts <= INTERVAL 10 MINUTE
        THEN last_err_id END AS recent_err_id FROM (
        SELECT event_id, user_id, ts, event_type,
          last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_err_ts,
          last_value(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_err_id
        FROM events) x
      WHERE event_type = 'purchase' ORDER BY event_id"""))

  // ---------------------------------------------------------------
  // q180: rolling z-score anomaly detection (event-rate monitoring)
  // ---------------------------------------------------------------

  /** Event-rate anomaly detection — the telemetry audit that pages
    * someone when a source's hourly volume departs from its own
    * trailing baseline: per (event_type, hour) counts, each bucket
    * z-scored against the mean/stddev of its type's PREVIOUS 24
    * buckets (the frame excludes the current bucket, so a spike can't
    * dilute its own baseline), flagged at |z| > 3 once at least 12
    * history buckets exist. The classic control-chart rule
    * (Shewhart/3-sigma) over a rolling window.
    *
    * Cross-engine: counts are exact integers, the window mean is one
    * correctly-rounded division, and stddev/z round at 4 — the only
    * engine freedom is stddev's accumulation order, ulp-sized on
    * 24-value frames.
    *
    * Scale: the corpus reduces to (type, hour) counts FIRST (one
    * partial-aggregated shuffle, buckets = types × hours, corpus-size
    * free); the rolling window runs over that bucket table keyed by
    * type — partition-local, and the frame is a constant 24 rows. The
    * streaming twin is a 24-bucket state per type in a
    * mapGroupsWithState — same arithmetic, O(types) state. */
  val q180RateAnomaly: QueryDef = QueryDef(
    "q180_rate_anomaly",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = ev(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val win = Window.partitionBy(col("event_type")).orderBy(col("hour"))
        .rowsBetween(-24, -1)
      counts
        .withColumn("mu", avg(col("n")).over(win))
        .withColumn("sd", stddev_samp(col("n")).over(win))
        .withColumn("n_hist", count(col("n")).over(win))
        .filter(col("n_hist") >= 12 && col("sd") > 0.0)
        .select(col("event_type"), col("hour"), col("n"),
          round(col("mu"), 4).as("mu"), round(col("sd"), 4).as("sd"),
          round((col("n") - col("mu")) / col("sd"), 4).as("z"),
          (abs((col("n") - col("mu")) / col("sd")) > 3.0).as("anomaly"))
        .orderBy(col("event_type"), col("hour"))
    },
    Some("""WITH c AS (SELECT date_trunc('hour', ts) AS hour, event_type,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      w AS (SELECT event_type, hour, n,
          avg(n) OVER (PARTITION BY event_type ORDER BY hour
            ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS mu,
          stddev_samp(n) OVER (PARTITION BY event_type ORDER BY hour
            ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS sd,
          count(n) OVER (PARTITION BY event_type ORDER BY hour
            ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS n_hist
        FROM c)
      SELECT event_type, hour, n, round(mu, 4) AS mu, round(sd, 4) AS sd,
        round((n - mu) / sd, 4) AS z,
        abs((n - mu) / sd) > 3.0 AS anomaly
      FROM w WHERE n_hist >= 12 AND sd > 0.0
      ORDER BY event_type, hour"""),
    headline = false)

  // ---------------------------------------------------------------
  // q217: Mann-Kendall trend test on the daily event series
  // ---------------------------------------------------------------

  /** Mann-Kendall nonparametric trend test (Mann 1945; Kendall 1975)
    * per event type over the daily event-count series — the standard
    * "is ingest volume actually trending or just noisy" monitor for an
    * operational pipeline, distribution-free so it needs no model of
    * the counts:
    *
    *   S = Σ_{i<j} sign(x_j − x_i),
    *   Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18  (tie-corrected)
    *   Z = (S∓1)/√Var(S)  (continuity-corrected; 0 when S = 0)
    *
    * with |Z| > 1.96 flagging a significant trend at 5%.
    *
    * Determinism: S and the tie spectrum are exact int64; Z is one
    * fixed-order double chain rounded at 6 (aggregate rule).
    *
    * Scale: the event stream reduces FIRST to the (type, day) count
    * table — days², not events², bounds the pairwise stage, exactly
    * like q136's cohort matrix; the sign-pair join and tie rollup run
    * on that bounded table, so a year of data is a 365-row series per
    * type regardless of event volume. */
  val q217MannKendall: QueryDef = QueryDef(
    "q217_mann_kendall",
    (s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val pairs = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") < col("b.day"))
        .groupBy(col("a.event_type").as("event_type"))
        .agg(sum(signum(col("b.x") - col("a.x")).cast("long")).as("s_stat"))
      val nDays = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      val ties = daily.groupBy(col("event_type"), col("x"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tie_term"))
      pairs.join(nDays, "event_type").join(ties, "event_type")
        .withColumn("var_s",
          (col("n").cast("double") * (col("n") - 1) * (lit(2) * col("n") + 5) -
            col("tie_term").cast("double")) / lit(18.0))
        .select(col("event_type"), col("n"), col("s_stat"),
          round(col("var_s"), 6).as("var_s"),
          // + 0.0 canonicalizes a rounded-to-zero Z's IEEE sign bit
          // (DuckDB round keeps -0.0; repr comparators would diverge)
          (round(when(col("s_stat") > 0,
              (col("s_stat").cast("double") - 1) / sqrt(col("var_s")))
            .when(col("s_stat") < 0,
              (col("s_stat").cast("double") + 1) / sqrt(col("var_s")))
            .otherwise(lit(0.0)), 6) + lit(0.0)).as("z"),
          when(abs(when(col("s_stat") > 0,
              (col("s_stat").cast("double") - 1) / sqrt(col("var_s")))
            .when(col("s_stat") < 0,
              (col("s_stat").cast("double") + 1) / sqrt(col("var_s")))
            .otherwise(lit(0.0))) > 1.96,
            when(col("s_stat") > 0, "increasing").otherwise("decreasing"))
            .otherwise("none").as("trend"))
        .orderBy(col("event_type"))
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      pairs AS (SELECT a.event_type,
          CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
            ELSE 0 END) AS BIGINT) AS s_stat
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY 1),
      nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM daily GROUP BY 1),
      ties AS (SELECT event_type,
          CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
          FROM daily GROUP BY 1, 2) g GROUP BY 1),
      v AS (SELECT p.event_type, nd.n, p.s_stat,
          (CAST(nd.n AS DOUBLE) * (nd.n - 1) * (2 * nd.n + 5) -
            CAST(ties.tie_term AS DOUBLE)) / 18.0 AS var_s
        FROM pairs p JOIN nd USING (event_type) JOIN ties USING (event_type)),
      z AS (SELECT event_type, n, s_stat, var_s,
          CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1) / sqrt(var_s)
               WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1) / sqrt(var_s)
               ELSE 0.0 END AS zv
        FROM v)
      SELECT event_type, n, s_stat, round(var_s, 6) AS var_s,
        round(zv, 6) + 0.0 AS z,
        CASE WHEN abs(zv) > 1.96 THEN
          CASE WHEN s_stat > 0 THEN 'increasing' ELSE 'decreasing' END
        ELSE 'none' END AS trend
      FROM z ORDER BY event_type"""),
    headline = false)

  // ---------------------------------------------------------------
  // q218: CUSUM changepoint detection on the daily event series
  // ---------------------------------------------------------------

  /** Offline CUSUM changepoint test (Page 1954's statistic in the
    * retrospective mean-shift form; the sup-of-Brownian-bridge
    * normalization of MacNeill 1974) per event type: with daily counts
    * x₁..x_n and mean x̄,
    *
    *   C_k = Σ_{i≤k}(x_i − x̄),  k* = argmax_k |C_k|,
    *   T = max_k |C_k| / (σ·√n)
    *
    * T exceeding 1.358 (the 5% Kolmogorov-Smirnov critical value the
    * bridge limit shares) flags a mean shift, and k* estimates WHERE
    * the level changed — the q217 trend test's complement: q217 asks
    * "is it drifting", this asks "did it jump, and when" (an ingest
    * regression, a connector losing a shard, a source turning off).
    *
    * Determinism: daily counts and cum sums are exact int64;
    * C_k = cum_k − k·(Σx/n) is a fixed-order double chain; the argmax
    * ranks on (|C_k| desc, day) — a total order.
    *
    * Scale: identical posture to q217 — events reduce to the
    * days-bounded (type, day) table first; the cumulative window,
    * stats, and argmax all run per type on that table (365 rows/year),
    * independent of event volume. */
  val q218CusumChangepoint: QueryDef = QueryDef(
    "q218_cusum_changepoint",
    (s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val stats = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("mean", col("sx").cast("double") / col("n"))
        .withColumn("sd", sqrt(col("sxx").cast("double") / col("n") -
          (col("sx").cast("double") / col("n")) *
            (col("sx").cast("double") / col("n"))))
      val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val c = daily
        .withColumn("k", row_number().over(byDay).cast("long"))
        .withColumn("cum", sum(col("x")).over(byDay))
        .join(stats, "event_type")
        .withColumn("c_k", col("cum").cast("double") -
          col("k").cast("double") * col("mean"))
      val ranked = c.withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(abs(col("c_k")).desc, col("day"))))
      ranked.filter(col("rn") === 1)
        .select(col("event_type"), col("n"), col("day").as("cp_day"),
          col("k").as("cp_k"),
          (round(abs(col("c_k")), 6) + lit(0.0)).as("max_abs_c"),
          (round(abs(col("c_k")) / (col("sd") * sqrt(col("n").cast("double"))), 6)
            + lit(0.0)).as("t_stat"),
          (abs(col("c_k")) / (col("sd") * sqrt(col("n").cast("double"))) >
            1.358).as("shifted"))
        .orderBy(col("event_type"))
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY 1),
      st2 AS (SELECT *, CAST(sx AS DOUBLE) / n AS mean,
          sqrt(CAST(sxx AS DOUBLE) / n -
            (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) AS sd
        FROM st),
      c AS (SELECT d.event_type, d.day,
          CAST(row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
            AS BIGINT) AS k,
          CAST(sum(d.x) OVER (PARTITION BY d.event_type ORDER BY d.day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
          s.n, s.mean, s.sd
        FROM daily d JOIN st2 s USING (event_type)),
      ck AS (SELECT *, CAST(cum AS DOUBLE) - CAST(k AS DOUBLE) * mean AS c_k
        FROM c),
      rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY abs(c_k) DESC, day) AS rn FROM ck)
      SELECT event_type, n, day AS cp_day, k AS cp_k,
        round(abs(c_k), 6) + 0.0 AS max_abs_c,
        round(abs(c_k) / (sd * sqrt(CAST(n AS DOUBLE))), 6) + 0.0 AS t_stat,
        abs(c_k) / (sd * sqrt(CAST(n AS DOUBLE))) > 1.358 AS shifted
      FROM rk WHERE rn = 1 ORDER BY event_type"""),
    headline = false)

  // ---------------------------------------------------------------
  // q221: Theil-Sen robust slope of the daily event series
  // ---------------------------------------------------------------

  /** Theil-Sen slope estimator (Theil 1950; Sen 1968) per event type —
    * the median of all pairwise slopes (x_j − x_i)/(k_j − k_i) over
    * the daily series, with the matching intercept median(x_i − β·k_i):
    * the robust trend LINE that q217's Mann-Kendall test (its exact
    * hypothesis-test twin — Sen built the estimator on Kendall's S)
    * says exists. Up to 29% contamination (one bad ingest week) moves
    * it far less than least squares, which is why operational
    * monitoring prefers it.
    *
    * Determinism: slopes are single IEEE divisions of exact int64
    * deltas; the median picks by (value, i, j) total order — lower
    * median for even counts, matching the oracle's row_number pick.
    *
    * Scale: q217's posture — all pairwise work happens on the
    * days-bounded daily table (days²/2 slope rows per type, ~66k/year),
    * after the single event-reducing keyed agg. */
  val q221TheilSen: QueryDef = QueryDef(
    "q221_theil_sen",
    (s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("k", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))).cast("long"))
      val slopes = daily.as("a").join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.k") < col("b.k"))
        .select(col("a.event_type").as("event_type"),
          col("a.k").as("i"), col("b.k").as("j"),
          ((col("b.x") - col("a.x")).cast("double") /
            (col("b.k") - col("a.k")).cast("double")).as("m"))
      val byM = Window.partitionBy(col("event_type"))
        .orderBy(col("m"), col("i"), col("j"))
      val nS = Window.partitionBy(col("event_type"))
      val beta = slopes
        .withColumn("rn", row_number().over(byM))
        .withColumn("cnt", count(lit(1)).over(nS))
        .filter(col("rn") === ((col("cnt") + 1) / 2).cast("long")) // lower median
        .select(col("event_type"), col("m").as("beta"))
      val byR = Window.partitionBy(col("event_type"))
        .orderBy(col("r"), col("k"))
      val alpha = daily.join(beta, "event_type")
        .select(col("event_type"), col("k"),
          (col("x").cast("double") - col("beta") * col("k").cast("double"))
            .as("r"), col("beta"))
        .withColumn("rn", row_number().over(byR))
        .withColumn("cnt", count(lit(1)).over(nS))
        .filter(col("rn") === ((col("cnt") + 1) / 2).cast("long"))
        .select(col("event_type"), col("beta"), col("r").as("alpha"))
      // + 0.0: a flat series' median slope/intercept residual can round
      // to IEEE -0.0 under DuckDB while Spark emits +0.0 — canonicalize
      alpha.select(col("event_type"),
          (round(col("beta"), 6) + lit(0.0)).as("beta"),
          (round(col("alpha"), 6) + lit(0.0)).as("alpha"))
        .orderBy(col("event_type"))
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      dk AS (SELECT event_type, day, x,
          CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
            AS BIGINT) AS k
        FROM daily),
      sl AS (SELECT a.event_type, a.k AS i, b.k AS j,
          CAST(b.x - a.x AS DOUBLE) / CAST(b.k - a.k AS DOUBLE) AS m
        FROM dk a JOIN dk b
          ON a.event_type = b.event_type AND a.k < b.k),
      med AS (SELECT event_type, m AS beta FROM (
          SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY m, i, j) AS rn,
            count(*) OVER (PARTITION BY event_type) AS cnt
          FROM sl) x WHERE rn = (cnt + 1) // 2),
      res AS (SELECT dk.event_type, dk.k, med.beta,
          CAST(dk.x AS DOUBLE) - med.beta * CAST(dk.k AS DOUBLE) AS r
        FROM dk JOIN med USING (event_type)),
      amed AS (SELECT event_type, beta, r AS alpha FROM (
          SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY r, k) AS rn,
            count(*) OVER (PARTITION BY event_type) AS cnt
          FROM res) x WHERE rn = (cnt + 1) // 2)
      SELECT event_type, round(beta, 6) + 0.0 AS beta,
        round(alpha, 6) + 0.0 AS alpha
      FROM amed ORDER BY event_type"""),
    headline = false)

  val all: Seq[QueryDef] = Seq(
    q60Sessionize, q61AsofJoin, q62RangeJoin, q63Pivot, q64Cube,
    q135Funnel, q136Retention, q137Transitions, q138SlidingWindows,
    q139AsofNative, q149AsofTolerance, q180RateAnomaly, q193RetentionHalfLife,
    q194FunnelLatency, q196LastTouch, q217MannKendall, q218CusumChangepoint,
    q221TheilSen)
}
