package graft.streaming

import graft.{Q, Tables}
import graft.operators.Exact.dec2
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over `events`. The same transforms run
  * under Structured Streaming (see Streams.scala + the streaming
  * spec); here they execute in batch so the DuckDB oracle can check
  * them. Windowed aggregation shuffles once on (window, type);
  * sessionization shuffles once on user_id — both scale linearly.
  */
object EventQueries {

  val all: Seq[Q] = Seq(

    // Tumbling-window aggregation (1 h), the Structured Streaming
    // `window()` group — batch twin of Streams.windowedCounts.
    Q("e_window_agg", Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1, 2
    """)) { t =>
      t.events
        .groupBy(window(col("ts"), "1 hour").getField("start").as("w_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
    },

    // Sessionization with a 30-minute inactivity gap: lag → gap flag →
    // running sum = session id → per-user session stats.
    Q("e_sessionize", Some("""
      WITH seq AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, event_id,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM seq)
      SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
             COUNT(*) AS n_events,
             ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(sess_id), 4) AS events_per_session
      FROM sess GROUP BY user_id
    """)) { t =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      t.events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1)
            .otherwise(0))
        .withColumn("sess_id", sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id")
        .agg(max(col("sess_id")).as("n_sessions"),
          count(lit(1)).as("n_events"),
          round(count(lit(1)).cast("double") / max(col("sess_id")), 4)
            .as("events_per_session"))
    },

    // AS-OF join: each purchase picks the latest click of the same
    // user at-or-before its timestamp. Implemented as ONE window pass
    // over the unioned stream (last click-marker struct, nulls
    // skipped) — a single shuffle on user_id, no range join, no
    // per-row probe: the formulation that survives 100 TB. Clicks
    // sort before purchases on timestamp ties ("at-or-before");
    // event_id breaks exact duplicates deterministically.
    Q("e_asof", Some("""
      WITH u AS (
        SELECT user_id, event_id, ts, value, event_type,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
        FROM events WHERE event_type IN ('click', 'purchase')),
      m AS (
        SELECT *,
               last_value(CASE WHEN is_click = 1 THEN ts END IGNORE NULLS)
                 OVER w AS click_ts,
               last_value(CASE WHEN is_click = 1 THEN value END IGNORE NULLS)
                 OVER w AS click_value
        FROM u
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts, is_click DESC, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT event_id, user_id, ts, value, click_ts, click_value
      FROM m WHERE event_type = 'purchase'
    """)) { t =>
      val u = t.fan(t.events)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("is_click",
          when(col("event_type") === "click", 1).otherwise(0))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_click").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u.withColumn("ck",
          last(when(col("is_click") === 1,
            struct(col("ts"), col("value"))), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("ck.ts").as("click_ts"), col("ck.value").as("click_value"))
    },

    // LAST-TOUCH ATTRIBUTION — the marketing-analytics staple over
    // the as-of machinery: every purchase credits its most recent
    // click within a 7-day window, and the report INVERTS to the
    // touchpoint grain — per click, how many conversions it earned
    // and their exact revenue. Same ONE user-partitioned window pass
    // as e_asof (no range join: the candidate click rides the
    // running last-click struct), plus the attribution-window bound
    // e_asof doesn't have; revenue sums in DECIMAL so the credit is
    // hash-exact. A click with no conversions earns no row — the
    // report is the credited touchpoints.
    Q("e_attribution", Some("""
      WITH u AS (
        SELECT user_id, event_id, ts, value, event_type,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
        FROM events WHERE event_type IN ('click', 'purchase')),
      m AS (
        SELECT *,
               last_value(CASE WHEN is_click = 1 THEN ts END IGNORE NULLS)
                 OVER w AS click_ts,
               last_value(CASE WHEN is_click = 1 THEN event_id END IGNORE NULLS)
                 OVER w AS click_id
        FROM u
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts, is_click DESC, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      conv AS (
        SELECT * FROM m
        WHERE event_type = 'purchase' AND click_id IS NOT NULL
          AND click_ts >= ts - INTERVAL 7 DAY)
      SELECT click_id, user_id,
             CAST(COUNT(*) AS BIGINT) AS n_conversions,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS attr_value
      FROM conv GROUP BY click_id, user_id
    """)) { t =>
      val u = t.fan(t.events)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("is_click",
          when(col("event_type") === "click", 1).otherwise(0))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_click").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u.withColumn("ck",
          last(when(col("is_click") === 1,
            struct(col("ts"), col("event_id"))), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase" &&
          col("ck").isNotNull &&
          col("ck.ts") >= col("ts") - expr("INTERVAL 7 DAYS"))
        .groupBy(col("ck.event_id").as("click_id"), col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_conversions"),
          sum(dec2(col("value"))).cast("double").as("attr_value"))
    },

    // FORWARD as-of join: each purchase picks the EARLIEST click of
    // the same user at-or-after its timestamp (the "next follow-up
    // event" direction — attribution windows, next-error-after-deploy
    // lookups). Mirror of e_asof: one window pass over the unioned
    // stream, frame flipped to CURRENT ROW .. UNBOUNDED FOLLOWING
    // with purchases sorting before same-ts clicks so "at-or-after"
    // includes ties. Same single shuffle on user_id — no range join.
    Q("e_asof_fwd", Some("""
      WITH u AS (
        SELECT user_id, event_id, ts, value, event_type,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
        FROM events WHERE event_type IN ('click', 'purchase')),
      m AS (
        SELECT *,
               first_value(CASE WHEN is_click = 1 THEN ts END IGNORE NULLS)
                 OVER w AS next_click_ts,
               first_value(CASE WHEN is_click = 1 THEN value END IGNORE NULLS)
                 OVER w AS next_click_value
        FROM u
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts, is_click, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT event_id, user_id, ts, value, next_click_ts, next_click_value
      FROM m WHERE event_type = 'purchase'
    """)) { t =>
      val u = t.fan(t.events)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("is_click",
          when(col("event_type") === "click", 1).otherwise(0))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_click"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      u.withColumn("ck",
          first(when(col("is_click") === 1,
            struct(col("ts"), col("value"))), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("ck.ts").as("next_click_ts"),
          col("ck.value").as("next_click_value"))
    },

    // Native session windows (30-min gap): Spark's SessionWindow
    // operator merges overlapping [ts, ts+gap) intervals per user —
    // the same operator Structured Streaming uses with state. Oracle
    // rebuilds sessions with the lag/cumsum idiom (new session when
    // the gap is >= 30 min, matching the exclusive window end).
    Q("e_session_window", Some("""
      WITH seq AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM seq)
      SELECT user_id, MIN(ts) AS s_start,
             MAX(ts) + INTERVAL 30 MINUTE AS s_end,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM sess GROUP BY user_id, sid
    """)) { t =>
      t.events
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec2(col("value"))).cast("double").as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("n_events"), col("sum_value"))
    },

    // Interval-containment join through graft's custom broadcast
    // range-join operator (plans/RangeJoin.scala): events land in
    // weekly [lo, hi) buckets by binary search against the broadcast
    // bucket table — Spark's native plan for this predicate is a
    // BroadcastNestedLoopJoin that compares every event against
    // every bucket.
    Q("e_range_join", Some("""
      WITH r AS (
        SELECT CAST(i AS INT) AS bucket_id,
               TIMESTAMP '2024-01-01' + i * INTERVAL 7 DAY AS lo,
               TIMESTAMP '2024-01-01' + (i + 1) * INTERVAL 7 DAY AS hi
        FROM generate_series(0, 59) AS t(i))
      SELECT bucket_id, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events JOIN r ON r.lo <= ts AND ts < r.hi
      GROUP BY bucket_id
    """)) { t =>
      val buckets = t.spark.range(0, 60)
        .select(col("id").cast("int").as("bucket_id"),
          expr("timestampadd(DAY, id * 7, timestamp'2024-01-01')").as("lo"),
          expr("timestampadd(DAY, (id + 1) * 7, timestamp'2024-01-01')")
            .as("hi"))
      graft.plans.RangeJoin
        .join(t.fan(t.events), buckets, col("ts"), col("lo"), col("hi"))
        .groupBy("bucket_id")
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("sum_value"))
    },

    // Ordered funnel view → click → purchase: per user, the earliest
    // view, the earliest click strictly after it, the earliest
    // purchase strictly after that. Three key-local aggregations —
    // no window over the whole stream, no self-join explosion.
    Q("e_funnel", Some("""
      WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                  WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
             FROM events e JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.ts > s1.t1
             GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
             FROM events e JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             GROUP BY e.user_id)
      SELECT (SELECT COUNT(*) FROM s1) AS n_view,
             (SELECT COUNT(*) FROM s2) AS n_view_click,
             (SELECT COUNT(*) FROM s3) AS n_full_funnel
    """)) { t =>
      val ev = t.fan(t.events)
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id").filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_view"))
        .crossJoin(s2.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(s3.agg(count(lit(1)).as("n_full_funnel")))
    },

    // Cohort retention: users grouped by first-activity ISO week,
    // distinct-user counts per week offset. Two shuffles (first-seen
    // per user, then cohort × offset counts).
    Q("e_retention", Some("""
      WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
        FROM events GROUP BY user_id),
      activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS act_week
        FROM events)
      SELECT cohort_week,
             CAST((epoch(act_week) - epoch(cohort_week)) / 604800 AS INT) AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM first_seen JOIN activity USING (user_id)
      GROUP BY cohort_week, week_offset
    """)) { t =>
      // ONE pass: the old shape scanned events twice (first-seen agg
      // + a distinct over (user, week)) and joined them back on
      // user_id — two scans, three exchanges. A user's distinct
      // active weeks are bounded by the calendar (number of weeks in
      // the corpus, not activity volume), so collect_set folds them
      // map-side in the same aggregate that finds the cohort week;
      // explode replaces the join. Same (cohort, offset) pairs.
      val ev = t.fan(t.events)
      ev.groupBy("user_id")
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"),
          collect_set(date_trunc("week", col("ts"))).as("weeks"))
        .select(col("cohort_week"),
          explode(col("weeks")).as("act_week"))
        .groupBy(col("cohort_week"),
          ((unix_timestamp(col("act_week")) -
            unix_timestamp(col("cohort_week"))) / 604800).cast("int")
            .as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },

    // Time-series gap fill: per-user daily activity with explicit
    // zero rows for silent days inside the user's own active span.
    // The calendar is generated per user from its min/max day
    // (sequence + explode — no driver-side loop) and left-joined to
    // the observed counts; both sides of that join share the same
    // user partitioning.
    Q("e_gapfill", Some("""
      WITH span AS (
        SELECT user_id,
               CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS d0,
               CAST(date_trunc('day', MAX(ts)) AS TIMESTAMP) AS d1
        FROM events GROUP BY user_id),
      cal AS (
        SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS TIMESTAMP) AS day
        FROM span),
      obs AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS n
        FROM events GROUP BY user_id, day)
      SELECT cal.user_id, cal.day,
             CAST(COALESCE(obs.n, 0) AS BIGINT) AS n_events,
             CAST(obs.n IS NULL AS INT) AS is_gap
      FROM cal LEFT JOIN obs
        ON cal.user_id = obs.user_id AND cal.day = obs.day
    """)) { t =>
      val ev = t.fan(t.events)
      val span = ev.groupBy("user_id")
        .agg(date_trunc("day", min(col("ts"))).as("d0"),
          date_trunc("day", max(col("ts"))).as("d1"))
      val cal = span.select(col("user_id"),
        explode(sequence(col("d0"), col("d1"),
          expr("INTERVAL 1 DAY"))).as("day"))
      val obs = ev
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      cal.join(obs, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          col("n").isNull.cast("int").as("is_gap"))
    },

    // Z-SCORE anomaly flagging over the event stream (the monitoring
    // staple: which readings sit far outside their user's own
    // distribution). Per-user mean/stddev is one map-side-combined
    // aggregation; the flagging pass joins the tiny per-user stats
    // back (broadcast when measured-small) and is otherwise pure
    // map-side — no per-user window task, so a hot user with
    // billions of events costs nothing extra. Users with fewer than
    // 5 events or zero variance are excluded (a z-score there is
    // noise, and sd=0 divides by zero).
    Q("e_zscore", Some("""
      WITH s AS (SELECT user_id, AVG(value) AS mu,
                        STDDEV_SAMP(value) AS sd, COUNT(*) AS n
                 FROM events GROUP BY user_id)
      SELECT e.event_id, e.user_id, ROUND((e.value - mu) / sd, 4) AS z
      FROM events e JOIN s USING (user_id)
      WHERE n >= 5 AND sd > 0 AND ABS((e.value - mu) / sd) > 2.5
    """)) { t =>
      val stats = t.events.groupBy("user_id")
        .agg(avg(col("value")).as("mu"),
          stddev_samp(col("value")).as("sd"),
          count(lit(1)).as("n"))
      val z = (col("value") - col("mu")) / col("sd")
      t.events.join(stats, "user_id")
        .filter(col("n") >= 5 && col("sd") > 0 && abs(z) > 2.5)
        .select(col("event_id"), col("user_id"), round(z, 4).as("z"))
    },

    // ROBUST anomaly flagging via median/MAD — e_zscore's outlier-
    // resistant twin (mean/stddev are themselves dragged by the very
    // outliers being hunted; median absolute deviation is not). Two
    // per-user aggregation passes (median, then deviation median) —
    // each a map-combined groupBy; the |users|-row stats tables ride
    // AQE-broadcast joins back onto the stream. Exact interpolated
    // medians on both engines (percentile / quantile_cont).
    Q("e_mad", Some("""
      WITH med AS (SELECT user_id, quantile_cont(value, 0.5) AS med,
                          COUNT(*) AS n
                   FROM events GROUP BY user_id),
      mad AS (SELECT e.user_id,
                     quantile_cont(ABS(e.value - m.med), 0.5) AS mad
              FROM events e JOIN med m USING (user_id)
              GROUP BY e.user_id)
      SELECT e.event_id, e.user_id,
             ROUND(e.value, 4) AS value_r,
             ROUND(m.med, 4) AS med_r, ROUND(d.mad, 4) AS mad_r
      FROM events e JOIN med m USING (user_id) JOIN mad d USING (user_id)
      WHERE m.n >= 5 AND ABS(e.value - m.med) > 3 * d.mad
    """)) { t =>
      val med = t.events.groupBy("user_id")
        .agg(expr("percentile(value, 0.5)").as("med"),
          count(lit(1)).as("n"))
      val mad = t.events.join(med, "user_id")
        .groupBy("user_id")
        .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
      t.events.join(med, "user_id").join(mad, "user_id")
        .filter(col("n") >= 5 &&
          abs(col("value") - col("med")) > lit(3) * col("mad"))
        .select(col("event_id"), col("user_id"),
          round(col("value"), 4).as("value_r"),
          round(col("med"), 4).as("med_r"),
          round(col("mad"), 4).as("mad_r"))
    },

    // Per-window top-k — the live-dashboard staple (top event types
    // each hour). Counts shuffle once on (window, type) with map-side
    // partials; the per-window rank runs the shared TopKPerGroup
    // native shape (WindowGroupLimit cuts below the rank shuffle).
    Q("e_window_topk", Some("""
      WITH c AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT w_start, event_type, n, CAST(rn AS INT) AS rn
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY w_start
                        ORDER BY n DESC, event_type) AS rn
            FROM c)
      WHERE rn <= 2
    """)) { t =>
      val c = t.events
        .groupBy(window(col("ts"), "1 hour").getField("start").as("w_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      graft.operators.TopKPerGroup.native(c, Seq(col("w_start")),
        Seq(col("n").desc, col("event_type")), 2, "rn")
    },

    // Bounded-horizon exponential moving average — the smoothing
    // primitive behind every metrics dashboard. The textbook
    // recurrence (s_n = α·x_n + (1−α)·s_{n−1}) carries unbounded
    // state and no closed SQL form; the production form is the
    // FIR truncation: weights ½^k over the trailing 10 events, a
    // fixed 10-lag stencil both engines evaluate with the IDENTICAL
    // left-to-right double-addition chain (each ½^k is an exact
    // double, so the only rounding is the shared additions — then
    // 4dp on top). One window per user ordered by (ts, event_id) —
    // bounded 10-row frame state, partition count scales with
    // |users|, nothing unbounded at 100 TB. Emitted only where the
    // stencil is full (9th lag exists), making the normalizer the
    // exact constant Σ½^k = 1.998046875.
    Q("e_ewma", Some("""
      WITH w AS (
        SELECT event_id, user_id, value,
               lag(value, 1) OVER win AS l1,
               lag(value, 2) OVER win AS l2,
               lag(value, 3) OVER win AS l3,
               lag(value, 4) OVER win AS l4,
               lag(value, 5) OVER win AS l5,
               lag(value, 6) OVER win AS l6,
               lag(value, 7) OVER win AS l7,
               lag(value, 8) OVER win AS l8,
               lag(value, 9) OVER win AS l9
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT event_id, user_id,
             ROUND((value + 0.5 * l1 + 0.25 * l2 + 0.125 * l3
                    + 0.0625 * l4 + 0.03125 * l5 + 0.015625 * l6
                    + 0.0078125 * l7 + 0.00390625 * l8
                    + 0.001953125 * l9) / 1.998046875, 4) AS ewma
      FROM w WHERE l9 IS NOT NULL
    """)) { t =>
      val win = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val lags = (1 to 9).map(k =>
        lag(col("value"), k).over(win).as(s"l$k"))
      val w = t.events.select(
        (Seq(col("event_id"), col("user_id"), col("value")) ++ lags): _*)
      val num = (1 to 9).foldLeft(col("value")) { (acc, k) =>
        acc + lit(math.pow(0.5, k)) * col(s"l$k")
      }
      w.filter(col("l9").isNotNull)
        .select(col("event_id"), col("user_id"),
          round(num / lit(1.998046875), 4).as("ewma"))
    },

    // DAU + cumulative reach — the growth-dashboard pair: per day,
    // distinct active users, NEW users, and the running total of
    // users ever seen. Cumulative distinct is NOT a running
    // COUNT(DISTINCT) window (unbounded state): each user collapses
    // to one first-seen day via a map-combined MIN, daily news are a
    // second map-combined count, and the running sum is a window over
    // |days| rows — at 100 TB the stateful part stays one row per
    // user, the window sees a dashboard-sized table.
    Q("e_dau_cume", Some("""
      WITH act AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP)
                          AS day, user_id FROM events),
      dau AS (SELECT day, COUNT(*) AS dau FROM act GROUP BY day),
      fs AS (SELECT user_id, MIN(day) AS day FROM act GROUP BY user_id),
      nu AS (SELECT day, COUNT(*) AS new_users FROM fs GROUP BY day)
      SELECT dau.day, dau.dau, COALESCE(nu.new_users, 0) AS new_users,
             CAST(SUM(COALESCE(nu.new_users, 0))
                  OVER (ORDER BY dau.day) AS BIGINT) AS cume_users
      FROM dau LEFT JOIN nu ON nu.day = dau.day
    """)) { t =>
      import org.apache.spark.sql.expressions.Window
      val act = t.events
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        .distinct()
      val dau = act.groupBy("day").agg(count(lit(1)).as("dau"))
      val nu = act.groupBy("user_id").agg(min(col("day")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      dau.join(nu, Seq("day"), "left")
        .select(col("day"), col("dau"),
          coalesce(col("new_users"), lit(0L)).as("new_users"))
        .withColumn("cume_users",
          sum(col("new_users")).over(Window.orderBy("day")))
    },

    // TIME-TO-CONVERT — the product metric behind every funnel: per
    // user, seconds from the FIRST view to the first purchase AFTER
    // it. Two map-combined MIN aggregations (the e_funnel family) +
    // one co-partitioned join; the after-the-view constraint rides
    // the purchase MIN's filter, so no per-user ordering pass exists
    // at any scale. Second-floor arithmetic shared with e_gaps.
    Q("e_ttc", Some("""
      WITH v AS (SELECT user_id, MIN(ts) AS tv FROM events
                 WHERE event_type = 'view' GROUP BY user_id),
      p AS (SELECT e.user_id, MIN(e.ts) AS tp
            FROM events e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > v.tv
            GROUP BY e.user_id)
      SELECT v.user_id,
             CAST(date_diff('second', v.tv, p.tp) AS BIGINT) AS ttc_s
      FROM v JOIN p ON p.user_id = v.user_id
    """)) { t =>
      val v = t.events.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("tv"))
      val p = t.events.filter(col("event_type") === "purchase")
        .join(v, "user_id").filter(col("ts") > col("tv"))
        .groupBy("user_id").agg(min(col("ts")).as("tp"))
      v.join(p, "user_id")
        .select(col("user_id"),
          (unix_timestamp(col("tp")) - unix_timestamp(col("tv")))
            .as("ttc_s"))
    },

    // SEQUENCE PATTERN MATCHING (MATCH_RECOGNIZE / CEP): count, per
    // user, occurrences of view → click → purchase with NO error in
    // between — negation is what separates this from e_funnel's
    // ordered-min times. The journey collapses to one key-local
    // ordered initial-letter string (types have distinct initials),
    // and the pattern is a lazy regex ('v[^e]*?c[^e]*?p' — lazy so
    // RE2 and Java regex agree on the non-overlapping match set).
    // Per-user state = activity length, the same bound a streaming
    // CEP keeps in flatMapGroupsWithState; at 100 TB the sort is
    // key-local, the regex map-side.
    Q("e_pattern", Some("""
      WITH s AS (
        SELECT user_id,
               STRING_AGG(SUBSTR(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id)
      SELECT user_id,
             CAST(LEN(regexp_extract_all(seq, 'v[^e]*?c[^e]*?p'))
                  AS BIGINT) AS n_matches,
             CAST(LEN(seq) AS BIGINT) AS seq_len
      FROM s
    """)) { t =>
      val seq = array_join(expr(
        """transform(
             array_sort(collect_list(struct(ts, event_id,
               substring(event_type, 1, 1) AS ini))),
             x -> x.ini)"""), "")
      t.events.groupBy("user_id")
        .agg(seq.as("seq"))
        .select(col("user_id"),
          size(expr("regexp_extract_all(seq, 'v[^e]*?c[^e]*?p', 0)"))
            .cast("long").as("n_matches"),
          length(col("seq")).cast("long").as("seq_len"))
    },

    // TIME-WEIGHTED AVERAGE (TWAP) — the irregular-sampling average
    // (a value that held for an hour must outweigh one that held a
    // second; the plain AVG of sensor/price readings is wrong).
    // Each reading holds until the next one: one key-local LEAD per
    // (user, day), then a map-combined weighted agg. Readings with
    // no successor in-day carry no weight, identically on both
    // engines via the NULL-lead arithmetic.
    Q("e_twap", Some("""
      WITH g AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               value,
               date_diff('microsecond', ts,
                 LEAD(ts) OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts, event_id)) / 1e6 AS w
        FROM events)
      SELECT user_id, day,
             ROUND(SUM(value * w) / SUM(w), 4) AS twap,
             CAST(COUNT(w) AS BIGINT) AS n_intervals
      FROM g WHERE w IS NOT NULL
      GROUP BY user_id, day HAVING SUM(w) > 0
    """)) { t =>
      import org.apache.spark.sql.expressions.Window
      val day = date_trunc("day", col("ts"))
      val w = Window.partitionBy(col("user_id"), day)
        .orderBy("ts", "event_id")
      t.events
        .select(col("user_id"), day.as("day"), col("value"),
          ((unix_micros(lead(col("ts"), 1).over(w)) -
            unix_micros(col("ts"))) / 1e6).as("w"))
        .filter(col("w").isNotNull)
        .groupBy("user_id", "day")
        .agg(round(sum(col("value") * col("w")) / sum(col("w")), 4)
          .as("twap"), count(col("w")).as("n_intervals"),
          sum(col("w")).as("tw"))
        .filter(col("tw") > 0).drop("tw")
    },

    // ACTIVITY STREAKS — longest run of consecutive active days per
    // user (retention/engagement's favorite number), the classic
    // gaps-and-islands: distinct active days → island id = day −
    // row_number·1day (constant within a consecutive run), then two
    // map-combined aggs. The window is key-local per user over
    // DISTINCT DAYS (≤ span/86400 rows per user, not events) — a
    // billion-event user costs the distinct, not the sort.
    Q("e_streaks", Some("""
      WITH d AS (SELECT DISTINCT user_id,
                        CAST(date_trunc('day', ts) AS DATE) AS day
                 FROM events),
      isl AS (SELECT user_id, day,
                     day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY day) AS INT) AS grp
              FROM d),
      runs AS (SELECT user_id, grp, COUNT(*) AS len FROM isl
               GROUP BY user_id, grp)
      SELECT user_id, CAST(MAX(len) AS BIGINT) AS best_streak,
             CAST(COUNT(*) AS BIGINT) AS n_runs
      FROM runs GROUP BY user_id
    """)) { t =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("day")
      val d = t.events
        .select(col("user_id"), date_trunc("day", col("ts"))
          .cast("date").as("day")).distinct()
      val runs = d
        .withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      runs.groupBy("user_id")
        .agg(max("len").as("best_streak"), count(lit(1)).as("n_runs"))
    },

    // ACTIVITY HEATMAP — the hour-of-day × day-of-week matrix every
    // events dashboard opens with. One map-combined aggregation over
    // a ≤168-cell key space; extraction arithmetic pinned to the
    // same Sunday-based 0-6 dow on both engines.
    Q("e_heatmap", Some("""
      SELECT CAST(EXTRACT(dow FROM ts) AS INT) AS dow,
             CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
             COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value
      FROM events GROUP BY 1, 2
    """)) { t =>
      t.events
        .groupBy((dayofweek(col("ts")) - 1).cast("int").as("dow"),
          hour(col("ts")).cast("int").as("hod"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4)
          .as("avg_value"))
    },

    // EVENT-TRANSITION matrix (first-order Markov chain over the
    // journey: P(next type | type) — the funnel-discovery/session-
    // model staple). One key-local LAG per user (sessionize's shuffle
    // family) emits (from, to) pairs; counts and row-normalized
    // probabilities are two map-combined aggregations over a
    // |types|² table — nothing user-sized survives the first window.
    Q("e_markov", Some("""
      WITH p AS (
        SELECT event_type AS t_to,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS t_from
        FROM events),
      c AS (SELECT t_from, t_to, COUNT(*) AS n FROM p
            WHERE t_from IS NOT NULL GROUP BY t_from, t_to)
      SELECT t_from, t_to, n,
             ROUND(n / SUM(n) OVER (PARTITION BY t_from), 4) AS prob
      FROM c
    """)) { t =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = t.events
        .select(col("event_type").as("t_to"),
          lag(col("event_type"), 1).over(w).as("t_from"))
        .filter(col("t_from").isNotNull)
        .groupBy("t_from", "t_to").agg(count(lit(1)).as("n"))
      pairs.withColumn("prob",
        round(col("n") / sum(col("n"))
          .over(Window.partitionBy("t_from")), 4))
    },

    // INTER-ARRIVAL gap profile — per user: how often, how bursty
    // (mean/max gap between consecutive events). One key-local LAG
    // window per user (same shuffle family as sessionization: sort
    // within user, never global), then a map-combined agg; users with
    // a single event have no gap and drop out, mirrored exactly by
    // the oracle's NULL-lag arithmetic.
    Q("e_gaps", Some("""
      WITH g AS (
        SELECT user_id,
               date_diff('second',
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                 ts) AS gap_s
        FROM events)
      SELECT user_id, CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
             ROUND(AVG(gap_s), 4) AS avg_gap_s,
             CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
      FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
    """)) { t =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t.events
        .withColumn("gap_s",
          unix_timestamp(col("ts")) -
            unix_timestamp(lag(col("ts"), 1).over(w)))
        .filter(col("gap_s").isNotNull)
        .groupBy("user_id")
        .agg(count(col("gap_s")).as("n_gaps"),
          round(avg(col("gap_s")), 4).as("avg_gap_s"),
          max(col("gap_s")).as("max_gap_s"))
    },

    // SLIDING (hopping) windows — the overlapping twin of
    // e_window_agg's tumbling windows: a 24 h window advancing every
    // 6 h, so each event lands in exactly 4 windows (the moving-
    // average shape dashboards ask for). Spark's window(ts, len,
    // slide) materializes the window memberships map-side — the
    // shuffle carries (window, type) aggregates, never 4× the events
    // — and the same plan is the streaming windowed-agg under a
    // watermark. The oracle expands the 4 memberships explicitly:
    // starts = time_bucket(6h) − k·6h, k ∈ 0..3.
    Q("e_window_slide", Some("""
      SELECT CAST(time_bucket(INTERVAL '6 hours', ts)
                  - k.k * INTERVAL '6 hours' AS TIMESTAMP) AS w_start,
             event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sv
      FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
      GROUP BY 1, 2
    """)) { t =>
      t.events
        .groupBy(window(col("ts"), "1 day", "6 hours")
          .getField("start").as("w_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
    },

    // OHLC downsampling — the canonical time-series compaction (one
    // candle per series per day: open/high/low/close/volume). A raw
    // 100 TB event firehose becomes a dashboard-sized table in ONE
    // map-side-combined aggregation: min_by/max_by carry (value,
    // order-key) pairs through the partial aggregates, so open/close
    // need no window and no second pass — the shuffle moves one row
    // per (day, type) per map task, never per event (struct-ordered
    // min_by plans as SortAggregate, so partitions sort on the tiny
    // grouping key — plan-asserted: one exchange, partials below it).
    // Ties on ts
    // are broken by event_id via struct ordering so the candle is
    // deterministic under any row order (DuckDB mirrors with a
    // composite ROW_NUMBER). Turnover rounded: a float sum's last
    // bits depend on reduction order.
    Q("e_ohlc", Some("""
      WITH r AS (
        SELECT time_bucket(INTERVAL '1 day', ts) AS day, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 day', ts), event_type
                                  ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 day', ts), event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events)
      SELECT CAST(day AS TIMESTAMP) AS w_start, event_type,
             MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
             MAX(value) AS high, MIN(value) AS low,
             MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
             COUNT(*) AS volume, ROUND(SUM(value), 4) AS turnover
      FROM r GROUP BY 1, 2
    """)) { t =>
      t.events
        .groupBy(window(col("ts"), "1 day").getField("start").as("w_start"),
          col("event_type"))
        .agg(
          expr("min_by(value, struct(ts, event_id))").as("open"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          expr("max_by(value, struct(ts, event_id))").as("close"),
          count(lit(1)).as("volume"),
          round(sum(col("value")), 4).as("turnover"))
    },
  )
}
