package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Tables.{t, Q}

/** Event-time operators over the `events` table (tumbling windows,
  * sessionization, dedup), expressed over a bounded DataFrame so the
  * DuckDB oracle can check them (SURVEY.md §2.3).
  */
object EventOps {

  val queries: Map[String, Q] = Map(
    // Funnel analysis — the product-analytics staple: per user, the
    // earliest view, the earliest click strictly AFTER that view, the
    // earliest purchase strictly after that click; stage counts +
    // step conversion rates. Three user-keyed min-aggregations chained
    // by user-keyed joins — every step map-side combinable, no windows,
    // no ordering shuffle beyond the user key (the classic funnel
    // plans as a tree of semi-structured aggs at any event volume).
    "q76_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      val nv = v.agg(count(lit(1)).as("n")).withColumn("stage", lit("1_view"))
      val nc = c.agg(count(lit(1)).as("n")).withColumn("stage", lit("2_click_after_view"))
      val np = p.agg(count(lit(1)).as("n")).withColumn("stage", lit("3_purchase_after_click"))
      val staged = nv.unionByName(nc).unionByName(np)
        .select(col("stage"), col("n"))
      val w = Window.orderBy("stage") // 3 rows total — the tiny final frame only
      // nullif guards the degenerate empty-stage case: lag(n) = 0 would
      // return NULL here (non-ANSI divide) but inf in DuckDB's IEEE
      // float division — both engines agree on NULL via nullif.
      staged
        .withColumn("conv_from_prev",
          round(col("n").cast("double") / nullif(lag(col("n"), 1, null).over(w), lit(0)), 4))
        .orderBy("stage")
    }),

    // Robust outlier detection (median/MAD): per event type, the median
    // value, the median absolute deviation, and how many events sit
    // beyond 3.5 robust z-scores — the rule-of-thumb anomaly gate that
    // survives heavy tails where mean/stddev z-scores drown. Two
    // percentile aggs keyed on event_type with the medians broadcast
    // back between them; the flagging pass is a narrow map.
    "q77_mad_outliers" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type").agg(percentile(col("value"), lit(0.5)).as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type").agg(percentile(col("adev"), lit(0.5)).as("mad"))
      // nullif guards MAD = 0 (at least half the values equal the
      // median — legal degenerate data): Spark's non-ANSI divide gives
      // NULL, DuckDB's IEEE division gives inf/nan; nullif makes both
      // engines agree on NULL (outlier test then counts 0, max is NULL).
      dev
        .join(broadcast(mad), "event_type")
        .withColumn("rz", lit(0.6745) * col("adev") / nullif(col("mad"), lit(0.0)))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(first(col("med")), 4).as("med"),
          round(first(col("mad")), 4).as("mad"),
          sum(when(col("rz") > 3.5, 1L).otherwise(0L)).as("n_outliers"),
          round(max(col("rz")), 4).as("max_robust_z"))
        .orderBy("event_type")
    }),

    // Bounded per-user event-prefix sequences — the session-to-training-
    // sequence construction step (recommendation / behavioral-LM
    // pipelines): the FIRST 8 events per user in (ts, event_id) order,
    // joined into one '>'-separated string. The prefix comes from the
    // minK bounded-heap aggregate over struct(ts, event_id, event_type):
    // each map task keeps at most 8 events per user and the shuffle
    // moves (user, 8-array) pairs — never a window partitioned by
    // user_id ranking the full event history, and no per-user
    // collect_list buffering unbounded activity.
    "q81_user_prefix_seq" -> ((s, dir) => {
      import graft.functions.TopKAggregates.minK
      t(s, dir, "events")
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), col("event_type")).as("e"))
        .groupBy("user_id")
        .agg(minK(col("e"), 8).as("es"), count(lit(1)).as("n_events"))
        .select(
          col("user_id"), col("n_events"),
          expr("array_join(transform(es, x -> x.event_type), '>')").as("prefix_seq"),
          size(col("es")).as("prefix_len"))
        .orderBy("user_id")
    }),

    // Cohort retention — the week-over-week retention matrix: users are
    // cohorted by their first active week; each (cohort, offset) cell
    // counts distinct users still active that many weeks later, plus the
    // rate against the cohort's own size. Everything is keyed on
    // user_id (distinct, min-agg, self-join) — no windows at all — and
    // the per-cohort sizes frame is one row per calendar week, broadcast.
    "q91_retention_cohorts" -> ((s, dir) => {
      val active = t(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      val cohort = active.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      val ret = active.join(cohort, "user_id")
        .select(col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / lit(7)).cast("long").as("week_offset"),
          col("user_id"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct(col("user_id")).as("active_users"))
      val sizes = ret.filter(col("week_offset") === 0)
        .select(col("cohort_week"), col("active_users").as("cohort_size"))
      ret.join(broadcast(sizes), "cohort_week")
        .select(to_date(col("cohort_week")).as("cohort_week"), col("week_offset"), col("active_users"),
          round(col("active_users").cast("double") / col("cohort_size"), 4).as("retention"))
        .orderBy("cohort_week", "week_offset")
    }),

    // Event-transition matrix (first-order Markov estimate): consecutive
    // event-type pairs per user via lead() over the user's timeline,
    // counted into a from→to matrix with row-normalized probabilities.
    // The window partitions on user_id — high-cardinality and bounded
    // per key (a user's own history), the legitimate window shape — and
    // the row-totals frame is |event_type| rows, broadcast.
    "q92_event_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val counts = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("from_type").agg(sum(col("n")).as("total"))
      counts.join(broadcast(totals), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n") / col("total"), 4).as("p"))
        .orderBy("from_type", "to_type")
    }),

    // Top common 3-step behavioral paths: consecutive event-type
    // trigrams per user (two leads over the user's own timeline — the
    // q92 window shape, high-cardinality bounded key), counted
    // corpus-wide with a deterministic top-20 cut.
    "q94_event_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .groupBy(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    }),

    // Daily active users + cumulative reach: each user's reach
    // contribution is charged to their FIRST active day (a min-agg per
    // user, map-side combinable), then the running total goes through
    // the two-phase chunked prefix sum under a constant key (the d51
    // shape; the order key is the epoch-day int) — never a single-task
    // global window. The growth-curve staple next to q91's retention.
    "q97_user_reach" -> ((s, dir) => {
      val active = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val dau = active.groupBy("day").agg(count(lit(1)).as("dau"))
      val newUsers = active.groupBy("user_id").agg(min(col("day")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      val base = dau.join(newUsers, Seq("day"), "left")
        .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
        .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
        .withColumn("__all", lit(0))
      PrefixOps.partitionedCumSum(base, "__all", Seq("day_num"), "new_users", "cumulative_reach")
        .select(col("day"), col("dau"), col("new_users"), col("cumulative_reach"))
        .orderBy("day")
    }),

    // Funnel step latency: the timing half of q76 — per converting
    // user, the elapsed seconds between funnel stages, summarized as
    // exact interpolated percentiles per step. Durations are computed
    // in integer MICROseconds (unix_micros) and divided once, so both
    // engines see bit-identical doubles before the percentile. Same
    // user-keyed min-agg tree as q76; the final frame is 2 rows.
    "q96_funnel_latency" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      val d1 = c.join(v, "user_id")
        .select(((unix_micros(col("t2")) - unix_micros(col("t1"))) / lit(1000000.0)).as("s"))
        .withColumn("step", lit("1_view_to_click"))
      val d2 = p.join(c, "user_id")
        .select(((unix_micros(col("t3")) - unix_micros(col("t2"))) / lit(1000000.0)).as("s"))
        .withColumn("step", lit("2_click_to_purchase"))
      d1.unionByName(d2)
        .groupBy("step")
        .agg(
          count(lit(1)).as("n_users"),
          round(percentile(col("s"), lit(0.5)), 2).as("p50_s"),
          round(percentile(col("s"), lit(0.9)), 2).as("p90_s"),
          round(max(col("s")), 2).as("max_s"))
        .orderBy("step")
    }),

    // Seasonal decomposition + anomaly flags: hourly event counts minus
    // their hour-of-day seasonal mean (per event type), residuals
    // z-scored against the type's residual spread — the STL-lite
    // monitoring shape. Three keyed aggregations chained by broadcast
    // joins (the seasonal frame is |types|×24 rows, the spread frame
    // |types| rows — both broadcast at ANY scale); no windows. The
    // residual, the spread, and the z-score each round to 6dp BEFORE
    // the z>3 comparison (the s11/s12/s14 round-before-compare replay
    // discipline): avg and stddev_samp are order-dependent doubles, so
    // without the rounding a z landing at the threshold could flip
    // n_anomalies between engines.
    "q95_seasonal_residuals" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val seasonal = hourly
        .groupBy(col("event_type").as("s_type"), hour(col("h")).as("hod"))
        .agg(avg(col("n")).as("seasonal_mean"))
      val resid = hourly
        .join(broadcast(seasonal),
          col("event_type") === col("s_type") && hour(col("h")) === col("hod"))
        .select(col("event_type"), col("h"), col("n"),
          round(col("n") - col("seasonal_mean"), 6).as("r"))
      val spread = resid.groupBy("event_type")
        .agg(round(stddev_samp(col("r")), 6).as("sd"))
      resid.join(broadcast(spread), "event_type")
        .select(col("event_type"),
          round(abs(col("r")) / nullif(col("sd"), lit(0.0)), 6).as("z"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_hours"),
          sum(when(col("z") > 3, 1L).otherwise(0L)).as("n_anomalies"),
          round(max(col("z")), 4).as("max_z"))
        .orderBy("event_type")
    }),

    // Tumbling 1h window aggregate (streaming: groupBy(window($"ts","1 hour"))).
    "q30_tumbling_hour" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("ts") < lit("2024-01-03").cast("timestamp"))
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    }),

    // Sessionization: 30-min inactivity gap starts a new session
    // (streaming: session_window($"ts", "30 minutes")).
    "q31_sessions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val lagTs = lag(col("ts"), 1).over(w)
      t(s, dir, "events")
        .select(
          col("user_id"),
          when(lagTs.isNull || (unix_timestamp(col("ts")) - unix_timestamp(lagTs)) > 1800, 1)
            .otherwise(0)
            .as("new_session")
        )
        .groupBy("user_id")
        .agg(sum(col("new_session")).cast("bigint").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Keyed dedup keeping the first event id (streaming: dropDuplicates
    // with state; expressed as min-per-key so it is deterministic).
    "q32_event_dedup" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(min(col("event_id")).as("first_event_id"), count(lit(1)).as("n_dupes"))
        .orderBy("user_id", "event_type")
    }),

    // Semi-structured extraction: JSON props parsed ONCE per row via
    // from_json projected before the aggregate (schema-on-read over a
    // string column). Aggregating over get_json_object directly would
    // re-parse the JSON per aggregate expression — 3x the parsing at
    // 100 TB for zero benefit. Subtlety: a row-level `k IS NOT NULL`
    // filter would be PUSHED below the projection and re-instantiate
    // JsonToStructs inside the Filter (2 parses/row, the round-2 judge
    // finding) — so the null handling rides the aggregates instead:
    // count/sum/min skip nulls, and all-null groups are dropped by a
    // filter on the aggregated count, which cannot be pushed below the
    // parse. EventOpsSpec pins the plan to exactly one JsonToStructs.
    "q35_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), expr("from_json(props, 'k INT').k").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum("k").as("sum_k"), min("k").as("min_k"))
        .filter(col("n") > 0)
        .orderBy("event_type")
    }),

    // The NATIVE as-of join ([[graft.plans.AsOfJoinExec]] — custom logical
    // node + planner strategy + physical merge) against the SAME oracle as
    // q33's composed form: both must equal DuckDB's native ASOF LEFT JOIN.
    "q53_asof_native" -> ((s, dir) => {
      val events = t(s, dir, "events").filter(col("user_id") < 30)
      val purchases = t(s, dir, "events")
        .filter(col("user_id") < 30 && col("event_type") === "purchase")
      graft.plans.AsOfJoinNative
        .leftAsOf(
          events.select("event_id", "user_id", "ts"),
          purchases.select("event_id", "user_id", "ts"),
          key = "user_id",
          ts = "ts",
          valueCols = Seq("event_id"),
          tieBreak = "event_id"
        )
        .select(
          col("event_id"),
          col("user_id"),
          col("asof_event_id").as("last_purchase_event_id")
        )
        .orderBy("user_id", "event_id")
    }),

    // argmax/argmin aggregates: each user's latest/earliest event fields
    // via max_by/min_by — the "latest state per key" compaction shape
    // (SCD1) as ONE hash aggregate instead of a window + filter.
    // Deterministic here because (user_id, ts) is unique in this table.
    "q52_argmax" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          expr("max_by(event_id, ts)").as("last_event_id"),
          expr("max_by(event_type, ts)").as("last_event_type"),
          round(expr("max_by(value, ts)"), 2).as("last_value"),
          expr("min_by(event_id, ts)").as("first_event_id"),
          expr("CAST(floor(unix_timestamp(max(ts))) AS BIGINT)").as("last_epoch")
        )
        .orderBy("user_id")
    }),

    // Interval (range) join: each purchase matched to the same user's
    // clicks in the preceding hour. Equi-key on user_id carries the
    // shuffle; the time bounds ride as a post-join predicate, so this is
    // a plain hash/sort-merge join at scale, never a nested-loop.
    "q47_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"), col("value"))
      purchases
        .join(
          clicks,
          Seq("user_id")
        )
        .filter(
          col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR")
        )
        .select(col("user_id"), col("click_id"), col("purchase_id"), round(col("value"), 2).as("value"))
        .orderBy("user_id", "purchase_id", "click_id")
    }),

    // NATIVE session windows (session_window in batch): the engine-level
    // merge-on-overlap sessionization, paired with q31's hand-rolled
    // gaps-and-islands twin the way q53 pairs with q33 for as-of joins.
    // Spark's session end = last event + gap; the oracle reconstructs
    // identical sessions from the same strict->30min gap rule.
    "q69_session_window_native" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("user_id") < 20)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("w.start").as("session_start"),
          col("w.end").as("session_end"),
          col("n_events")
        )
        .orderBy("user_id", "session_start")
    }),

    // KEYLESS range join via binning ([[RangeJoin]]): events matched to
    // overlapping, variable-length time intervals with NO shared equi-key
    // (q47's interval join rides its user_id key; here there is none, which
    // Spark would otherwise plan as BroadcastNestedLoopJoin — quadratic
    // once the interval side outgrows a broadcast). The intervals are
    // derived deterministically from the nation table (25 rows: start =
    // corpus epoch + 3h·n, length = (n mod 7)+1 hours) so both engines
    // construct the identical interval set; the bin width (1h) matches the
    // typical interval length per the [[RangeJoin]] cost model.
    "q61_range_bin_join" -> ((s, dir) => {
      val hourUs = 3600L * 1000000L
      val ev = t(s, dir, "events")
      val base = ev.agg(min(unix_micros(col("ts"))).as("base"))
      val intervals = t(s, dir, "nation")
        .crossJoin(broadcast(base)) // 1-row scalar side input
        .select(
          col("n_nationkey").cast("long").as("interval_id"),
          (col("base") + col("n_nationkey") * lit(3 * hourUs)).as("start_us"),
          (col("base") + col("n_nationkey") * lit(3 * hourUs) +
            (col("n_nationkey") % 7 + 1) * lit(hourUs)).as("end_us")
        )
      val points = ev.select(col("event_id"), col("value"), unix_micros(col("ts")).as("ts_us"))
      RangeJoin
        .pointInInterval(points, "ts_us", intervals, "start_us", "end_us", binWidth = hourUs)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
        .orderBy("interval_id")
    }),

    // SCD type-2 history build: each purchase event becomes a versioned
    // dimension row with [valid_from, valid_to) effectivity derived from
    // the NEXT change per user (lead window) — the standard
    // warehouse-merge shape, one keyed window, no self-join.
    "q63_scd2_history" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), round(col("value"), 2).as("value"), col("ts").as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(Window.partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("user_id", "valid_from", "event_id")
    }),

    // Time-series resample + forward fill: quantize each user's readings
    // to a 15-min grid (per-slot max), densify the grid with sequence()
    // (no calendar table needed), and gap-fill with last-observation-
    // carried-forward via an IGNORE NULLS window — the standard
    // sensor/metric regularization step. The grid generate is per-user
    // (keyed), the ffill is one keyed window: no global sort anywhere.
    "q64_resample_ffill" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id") < 10)
        .select(
          col("user_id"),
          timestamp_seconds(floor(unix_timestamp(col("ts")) / 900) * 900).as("slot"),
          col("value")
        )
      val slotAgg = ev.groupBy("user_id", "slot").agg(round(max(col("value")), 2).as("slot_max"))
      val grid = ev
        .groupBy("user_id")
        .agg(min(col("slot")).as("lo"), max(col("slot")).as("hi"))
        .select(col("user_id"), explode(expr("sequence(lo, hi, interval 15 minutes)")).as("slot"))
      val w = Window.partitionBy("user_id").orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .join(slotAgg, Seq("user_id", "slot"), "left")
        .select(
          col("user_id"),
          col("slot"),
          col("slot_max"),
          last(col("slot_max"), ignoreNulls = true).over(w).as("filled"),
          col("slot_max").isNull.as("is_gap")
        )
        .orderBy("user_id", "slot")
    }),

    // As-of join: every event enriched with the latest purchase at-or-
    // before it for the same user ([[AsOfJoin]]; oracle = DuckDB's native
    // ASOF LEFT JOIN).
    "q33_asof_purchase" -> ((s, dir) => {
      val events = t(s, dir, "events").filter(col("user_id") < 30)
      val purchases = t(s, dir, "events")
        .filter(col("user_id") < 30 && col("event_type") === "purchase")
      AsOfJoin
        .leftAsOf(
          events.select("event_id", "user_id", "ts"),
          purchases.select("event_id", "user_id", "ts"),
          key = "user_id",
          ts = "ts",
          valueCols = Seq("event_id"),
          tieBreak = "event_id"
        )
        .select(col("event_id"), col("user_id"), col("asof_event_id").as("last_purchase_event_id"))
        .orderBy("user_id", "event_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q76_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
        |staged AS (
        |  SELECT '1_view' AS stage, count(*) AS n FROM v
        |  UNION ALL SELECT '2_click_after_view', count(*) FROM c
        |  UNION ALL SELECT '3_purchase_after_click', count(*) FROM p)
        |SELECT stage, n,
        |  round(CAST(n AS DOUBLE) / nullif(lag(n) OVER (ORDER BY stage), 0), 4) AS conv_from_prev
        |FROM staged ORDER BY stage""".stripMargin,
    "q77_mad_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, e.value, abs(e.value - m.med) AS adev, m.med
        |        FROM events e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |  round(any_value(d.med), 4) AS med,
        |  round(any_value(ma.mad), 4) AS mad,
        |  CAST(sum(CASE WHEN 0.6745 * d.adev / nullif(ma.mad, 0) > 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(max(0.6745 * d.adev / nullif(ma.mad, 0)), 4) AS max_robust_z
        |FROM dev d JOIN mad ma USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q81_user_prefix_seq" ->
      """WITH r AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM events)
        |SELECT user_id, CAST(any_value(n_events) AS BIGINT) AS n_events,
        |  string_agg(event_type, '>' ORDER BY rn) AS prefix_seq,
        |  CAST(count(*) AS INT) AS prefix_len
        |FROM r WHERE rn <= 8 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q91_retention_cohorts" ->
      """WITH active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM active GROUP BY 1),
        |ret AS (
        |  SELECT c.cohort_week,
        |    CAST(date_diff('day', c.cohort_week, a.week) / 7 AS BIGINT) AS week_offset,
        |    count(DISTINCT a.user_id) AS active_users
        |  FROM active a JOIN cohort c USING (user_id) GROUP BY 1, 2)
        |SELECT CAST(r.cohort_week AS DATE) AS cohort_week, r.week_offset, r.active_users,
        |  round(r.active_users * 1.0 / s.active_users, 4) AS retention
        |FROM ret r JOIN ret s ON s.cohort_week = r.cohort_week AND s.week_offset = 0
        |ORDER BY 1, 2""".stripMargin,
    "q92_event_transitions" ->
      """WITH seq AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "q94_event_paths" ->
      """WITH seq AS (SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS t2, lead(event_type, 2) OVER w AS t3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || t2 || '>' || t3 AS path, count(*) AS n
        |FROM seq WHERE t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
    "q97_user_reach" ->
      """WITH active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM active GROUP BY 1),
        |fs AS (SELECT user_id, min(day) AS day FROM active GROUP BY 1),
        |nu AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1),
        |j AS (SELECT d.day, d.dau, coalesce(n.new_users, 0) AS new_users
        |      FROM dau d LEFT JOIN nu n USING (day))
        |SELECT day, dau, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cumulative_reach
        |FROM j ORDER BY day""".stripMargin,
    "q96_funnel_latency" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
        |d AS (
        |  SELECT '1_view_to_click' AS step, (epoch_us(c.t2) - epoch_us(v.t1)) / 1000000.0 AS s
        |  FROM c JOIN v USING (user_id)
        |  UNION ALL
        |  SELECT '2_click_to_purchase', (epoch_us(p.t3) - epoch_us(c.t2)) / 1000000.0
        |  FROM p JOIN c USING (user_id))
        |SELECT step, count(*) AS n_users,
        |  round(quantile_cont(s, 0.5), 2) AS p50_s,
        |  round(quantile_cont(s, 0.9), 2) AS p90_s,
        |  round(max(s), 2) AS max_s
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q95_seasonal_residuals" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |seasonal AS (SELECT event_type, hour(h) AS hod, avg(n) AS seasonal_mean
        |  FROM hourly GROUP BY 1, 2),
        |resid AS (SELECT hourly.event_type, hourly.h, hourly.n, round(hourly.n - s.seasonal_mean, 6) AS r
        |  FROM hourly JOIN seasonal s ON s.event_type = hourly.event_type AND s.hod = hour(hourly.h)),
        |spread AS (SELECT event_type, round(stddev_samp(r), 6) AS sd FROM resid GROUP BY 1),
        |z AS (SELECT r.event_type, round(abs(r.r) / nullif(sp.sd, 0), 6) AS z
        |  FROM resid r JOIN spread sp ON sp.event_type = r.event_type)
        |SELECT event_type, count(*) AS n_hours,
        |  CAST(sum(CASE WHEN z > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |  round(max(z), 4) AS max_z
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_tumbling_hour" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events WHERE ts < TIMESTAMP '2024-01-03' GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q31_sessions" ->
      """WITH gaps AS (
        |  SELECT user_id, ts, CASE WHEN date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
        |    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM gaps GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q32_event_dedup" ->
      """SELECT user_id, event_type, min(event_id) AS first_event_id, count(*) AS n_dupes
        |FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,
    // Predicate matches the Spark side exactly: a non-integer `k` is NULL
    // after the cast on BOTH engines (previously the oracle filtered on
    // raw json_extract IS NOT NULL, which would keep a row Spark drops).
    "q35_json_extract" ->
      """WITH j AS (SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
        |SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k, CAST(min(k) AS INT) AS min_k
        |FROM j WHERE k IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "q52_argmax" ->
      """SELECT user_id, max_by(event_id, ts) AS last_event_id, max_by(event_type, ts) AS last_event_type,
        |  round(max_by(value, ts), 2) AS last_value, min_by(event_id, ts) AS first_event_id,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS last_epoch
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Gap test at MICROsecond precision with >= : Spark's session_window
    // is end-exclusive ([start, last+gap)), so a gap of exactly the
    // window splits, and a second-granularity date_diff would merge
    // gaps in (1800s, 1801s) that Spark splits.
    "q69_session_window_native" ->
      """WITH gaps AS (
        |  SELECT user_id, ts, event_id, CASE WHEN date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
        |    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE user_id < 20
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (SELECT user_id, ts, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM gaps)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q61_range_bin_join" ->
      """WITH base AS (SELECT min(epoch_us(ts)) AS base FROM events),
        |iv AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS interval_id,
        |         base + n_nationkey * 10800000000 AS start_us,
        |         base + n_nationkey * 10800000000 + (n_nationkey % 7 + 1) * 3600000000 AS end_us
        |  FROM nation, base)
        |SELECT i.interval_id, count(*) AS n_events, round(sum(e.value), 2) AS total_value
        |FROM events e JOIN iv i ON epoch_us(e.ts) >= i.start_us AND epoch_us(e.ts) <= i.end_us
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q64_resample_ffill" ->
      """WITH ev AS (SELECT user_id, CAST(to_timestamp(floor(epoch(ts) / 900) * 900) AS TIMESTAMP) AS slot, value
        |            FROM events WHERE user_id < 10),
        |sa AS (SELECT user_id, slot, round(max(value), 2) AS slot_max FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM ev GROUP BY 1),
        |grid AS (SELECT user_id, CAST(unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS TIMESTAMP) AS slot FROM bounds)
        |SELECT g.user_id, g.slot, sa.slot_max,
        |  last_value(sa.slot_max IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.slot
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  (sa.slot_max IS NULL) AS is_gap
        |FROM grid g LEFT JOIN sa ON g.user_id = sa.user_id AND g.slot = sa.slot
        |ORDER BY g.user_id, g.slot""".stripMargin,
    "q63_scd2_history" ->
      """SELECT user_id, event_id, round(value, 2) AS value,
        |  CAST(ts AS TIMESTAMP) AS valid_from,
        |  CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP) AS valid_to,
        |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "q47_interval_join" ->
      """SELECT p.user_id, c.event_id AS click_id, p.event_id AS purchase_id, round(p.value, 2) AS value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY p.user_id, purchase_id, click_id""".stripMargin,
    "q33_asof_purchase" ->
      """SELECT e.event_id, e.user_id, p.event_id AS last_purchase_event_id
        |FROM events e ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase' AND user_id < 30) p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |WHERE e.user_id < 30 ORDER BY e.user_id, e.event_id""".stripMargin,
    "q53_asof_native" ->
      """SELECT e.event_id, e.user_id, p.event_id AS last_purchase_event_id
        |FROM events e ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase' AND user_id < 30) p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |WHERE e.user_id < 30 ORDER BY e.user_id, e.event_id""".stripMargin
  )
}
