package graft
package registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.operators.ChOps
import Support.{decimal, events, tbl}

/** The e family: event-stream analytics over the events table
  * (windows, sessions, funnels, retention, sequence matching).
  */
object EFamily {

  /** e9's oracle, which ch18 (the same funnel as CH SQL text) shares. */
  private[registry] val windowFunnelOracle: String =
    """WITH RECURSIVE ev AS (SELECT user_id,
      |    epoch_us(ts) * 10 + (CASE event_type WHEN 'signup' THEN 0
      |      WHEN 'click' THEN 1 WHEN 'purchase' THEN 2 END) AS e
      |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
      |ord AS (SELECT user_id, e,
      |    row_number() OVER (PARTITION BY user_id ORDER BY e) AS i FROM ev),
      |n AS (SELECT user_id, count(*) AS cnt FROM ord GROUP BY user_id),
      |st(user_id, i, a1, a2, a3) AS (
      |  SELECT user_id, CAST(0 AS BIGINT), CAST(-1 AS BIGINT),
      |    CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) FROM n
      |  UNION ALL
      |  SELECT st.user_id, st.i + 1,
      |    CASE WHEN o.e % 10 = 0 THEN greatest(st.a1, o.e // 10)
      |         ELSE st.a1 END,
      |    CASE WHEN o.e % 10 = 1 AND st.a1 >= 0
      |          AND o.e // 10 - st.a1 <= 259200000000
      |         THEN greatest(st.a2, st.a1) ELSE st.a2 END,
      |    CASE WHEN o.e % 10 = 2 AND st.a2 >= 0
      |          AND o.e // 10 - st.a2 <= 259200000000
      |         THEN greatest(st.a3, st.a2) ELSE st.a3 END
      |  FROM st JOIN ord o ON o.user_id = st.user_id AND o.i = st.i + 1),
      |fin AS (SELECT st.user_id, st.a1, st.a2, st.a3
      |  FROM st JOIN n ON st.user_id = n.user_id AND st.i = n.cnt)
      |SELECT CAST(CASE WHEN a3 >= 0 THEN 3 WHEN a2 >= 0 THEN 2
      |    WHEN a1 >= 0 THEN 1 ELSE 0 END AS INTEGER) AS level,
      |  count(*) AS n
      |FROM fin GROUP BY 1 ORDER BY level""".stripMargin

  val entries: Seq[Entry] = Seq(
    // ===== events-table analytics =====
    // tumbling window aggregation (batch form of streaming windows)
    Entry("e1_tumbling_window", (s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(decimal(col("value"), 18, 6)).cast(DoubleType).as("v"))
        .orderBy("h", "event_type"),
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin),

    // sessionization: lag + gap flag + running sum (30-min timeout)
    Entry("e2_sessionize", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull ||
            (col("ts").cast(DoubleType) - col("prev").cast(DoubleType)) > 1800.0, 1)
            .otherwise(0))
        .withColumn("sid", sum("new_s").over(wRun))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"), min("ts").as("start_ts"), max("ts").as("end_ts"))
        .orderBy("user_id", "sid")
    },
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, CAST(sid AS BIGINT) AS sid, count(*) AS n_events,
        |  min(ts) AS start_ts, max(ts) AS end_ts
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin),

    // semi-structured extraction from JSON props
    Entry("e3_json_props", (s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(sum(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast(LongType))
          .as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type"),
      """SELECT event_type,
        |  CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT)
        |    AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // funnel: users whose first signup is followed by a purchase
    Entry("e4_funnel", (s, dir) => {
      val ev = events(s, dir)
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("s_ts"))
      val p = ev.filter(col("event_type") === "purchase").select(
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      s0.join(p, col("p_user") === col("user_id") && col("p_ts") >= col("s_ts"),
          "left_semi")
        .agg(count(lit(1)).as("n_converted"))
    },
      """SELECT count(*) AS n_converted FROM (
        |  SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id) s
        |WHERE EXISTS (SELECT 1 FROM events e
        |              WHERE e.event_type = 'purchase'
        |                AND e.user_id = s.user_id AND e.ts >= s.s_ts)""".stripMargin),

    // event dedup: first event per (user, type) — streaming-dedup batch twin
    Entry("e5_first_event", (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    },
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin),

    // week-over-week retention from the events stream
    Entry("e6_retention", (s, dir) => {
      val wk = events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).cast(DateType).as("wk"))
        .distinct()
      val nxt = wk.select(col("user_id"), col("wk").as("wk2"))
      wk.join(nxt, col("wk2") === date_add(col("wk"), 7) &&
          wk("user_id") === nxt("user_id"))
        .groupBy("wk").agg(count(lit(1)).as("retained"))
        .orderBy("wk")
    },
      """WITH wk AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events)
        |SELECT a.wk AS wk, count(*) AS retained
        |FROM wk a JOIN wk b ON b.wk = a.wk + 7 AND a.user_id = b.user_id
        |GROUP BY a.wk ORDER BY a.wk""".stripMargin),

    // ASOF with tolerance window: stale matches become NULL
    Entry("e7_asof_tolerance", (s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts")
      val ord = tbl(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      ChOps.asofJoinLeftTolerance(ev, ord, "user_id", "ts", "o_orderdate",
          Seq("o_orderkey"), 800000000L)
        .select("event_id", "o_orderkey").orderBy("event_id")
    },
      """WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
        |                  max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2),
        |m AS (SELECT event_id, ts, o_orderkey, o_orderdate
        |      FROM events ASOF LEFT JOIN r
        |        ON events.user_id = r.user_id AND r.o_orderdate <= events.ts)
        |SELECT event_id,
        |  CASE WHEN epoch(o_orderdate) >= epoch(ts) - 800000000
        |       THEN o_orderkey END AS o_orderkey
        |FROM m ORDER BY event_id""".stripMargin),

    // exact distinct users per hour (windowed cardinality)
    Entry("e8_hourly_uniques", (s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(countDistinct(col("user_id")).as("u"), count(lit(1)).as("n"))
        .orderBy("h"),
      """SELECT date_trunc('hour', ts) AS h,
        |  count(DISTINCT user_id) AS u, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY h""".stripMargin),

    // windowFunnel (CH funnel-depth aggregate): per-user deepest
    // signup→click→purchase chain within 3 days, as a codegen'd fold over
    // each user's sorted (ts,step)-encoded events; output = depth histogram.
    Entry("e9_window_funnel", (s, dir) =>
      ChOps.windowFunnel(events(s, dir), "user_id", "ts", "event_type",
          Seq("signup", "click", "purchase"), 259200000000L)
        .groupBy("level").agg(count(lit(1)).as("n"))
        .orderBy("level"),
      // identical fold re-derived in DuckDB over the same encoded longs, as
      // a RECURSIVE CTE stepping each user's sorted stream one event per
      // iteration (a1..a3 = per-level latest-chain timestamps, -1 = unset).
      // NOT a list_reduce lambda: DuckDB 1.0's vectorized list_reduce can
      // cross accumulator lanes between rows under branching CASE (seen as
      // swapped per-user results at sf0.001) — the recursion is lane-safe.
      windowFunnelOracle),

    // sequenceMatch('(?1).*(?2).*(?3)') — ordered-subsequence event
    // pattern per user (funnel DP, unbounded window); depth histogram
    Entry("e10_sequence_match", (s, dir) =>
      ChOps.sequenceMatch(events(s, dir), "user_id", "ts", "event_type",
          Seq("signup", "click", "purchase"))
        .groupBy("matched").agg(count(lit(1)).as("n"))
        .orderBy("matched"),
      // greedy ordered-subsequence existence == the unbounded-window funnel
      // DP (chain starts propagate, so >= with (ts, step)-sorted processing)
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |  WHERE event_type IN ('signup', 'click', 'purchase')),
        |s AS (SELECT user_id, min(t) AS t0 FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT ev.user_id, min(t) AS t1 FROM ev JOIN s USING (user_id)
        |  WHERE event_type = 'click' AND t >= t0 GROUP BY ev.user_id),
        |p AS (SELECT ev.user_id, min(t) AS t2 FROM ev JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND t >= t1 GROUP BY ev.user_id),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |m AS (SELECT u.user_id, p.user_id IS NOT NULL AS matched
        |  FROM u LEFT JOIN p USING (user_id))
        |SELECT matched, count(*) AS n FROM m
        |GROUP BY matched ORDER BY matched""".stripMargin),

    // sequenceCount: greedy non-overlapping complete-chain count per user
    Entry("e11_sequence_count", (s, dir) =>
      ChOps.sequenceCount(events(s, dir), "user_id", "ts", "event_type",
          Seq("signup", "click", "purchase"))
        .orderBy("user_id"),
      // the same greedy automaton replayed in DuckDB as a RECURSIVE CTE
      // (state = chains + next-needed-step; completing step 3 resets) —
      // lane-safe, see the e9 note on the list_reduce vectorization bug
      """WITH RECURSIVE ev AS (SELECT user_id,
        |    epoch_us(ts) * 10 + (CASE event_type WHEN 'signup' THEN 0
        |      WHEN 'click' THEN 1 WHEN 'purchase' THEN 2 END) AS e
        |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
        |ord AS (SELECT user_id, e,
        |    row_number() OVER (PARTITION BY user_id ORDER BY e) AS i FROM ev),
        |n AS (SELECT user_id, count(*) AS cnt FROM ord GROUP BY user_id),
        |st(user_id, i, chains, need) AS (
        |  SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0 FROM n
        |  UNION ALL
        |  SELECT st.user_id, st.i + 1,
        |    st.chains + CASE WHEN o.e % 10 = st.need AND st.need = 2
        |                     THEN 1 ELSE 0 END,
        |    CASE WHEN o.e % 10 = st.need
        |         THEN CASE WHEN st.need = 2 THEN 0 ELSE st.need + 1 END
        |         ELSE st.need END
        |  FROM st JOIN ord o ON o.user_id = st.user_id AND o.i = st.i + 1)
        |SELECT st.user_id, st.chains AS n_chains
        |FROM st JOIN n ON st.user_id = n.user_id AND st.i = n.cnt
        |ORDER BY st.user_id""".stripMargin),

    // deltaSum: sum of positive adjacent deltas of the per-user value
    // sequence in ts order (CH's counter-increase aggregate) — lag window
    // partitioned by user, then a plain sum
    Entry("e12_delta_sum", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("d",
          col("value") - lag(col("value"), 1).over(w))
        .filter(col("d") > 0)
        .groupBy("user_id")
        .agg(sum(decimal(col("d"), 28, 6)).cast(DoubleType).as("delta_sum"))
        .orderBy("user_id")
    },
      """WITH w AS (SELECT user_id,
        |    value - lag(value) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS d
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CAST(d AS DECIMAL(28,6))) AS DOUBLE) AS delta_sum
        |FROM w WHERE d > 0 GROUP BY user_id ORDER BY user_id""".stripMargin),

    // maxIntersections: maximum number of concurrently-open [ts, ts+30min)
    // intervals per user — the classic +1/-1 sweep as a partitioned
    // ordered cumsum (ends sort before starts at the same instant:
    // half-open intervals)
    Entry("e13_max_intersections", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("t0"),
        (unix_micros(col("ts")) + 1800000000L).as("t1"))
      val pts = ev.select(col("user_id"), col("t0").as("t"), lit(1).as("d"))
        .unionByName(ev.select(col("user_id"), col("t1").as("t"), lit(-1).as("d")))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts.withColumn("open", sum(col("d")).over(w))
        .groupBy("user_id").agg(max(col("open")).as("max_open"))
        .orderBy("user_id")
    },
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t0,
        |    epoch_us(ts) + 1800000000 AS t1 FROM events),
        |pts AS (SELECT user_id, t0 AS t, 1 AS d FROM ev
        |  UNION ALL SELECT user_id, t1, -1 FROM ev),
        |c AS (SELECT user_id, sum(d) OVER (PARTITION BY user_id
        |    ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS open FROM pts)
        |SELECT user_id, CAST(max(open) AS BIGINT) AS max_open
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin),

    // sequenceMatch separator sublanguage: strict adjacency (?1)(?2) and
    // time-bounded (?1)(?t<=2h)(?2), per user over the full event stream
    // (non-matching events break adjacency, as in CH)
    Entry("e14_sequence_patterns", (s, dir) => {
      import graft.operators.ChOps
      val ev = events(s, dir)
      val adj = ChOps.sequenceMatchPattern(ev, "user_id", "ts", "event_type",
          Seq("view", "click"), Seq(ChOps.Adjacent))
        .withColumnRenamed("matched", "m_adj")
      val tb = ChOps.sequenceMatchPattern(ev, "user_id", "ts", "event_type",
          Seq("view", "purchase"), Seq(ChOps.MaxGapMicros(7200L * 1000000L)))
        .withColumnRenamed("matched", "m_tb")
      adj.join(tb, Seq("user_id")).orderBy("user_id")
    },
      // adjacency: lead() over the SAME (ts, encoded-step) tie order the
      // operator sorts by; time-bound: an existence join within the window
      """WITH ev AS (SELECT user_id, ts, event_type,
        |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 0 END AS s_adj
        |  FROM events),
        |nx AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, s_adj) AS nxt
        |  FROM ev),
        |adj AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'view' AND nxt = 'click' THEN 1 ELSE 0 END) AS m
        |  FROM nx GROUP BY user_id),
        |tb AS (SELECT DISTINCT a.user_id FROM events a JOIN events b
        |    ON a.user_id = b.user_id
        |   AND a.event_type = 'view' AND b.event_type = 'purchase'
        |   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR)
        |SELECT u.user_id,
        |  coalesce(adj.m, 0) = 1 AS m_adj,
        |  tb.user_id IS NOT NULL AS m_tb
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN adj ON u.user_id = adj.user_id
        |LEFT JOIN tb ON u.user_id = tb.user_id
        |ORDER BY u.user_id""".stripMargin),
  )
}
