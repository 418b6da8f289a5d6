"""Event-sequence analytics over the events table: ordered funnels and
cohort retention — the behavioral rollups a 100 TB event store serves
next to the sessionization/as-of operators (streaming/stream_ops.py,
operators/asof.py).

Both operators are pure built-in DataFrame ops shaped for scale:

  * ``funnel`` — per-step agg + equi-join chain on user_id (each step
    is one map-side-combinable min + one join against the previous
    step's tiny per-user frame), never a window over the full event
    stream;
  * ``retention`` — one per-user min (the cohort anchor) joined back
    to the stream once, then a single grouped count-distinct.

Everything is BIGINT counts / min-timestamps (order-independent), so
results are bit-identical between any Spark partitioning and the
single-threaded SQL oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from deepref_spark.session import local_frame


def funnel(events: DataFrame, steps: list, ts_col: str = "ts",
           user_col: str = "user_id", type_col: str = "event_type") -> DataFrame:
    """Ordered sequential funnel: for each prefix of ``steps``, how many
    users completed it IN ORDER — step k counts users with an event of
    type steps[k] strictly after their earliest completion of the
    k-1 prefix. Returns (step_idx, step, n_users), one row per step
    even when a step drops to zero users (funnel reports must show the
    zero, not omit the row).

    Each step is one filtered min-aggregation on user_id joined to the
    previous step's per-user anchor — the anchor frames shrink
    monotonically, so at scale every join after the first is a
    broadcast against a frame bounded by the rarest preceding step.
    Strictly-after (>) semantics: simultaneous events do not satisfy
    the next step (deterministic regardless of event_id ordering)."""
    spark = events.sparkSession
    anchor = None
    rows = []
    for idx, step in enumerate(steps):
        ev = events.where(F.col(type_col) == step)
        if anchor is None:
            cur = ev.groupBy(user_col).agg(F.min(ts_col).alias("_t"))
        else:
            cur = (
                ev.join(anchor.withColumnRenamed("_t", "_prev"), user_col)
                .where(F.col(ts_col) > F.col("_prev"))
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("_t"))
            )
        cur = cur.localCheckpoint(eager=False)  # feeds the count AND step k+1
        rows.append(
            cur.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
            .select(F.lit(idx + 1).cast("int").alias("step_idx"),
                    F.lit(step).alias("step"), "n_users")
        )
        anchor = cur
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def retention(events: DataFrame, horizon_days: int = 7,
              ts_col: str = "ts", user_col: str = "user_id") -> DataFrame:
    """Classic cohort retention: each user's cohort day is the date of
    their first event; for every (cohort_date, day_offset) with
    0 <= offset <= ``horizon_days``, count the distinct cohort users
    active that day. Returns (cohort_date, day_offset, n_active);
    day 0 is the cohort size (every user is active on their first day
    by construction).

    One per-user min (map-side combinable), one join back to the
    stream on user_id, one grouped count-distinct — the day_offset
    filter prunes the joined frame before the shuffle. Dates via
    to_date: timezone handling pinned by the session (UTC), identical
    in the oracle's CAST(ts AS DATE)."""
    first = events.groupBy(user_col).agg(
        F.to_date(F.min(F.col(ts_col).cast("timestamp"))).alias("cohort_date"))
    joined = events.select(
        user_col, F.to_date(F.col(ts_col).cast("timestamp")).alias("_d")
    ).join(first, user_col)
    return (
        joined
        .withColumn("day_offset", F.datediff("_d", "cohort_date").cast("int"))
        .where((F.col("day_offset") >= 0) & (F.col("day_offset") <= horizon_days))
        .groupBy("cohort_date", "day_offset")
        .agg(F.countDistinct(user_col).cast("long").alias("n_active"))
    )


def topk_trending(events: DataFrame, k: int = 3, ts_col: str = "ts",
                  type_col: str = "event_type") -> DataFrame:
    """Per tumbling hour, the top-``k`` event types by count — the
    "what's trending now" rollup an event store serves from the same
    windowed counts the streaming aggregation maintains.

    One grouped count on (hour, type), then a row_number window
    PARTITIONED BY THE HOUR over the (already tiny) per-window type
    table — the window never touches the raw stream, so the only
    stream-sized shuffle is the map-side-combined count. Ties break by
    event_type ascending (total order, so rank — and therefore the
    emitted row set — is deterministic in any engine)."""
    cnt = (
        events
        .select(F.date_trunc("hour", F.col(ts_col)).alias("window_start"),
                F.col(type_col).alias("event_type"))
        .groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type"))
    return (
        cnt.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type", "n", "rnk",
        )
    )


def rate_anomaly(events: DataFrame, horizon_hours: int = 24,
                 min_base: int = 10, ts_col: str = "ts",
                 type_col: str = "event_type") -> DataFrame:
    """Per (hour, event_type) spike detection against the trailing
    ``horizon_hours`` baseline — the rate-anomaly rollup an event
    store runs next to its windowed counts.

    Baseline = the trailing sum over a RANGE frame on epoch seconds
    (gap hours implicitly count as zero — silence lowers the baseline
    instead of being skipped, which a ROWS frame would get wrong), and
    the current hour is excluded. deviation_ppm is exact integer
    arithmetic: (n*h - trail) * 1e6 div max(trail, 1) — parts-per-
    million above/below the trailing hourly mean without a float
    division, so any engine agrees bit-for-bit. is_spike is the exact
    cross-product test n*h > 2*trail (at least double the trailing
    mean) gated on trail >= min_base (never flag on silence).

    The only stream-sized shuffle is the (hour, type) count; the range
    window runs per type over the tiny hourly table.
    """
    cnt = (
        events
        .select(F.date_trunc("hour", F.col(ts_col)).alias("h"),
                F.col(type_col).alias("event_type"))
        .groupBy("h", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("epoch", F.unix_timestamp("h").cast("long"))
    )
    w = (
        Window.partitionBy("event_type").orderBy("epoch")
        .rangeBetween(-horizon_hours * 3600, -3600)
    )
    out = cnt.withColumn(
        "trail", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long"))
    hh = F.lit(horizon_hours).cast("long")
    return out.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n", "trail",
        F.expr(f"(n * {horizon_hours} - trail) * 1000000 DIV greatest(trail, 1)")
        .cast("long").alias("deviation_ppm"),
        ((F.col("n") * hh > F.lit(2).cast("long") * F.col("trail"))
         & (F.col("trail") >= F.lit(min_base))).alias("is_spike"),
    )


def transition_matrix(events: DataFrame, ts_col: str = "ts",
                      user_col: str = "user_id", tie: str = "event_id",
                      type_col: str = "event_type") -> DataFrame:
    """First-order event-transition matrix over per-user ordered
    streams: for each (from_type, to_type), the count of consecutive
    pairs and P(to | from) — the behavior model a funnel/sessionization
    lane publishes next to its counts.

    One window per user (the natural stream key — the same single
    shuffle the as-of join uses) ordered by (ts, tie) so simultaneous
    events have a total order and the pair set is deterministic; then
    one grouped count on the tiny type-pair table. The probability is
    one double division of two BIGINTs (pair count / from-row total),
    rounded 6dp.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tie))
    pairs = (
        events
        .select(F.col(user_col), F.col(ts_col), F.col(tie),
                F.col(type_col).alias("from_type"))
        .withColumn("to_type", F.lead("from_type").over(w))
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("n_from"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type", "to_type", "n", "n_from",
            F.round(F.col("n").cast("double") / F.col("n_from"), 6)
            .alias("prob"),
        )
    )


def user_growth(events: DataFrame, ts_col: str = "ts",
                user_col: str = "user_id",
                segment_col: str | None = None) -> DataFrame:
    """Cumulative distinct-user growth curve: per day (and optionally
    per ``segment_col`` — e.g. event_type for feature-adoption
    curves), how many NEW users appeared and how many distinct users
    have EVER been seen. Computed without any corpus-wide
    distinct-per-day recount: one per-(user[, segment]) min (the
    first-seen anchor, map-side combinable), one tiny per-day count of
    anchors, and a cumulative window over the DAY table (a few
    thousand rows per segment regardless of event volume — the same
    histogram-sized-window discipline as length_quantiles).
    """
    seg = [segment_col] if segment_col else []
    first_seen = (
        events.groupBy(user_col, *seg)
        .agg(F.min(F.to_date(ts_col)).alias("day"))
    )
    per_day = first_seen.groupBy(*seg, "day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users"))
    w = (Window.partitionBy(*seg).orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return per_day.select(
        *seg, "day", "new_users",
        F.sum("new_users").over(w).cast("long").alias("total_users"),
    )


def count_min_topk(events: DataFrame, depth: int = 3, width: int = 64,
                   k: int = 10, type_col: str = "event_type") -> DataFrame:
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005)
    next to their exact counts: the sketch is ``depth`` hash rows of
    ``width`` counters; a key's estimate is the MIN over its ``depth``
    buckets, always >= the exact count (collisions only ever inflate).
    Emitting estimate AND exact per key makes the collision bias
    visible — the calibration read a 100 TB deployment does at small
    scale before trusting sketch-only counts from executors.

    Scale shape: the sketch build is ONE map-side-combinable grouped
    count onto depth*width cells — the sketch table is 192 rows here
    REGARDLESS of stream size, the whole point of the operator; at
    scale it is the fixed-size state each executor merges. The exact
    side is a grouped count on the (tiny, by contract) key vocabulary;
    estimates come from a broadcast join of the key table against the
    sketch cells. Top-k via TakeOrdered, never a global sort.
    """
    from deepref_spark.portable import md5_mod

    cell = F.explode(F.array(*[
        F.struct(
            F.lit(j).alias("j"),
            F.expr(md5_mod(f"concat('cm{j}|', {type_col})", width))
            .cast("int").alias("bucket"),
        ) for j in range(depth)
    ])).alias("cell")
    sketch = (
        events.select(cell)
        .groupBy(F.col("cell.j").alias("j"), F.col("cell.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    exact = events.groupBy(F.col(type_col).alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    probes = exact.select(
        "event_type", "exact_cnt",
        F.explode(F.array(*[
            F.struct(
                F.lit(j).alias("j"),
                F.expr(md5_mod(f"concat('cm{j}|', event_type)", width))
                .cast("int").alias("bucket"),
            ) for j in range(depth)
        ])).alias("p"),
    )
    est = (
        probes.join(F.broadcast(sketch),
                    (F.col("p.j") == F.col("j")) & (F.col("p.bucket") == F.col("bucket")))
        .groupBy("event_type", "exact_cnt")
        .agg(F.min("cnt").cast("long").alias("cm_estimate"))
    )
    return (
        est.select(
            "event_type", "exact_cnt", "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_cnt")).cast("long").alias("overcount"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("event_type").asc())
        .limit(k)
    )


def hll_distinct(events: DataFrame, m: int = 64,
                 key_col: str = "user_id",
                 type_col: str = "event_type") -> DataFrame:
    """HyperLogLog-style distinct-key estimate per event type next to
    the exact distinct count (Flajolet et al. 2007, raw estimator, no
    small/large-range correction — the exact column makes the bias
    visible, the count_min_topk calibration discipline applied to
    cardinality). Registers: bucket = hash(key) mod m, register value =
    max leading-zero rank of an independent 32-bit hash.

    Cross-engine determinism: the harmonic sum rides an INTEGER dyadic
    grid — each register contributes ``2^(33 - M)`` as a BIGINT
    (absent registers contribute 2^33), so the per-type sum is exact
    under any aggregation order; the estimate is then ONE double
    division of two exact integers (alpha_m * m^2 * 2^33 / sum).

    Scale shape: the register table is one map-side-combinable grouped
    max onto at most m cells per type — fixed-size mergeable state, the
    point of the sketch; the exact side is one count-distinct on the
    same grouped key. At 10^12 events only the sketch side survives;
    the exact column is the small-SF calibration.
    """
    from deepref_spark.portable import hex32, md5_mod

    alpha = 0.7213 / (1.0 + 1.079 / m)  # standard HLL bias constant
    staged = events.select(
        F.col(type_col).alias("event_type"),
        F.col(key_col).alias("k"),
        F.expr("md5(concat('hll|', CAST(" + key_col + " AS STRING)))").alias("h"),
    ).select(
        "event_type", "k",
        F.expr(md5_mod("h", m)).cast("int").alias("bucket"),
        F.expr(hex32("h", 8, "spark")).alias("v"),
    )
    regs = (
        staged
        .select("event_type", "bucket",
                # rank = leading zeros of the 32-bit value + 1
                #      = 33 - bit_length(v); v = 0 -> 33
                F.expr("CASE WHEN v = 0 THEN 33 "
                       "ELSE 33 - length(bin(v)) END").cast("int").alias("r"))
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("mr"))
    )
    per_type = regs.groupBy("event_type").agg(
        F.sum(F.expr("CAST(pow(2, 33 - mr) AS BIGINT)")).cast("long").alias("s_present"),
        F.count(F.lit(1)).cast("long").alias("n_regs"),
    )
    exact = events.groupBy(F.col(type_col).alias("event_type")).agg(
        F.countDistinct(key_col).cast("long").alias("exact_distinct"))
    two33 = 1 << 33
    return (
        per_type.join(exact, "event_type")
        .select(
            "event_type", "exact_distinct", "n_regs",
            F.round(
                F.lit(alpha * m * m * float(two33))
                / (F.col("s_present") + (F.lit(m) - F.col("n_regs")) * F.lit(two33))
                .cast("double"), 2,
            ).alias("hll_estimate"),
        )
    )


def incident_overlap(events: DataFrame, gap_minutes: int = 30,
                     num: int = 13, den: int = 10) -> DataFrame:
    """Interval-overlap join: each user session (sessionize's
    [min ts, max ts] envelope) joined to the incident hours it
    overlaps — hours whose error-event count is >= num/den of the mean
    hourly error count (an integer cross-multiply, c * n_hours * den
    >= num * total, so the rule is exact at any scale and in the SQL
    twin). Returns (user_id, session_seq, incident_hour epoch BIGINT,
    overlap_secs BIGINT).

    Scale shape: the standard interval-join decomposition — NO range
    self-join. Sessions explode into the hour grid they cover
    (sequence over epoch-hour BIGINTs, bounded by session length) and
    equi-join the tiny incident-hour table on the hour key; the
    overlap arithmetic is pure BIGINT least/greatest on epoch seconds.
    The incident rule's corpus total is a broadcast 1-row agg, never a
    collect."""
    from deepref_spark.streaming.stream_ops import sessionize

    hour = F.expr(
        "(CAST(CAST(ts AS TIMESTAMP) AS LONG) div 3600) * 3600")
    hc = (
        events.where(F.col("event_type") == "error")
        .groupBy(hour.alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = hc.agg(F.sum("c").cast("long").alias("t"),
                 F.count(F.lit(1)).cast("long").alias("n"))
    incidents = (
        hc.crossJoin(F.broadcast(tot))
        .where(F.col("c") * F.col("n") * den >= num * F.col("t"))
        .select("h", F.col("c").alias("n_errors"))
    )
    sess = sessionize(events, gap_minutes=gap_minutes).select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        F.col("session_start").cast("timestamp").cast("long").alias("s0"),
        F.col("session_end").cast("timestamp").cast("long").alias("s1"),
    )
    covered = sess.select(
        "user_id", "session_seq", "s0", "s1",
        F.explode(F.expr("sequence((s0 div 3600) * 3600, "
                         "(s1 div 3600) * 3600, 3600)")).alias("h"),
    )
    return (
        covered.join(incidents, "h")
        .select(
            "user_id", "session_seq",
            F.col("h").alias("incident_hour"),
            (F.least(F.col("s1"), F.col("h") + 3600)
             - F.greatest(F.col("s0"), F.col("h"))).cast("long")
            .alias("overlap_secs"),
            "n_errors",
        )
    )


def interarrival_hist(events: DataFrame) -> DataFrame:
    """Inter-arrival burstiness histogram: within each (user,
    event_type) stream (ordered by ts then event_id), the gap to the
    previous event, log2-bucketed as floor(log2(gap_secs + 1)) — exact
    via BIGINT bit length (the degree_histogram discipline, never
    float log). Returns (event_type, bucket, n) — the heavy-tail
    monitor that separates periodic telemetry from bursty user
    behavior per stream type.

    One user-keyed window shuffle over the stream, then one
    map-side-combinable grouped count to (type x ~40 bucket) keys."""
    ep = F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG)")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        events.select("user_id", "event_type", "ts", "event_id", ep.alias("ep"))
        .withColumn("gap", F.col("ep") - F.lag("ep").over(w))
        .where(F.col("gap").isNotNull())
    )
    return (
        gaps.select(
            "event_type",
            F.expr("CAST(length(bin(gap + 1)) - 1 AS INT)").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def late_audit(events: DataFrame, watermark_secs: int = 1800,
               bucket_events: int = 1000) -> DataFrame:
    """Watermark-lateness audit (batch twin of the streaming drop
    rule): using event_id as the arrival order, an event is late-
    beyond-watermark if the max event-time of all PRIOR arrival
    buckets exceeds its own event-time by more than watermark_secs —
    the count a pipeline owner reads before choosing the streaming
    watermark. Returns (bucket, n_events, n_late, max_lateness_secs).

    Scale shape: the two-level decomposition a global running-max
    would otherwise serialize — per-bucket max (map-side combinable),
    a cumulative-max window on the TINY bucket table only, broadcast
    back to the stream for the per-event comparison, then one grouped
    count. No global sort of the event stream."""
    ep = F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG)")
    ev = events.select(
        F.expr(f"event_id div {bucket_events}").alias("bucket"),
        ep.alias("ep"),
    )
    bmax = ev.groupBy("bucket").agg(F.max("ep").alias("bmax"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    cum = bmax.select(
        "bucket", F.max("bmax").over(w).alias("wm")  # high-water mark BEFORE this bucket
    )
    return (
        ev.join(F.broadcast(cum), "bucket")
        .select(
            "bucket",
            F.greatest(F.coalesce(F.col("wm") - F.col("ep"), F.lit(0)),
                       F.lit(0)).cast("long").alias("lateness"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("lateness") > watermark_secs, 1).otherwise(0))
            .cast("long").alias("n_late"),
            F.max("lateness").cast("long").alias("max_lateness_secs"),
        )
    )


def conversion_time(events: DataFrame, from_type: str = "signup",
                    to_type: str = "purchase") -> DataFrame:
    """Time-to-convert distribution: per user, the gap from their FIRST
    ``from_type`` event to the first ``to_type`` event strictly after
    it (the funnel operator's strictly-after anchor semantics),
    log2-bucketed exactly via BIGINT bit length. Returns
    (bucket, n_users, min_secs, max_secs) — the latency histogram a
    growth team reads next to the funnel counts.

    Two per-user min aggregations joined once (both map-side
    combinable), then one combine to ~40 bucket keys."""
    ep = F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG)")
    first_a = (
        events.where(F.col("event_type") == from_type)
        .select("user_id", ep.alias("ep"))
        .groupBy("user_id").agg(F.min("ep").alias("t0"))
    )
    conv = (
        events.where(F.col("event_type") == to_type)
        .select("user_id", ep.alias("ep"))
        .join(first_a, "user_id")
        .where(F.col("ep") > F.col("t0"))
        .groupBy("user_id").agg(F.min(F.col("ep") - F.col("t0")).alias("gap"))
    )
    return (
        conv.select(F.expr("CAST(length(bin(gap + 1)) - 1 AS INT)")
                    .alias("bucket"), "gap")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
             F.min("gap").cast("long").alias("min_secs"),
             F.max("gap").cast("long").alias("max_secs"))
    )


def sequence_trigrams(events: DataFrame, ts_col: str = "ts",
                      user_col: str = "user_id", tie: str = "event_id",
                      type_col: str = "event_type",
                      min_count: int = 2) -> DataFrame:
    """Consecutive event-type trigram mining over per-user ordered
    streams — the sequential-pattern step up from transition_matrix's
    bigrams: for each (t1, t2, t3) of three consecutive events in a
    user's stream, the corpus-wide count, filtered to patterns seen at
    least ``min_count`` times (the support threshold of a
    sequential-pattern miner restricted to contiguous windows).

    Same single user-keyed window shuffle as transition_matrix
    (ordered by (ts, tie) for a deterministic total order), two leads
    instead of one, then one combineable grouped count on the tiny
    type-trigram table. At 100 TB the window is per-user (bounded
    stream length), never corpus-global, and the output is |types|^3
    max regardless of event volume.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tie))
    tri = (
        events
        .select(F.col(user_col), F.col(ts_col), F.col(tie),
                F.col(type_col).alias("t1"))
        .withColumn("t2", F.lead("t1", 1).over(w))
        .withColumn("t3", F.lead("t1", 2).over(w))
        .where(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return tri.where(F.col("n") >= min_count)


def rolling_distinct_users(events: DataFrame, window_days: int = 7,
                           ts_col: str = "ts",
                           user_col: str = "user_id") -> DataFrame:
    """Rolling WAU next to DAU: for every day observed in the stream,
    the exact count of distinct users active that day (dau) and in the
    trailing ``window_days``-day window ending that day (wau) — the
    serving-side activity rollup every event warehouse publishes.

    Exact rolling distinct cannot be a window SUM (distinct does not
    re-aggregate), so: dedup to (day, user) pairs first (ONE shuffle,
    map-side combinable, collapses the event volume to active-pairs),
    explode each pair to the <= window_days window-end days it
    contributes to (a bounded x7 expansion of the already-tiny pair
    table — never of the raw events), semi-join to observed days, and
    count distinct per window end. For wide windows at 100 TB the
    sketch form is events_hll_distinct's register lane; this is the
    exact form whose expansion factor IS the window length.
    """
    ud = (events.select(F.to_date(ts_col).alias("day"),
                        F.col(user_col).alias("u"))
          .distinct()
          .localCheckpoint(eager=False))  # feeds dau, wau AND the day list
    days = ud.select("day").distinct()
    contrib = (
        ud.select(
            F.explode(F.expr(
                f"sequence(day, date_add(day, {int(window_days) - 1}))"
            )).alias("day"), "u")
        .join(days, "day", "left_semi")
    )
    wau = contrib.groupBy("day").agg(
        F.countDistinct("u").cast("long").alias(f"wau_{int(window_days)}d"))
    dau = ud.groupBy("day").agg(
        F.countDistinct("u").cast("long").alias("dau"))
    return dau.join(wau, "day").orderBy("day")


def cohort_matrix(events: DataFrame, ts_col: str = "ts",
                  user_col: str = "user_id") -> DataFrame:
    """Weekly cohort-retention matrix — the full triangle behind the
    single-horizon ``retention`` operator: users are cohorted by
    first-seen week, and for every (cohort_week, age_weeks) cell the
    matrix reports how many cohort members were active that many weeks
    later, plus the retention rate on the exact ppm integer grid.

    Week index = days-since-epoch DIV 7 (pure integer arithmetic, no
    locale/week-of-year semantics to disagree on). One per-user min
    (the cohort anchor, map-side combinable), one distinct on
    (user, week) pairs, one join back on the user key, then a grouped
    count on the tiny cohort x age grid; cohort sizes broadcast.
    """
    wk = lambda c: F.expr(f"datediff({c}, DATE '1970-01-01') DIV 7")
    first = (
        events.groupBy(F.col(user_col).alias("u"))
        .agg(F.min(F.to_date(ts_col)).alias("d0"))
        .select("u", wk("d0").alias("cohort_week"))
        .localCheckpoint(eager=False)  # feeds sizes AND the activity join
    )
    sizes = first.groupBy("cohort_week").agg(
        F.countDistinct("u").cast("long").alias("cohort_size"))
    active = (
        events.select(F.col(user_col).alias("u"),
                      wk(f"to_date({ts_col})").alias("week"))
        .distinct()
    )
    cells = (
        active.join(first, "u")
        .groupBy("cohort_week",
                 (F.col("week") - F.col("cohort_week")).alias("age_weeks"))
        .agg(F.countDistinct("u").cast("long").alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            F.col("cohort_week").cast("long").alias("cohort_week"),
            F.col("age_weeks").cast("long").alias("age_weeks"),
            "n_active", "cohort_size",
            F.expr("n_active * 1000000 DIV cohort_size").cast("long")
            .alias("retention_ppm"),
        )
    )


def gap_fill_locf(events: DataFrame, ts_col: str = "ts",
                  type_col: str = "event_type") -> DataFrame:
    """Hourly date-spine gap fill with last-observation-carried-forward
    — the time-series regularization every metrics warehouse runs
    before charting or joining series: per event type, one row for
    EVERY hour between that type's first and last event, missing hours
    flagged and their value carried forward from the latest observed
    hour.

    One grouped agg to the hourly grain (value summed on the exact
    cents grid — order independent), a per-type sequence() explode for
    the spine (cardinality = types x hour-range, independent of event
    volume), a co-keyed left join, and one per-type window whose
    last(ignorenulls) does the LOCF — the window runs over the tiny
    spine, never the raw stream.
    """
    cents = "CAST(floor(value * 100.0 + 0.5) AS BIGINT)"
    hourly = (
        events.groupBy(F.col(type_col).alias("event_type"),
                       F.date_trunc("hour", F.col(ts_col)).alias("h"))
        .agg(F.sum(F.expr(cents)).cast("long").alias("v_cents"),
             F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)  # feeds bounds AND the fill join
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select("event_type",
                F.explode(F.expr("sequence(lo, hi, interval 1 hour)"))
                .alias("h"))
    )
    w = (Window.partitionBy("event_type").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.last("v_cents", ignorenulls=True).over(w).cast("long")
            .alias("v_cents_locf"),
            F.col("n").isNull().cast("int").alias("is_gap"),
        )
    )


def ab_lift(events: DataFrame, convert_type: str = "purchase",
            user_col: str = "user_id") -> DataFrame:
    """Deterministic A/B experiment readout: users hash-split into two
    arms (md5 parity — the salted-bucket assignment every experiment
    platform uses, reproducible across runs and engines), conversion =
    at least one ``convert_type`` event, per-arm conversion rate on
    the exact ppm grid plus lift vs arm 0.

    One per-user agg (map-side combinable max flag), one tiny per-arm
    count, one broadcast self-join of the 2-row arm table for the lift
    column. No floats anywhere.
    """
    from deepref_spark.portable import md5_mod

    per_user = (
        events.groupBy(F.col(user_col).alias("u"))
        .agg(F.max(F.when(F.col("event_type") == convert_type, 1)
                   .otherwise(0)).alias("converted"))
        .select(F.expr("CAST(" + md5_mod("CAST(u AS STRING)", 2)
                       + " AS INT)").alias("arm"), "converted")
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    ).withColumn("conv_ppm",
                 F.expr("n_converted * 1000000 DIV n_users").cast("long"))
    base = arms.where(F.col("arm") == 0).select(
        F.col("conv_ppm").alias("base_ppm"))
    return (
        arms.crossJoin(F.broadcast(base))
        .select("arm", "n_users", "n_converted", "conv_ppm",
                (F.col("conv_ppm") - F.col("base_ppm")).cast("long")
                .alias("lift_ppm"))
    )


def alert_episodes(events: DataFrame, event_type: str = "error",
                   threshold: int = 4) -> DataFrame:
    """Threshold-crossing alert episodes — the alerting primitive a
    monitoring lane runs on its regularized series: consecutive hours
    where the event count stays >= ``threshold`` collapse into one
    episode with its span, length, and peak (the gaps-and-islands
    pattern: group key = row_number difference over the COMPLETE
    hourly spine, which is what makes "consecutive" well-defined —
    a zero-count hour breaks the run, which is why this composes on
    gap_fill_locf's spine rather than the raw hourly agg).

    The islands windows run over the tiny spine table (types x hours),
    never the raw stream; all arithmetic is BIGINT counts and string
    hour keys (lexicographic == chronological on the fixed format).
    """
    g = gap_fill_locf(events.where(F.col("event_type") == event_type))
    w_all = Window.partitionBy("event_type").orderBy("hour")
    flagged = (
        g.withColumn("_rn", F.row_number().over(w_all))
        .where(F.col("n") >= threshold)
    )
    w_flag = Window.partitionBy("event_type").orderBy("hour")
    return (
        flagged.withColumn("_grp", F.col("_rn") - F.row_number().over(w_flag))
        .groupBy("event_type", "_grp")
        .agg(F.min("hour").alias("start_hour"),
             F.max("hour").alias("end_hour"),
             F.count(F.lit(1)).cast("long").alias("n_hours"),
             F.max("n").cast("long").alias("peak_n"))
        .drop("_grp")
    )


def rolling_hourly_counts(events: DataFrame,
                          window_hours: int = 24) -> DataFrame:
    """Exact trailing-``window_hours`` rolling event counts per type —
    the time-series smoothing every dashboard derivative (rate limits,
    burn-rate alerts) reads: a ROWS window over the COMPLETE hourly
    spine (gap hours present with n=0), which is the only thing that
    makes a ROWS frame equal the intended TIME frame — on the raw
    hourly agg a missing hour would silently stretch the window (the
    gap_fill_locf composition is load-bearing, not cosmetic).

    Window cost is the tiny types x hours spine, never the stream.
    """
    g = gap_fill_locf(events)
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(-(int(window_hours) - 1), Window.currentRow))
    return g.select(
        "event_type", "hour", "n",
        F.sum("n").over(w).cast("long")
        .alias(f"rolling_{int(window_hours)}h"),
    )


def _typed_median(vals: DataFrame, key: str, col: str,
                  out: str) -> DataFrame:
    """Exact per-key type-1 median (value at position ceil(n/2)) via
    histogram + per-key cumulative window + inverted-CDF min — the
    length_quantiles discipline partitioned by ``key``: the
    stream-sized work is one grouped count, the window runs inside
    each key over the bounded distinct-value table."""
    hist = (vals.groupBy(key, F.col(col).alias("v"))
            .agg(F.count(F.lit(1)).cast("long").alias("c")))
    cum = hist.select(
        key, "v",
        F.sum("c").over(
            Window.partitionBy(key).orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long").alias("cum"))
    tot = hist.groupBy(key).agg(F.sum("c").cast("long").alias("tot"))
    return (
        cum.join(tot, key)
        .where(F.col("cum") >= F.expr("(tot + 1) DIV 2"))
        .groupBy(key)
        .agg(F.min("v").cast("long").alias(out))
    )


def hourly_mad_profile(events: DataFrame, ts_col: str = "ts",
                       k_mad: int = 3) -> DataFrame:
    """Robust per-type anomaly profile over hourly event counts:
    exact MEDIAN and MAD (median absolute deviation) per event_type,
    plus how many hours breach |n - median| > k*MAD — the
    outlier-resistant companion to rate_anomaly's trailing-mean spike
    rule (one burst hour inflates a mean baseline; it cannot move the
    median). Everything stays on the integer grid: two median passes
    via the histogram + inverted-CDF pattern (windows partitioned by
    event_type over bounded count-value tables), then one grouped
    rollup; MAD = 0 collapses the band to equality, so any deviating
    hour flags — deterministic, documented, and exactly replayable in
    SQL."""
    cnt = (
        events.groupBy(
            F.date_trunc("hour", F.col(ts_col)).alias("h"),
            "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)  # feeds both median passes + rollup
    )
    med = _typed_median(cnt, "event_type", "n", "median_n")
    dev = (cnt.join(med, "event_type")
           .withColumn("d", F.abs(F.col("n") - F.col("median_n"))))
    mad = _typed_median(dev, "event_type", "d", "mad_n")
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type", "median_n", "mad_n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum(F.when(F.col("d") > k_mad * F.col("mad_n"), 1)
                  .otherwise(0)).cast("long").alias("n_anomalies"),
            F.max("d").cast("long").alias("max_abs_dev"),
        )
        .select("event_type", "n_hours", "median_n", "mad_n",
                "n_anomalies", "max_abs_dev")
    )


def session_paths(events: DataFrame, k: int = 20,
                  gap_minutes: int = 30, max_len: int = 5,
                  convert_type: str = "purchase",
                  ts_col: str = "ts", user_col: str = "user_id",
                  tie: str = "event_id",
                  type_col: str = "event_type") -> DataFrame:
    """Top-k session paths: gap-based sessions (new session when the
    per-user inter-event gap exceeds ``gap_minutes``), each session's
    event-type sequence with CONSECUTIVE DUPLICATES COLLAPSED and
    truncated to its first ``max_len`` distinct steps, joined with
    '>' — plus how many sessions on that path converted (contain
    ``convert_type`` anywhere in the FULL session, computed before
    collapse/truncation). The whole-journey companion to
    transition_matrix's bigrams and sequence_trigrams' windows: paths
    answer "which journeys happen and which convert", not "which step
    follows which".

    Scale shape: every window partitions by user or by session
    (bounded streams), the path rollup is a combineable grouped count
    on collapsed-truncated strings (at most |types|^max_len distinct
    paths), and the final top-k window runs on that bounded table.
    Deterministic: (ts, tie) total order, path-asc tie-break."""
    wu = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tie))
    # NTZ-safe epoch seconds (session tz pinned UTC in session.py)
    ep = F.expr(f"CAST(CAST({ts_col} AS TIMESTAMP) AS LONG)")
    sess = (
        events
        .select(user_col, ts_col, tie, F.col(type_col).alias("t"),
                ep.alias("_ep"))
        .withColumn(
            "new_sess",
            F.when(
                F.col("_ep") - F.lag("_ep").over(wu)
                > gap_minutes * 60, 1).otherwise(0))
        .withColumn("sess", F.sum("new_sess").over(wu))
    )
    ws = Window.partitionBy(user_col, "sess") \
        .orderBy(F.col(ts_col), F.col(tie))
    steps = (
        sess
        .withColumn("conv_any",
                    F.max(F.when(F.col("t") == convert_type, 1)
                          .otherwise(0))
                    .over(Window.partitionBy(user_col, "sess")))
        .withColumn("prev_t", F.lag("t").over(ws))
        .withColumn("keep",
                    F.when(F.col("prev_t").isNull()
                           | (F.col("prev_t") != F.col("t")), 1)
                    .otherwise(0))
        .where(F.col("keep") == 1)
        .withColumn("step", F.row_number().over(ws))
        .where(F.col("step") <= max_len)
    )
    paths = (
        steps.groupBy(user_col, "sess", "conv_any")
        .agg(F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(step, t))), s -> s.t), '>')").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"),
             F.sum("conv_any").cast("long").alias("n_converted"))
    )
    wtop = Window.orderBy(F.col("n_sessions").desc(), F.col("path"))
    return (
        paths.select(
            F.row_number().over(wtop).cast("long").alias("rank"),
            "path", "n_sessions", "n_converted")
        .where(F.col("rank") <= k)
    )


def engagement_gini(events: DataFrame,
                    user_col: str = "user_id") -> DataFrame:
    """Per-type Gini coefficient of user activity — the engagement-
    concentration audit behind "do 1% of users generate 90% of
    events": G = (2*sum_i i*x_i - (n+1)*sum x) / (n * sum x) over the
    ascending per-user counts x_1..x_n. Computed EXACTLY from the
    activity histogram, not a global sort: for count value c with
    frequency f and F users below it, the rank-weighted mass
    2*sum i*x_i contributed is c*f*(2F + f + 1) — a BIGINT — so
    gini_ppm = (U - (n+1)*S) * 1e6 div (n*S) is pure integer
    arithmetic with U = sum_c c*f*(2F+f+1).

    Scale shape: one map-side-combined (type, user) count, one
    (type, count-value) histogram agg, and the cumulative window runs
    over the HISTOGRAM (distinct activity levels per type — hundreds,
    not users), never the per-user table: no type-hot window at any
    user cardinality. Ties need no tie-break at all — the histogram
    form is the closed sum over each tie block.
    """
    per_user = events.groupBy(
        F.col("event_type"), F.col(user_col).alias("u")).agg(
        F.count(F.lit(1)).cast("long").alias("x"))
    hist = per_user.groupBy("event_type", "x").agg(
        F.count(F.lit(1)).cast("long").alias("f"))
    w = (Window.partitionBy("event_type").orderBy("x")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (
        hist.withColumn(
            "fb", F.coalesce(F.sum("f").over(w), F.lit(0)).cast("long"))
        .groupBy("event_type")
        .agg(
            F.sum("f").cast("long").alias("n_users"),
            F.sum(F.col("x") * F.col("f")).cast("long").alias("n_events"),
            F.sum(F.col("x") * F.col("f")
                  * (2 * F.col("fb") + F.col("f") + 1)).cast("long")
            .alias("u_units"),
        )
        .select(
            "event_type", "n_users", "n_events",
            F.expr("(u_units - (n_users + 1) * n_events) * 1000000 "
                   "DIV greatest(1, n_users * n_events)").cast("long")
            .alias("gini_ppm"),
        )
    )


def forecast_baseline(events: DataFrame,
                      season_hours: int = 24) -> DataFrame:
    """Seasonal-naive forecast backtest per event type — the baseline
    every forecasting lane must beat before a model earns its keep
    (M-competition discipline: forecast(t) = actual(t - season)):
    each spine hour's count is predicted by the count one season
    (default 24 h) earlier, and the per-type report carries the exact
    error mass. MAE is on the ppm grid (sum_abs_err * 1e6 div
    n_hours); WAPE (sum|err| / sum actual) likewise — both pure BIGINT
    ratios, order-independent.

    Composes on gap_fill_locf's COMPLETE hourly spine — on the raw
    hourly agg a missing hour would silently shift the lag-24 row to a
    different wall-clock hour (the rolling_hourly_counts argument: a
    ROWS offset equals a TIME offset only on a gap-free series). The
    lag window runs over the tiny types x hours spine, never the raw
    stream; the first ``season_hours`` spine hours per type have no
    history and are excluded from scoring (n_hours counts what was
    actually scored).
    """
    g = gap_fill_locf(events)
    w = Window.partitionBy("event_type").orderBy("hour")
    scored = (
        g.select("event_type", "n",
                 F.lag("n", int(season_hours)).over(w).alias("fc"))
        .where(F.col("fc").isNotNull())
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum(F.abs(F.col("n") - F.col("fc"))).cast("long")
            .alias("sum_abs_err"),
            F.sum("n").cast("long").alias("sum_actual"),
        )
        .select(
            "event_type", "n_hours", "sum_abs_err", "sum_actual",
            F.expr("sum_abs_err * 1000000 DIV n_hours").cast("long")
            .alias("mae_ppm"),
            F.expr("sum_abs_err * 1000000 DIV greatest(1, sum_actual)")
            .cast("long").alias("wape_ppm"),
        )
    )


def kmv_distinct(events: DataFrame, k: int = 32,
                 key_col: str = "user_id",
                 type_col: str = "event_type") -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch per
    event type next to the exact count (Bar-Yossef et al. 2002; the
    Theta-sketch family's base estimator): keep the k smallest 32-bit
    hash values of the distinct keys; with U = 2^32, the estimate is
    (k-1) * U / h_k where h_k is the k-th smallest hash. Below k
    distinct hashes the sketch IS the exact count. Completes the
    sketch shelf: count_min (frequency), HLL (cardinality via
    register maxima), KMV (cardinality via order statistics — and,
    unlike HLL, mergeable under INTERSECTION, which is why production
    lakes keep both).

    Cross-engine determinism: the estimate is one BIGINT floor
    division of exact integers — no float path at all (HLL needed a
    dyadic grid; KMV needs nothing). Ranking is over DISTINCT hash
    values, so key collisions under the 32-bit hash collapse
    identically in both engines.

    Scale shape: bottom-k is computed in two ranked stages — a
    per-(type, input-partition) window keeps at most k rows per
    partition BEFORE the shuffle (the map-side prune that makes
    bottom-k a fixed-size mergeable state), then the global per-type
    window ranks at most k * n_partitions survivors. The exact column
    is one count-distinct on the same staged table — small-SF
    calibration only; at 10^12 events just the sketch side survives.
    """
    from deepref_spark.portable import hex32

    space = 1 << 32
    hd = (
        events.select(F.col(type_col).alias("event_type"),
                      F.col(key_col).alias("kk"))
        .distinct()
        .select(
            "event_type", "kk",
            F.expr(hex32(
                "md5(concat('kmv|', CAST(kk AS STRING)))", 0, "spark"))
            .alias("h"),
        )
        .localCheckpoint(eager=False)  # feeds the sketch AND the exact side
    )
    hdist = hd.select("event_type", "h").distinct()
    wpart = Window.partitionBy(
        "event_type", F.spark_partition_id()).orderBy("h")
    wtype = Window.partitionBy("event_type").orderBy("h")
    kept = (
        hdist.withColumn("pr", F.row_number().over(wpart))
        .where(F.col("pr") <= k)
        .withColumn("r", F.row_number().over(wtype))
        .where(F.col("r") <= k)
    )
    sk = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sk"),
        F.max("h").cast("long").alias("kth_hash"),
    )
    ex = hd.groupBy("event_type").agg(
        F.countDistinct("kk").cast("long").alias("exact_distinct"))
    return (
        sk.join(ex, "event_type")
        .select(
            "event_type", "exact_distinct", "n_sk", "kth_hash",
            F.when(F.col("n_sk") < k, F.col("n_sk"))
            .otherwise(F.expr(f"({k} - 1) * CAST({space} AS BIGINT) "
                              "div kth_hash"))
            .cast("long").alias("est_kmv"),
        )
    )


def audience_overlap(events: DataFrame,
                     user_col: str = "user_id") -> DataFrame:
    """Pairwise audience overlap between event types — the
    cross-surface report behind "do the users of feature A also use
    feature B": for every unordered type pair, the distinct-user
    intersection next to both audience sizes, with Jaccard and
    Szymkiewicz-Simpson overlap coefficients on the exact ppm grid
    (inter * 1e6 div union / div min(|A|,|B|) — pure BIGINT).

    Scale shape: one distinct on (type, user) — the only corpus-sized
    shuffle — then a user-keyed self-join whose per-user fan-out is
    bounded by the TYPE cardinality (tens), never by user activity:
    a user seen in t types contributes exactly C(t,2) rows. The
    per-type size table is tiny and broadcast onto the pair rollup;
    zero-intersection pairs are kept (a report that silently drops
    the "no overlap" rows hides exactly the finding that matters).
    """
    m = (events.select("event_type", F.col(user_col).alias("u"))
         .distinct()
         .localCheckpoint(eager=False))  # feeds sizes AND both join sides
    sizes = m.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        m.alias("a").join(
            m.alias("b"),
            (F.col("a.u") == F.col("b.u"))
            & (F.col("a.event_type") < F.col("b.event_type")))
        .groupBy(F.col("a.event_type").alias("type_a"),
                 F.col("b.event_type").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    pairs = (
        sizes.alias("sa").crossJoin(F.broadcast(sizes.alias("sb")))
        .where(F.col("sa.event_type") < F.col("sb.event_type"))
        .select(F.col("sa.event_type").alias("type_a"),
                F.col("sb.event_type").alias("type_b"),
                F.col("sa.n").alias("n_a"), F.col("sb.n").alias("n_b"))
    )
    return (
        pairs.join(F.broadcast(inter), ["type_a", "type_b"], "left")
        .withColumn("n_common",
                    F.coalesce("n_common", F.lit(0)).cast("long"))
        .select(
            "type_a", "type_b", "n_a", "n_b", "n_common",
            F.expr("n_common * 1000000 DIV (n_a + n_b - n_common)")
            .cast("long").alias("jaccard_ppm"),
            F.expr("n_common * 1000000 DIV least(n_a, n_b)")
            .cast("long").alias("overlap_ppm"),
        )
    )


def bot_cadence(events: DataFrame, min_gaps: int = 5,
                rmad_gate_ppm: int = 50000,
                user_col: str = "user_id") -> DataFrame:
    """Machine-cadence screen over per-user inter-arrival gaps — the
    bot/telemetry detector behind "this 'user' fires every 60s on the
    dot": human activity has heavy-tailed gaps, schedulers don't, so
    a tiny MAD-to-median ratio flags the stream. Per user (>= min_gaps
    gaps): the exact gap median on the x2 grid (sum of the two middle
    order statistics — integer-exact for odd AND even counts), the
    exact MAD on the x4 grid (|2g - med2| is already x2), and
    rmad_ppm = mad4 * 1e6 div (2 * med2); is_regular flags
    rmad_ppm < gate. Robust-statistics twin of the mean/variance CV —
    chosen over CV because medians stay in BIGINT range at ANY event
    count (no sum-of-squares headroom cliff) and shrug off the one
    long overnight gap that would wash a variance test out.

    Scale shape: gaps via one lag window per user, both medians via
    rank-vs-count selection inside the SAME user partitioning (one
    shuffle, per-user sorts — no global sort, no percentile UDAF),
    then one grouped rollup. Every column BIGINT end-to-end, so the
    report is bit-identical to the single-threaded oracle."""
    wseq = Window.partitionBy("u").orderBy("ts", "event_id")
    gaps = (
        events.select(F.col(user_col).alias("u"), "ts", "event_id")
        .withColumn("prev", F.lag("ts").over(wseq))
        .where(F.col("prev").isNotNull())
        .select("u", (F.unix_timestamp("ts")
                      - F.unix_timestamp("prev")).cast("long").alias("g"))
        .localCheckpoint(eager=False)  # feeds both median passes
    )
    def _median_x2(df, val, out):
        # sum of the two middle order statistics: rank r selects
        # elements (n+1)//2 and (n+2)//2 (equal when n is odd, so the
        # odd case contributes 2*middle — the x2 grid, no floats)
        wv = Window.partitionBy("u").orderBy(val)
        wn = Window.partitionBy("u")
        return (df.withColumn("_r", F.row_number().over(wv))
                .withColumn("_n", F.count(F.lit(1)).over(wn))
                .where(F.expr("_r = (_n + 1) DIV 2 OR _r = (_n + 2) DIV 2"))
                .groupBy("u")
                .agg(F.sum(F.when(
                    F.col("_n") % 2 == 1,
                    2 * F.col(val)).otherwise(F.col(val)))
                    .cast("long").alias(out),
                     F.max("_n").cast("long").alias(out + "_n")))
    med = _median_x2(gaps, "g", "med2")
    ad = (gaps.join(med, "u")
          .where(F.col("med2_n") >= min_gaps)
          .select("u", "med2",
                  F.abs(2 * F.col("g") - F.col("med2")).alias("ad2")))
    mad = _median_x2(ad.select("u", "ad2"), "ad2", "mad4")
    return (
        ad.groupBy("u", "med2").agg(F.count(F.lit(1)).cast("long")
                                    .alias("n_gaps"))
        .join(mad.select("u", "mad4"), "u")
        .select(
            F.col("u").alias(user_col), "n_gaps",
            (F.col("med2") * 500).cast("long").alias("median_gap_ms"),
            (F.col("mad4") * 250).cast("long").alias("mad_gap_ms"),
            F.expr("mad4 * 1000000 DIV greatest(1, 2 * med2)")
            .cast("long").alias("rmad_ppm"),
            (F.expr("mad4 * 1000000 DIV greatest(1, 2 * med2)")
             < rmad_gate_ppm).cast("int").alias("is_regular"),
        )
    )


def cusum_changepoints(events: DataFrame) -> DataFrame:
    """One-sided CUSUM rate-shift detection per event type (Page 1954,
    the tabular form every SRE burn-rate monitor reimplements):
    S_t = max(0, S_{t-1} + (x_t - mu - allowance)) over the COMPLETE
    gap-filled hourly spine, alarm when S_t crosses the decision
    interval. Allowance = mu/2 and h = 4*mu (the standard "detect a
    1-sigma-ish upward shift" tuning, expressed against the series'
    own mean so no variance estimate is needed).

    The max(0, .)-recurrence is NOT a running sum — but it has the
    classic prefix identity S_t = C_t - min(0, min_{j<=t} C_j) with
    C_t = cumsum(x_j - 1.5*mu), so the whole detector is TWO stock
    window functions (running sum, running min) over the tiny
    types x hours spine — no fold, no UDF, no per-type collect, and
    it scales exactly like the spine (independent of event volume).

    Exact arithmetic: with mu = sum_n / n_hours, everything is scaled
    by 2*n_hours — y_units = 2*n_hours*x_t - 3*sum_n, threshold
    8*sum_n — all BIGINT, so cusum_units and the alarm flag are
    partition- and engine-independent (no float ever).

    Composes on gap_fill_locf's spine for the rolling_hourly_counts
    reason: a missing hour must contribute x_t = 0, not silently
    shrink t.
    """
    g = gap_fill_locf(events)
    w_type = Window.partitionBy("event_type")
    w_run = (Window.partitionBy("event_type").orderBy("hour")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    staged = (
        g.select("event_type", "hour", "n")
        .withColumn("n_hours", F.count(F.lit(1)).over(w_type).cast("long"))
        .withColumn("sum_n", F.sum("n").over(w_type).cast("long"))
        .withColumn("y_u", 2 * F.col("n_hours") * F.col("n")
                    - 3 * F.col("sum_n"))
    )
    return (
        staged.withColumn("c_u", F.sum("y_u").over(w_run))
        .withColumn("_rm", F.min("c_u").over(w_run))
        .select(
            "event_type", "hour", F.col("n").cast("long").alias("n"),
            (F.col("c_u") - F.least(F.lit(0), F.col("_rm"))).cast("long")
            .alias("cusum_units"),
            ((F.col("c_u") - F.least(F.lit(0), F.col("_rm")))
             >= 8 * F.col("sum_n")).cast("int").alias("alarm"),
        )
    )


def decay_engagement(events: DataFrame, horizon_days: int = 20,
                     user_col: str = "user_id") -> DataFrame:
    """Freshness-weighted engagement score per user — the recency
    decay every ranking / re-engagement lane applies so that activity
    N days ago counts half of activity N-1 days ago (half-life = 1
    day): score = sum over events of 2^(-age_days), with age measured
    in whole days back from the corpus' latest event date, clipped at
    ``horizon_days`` (older events contribute 0 — at 10^12 events
    this clip is also the partition-pruning predicate: only the last
    ``horizon_days`` date partitions are scanned).

    Cross-engine determinism rides the INTEGER DYADIC GRID (the
    hll/harmonic discipline): each event's weight is the exact BIGINT
    1 << (horizon - age), sums stay BIGINT, and the final score is
    units / 2^horizon — one IEEE division by a power of two, which is
    EXACT, so not even the last bit can differ between Spark and
    DuckDB. One map-side-combinable per-user groupBy; the anchor date
    is a 1-row broadcast agg.
    """
    anchor = F.broadcast(
        events.agg(F.max(F.to_date("ts")).alias("_anchor")))
    aged = (
        events.select(F.col(user_col).alias("user_id"), F.to_date("ts").alias("_d"))
        .crossJoin(anchor)
        .withColumn("_age", F.datediff(F.col("_anchor"), F.col("_d")))
        .where(F.col("_age") <= horizon_days)
    )
    return (
        aged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_recent"),
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                         f"{horizon_days} - _age)")).cast("long")
            .alias("decay_units"),
            F.min("_age").cast("long").alias("days_since_last"),
        )
        .withColumn("decay_score",
                    F.col("decay_units").cast("double")
                    / F.lit(float(1 << horizon_days)))
    )


def basket_rules(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Association rules over daily activity baskets — the
    market-basket report (support / confidence / lift) every
    recommendation and cross-sell lane runs, with basket = the set of
    event types a user touched on one calendar day: for every
    co-occurring unordered type pair, the basket counts and

      support  = n_ab / n_baskets        (ppm)
      conf a->b = n_ab / n_a, conf b->a  (ppm)
      lift     = n_ab * n_baskets / (n_a * n_b)   (milli, 1000 = independent)

    all as exact BIGINT multiply + integer DIV — no float, so the
    report is partition- and engine-independent.

    Scale shape: one distinct over (user, day, type) — the only
    corpus-sized shuffle — then a (user, day)-keyed self-join whose
    fan-out per basket is C(t, 2) with t bounded by the TYPE
    cardinality (tens), never by user activity; the per-type basket
    counts and the 1-row total are tiny broadcast joins onto the pair
    rollup. Pairs that never co-occur are absent by construction
    (support 0 rows carry no rule signal — unlike audience_overlap,
    which keeps them, this is the rules table, not the coverage
    audit).
    """
    b = (events
         .select(F.col(user_col).alias("u"), F.to_date("ts").alias("d"),
                 "event_type")
         .distinct()
         .localCheckpoint(eager=False))  # feeds total, sizes AND both join sides
    total = F.broadcast(
        b.select("u", "d").distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets")))
    sizes = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    pairs = (
        b.alias("a").join(
            b.alias("x"),
            (F.col("a.u") == F.col("x.u")) & (F.col("a.d") == F.col("x.d"))
            & (F.col("a.event_type") < F.col("x.event_type")))
        .groupBy(F.col("a.event_type").alias("type_a"),
                 F.col("x.event_type").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    return (
        pairs
        .join(F.broadcast(sizes.select(F.col("event_type").alias("type_a"),
                                       F.col("n").alias("n_a"))), "type_a")
        .join(F.broadcast(sizes.select(F.col("event_type").alias("type_b"),
                                       F.col("n").alias("n_b"))), "type_b")
        .crossJoin(total)
        .select(
            "type_a", "type_b", "n_a", "n_b", "n_ab", "n_baskets",
            F.expr("CAST((n_ab * 1000000) DIV n_baskets AS BIGINT)")
            .alias("support_ppm"),
            F.expr("CAST((n_ab * 1000000) DIV n_a AS BIGINT)")
            .alias("conf_ab_ppm"),
            F.expr("CAST((n_ab * 1000000) DIV n_b AS BIGINT)")
            .alias("conf_ba_ppm"),
            F.expr("CAST((n_ab * n_baskets * 1000) DIV (n_a * n_b) "
                   "AS BIGINT)").alias("lift_milli"),
        )
    )


def bounce_stats(events: DataFrame) -> DataFrame:
    """Per-entry-type session bounce/dwell rollup — the landing-page
    report every product-analytics stack publishes: sessionize by the
    30-minute gap rule (the sessionize/lag+cumsum derivation, with the
    total order pinned to (ts, event_id) so timestamp ties cannot flip
    the entry pick between engines), key each session by its FIRST
    event's type, then per entry type report session count, bounce
    count (single-event sessions), the bounce rate on the exact ppm
    grid, and mean events / mean duration on the milli grid via the
    tie-free (2000*s + n) DIV (2*n) — all counts and epoch-second
    durations are non-negative BIGINTs, so the grid is exact and
    engine-independent.

    Scale shape: one shuffle on user_id for the session windows (the
    standard sessionization partitioning — per-user sequential, hot
    users bounded by their own event count), then a groupBy on the
    session key and a tiny entry-type rollup.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    per_session = (
        events
        .withColumn("new_session",
                    F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_seq", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("entry_type", F.first("event_type").over(
            Window.partitionBy("user_id", "session_seq")
            .orderBy("ts", "event_id")))
        .groupBy("user_id", "session_seq", "entry_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             F.max(secs).alias("_hi"), F.min(secs).alias("_lo"))
        .select("entry_type", "n_events",
                (F.col("_hi") - F.col("_lo")).alias("dur_secs"))
    )
    return (
        per_session.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).cast("long")
            .alias("n_bounces"),
            F.sum("n_events").cast("long").alias("_se"),
            F.sum("dur_secs").cast("long").alias("_sd"),
        )
        .select(
            "entry_type", "n_sessions", "n_bounces",
            F.expr("CAST((n_bounces * 1000000) DIV n_sessions AS BIGINT)")
            .alias("bounce_ppm"),
            # double division (not BIGINT / literal): Spark's decimal
            # promotion would emit DECIMAL(27,6) where the DuckDB
            # oracle emits DOUBLE — identical values, driver-hash
            # representation drift (round-5 verdict #3 latent carrier)
            F.expr("CAST(CAST((2000 * _se + n_sessions) DIV (2 * n_sessions)"
                   " AS BIGINT) AS DOUBLE) / 1000.0").alias("mean_events"),
            F.expr("CAST(CAST((2000 * _sd + n_sessions) DIV (2 * n_sessions)"
                   " AS BIGINT) AS DOUBLE) / 1000.0").alias("mean_dur_secs"),
        )
    )


def burn_rate_alerts(events: DataFrame, slo_ppm: int = 50000,
                     burn_x: int = 2, long_hours: int = 6) -> DataFrame:
    """Multi-window SLO burn-rate alerting — the SRE alert rule that
    replaced naive threshold paging (Google SRE workbook ch. 5): per
    hour on the COMPLETE gap-filled spine, the error ratio over the
    SHORT window (this hour) and the LONG trailing window
    (``long_hours``), with an alert only when BOTH exceed
    ``burn_x`` times the SLO error budget — the short window gives
    fast detection, the long window suppresses blips.

    Exact arithmetic: the threshold compare is the integer
    cross-product err * 1_000_000 > burn_x * slo_ppm * tot (no
    division on the decision path); the reported ratios are ppm via
    integer DIV guarded by tot > 0 (empty hours report 0 and can
    never alert). Trailing sums are ROWS frames over the hourly spine
    — ROWS == TIME exactly because the spine has no gaps (the
    rolling_hourly_counts argument).

    Scale shape: one map-side-combined groupBy to the hourly grain
    (err via a conditional sum on the same pass), a tiny generated
    spine, and window functions over the spine table — cost is
    independent of event volume.
    """
    hourly = (
        events.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("tot"),
             F.sum((F.col("event_type") == "error").cast("long"))
             .cast("long").alias("err"))
    )
    bounds = hourly.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hour"))
    g = (spine.join(hourly, "hour", "left")
         .select("hour",
                 F.coalesce("tot", F.lit(0)).cast("long").alias("tot"),
                 F.coalesce("err", F.lit(0)).cast("long").alias("err")))
    w_long = (Window.partitionBy(F.lit(1)).orderBy("hour")
              .rowsBetween(-(long_hours - 1), Window.currentRow))
    thr = burn_x * slo_ppm
    staged = (
        g.withColumn("tot_l", F.sum("tot").over(w_long))
        .withColumn("err_l", F.sum("err").over(w_long))
    )
    return staged.select(
        "hour", "tot", "err",
        F.expr("CASE WHEN tot > 0 THEN CAST((err * 1000000) DIV tot"
               " AS BIGINT) ELSE 0 END").alias("short_ppm"),
        F.expr("CASE WHEN tot_l > 0 THEN CAST((err_l * 1000000) DIV tot_l"
               " AS BIGINT) ELSE 0 END").alias("long_ppm"),
        ((F.col("err") * 1000000 > F.lit(thr) * F.col("tot"))
         & (F.col("err_l") * 1000000 > F.lit(thr) * F.col("tot_l"))
         & (F.col("tot") > 0)).cast("int").alias("alert"),
    )


def survival_hazard(events: DataFrame, censor_days: int = 7,
                    user_col: str = "user_id") -> DataFrame:
    """Nelson-Aalen churn-hazard table over user lifetimes — the
    survival readout a retention team publishes next to the cohort
    matrix: for each observed lifetime t (whole days between a user's
    first and last event), the number still at risk, the churn events
    and censorings AT t, the discrete hazard d/n, and the cumulative
    hazard H(t) = sum of hazards through t. A user is an observed
    churn when their last event predates the corpus horizon by more
    than ``censor_days`` (they had the chance to return and didn't);
    later last-events are right-censored.

    Integer-grid determinism: hazard terms are d*1e6 DIV n_at_risk
    (each term exact BIGINT), and the Nelson-Aalen cumulative is the
    BIGINT sum of those terms — no float product, so the estimator is
    bit-identical across engines and partitionings (the Kaplan-Meier
    product form would need exp/ln floats; the additive N-A form is
    the integer-exact twin).

    Scale shape: ONE map-side-combined per-user groupBy over the
    corpus, a 1-row broadcast horizon, then every window runs over
    the tiny per-lifetime table (at most max-lifetime-days rows).
    """
    # NTZ-safe epoch seconds (session tz pinned UTC in session.py)
    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        F.min(F.unix_timestamp("ts")).cast("long").alias("fs"),
        F.max(F.unix_timestamp("ts")).cast("long").alias("ls"),
    )
    horizon = F.broadcast(per_user.agg(F.max("ls").alias("_hz")))
    lives = (
        per_user.crossJoin(horizon)
        .select(
            F.expr("CAST((ls - fs) DIV 86400 AS BIGINT)").alias("t_days"),
            F.expr(f"CAST(ls <= _hz - {int(censor_days)} * 86400 AS INT)")
            .alias("obs"),
        )
    )
    per_t = lives.groupBy("t_days").agg(
        F.sum("obs").cast("long").alias("d_churned"),
        F.sum(1 - F.col("obs")).cast("long").alias("c_censored"),
    )
    w_risk = (Window.partitionBy(F.lit(1)).orderBy(F.desc("t_days"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_cum = (Window.partitionBy(F.lit(1)).orderBy(F.asc("t_days"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        per_t
        .withColumn("n_at_risk",
                    F.sum(F.col("d_churned") + F.col("c_censored"))
                    .over(w_risk).cast("long"))
        .withColumn("hazard_ppm",
                    F.expr("CAST((d_churned * 1000000) DIV n_at_risk"
                           " AS BIGINT)"))
        .withColumn("cum_hazard_ppm",
                    F.sum("hazard_ppm").over(w_cum).cast("long"))
        .select("t_days", "n_at_risk", "d_churned", "c_censored",
                "hazard_ppm", "cum_hazard_ppm")
    )


def peak_concurrency(events: DataFrame,
                     user_col: str = "user_id") -> DataFrame:
    """Per-day peak concurrency via the classic +1/−1 boundary sweep —
    the capacity-planning readout ("how many users were on AT ONCE,
    and when") that a naive per-second groupBy cannot produce without
    materializing every active second. Each user's activity on a day
    is one interval [first event, last event + 1s); interval starts
    contribute +1 and (exclusive) ends −1, boundaries are netted per
    second, and the running sum over each day's boundary sequence is
    the concurrency profile. Reported per day: interval count, the
    peak, and the EARLIEST second attaining it (deterministic
    tie-break).

    All-BIGINT (counts + epoch seconds), so hash-stable. Scale shape:
    one map-side-combined groupBy on (user, day) builds the
    intervals; every window is PARTITIONED BY day, so days sweep in
    parallel and no global ordering exists; the per-(day, second)
    boundary table is bounded by 2x the day's active users, not its
    event count. Both boundaries carry the interval's own day key, so
    midnight-crossing end markers stay in their day's sweep and each
    day's running sum starts and ends at zero.
    """
    iv = events.groupBy(
        F.col(user_col).alias("u"), F.to_date("ts").alias("day")
    ).agg(
        F.min(F.unix_timestamp("ts")).cast("long").alias("s"),
        (F.max(F.unix_timestamp("ts")) + 1).cast("long").alias("e"),
    )
    bounds = (
        iv.select("day", F.col("s").alias("sec"), F.lit(1).alias("delta"))
        .unionAll(iv.select("day", F.col("e").alias("sec"),
                            F.lit(-1).alias("delta")))
        .groupBy("day", "sec")
        .agg(F.sum("delta").cast("long").alias("net"))
    )
    w_sweep = (Window.partitionBy("day").orderBy("sec")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    prof = bounds.withColumn("conc", F.sum("net").over(w_sweep))
    w_day = Window.partitionBy("day")
    peaks = (
        prof.withColumn("peak", F.max("conc").over(w_day))
        .where(F.col("conc") == F.col("peak"))
        .groupBy("day")
        .agg(F.min("sec").cast("long").alias("peak_at_sec"),
             F.min("peak").cast("long").alias("peak_concurrency"))
    )
    n_iv = iv.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"))
    return (
        n_iv.join(peaks, "day")
        .select("day", "n_intervals", "peak_concurrency", "peak_at_sec")
    )


ACF_LAGS = (1, 2, 3, 6, 12, 24)


def acf_profile(events: DataFrame, lags: tuple = ACF_LAGS) -> DataFrame:
    """Autocorrelation profile of the hourly event-count series — the
    seasonality diagnostic behind the seasonal-naive forecaster
    (forecast_baseline picks its period from exactly this readout: a
    spike at lag 24 says daily cycle). Per lag L, the Pearson
    correlation between x_t and x_{t+L} over the ZERO-FILLED hourly
    spine (missing hours are real zeros, not gaps — skipping them
    would splice distant hours together and fake correlation).

    Determinism: counts are BIGINT; moment sums ride DECIMAL(38,0)
    (the assortativity discipline — deg²-scale products can overflow
    int64 at 1e6-count hours) and the coefficient is ONE double
    expression of exact decimals, rounded 6dp, 0.0 when either
    variance is 0. Scale shape: one map-side-combined groupBy on
    epoch-hour, a 1-row min/max agg exploded into the dense spine
    (O(hours) rows — tiny next to the corpus), and every join/window
    after that runs on the spine only.
    """
    hours = (
        events.select((F.unix_timestamp("ts").cast("long") / 3600)
                      .cast("long").alias("h"))
        .groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    bounds = hours.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        bounds.select(F.explode(F.expr("sequence(h0, h1)")).alias("h"))
        .join(hours, "h", "left")
        .select("h", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
        .localCheckpoint(eager=False)  # feeds both sides of every lag join
    )
    lagdf = local_frame(events.sparkSession, [(int(l),) for l in lags],
                        "lag int")
    pairs = (
        lagdf.crossJoin(spine)
        .withColumn("h2", F.col("h") + F.col("lag"))
        .join(spine.select(F.col("h").alias("h2"),
                           F.col("x").alias("y")), "h2")
    )
    dec = "DECIMAL(38,0)"
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
    )
    return agg.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.round(
            F.expr(
                "CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0"
                " AND CAST(n * syy - sy * sy AS DOUBLE) > 0"
                " THEN CAST(n * sxy - sx * sy AS DOUBLE)"
                " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
                " ELSE 0.0 END"), 6).alias("acf"),
    )


def props_rollup(events: DataFrame,
                 type_col: str = "event_type") -> DataFrame:
    """Semi-structured property rollup — the schema-on-read path every
    event store needs: the JSON ``props`` payload is parsed IN the
    scan projection (get_json_object, JVM-side, no Python), the ``k``
    field extracted and cast, and per event type the null rate plus
    count/sum/min/max/mean roll up in one map-side-combined pass.
    Integer grids throughout: null rate on ppm, mean on the tie-free
    (2000s + n) DIV (2n) milli grid over non-null rows.

    At 100 TB the JSON parse is the dominant cost — it runs exactly
    once per row inside whole-stage codegen, and the extracted BIGINT
    (not the raw string) is all that reaches the shuffle.
    """
    parsed = events.select(
        F.col(type_col).alias("event_type"),
        F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             F.sum(F.col("k").isNull().cast("int")).cast("long")
             .alias("n_null"),
             F.sum("k").cast("long").alias("sum_k"),
             F.min("k").cast("long").alias("min_k"),
             F.max("k").cast("long").alias("max_k"))
        .select(
            "event_type", "n_events", "n_null", "sum_k", "min_k", "max_k",
            F.expr("CAST((n_null * 1000000) DIV n_events AS BIGINT)")
            .alias("null_ppm"),
            F.expr("CASE WHEN n_events - n_null > 0 THEN "
                   "CAST((2000 * sum_k + (n_events - n_null))"
                   " DIV (2 * (n_events - n_null)) AS BIGINT)"
                   " ELSE CAST(0 AS BIGINT) END").alias("mean_k_milli"),
        )
    )


def srm_check(events: DataFrame, user_col: str = "user_id",
              type_col: str = "event_type",
              chi2_milli_crit: int = 3841) -> DataFrame:
    """Per-event-type sample-ratio-mismatch check — the guardrail an
    experiment platform runs BEFORE reading any lift number: under
    the md5-parity 50/50 assignment (the ab_lift convention), the
    exposed-user split per event type should be binomial-balanced;
    a chi-square statistic beyond the 95% critical value (3.841 for
    1 df) flags a broken randomizer or a logging bias, and every
    downstream readout for that type is suspect.

    chi2 for two equal-expected cells reduces to (n0-n1)^2 / n —
    computed on the tie-free milli grid (2000*(n0-n1)^2 + n) DIV
    (2n), so the flag compares integers. Scale shape: one distinct
    over (type, user) — the same shuffle any exposure count pays —
    then a 2-row-per-type rollup. No floats.
    """
    from deepref_spark.portable import md5_mod

    exposed = (
        events.select(F.col(type_col).alias("event_type"),
                      F.col(user_col).alias("u"))
        .distinct()
        .select("event_type",
                F.expr("CAST(" + md5_mod("CAST(u AS STRING)", 2)
                       + " AS INT)").alias("arm"))
    )
    per = exposed.groupBy("event_type").agg(
        F.sum(F.expr("CAST(arm = 0 AS INT)")).cast("long").alias("n0"),
        F.sum(F.expr("CAST(arm = 1 AS INT)")).cast("long").alias("n1"),
    )
    return per.select(
        "event_type", "n0", "n1",
        (F.col("n0") + F.col("n1")).cast("long").alias("n_users"),
        F.expr("CAST((2000 * (n0 - n1) * (n0 - n1) + (n0 + n1))"
               " DIV (2 * (n0 + n1)) AS BIGINT)").alias("chi2_milli"),
        F.expr(f"CAST(CAST((2000 * (n0 - n1) * (n0 - n1) + (n0 + n1))"
               f" DIV (2 * (n0 + n1)) AS BIGINT)"
               f" > {int(chi2_milli_crit)} AS INT)").alias("srm_flag"),
    )


def cuped_report(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013) — the
    adjustment every mature experiment platform applies before
    reading a lift: each user's PRE-period activity (event count
    before the corpus midpoint) is a covariate for their POST-period
    metric; theta = cov(pre, post) / var(pre) is fit on the pooled
    population and the per-arm adjusted mean subtracts
    theta * (arm pre-mean − pooled pre-mean), cancelling the
    randomization noise the covariate explains.

    Determinism: per-user counts are BIGINT; every moment (Sx, Sy,
    Sxy, Sxx) rides DECIMAL(38,0); theta and the adjusted means are
    single double expressions of exact decimals, rounded 6dp, written
    IDENTICALLY in the oracle. Scale shape: one per-user groupBy with
    two conditional counts (map-side combined), a 1-row broadcast
    midpoint, a 1-row pooled-moment agg broadcast into the 2-row
    per-arm table. theta guards var(pre)=0 with 0.0 (no adjustment).
    """
    from deepref_spark.portable import md5_mod

    bounds = F.broadcast(events.agg(
        F.min(F.unix_timestamp("ts")).cast("long").alias("s0"),
        F.max(F.unix_timestamp("ts")).cast("long").alias("s1")))
    per_user = (
        events.select(F.col(user_col).alias("u"),
                      F.unix_timestamp("ts").cast("long").alias("sec"))
        .crossJoin(bounds)
        .withColumn("mid", F.expr("CAST((s0 + s1) DIV 2 AS BIGINT)"))
        .groupBy("u")
        .agg(F.sum(F.expr("CAST(sec < mid AS INT)")).cast("long")
             .alias("pre"),
             F.sum(F.expr("CAST(sec >= mid AS INT)")).cast("long")
             .alias("post"))
        .select(F.expr("CAST(" + md5_mod("CAST(u AS STRING)", 2)
                       + " AS INT)").alias("arm"), "pre", "post")
        .localCheckpoint(eager=False)  # feeds pooled AND per-arm aggs
    )
    dec = "DECIMAL(38,0)"
    pooled = F.broadcast(per_user.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("pre").cast(dec).alias("sx"),
        F.sum("post").cast(dec).alias("sy"),
        F.sum(F.col("pre").cast(dec) * F.col("post")).cast(dec)
        .alias("sxy"),
        F.sum(F.col("pre").cast(dec) * F.col("pre")).cast(dec)
        .alias("sxx"),
    ))
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("pre").cast("long").alias("sum_pre"),
        F.sum("post").cast("long").alias("sum_post"),
    )
    theta = ("CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0"
             " THEN CAST(n * sxy - sx * sy AS DOUBLE)"
             " / CAST(n * sxx - sx * sx AS DOUBLE) ELSE 0.0 END")
    return (
        arms.crossJoin(pooled)
        .select(
            "arm", "n_users", "sum_pre", "sum_post",
            F.round(F.expr("CAST(sum_post AS DOUBLE) / n_users"), 6)
            .alias("mean_post"),
            F.round(F.expr(theta), 6).alias("theta"),
            F.round(F.expr(
                f"CAST(sum_post AS DOUBLE) / n_users - ({theta})"
                f" * (CAST(sum_pre AS DOUBLE) / n_users"
                f"    - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"), 6)
            .alias("adj_mean"),
        )
    )


# Benford expected first-digit frequencies, floor(log10(1+1/d)*1e6+0.5);
# the nine entries sum to exactly 1,000,000.
BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
               6: 66947, 7: 57992, 8: 51153, 9: 45757}


def benford_audit(events: DataFrame, value_col: str = "value") -> DataFrame:
    """Benford's-law first-digit audit over a positive metric column —
    the classic fabricated-data / unit-mixup screen a pipeline runs on
    ingested numeric feeds. The value is quantized to the house milli
    grid FIRST (so the digit protocol is engine-exact: first character
    of the BIGINT's decimal spelling, no float formatting anywhere),
    zero/negative rows are excluded, observed shares ride exact ppm
    integer division, and the expected shares are the fixed ppm
    literal table above (sums to exactly 1e6). dev_ppm = |obs − exp|
    gives a thresholdable per-digit readout.

    Scale shape: one scan, one 9-group aggregate (map-side combined),
    a 1-row total broadcast back — no window over data-sized input."""
    mills = f"CAST(floor({value_col} * 1000 + 0.5) AS BIGINT)"
    per = (
        events.select(F.expr(mills).alias("m"))
        .where(F.col("m") > 0)
        .select(F.expr("CAST(substr(CAST(m AS STRING), 1, 1) AS BIGINT)")
                .alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = F.broadcast(per.agg(F.sum("n").cast("long").alias("total")))
    exp_case = ("CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in sorted(BENFORD_PPM.items()))
        + " END")
    return (
        per.crossJoin(total)
        .select(
            "digit", "n",
            F.expr("n * 1000000 DIV total").cast("long").alias("obs_ppm"),
            F.expr(f"CAST({exp_case} AS BIGINT)").alias("exp_ppm"),
            F.expr(f"CAST(abs(n * 1000000 DIV total - ({exp_case}))"
                   " AS BIGINT)").alias("dev_ppm"),
        )
    )


def power_mde(events: DataFrame, convert_type: str = "purchase",
              user_col: str = "user_id") -> DataFrame:
    """Two-sample minimum-detectable-effect readout for the house A/B
    split (md5-parity arms, conversion = any ``convert_type`` event):
    the experiment-sizing companion to ab_lift/srm_check — before
    reading a lift, know the smallest absolute conversion delta this
    sample could certify at alpha=0.05 (two-sided), power=0.80.

    MDE = (z_{0.975} + z_{0.80}) * sqrt(p(1−p) * (1/n0 + 1/n1)) with
    the z-sum pinned to the literal 2.801585. Counts are exact BIGINT;
    p and the MDE are ONE double expression of those integers, rounded
    6dp, written identically in the oracle. Scale shape: one per-user
    agg (map-side combined max flag), then a 1-row rollup."""
    from deepref_spark.portable import md5_mod

    per_user = (
        events.groupBy(F.col(user_col).alias("u"))
        .agg(F.max(F.when(F.col("event_type") == convert_type, 1)
                   .otherwise(0)).alias("converted"))
        .select(F.expr("CAST(" + md5_mod("CAST(u AS STRING)", 2)
                       + " AS INT)").alias("arm"), "converted")
    )
    agg = per_user.agg(
        F.sum(F.expr("CAST(arm = 0 AS INT)")).cast("long").alias("n0"),
        F.sum(F.expr("CAST(arm = 1 AS INT)")).cast("long").alias("n1"),
        F.sum(F.expr("CAST(arm = 0 AS INT) * converted")).cast("long")
        .alias("conv0"),
        F.sum(F.expr("CAST(arm = 1 AS INT) * converted")).cast("long")
        .alias("conv1"),
    )
    p = "(CAST(conv0 + conv1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))"
    return agg.select(
        "n0", "n1", "conv0", "conv1",
        F.expr(f"CAST((conv0 + conv1) * 1000000 DIV (n0 + n1) AS BIGINT)")
        .alias("p_pool_ppm"),
        F.round(F.expr(
            f"2.801585 * sqrt({p} * (1 - {p})"
            " * (1.0 / n0 + 1.0 / n1)) * 1000000"), 6).alias("mde_ppm"),
    )


def seasonal_outliers(events: DataFrame, season_hours: int = 24,
                      k_med: int = 3) -> DataFrame:
    """Seasonal-residual outlier screen per event type: remove the
    dominant daily cycle with the seasonal-naive predictor
    (forecast_baseline's lag-``season_hours`` rule over
    gap_fill_locf's COMPLETE hourly spine), then flag hours whose
    |residual| exceeds k x the exact per-type median absolute
    residual — the S-H-ESD shape on the integer grid: seasonality out
    first, a robust scale second, so a real spike neither hides
    behind the daily cycle (rate_anomaly's trailing mean) nor
    inflates its own threshold (anomaly_mad's raw-count MAD). A zero
    median tightens the band to greatest(1, med) so a flat series
    still flags any deviation.

    Scale shape: the lag window and the median pass both run over the
    types x hours spine (independent of event volume); one histogram
    inverted-CDF median, one grouped rollup; worst hour = the
    EARLIEST of the max-|residual| hours (deterministic tie-break)."""
    g = gap_fill_locf(events)
    w = Window.partitionBy("event_type").orderBy("hour")
    scored = (
        g.select("event_type", "hour", "n",
                 F.lag("n", int(season_hours)).over(w).alias("fc"))
        .where(F.col("fc").isNotNull())
        .withColumn("resid", (F.col("n") - F.col("fc")).cast("long"))
        .withColumn("ad", F.abs(F.col("n") - F.col("fc")).cast("long"))
        .localCheckpoint(eager=False)  # feeds the median pass AND rollups
    )
    med = _typed_median(scored, "event_type", "ad", "med_abs_resid")
    j = scored.join(med, "event_type")
    mx = (scored.groupBy("event_type")
          .agg(F.max("ad").cast("long").alias("max_abs_resid")))
    worst_hour = (
        scored.join(mx, "event_type")
        .where(F.col("ad") == F.col("max_abs_resid"))
        .groupBy("event_type")
        .agg(F.min("hour").alias("worst_hour"))
    )
    flag = (F.col("ad")
            > int(k_med) * F.greatest(F.lit(1), F.col("med_abs_resid")))
    return (
        j.groupBy("event_type", "med_abs_resid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_scored"),
             F.sum(flag.cast("int")).cast("long").alias("n_outliers"),
             F.max("ad").cast("long").alias("max_abs_resid"))
        .join(worst_hour, "event_type")
        .select("event_type", "n_scored", "med_abs_resid", "n_outliers",
                "max_abs_resid", "worst_hour")
    )


def trend_mk(events: DataFrame) -> DataFrame:
    """Mann-Kendall trend test per event type over daily counts — the
    non-parametric "is this series drifting?" readout that completes
    the monitoring shelf (cusum: level SHIFT, seasonal_outliers:
    single-hour SPIKES, this: monotone DRIFT): S = sum over day pairs
    i<j of sign(x_j − x_i), Kendall tau on the exact milli grid, and
    the two-sided z≈1.96 significance flag as a pure integer
    cross-product (18 * S² * 10⁴ > 38416 * n(n−1)(2n+5) — the
    no-ties variance, the standard conservative simplification: ties
    only shrink the true variance, so a flagged trend stays flagged).

    Scale shape: the day-pair self-join is bounded by days² per type
    (calendar-sized, independent of event volume — a decade is <2⁷⁰⁰⁰²
    pairs); the only stream-sized pass is the daily grouped count,
    map-side combined."""
    daily = (
        events.groupBy("event_type",
                       F.expr("CAST(ts AS DATE)").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)  # feeds the pair join AND n_days
    )
    a = daily.select("event_type", F.col("d").alias("d1"),
                     F.col("x").alias("x1"))
    b = daily.select("event_type", F.col("d").alias("d2"),
                     F.col("x").alias("x2"))
    s = (
        a.join(b, "event_type")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("event_type")
        .agg(F.sum(F.expr("CAST(sign(x2 - x1) AS BIGINT)")).cast("long")
             .alias("s_stat"),
             F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    nd = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        s.join(nd, "event_type")
        .select(
            "event_type", "n_days", "n_pairs", "s_stat",
            F.expr("s_stat * 1000 DIV n_pairs").cast("long")
            .alias("tau_milli"),
            F.expr("CAST(18 * s_stat * s_stat * 10000 >"
                   " 38416 * n_days * (n_days - 1) * (2 * n_days + 5)"
                   " AS INT)").alias("trend_flag"))
    )


def pareto_share(events: DataFrame) -> DataFrame:
    """Revenue-concentration (Pareto) readout per event type: rank
    users by total value descending and report how many users it
    takes to reach 50% and 80% of the type's value, plus the value
    share held by the top decile of users — the "whales" diagnostic
    behind every monetization or abuse-concentration review.

    Determinism: value quantized to cents up front, ranks on the
    unique (cents DESC, user_id) order, thresholds as pure integer
    cross-products (cum*2 >= total etc.), decile size = ceil(n/10) in
    integer math. Scale shape: the stream-sized pass is the per-
    (type,user) grouped sum (map-side combined); the ranking window
    runs per type over USER rows only. A type with hundreds of
    millions of users makes that window's sort the cost — at that
    scale swap the exact rank for the histogram-quantile sketch the
    lake lane uses; the thresholds here are the exact contract."""
    per_user = (
        events
        .groupBy("event_type", "user_id")
        .agg(F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
             .cast("long").alias("cents"))
    )
    w = (Window.partitionBy("event_type")
         .orderBy(F.col("cents").desc(), F.col("user_id").asc()))
    wall = Window.partitionBy("event_type")
    ranked = per_user.select(
        "event_type", "cents",
        F.row_number().over(w).alias("rk"),
        F.sum("cents").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cents").over(wall).alias("tot"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    return (
        ranked
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_users"),
            F.max("tot").cast("long").alias("total_cents"),
            F.min(F.expr("CASE WHEN cum * 2 >= tot THEN rk END"))
            .cast("long").alias("n50_users"),
            F.min(F.expr("CASE WHEN cum * 5 >= tot * 4 THEN rk END"))
            .cast("long").alias("n80_users"),
            F.sum(F.expr("CASE WHEN rk * 10 <= n + 9 THEN cents"
                         " ELSE 0 END")).cast("long").alias("decile_cents"),
        )
        .select(
            "event_type", "n_users", "total_cents", "n50_users",
            "n80_users",
            F.expr("decile_cents * 1000000 DIV total_cents").cast("long")
            .alias("top_decile_ppm"))
    )


def did_report(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Difference-in-differences readout over the deterministic A/B
    arms: each user's value (cents) is split at the corpus-midpoint
    second into pre/post sums, arms come from the same md5-parity hash
    the SRM/CUPED lane uses, and the DiD estimate is
    (post−pre mean, treatment) − (post−pre mean, control) — the
    two-period two-group causal readout that separates a launch
    effect from a shared time trend.

    Determinism: value on the cents grid, pre/post split on BIGINT
    epoch seconds vs an integer midpoint, per-arm sums BIGINT; the
    estimate is ONE double expression of exact integers, rounded 6dp
    identically in the oracle. An empty arm yields NULL did (tiny
    inputs only; the parity hash fills both arms at any real scale).

    Scale shape: one per-user grouped pass with two conditional cents
    sums (map-side combined), a 1-row broadcast bounds table, a 2-row
    per-arm agg pivoted to one row. Nothing else touches the corpus."""
    from deepref_spark.portable import md5_mod

    bounds = F.broadcast(events.agg(
        F.min(F.unix_timestamp("ts")).cast("long").alias("s0"),
        F.max(F.unix_timestamp("ts")).cast("long").alias("s1")))
    per_user = (
        events
        .select(F.col(user_col).alias("u"),
                F.unix_timestamp("ts").cast("long").alias("sec"),
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
                .alias("cents"))
        .crossJoin(bounds)
        .withColumn("mid", F.expr("CAST((s0 + s1) DIV 2 AS BIGINT)"))
        .groupBy("u")
        .agg(F.sum(F.expr("CASE WHEN sec < mid THEN cents ELSE 0 END"))
             .cast("long").alias("pre_cents"),
             F.sum(F.expr("CASE WHEN sec >= mid THEN cents ELSE 0 END"))
             .cast("long").alias("post_cents"))
        .select(F.expr("CAST(" + md5_mod("CAST(u AS STRING)", 2)
                       + " AS INT)").alias("arm"),
                "pre_cents", "post_cents")
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("pre_cents").cast("long").alias("pre_cents"),
        F.sum("post_cents").cast("long").alias("post_cents"))
    pick = ("CAST(max(CASE WHEN arm = {a} THEN {c} END) AS BIGINT)")
    return (
        arms.agg(
            F.expr(pick.format(a=1, c="n_users")).alias("n_treat"),
            F.expr(pick.format(a=0, c="n_users")).alias("n_ctrl"),
            F.expr(pick.format(a=1, c="pre_cents")).alias("pre_t_cents"),
            F.expr(pick.format(a=1, c="post_cents")).alias("post_t_cents"),
            F.expr(pick.format(a=0, c="pre_cents")).alias("pre_c_cents"),
            F.expr(pick.format(a=0, c="post_cents")).alias("post_c_cents"),
        )
        .select(
            "n_treat", "n_ctrl", "pre_t_cents", "post_t_cents",
            "pre_c_cents", "post_c_cents",
            F.round(F.expr(
                "CAST(post_t_cents - pre_t_cents AS DOUBLE) / n_treat"
                " - CAST(post_c_cents - pre_c_cents AS DOUBLE) / n_ctrl"),
                6).alias("did_cents"))
    )


def ses_forecast(events: DataFrame, window_days: int = 16) -> DataFrame:
    """One-step-ahead exponential-smoothing backtest per event type:
    the forecast for day d is the truncated alpha=1/2 SES sum over the
    previous ``window_days`` daily cents totals — weight 2^(W-j) for
    lag j, denominator 2^W - 1 (the weights' exact sum) — compared to
    the day's actual where one exists. Integer weights make the
    smoother engine-exact: no float power series, one BIGINT division
    at the end.

    Scale shape: the corpus-sized pass is the per-(type, day) grouped
    cents sum (map-side combined, reused via a lazy localCheckpoint
    for contributions AND actuals); the lag expansion is a broadcast
    cross join of that already-small daily table with a W-row weight
    dim — never a range self-join — regrouped map-side. Targets are
    capped at max observed day + 1 (the true one-step-ahead row)."""
    w = int(window_days)
    spark = events.sparkSession
    lags = F.broadcast(spark.range(1, w + 1).select(
        F.col("id").cast("int").alias("j"),
        F.expr(f"CAST(power(2, {w} - id) AS BIGINT)").alias("wt")))
    bounds = F.broadcast(events.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1")))
    daily = (
        events.crossJoin(bounds)
        .select("event_type",
                F.datediff(F.to_date("ts"), F.col("d0")).cast("int")
                .alias("idx"),
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
                .alias("cents"))
        .groupBy("event_type", "idx")
        .agg(F.sum("cents").cast("long").alias("cents"))
        .localCheckpoint(eager=False)  # contributions AND actuals
    )
    contrib = (
        daily.crossJoin(lags)
        .select("event_type", (F.col("idx") + F.col("j")).alias("tidx"),
                (F.col("cents") * F.col("wt")).alias("wc"))
        .groupBy("event_type", "tidx")
        .agg(F.sum("wc").cast("long").alias("wsum"))
    )
    denom = 2 ** w - 1
    return (
        contrib.crossJoin(bounds)
        .where(F.col("tidx") <= F.datediff("d1", "d0").cast("int") + 1)
        .join(daily.select("event_type", F.col("idx").alias("tidx"),
                           F.col("cents").alias("actual_cents")),
              ["event_type", "tidx"], "left")
        .select(
            "event_type",
            F.date_format(F.expr("date_add(d0, tidx)"), "yyyy-MM-dd")
            .alias("day"),
            F.expr(f"wsum DIV {denom}").cast("long").alias("forecast_cents"),
            F.col("actual_cents").cast("long").alias("actual_cents"),
            F.expr(f"actual_cents - wsum DIV {denom}").cast("long")
            .alias("err_cents"))
    )


def theil_sen_trend(events: DataFrame) -> DataFrame:
    """Theil-Sen robust trend estimator per event type over daily
    counts — the SLOPE companion to trend_mk's monotone-drift TEST
    (the pair the Mann-Kendall literature ships together): the median
    of all pairwise day-slopes, immune to outlier days that wreck an
    OLS fit. Slopes ride the exact milli grid ((x2 - x1) * 1000 DIV
    days-between — both engines truncate integer division toward zero
    identically), the median is the LOWER median on the total order
    (slope_milli, d1, d2) (no averaging, so no new double), and the
    matching intercept is the lower median of x*1000 - slope*day_idx
    over observed days.

    Scale shape: identical to trend_mk — the only stream-sized pass
    is the daily grouped count (map-side combined); the day-pair
    self-join and both median windows are calendar-sized per type
    (a decade is <7000 day rows), independent of event volume."""
    daily = (
        events.groupBy("event_type",
                       F.expr("CAST(ts AS DATE)").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint(eager=False)  # feeds pairs AND the intercept
    )
    a = daily.select("event_type", F.col("d").alias("d1"),
                     F.col("x").alias("x1"))
    b = daily.select("event_type", F.col("d").alias("d2"),
                     F.col("x").alias("x2"))
    slopes = (
        a.join(b, "event_type")
        .where(F.col("d1") < F.col("d2"))
        .select("event_type", "d1", "d2",
                F.expr("(x2 - x1) * 1000 DIV datediff(d2, d1)")
                .cast("long").alias("slope_milli"))
    )
    w_med = (Window.partitionBy("event_type")
             .orderBy("slope_milli", "d1", "d2"))
    w_n = Window.partitionBy("event_type")
    med = (
        slopes
        .withColumn("rn", F.row_number().over(w_med))
        .withColumn("n_pairs", F.count(F.lit(1)).over(w_n))
        .where(F.expr("rn = (n_pairs + 1) DIV 2"))
        .select("event_type", "n_pairs", "slope_milli")
    )
    base = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"),
        F.count(F.lit(1)).cast("long").alias("n_days"))
    resid = (
        daily.join(base, "event_type").join(med, "event_type")
        .select("event_type", "n_days", "n_pairs", "slope_milli",
                F.expr("x * 1000 - slope_milli * datediff(d, d0)")
                .cast("long").alias("ic"),
                "d")
    )
    w_ic = (Window.partitionBy("event_type").orderBy("ic", "d"))
    return (
        resid
        .withColumn("rn", F.row_number().over(w_ic))
        .where(F.expr("rn = (n_days + 1) DIV 2"))
        .select("event_type", "n_days", "n_pairs", "slope_milli",
                F.col("ic").cast("long").alias("intercept_milli"))
    )


def changepoint(events: DataFrame) -> DataFrame:
    """Single change-point detection per event type over daily counts
    (binary-segmentation step 1, the CUSUM-family offline twin of
    events_cusum's online rule): the split k that minimizes total
    within-segment sum of squared error — equivalently maximizes
    gain(k) = S1²/k + (S-S1)²/(n-k) — over the observed day sequence.
    Prefix sums stay BIGINT; each candidate's gain is ONE double
    expression of exact integers (exact in IEEE while totals < 2^26.5
    — beyond that port the cross-product comparison to decimal); the
    argmax breaks exact-double ties on the earlier day, so both
    engines pick the identical split. Output: the split day (last day
    of the left segment), segment means (6dp), and the gain over the
    no-split baseline S²/n.

    Scale shape: the stream-sized pass is the daily grouped count
    (map-side combined); the cumsum + argmax windows run over
    calendar-sized day rows per type, never the corpus."""
    daily = (
        events.groupBy("event_type",
                       F.expr("CAST(ts AS DATE)").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w_cum = (Window.partitionBy("event_type").orderBy("d")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy("event_type")
    scored = (
        daily
        .withColumn("k", F.row_number().over(
            Window.partitionBy("event_type").orderBy("d")))
        .withColumn("s1", F.sum("x").over(w_cum).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(w_all).cast("long"))
        .withColumn("s", F.sum("x").over(w_all).cast("long"))
        .where(F.expr("k < n"))
        .withColumn("gain", F.expr(
            "CAST(s1 AS DOUBLE) * s1 / k"
            " + CAST(s - s1 AS DOUBLE) * (s - s1) / (n - k)"))
    )
    w_best = (Window.partitionBy("event_type")
              .orderBy(F.col("gain").desc(), F.col("d").asc()))
    return (
        scored
        .withColumn("rn", F.row_number().over(w_best))
        .where("rn = 1")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.date_format("d", "yyyy-MM-dd").alias("split_day"),
            F.col("k").cast("long").alias("n_before"),
            F.round(F.expr("CAST(s1 AS DOUBLE) / k"), 6)
            .alias("mean_before"),
            F.round(F.expr("CAST(s - s1 AS DOUBLE) / (n - k)"), 6)
            .alias("mean_after"),
            F.round(F.expr(
                "gain - CAST(s AS DOUBLE) * s / n"), 6)
            .alias("gain_over_flat"))
    )


def positional_attribution(events: DataFrame,
                           conversion_type: str = "purchase",
                           touch_types: tuple = ("click", "signup",
                                                 "view")) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — the 40/20/
    40 rule marketing stacks run next to last-touch (which
    events_attribution_join covers): for each user's FIRST conversion,
    credit 1,000,000 ppm across their strictly-earlier touch events —
    a single touch takes all of it, two touches split 50/50, three or
    more give 400,000 to the first, 400,000 to the last, and the
    middle 200,000 split by integer division with the remainder ppm
    assigned to the EARLIEST middle touch, so every converting user's
    credit sums to exactly 1,000,000 and the per-channel rollup is an
    order-independent BIGINT sum.

    Scale shape: conversions and touches shuffle once on user_id (the
    natural co-partition); the position window sorts only each user's
    own touches on the pinned (ts, event_id) total order; the channel
    rollup is map-side combined. A pathological single user with
    millions of touches makes that one window sort the cost — cap
    touches per user upstream if that exists in the domain."""
    w_conv = Window.partitionBy("user_id").orderBy("ts", "event_id")
    conv = (
        events.where(F.col("event_type") == conversion_type)
        .withColumn("rn", F.row_number().over(w_conv))
        .where("rn = 1")
        .select("user_id", F.col("ts").alias("conv_ts"))
    )
    touch_list = ", ".join(f"'{t}'" for t in touch_types)
    touches = (
        events.where(F.expr(f"event_type IN ({touch_list})"))
        .join(conv, "user_id")
        .where(F.col("ts") < F.col("conv_ts"))
    )
    w_pos = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_n = Window.partitionBy("user_id")
    credited = (
        touches
        .withColumn("pos", F.row_number().over(w_pos))
        .withColumn("n", F.count(F.lit(1)).over(w_n).cast("long"))
        .withColumn("credit_ppm", F.expr("""
            CASE WHEN n = 1 THEN 1000000
                 WHEN n = 2 THEN 500000
                 WHEN pos = 1 OR pos = n THEN 400000
                 WHEN pos = 2 THEN 200000 DIV (n - 2)
                      + 200000 - (n - 2) * (200000 DIV (n - 2))
                 ELSE 200000 DIV (n - 2) END""").cast("long"))
    )
    return (
        credited
        .groupBy("event_type")
        .agg(F.sum("credit_ppm").cast("long").alias("credit_ppm"),
             F.count(F.lit(1)).cast("long").alias("n_touches"),
             F.countDistinct("user_id").cast("long").alias("n_users"))
    )


def pivot_daily(events: DataFrame,
                types: tuple = ("click", "error", "purchase",
                                "signup", "view")) -> DataFrame:
    """Day x event-type count matrix via the relational PIVOT — the
    wide-format export every BI/alerting layer asks the events table
    for. The pivot value list is EXPLICIT (``types``), which is the
    scale-critical form: Spark then compiles the pivot to a single
    grouped aggregate of CASE counts (one scan, map-side combined)
    instead of first running a distinct-values collect job to infer
    the columns. Absent (day, type) cells coalesce to 0 so the wide
    schema is total.

    Scale shape: one scan, one shuffle on day; output is one row per
    day with a fixed column set — schema stability is exactly why the
    value list must be pinned at 100 TB (a drifting type vocabulary
    would otherwise change the output schema run to run)."""
    base = events.select(
        F.date_format(F.expr("CAST(ts AS DATE)"), "yyyy-MM-dd")
        .alias("day"),
        "event_type")
    wide = base.groupBy("day").pivot("event_type", list(types)).count()
    return wide.select(
        "day",
        *[F.coalesce(F.col(f"`{t}`"), F.lit(0)).cast("long").alias(t)
          for t in types])


def bitmap_coverage(events: DataFrame, bits: int = 62) -> DataFrame:
    """Two-level bitmap distinct sketch per event type — the
    roaring-bitmap rollup pattern warehouse engines use for cheap
    re-aggregable audience counts: a day-level user bitmap
    (bit_or of 1 << (user_id % ``bits``)) whose per-day popcount is
    the saturating slot coverage, OR-merged across days per type with
    ONE more bit_or — the merge is associative/commutative, so
    partial bitmaps combine map-side at every level and re-slicing
    (day -> week -> all-time) never re-touches raw events. The exact
    per-day distinct count rides along as the calibration column.

    ``bits`` stays at 62: bit 63 is the BIGINT sign and DuckDB's
    ``<<`` (the oracle engine) range-checks shifts past 62, so the
    shared grid keeps the top two bits unused. Scale shape: one scan,
    one shuffle on (type, day), then a tiny per-type merge; a real
    deployment widens the bitmap to array<long> chunks, same algebra."""
    daily = (
        events.groupBy("event_type",
                       F.expr("CAST(ts AS DATE)").alias("d"))
        .agg(F.expr(f"bit_or(shiftleft(CAST(1 AS BIGINT), "
                    f"CAST(user_id % {int(bits)} AS INT)))").alias("bm"),
             F.countDistinct("user_id").cast("long").alias("exact_users"))
        .withColumn("slots", F.expr("CAST(bit_count(bm) AS BIGINT)"))
    )
    return (
        daily.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
             F.expr("CAST(bit_count(bit_or(bm)) AS BIGINT)")
             .alias("merged_slots"),
             F.min("slots").cast("long").alias("min_daily_slots"),
             F.max("slots").cast("long").alias("max_daily_slots"),
             F.sum("exact_users").cast("long").alias("sum_daily_exact"))
    )


def ks_test(events: DataFrame, type_a: str = "click",
            type_b: str = "purchase") -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the value
    distributions of two event types — the distribution-shift gate an
    experimentation/monitoring stack runs next to events_srm_check
    (count balance) and events_benford (digit shape): D = sup_x
    |F_a(x) - F_b(x)| over the pooled support, reported with the
    location where the gap is attained.

    Exact-arithmetic form: with c_a(x)/c_b(x) the cumulative counts at
    pooled cents value x, |F_a - F_b| = |c_a*n_b - c_b*n_a| / (n_a*n_b)
    — the numerator is a BIGINT cross-product, so the max and its
    argmax are engine-exact; the single ppm division happens once on
    the winning row. No doubles anywhere until the final ppm readout.

    Scale shape: the corpus-sized pass is the per-cents grouped count
    (map-side combined); the cumulative window and the argmax run over
    the DISTINCT-cents table, which is bounded by the value domain
    (|support| <= 10^4 x value range in currency units), not by event
    count — the same bounded-support discipline as lake_quantile_hist.
    The 1-row totals broadcast.
    """
    cents = F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    per = (
        events.where(F.col("event_type").isin([type_a, type_b]))
        .select(F.col("event_type").alias("t"), cents.alias("cents"))
        .groupBy("cents")
        .agg(
            F.sum(F.when(F.col("t") == type_a, 1).otherwise(0))
            .cast("long").alias("ca"),
            F.sum(F.when(F.col("t") == type_b, 1).otherwise(0))
            .cast("long").alias("cb"),
        )
        .localCheckpoint(eager=False)  # feeds totals AND the cumsum
    )
    tot = F.broadcast(per.agg(F.sum("ca").cast("long").alias("n_a"),
                              F.sum("cb").cast("long").alias("n_b")))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow)
    cum = (
        per.select("cents",
                   F.sum("ca").over(w).alias("cum_a"),
                   F.sum("cb").over(w).alias("cum_b"))
        .crossJoin(tot)
        .select(
            "cents", "n_a", "n_b",
            F.abs(F.col("cum_a") * F.col("n_b")
                  - F.col("cum_b") * F.col("n_a")).alias("d_num"),
        )
    )
    pick = Window.orderBy(F.desc("d_num"), F.asc("cents"))
    return (
        cum.withColumn("_r", F.row_number().over(pick))
        .where(F.col("_r") == 1)
        .select(
            F.lit(type_a).alias("type_a"), F.lit(type_b).alias("type_b"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("cents").cast("long").alias("at_cents"),
            F.col("d_num").cast("long").alias("d_num"),
            F.expr("d_num * 1000000 div (n_a * n_b)").cast("long")
            .alias("d_ppm"),
        )
    )


def holt_linear(events: DataFrame, horizon: int = 3) -> DataFrame:
    """Holt's linear-trend (double exponential) smoother over the
    per-type daily cents series, alpha = beta = 1/2 — the trend-aware
    step up from ses_forecast (which has no trend term and lags any
    drifting series by construction). Per type: final level l, trend
    b, and the h-step forecasts l + h*b for h = 1..``horizon``.

    Exact-arithmetic recursion: with alpha = beta = 1/2 both updates
    are integer halvings —
        l_t = (y_t + l_{t-1} + b_{t-1}) div 2
        b_t = (l_t - l_{t-1} + b_{t-1}) div 2
    rounded to the cents grid at EVERY step with truncating integer
    division, which Spark's `div` and DuckDB's `//` implement
    identically (both truncate toward zero, including for the
    negative trend values a declining series produces) — so the
    sequential fold and the oracle's recursive CTE agree bit-for-bit.
    Initialization: l_0 = y_0, b_0 = 0. Missing days are true zeros
    (the spine is gap-filled), so every type folds the same length.

    Scale shape: the corpus-sized pass is the per-(type, day) grouped
    cents sum (map-side combined). The recursion is inherently
    sequential, but it runs over the per-type DAILY series — bounded
    by the calendar, not by event count — as ONE JVM-side aggregate()
    fold over the collected array (no Python, no per-row shuffle);
    types fold in parallel. A deployment smoothing millions of
    distinct keys folds each key's bounded series the same way.
    """
    spark = events.sparkSession
    bounds = F.broadcast(events.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1")))
    daily = (
        events.crossJoin(bounds)
        .select("event_type",
                F.datediff(F.to_date("ts"), F.col("d0")).cast("int")
                .alias("idx"),
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
                .alias("cents"))
        .groupBy("event_type", "idx")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    spine = (
        events.select("event_type").distinct()
        .crossJoin(bounds)
        .select("event_type",
                F.explode(F.expr("sequence(0, datediff(d1, d0))"))
                .alias("idx"))
        .join(daily, ["event_type", "idx"], "left")
        .select("event_type", "idx",
                F.coalesce("y", F.lit(0)).cast("long").alias("y"))
    )
    ser = spine.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("array_sort(collect_list(struct(idx, y)))").alias("ys"))
    fold = F.expr("""
        aggregate(
          slice(ys, 2, size(ys) - 1),
          named_struct('l', element_at(ys, 1).y, 'b', CAST(0 AS BIGINT)),
          (acc, e) -> named_struct(
            'l', (e.y + acc.l + acc.b) div 2,
            'b', ((e.y + acc.l + acc.b) div 2 - acc.l + acc.b) div 2))
    """)
    out = ser.select("event_type", "n_days", fold.alias("st"))
    cols = [F.expr(f"st.l + {h} * st.b").cast("long").alias(f"f{h}_cents")
            for h in range(1, horizon + 1)]
    return out.select(
        "event_type", "n_days",
        F.col("st.l").cast("long").alias("level_cents"),
        F.col("st.b").cast("long").alias("trend_cents"),
        *cols,
    )


def mttr_report(events: DataFrame, event_type: str = "error",
                threshold: int = 2) -> DataFrame:
    """MTTR/MTBF reliability rollup over the alert episodes — the
    one-row SRE summary a postmortem dashboard reads on top of
    alert_episodes' island table: episode count, total/max alert
    hours, mean episode length, and mean time between failures
    (consecutive episode STARTS, the standard MTBF convention).

    Exact arithmetic: episode spans are whole hours on the spine, so
    start-hour epochs divide exactly by 3600 and every duration/gap is
    a BIGINT; the two means are *1000 div milli-grid divisions. A
    single-episode series reports NULL mtbf (no pair to average) —
    the same out-of-domain convention as the trend operators.

    Scale shape: everything after alert_episodes runs on the tiny
    episode table (one lag window + one grouped agg); the corpus-sized
    work is alert_episodes' own hourly groupBy.
    """
    eps = alert_episodes(events, event_type=event_type,
                         threshold=threshold).localCheckpoint(eager=False)
    w = Window.partitionBy("event_type").orderBy("start_hour")
    tb = eps.select(
        "event_type", "n_hours", "start_hour",
        F.expr("CAST(unix_timestamp(to_timestamp(start_hour)) AS BIGINT)"
               " div 3600").alias("s_h"),
    ).withColumn("prev_s", F.lag("s_h").over(w))
    return (
        tb.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_episodes"),
            F.sum("n_hours").cast("long").alias("total_alert_hours"),
            F.max("n_hours").cast("long").alias("max_episode_hours"),
            F.expr("sum(n_hours) * 1000 div count(1)").cast("long")
            .alias("mean_episode_millih"),
            F.sum(F.col("s_h") - F.col("prev_s")).cast("long").alias("_gap"),
            F.count("prev_s").cast("long").alias("_ngap"),
        )
        .select(
            "event_type", "n_episodes", "total_alert_hours",
            "max_episode_hours", "mean_episode_millih",
            F.when(F.col("_ngap") > 0,
                   F.expr("_gap * 1000 div _ngap")).cast("long")
            .alias("mtbf_millih"),
        )
    )


FUNNEL_STEPS = ("view", "click", "purchase")


def session_funnel(events: DataFrame, steps: tuple = FUNNEL_STEPS,
                   gap_minutes: int = 30) -> DataFrame:
    """Within-SESSION ordered funnel — the stricter cousin of the
    user-lifetime funnel: a session converts to step k only if the
    steps occur in order INSIDE one session (30-minute gap rule), so
    a view on Monday and an unrelated purchase on Friday no longer
    count as a conversion. Returns one row per step with sessions
    reached and the ppm reach share.

    Depth is computed by ONE fold over each session's event-code
    sequence in (ts, event_id) total order — state machine: depth
    advances exactly when the next step's code arrives. The fold is a
    JVM aggregate() over the session's collected codes (sessions are
    bounded by the gap rule; the same fold runs as list_reduce in the
    oracle). Session assignment is the lag+cumsum islands pattern;
    all downstream work runs on the per-session depth table.
    """
    codes = " ".join(f"WHEN '{s}' THEN {i + 1}" for i, s in enumerate(steps))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.select(
        "user_id", "ts", "event_id",
        F.expr(f"CASE event_type {codes} ELSE 0 END").alias("code"),
    ).withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull()
               | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                  > gap_minutes * 60), 1).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    n_steps = len(steps)
    case = " ".join(
        f"WHEN acc = {k} AND c = {k + 1} THEN {k + 1}"
        for k in range(n_steps))
    depth = (
        marked.groupBy("user_id", "session_seq")
        .agg(F.expr("array_sort(collect_list(struct(ts, event_id, code)))")
             .alias("evs"))
        .select(F.expr(
            f"aggregate(transform(evs, e -> e.code), 0,"
            f" (acc, c) -> CASE {case} ELSE acc END)").alias("depth"))
    )
    tot = depth.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        *[F.sum(F.when(F.col("depth") >= k, 1).otherwise(0)).cast("long")
          .alias(f"_r{k}") for k in range(1, n_steps + 1)],
    )
    parts = [
        tot.select(
            F.lit(k).cast("long").alias("step"),
            F.lit(steps[k - 1]).alias("step_name"),
            F.col("n_sessions"),
            F.col(f"_r{k}").alias("n_reached"),
            F.expr(f"_r{k} * 1000000 div n_sessions").cast("long")
            .alias("reach_ppm"),
        )
        for k in range(1, n_steps + 1)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def anomaly_consensus(events: DataFrame) -> DataFrame:
    """Detector-agreement calibration between the two hourly anomaly
    rules the repo ships — MAD breach (|n - median| > 3*MAD, robust to
    bursts) and trailing-24h spike (n*24 > 2*trail with trail >= 10,
    sensitive to level shifts) — per event type: how many hours each
    flags, how many BOTH flag, and the Jaccard ppm of the two flag
    sets. Low agreement is the actionable read: alert only on the
    consensus (cut pages) or investigate why one rule is blind.

    Both flag rules are exact integer cross-products on the shared
    hourly count table (one corpus-sized groupBy, checkpointed once);
    the MAD chain is two inverted-CDF medians over bounded histograms;
    the trailing window is a RANGE frame on epoch seconds so gap hours
    count as zero baseline.
    """
    cnt = (
        events.select(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .groupBy("h", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("ep", F.unix_timestamp("h").cast("long"))
        .localCheckpoint(eager=False)  # feeds MAD chain AND the trail
    )
    nm = _typed_median(cnt, "event_type", "n", "med")
    dev = (cnt.join(nm, "event_type")
           .select("event_type", "h", "n", "med",
                   F.abs(F.col("n") - F.col("med")).alias("d")))
    dm = _typed_median(dev, "event_type", "d", "mad")
    w = (Window.partitionBy("event_type").orderBy("ep")
         .rangeBetween(-86400, -3600))
    tr = cnt.withColumn(
        "trail", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long"))
    flags = (
        dev.join(dm, "event_type")
        .select("event_type", "h",
                (F.col("d") > 3 * F.col("mad")).alias("mad_flag"))
        .join(tr.select(
            "event_type", "h",
            ((F.col("n") * 24 > 2 * F.col("trail"))
             & (F.col("trail") >= 10)).alias("spike_flag")),
            ["event_type", "h"])
    )
    return (
        flags.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hours"),
             F.sum(F.col("mad_flag").cast("int")).cast("long")
             .alias("n_mad"),
             F.sum(F.col("spike_flag").cast("int")).cast("long")
             .alias("n_spike"),
             F.sum((F.col("mad_flag") & F.col("spike_flag")).cast("int"))
             .cast("long").alias("n_both"))
        .select("event_type", "n_hours", "n_mad", "n_spike", "n_both",
                F.when(F.col("n_mad") + F.col("n_spike") - F.col("n_both") > 0,
                       F.expr("n_both * 1000000"
                              " div (n_mad + n_spike - n_both)"))
                .otherwise(F.lit(0)).cast("long").alias("agree_ppm"))
    )


def transition_entropy(events: DataFrame) -> DataFrame:
    """Per-state next-step entropy of the first-order transition
    matrix — the predictability readout on top of transition_matrix
    (events_markov): H(next | cur) in nats per current event type. A
    near-zero entropy state is a deterministic flow edge (view ->
    click funnels); a high-entropy state is a branching hub where
    journey analysis (path_topk, seq_trigrams) earns its keep.

    The lm_score determinism discipline lifted to transitions: the
    single ln() evaluates once PER DISTINCT (from, to) pair as a
    round(ln(tot/n)*1e6) BIGINT, the per-state sum n*nats is exact
    integer (aggregation-order independent), and the final nats value
    is one double division rounded 6dp on both engines. Work: one
    user-keyed lead window + grouped counts on the tiny type-pair
    table.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id",
                      F.col("event_type").alias("from_type"))
        .withColumn("to_type", F.lead("from_type").over(w))
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)  # feeds totals AND the nats join
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    nats = pairs.join(tot, "from_type").select(
        "from_type", "n",
        F.round(F.log(F.col("n_from").cast("double") / F.col("n")) * 1e6)
        .cast("long").alias("nats_x1e6"),
    )
    return (
        nats.groupBy("from_type")
        .agg(F.sum("n").cast("long").alias("n_from"),
             F.count(F.lit(1)).cast("long").alias("n_next"),
             F.sum(F.col("n") * F.col("nats_x1e6")).alias("_s"))
        .select("from_type", "n_from", "n_next",
                F.round(F.col("_s") / F.col("n_from") / 1e6, 6)
                .alias("entropy_nats"))
    )


def weekend_effect(events: DataFrame) -> DataFrame:
    """Weekend-vs-weekday engagement readout per event type: counts,
    cents totals, and the mean-value ratio on the exact ppm grid —
    mean_we/mean_wd expressed as the integer cross-product
    (s_we * n_wd * 1e6) div (s_wd * n_we), so NO per-side mean is
    ever materialized as a rounded intermediate (the two-division
    drift trap); one division total. The calendar-effect companion
    to events_acf's lag view and the seasonal outlier screens.

    One grouped aggregate over (type, is_weekend), then a self-join
    of the 2-row-per-type rollup — all metadata-sized.
    """
    g = (
        events.select(
            "event_type",
            F.expr("CASE WHEN dayofweek(ts) IN (1, 7) THEN 1 ELSE 0 END")
            .alias("we"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
            .alias("cents"))
        .groupBy("event_type", "we")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("cents").cast("long").alias("s"))
    )
    wd = g.where(F.col("we") == 0).select(
        "event_type", F.col("n").alias("n_wd"), F.col("s").alias("s_wd"))
    we = g.where(F.col("we") == 1).select(
        "event_type", F.col("n").alias("n_we"), F.col("s").alias("s_we"))
    return (
        wd.join(we, "event_type", "full")
        .select(
            "event_type",
            F.coalesce("n_wd", F.lit(0)).cast("long").alias("n_weekday"),
            F.coalesce("n_we", F.lit(0)).cast("long").alias("n_weekend"),
            F.coalesce("s_wd", F.lit(0)).cast("long").alias("cents_weekday"),
            F.coalesce("s_we", F.lit(0)).cast("long").alias("cents_weekend"),
            # DECIMAL(38,0) cross-product: s*n*1e6 overflows int64 at
            # corpus scale (6e9 cents x 1.4e6 rows x 1e6); div on
            # decimals truncates identically in both engines (probed)
            F.when((F.coalesce("s_wd", F.lit(0)) > 0)
                   & (F.coalesce("n_we", F.lit(0)) > 0),
                   F.expr("CAST(s_we AS DECIMAL(38,0)) * n_wd * 1000000"
                          " div (CAST(s_wd AS DECIMAL(38,0)) * n_we)"))
            .otherwise(F.lit(None)).cast("long").alias("mean_ratio_ppm"),
        )
    )
