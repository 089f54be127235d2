"""Composite anomaly detectors (SURVEY §2.11, D1-D11).

Each detector is a pure function over the normalized log DataFrames
(``events`` with the MAP payload, plus derived ``event_metrics`` /
``metric_baselines``) returning DataFrames: a small per-row ``details``
frame and/or a 1-row ``summary`` shaped like the reference's result dicts.

Everything is declarative: the reference's Python loops over fetchall()
become filters, broadcast joins, and window functions, so the same
detector runs unchanged over 100 TB of events.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import bucket_start
from ..operators.aggregates import davg
from ..sources.trace_logs import py_float

# reference: tools/recovery_detector.py:45-61
RECOVERY_STATES = {
    0: "reading_coordinated_state",
    1: "locking_coordinated_state",
    2: "recruiting_proxies",
    3: "reading_transaction_system_state",
    4: "configuration_missing",
    5: "configuration_never_created",
    6: "configuration_invalid",
    7: "recruiting_transaction_servers",
    8: "initializing_transaction_servers",
    9: "recovery_transaction",
    10: "writing_coordinated_state",
    11: "accepting_commits",
    12: "all_logs_recruited",
    13: "storage_recovered",
    14: "fully_recovered",
}

# reference: tools/recovery_detector.py:64-76
KNOWN_CAUSES = [
    "Terminated due to tLog failure",
    "Terminated due to storage server failure",
    "Terminated due to commit proxy failure",
    "Terminated due to GRV proxy failure",
    "Terminated due to resolver failure",
    "Terminated due to master failure",
    "Terminated due to coordinator failure",
    "Configuration change",
    "Manual recovery",
    "Network partition",
    "Datacenter failure",
]

# reference: global_scanner.py:118-122
BASELINE_EXCLUDED_FIELDS = {
    "ThreadID", "ID", "Machine", "Address", "ProcessID", "PID",
    "TraceFile", "TraceFileExtended", "SourceLine",
}


def _time_filter(df: DataFrame, start_time=None, end_time=None, ts_col="ts"):
    if start_time is not None and end_time is not None:
        return df.filter(F.col(ts_col).between(start_time, end_time))
    return df


def _finite(c):
    return c.isNotNull() & (~F.isnan(c)) & (F.abs(c) < F.lit(1e308))


# ---------------------------------------------------------------------------
# baselines (A6/A7 materialization; input to D1/D7)
# ---------------------------------------------------------------------------


def metric_baselines_table(
    events: DataFrame,
    event_metrics: DataFrame,
    min_count: int = 20,
    top_n: int = 500,
    per_role: bool = True,
    with_all_rows: bool = True,
) -> DataFrame:
    """metric_baselines: per (metric_name, role) mean/stddev/p95/min/max/
    count with finite guard, id-like fields excluded, top-N by count.

    reference: global_scanner.py:57-172 (upsert -> here just a DataFrame;
    persist with .write where needed). ``with_all_rows`` additionally
    emits role='ALL' whole-population rows so the J6 fallback lookup has
    something to land on (the reference only gets 'ALL' rows from
    null-role events; the explicit union is strictly more useful and a
    superset).
    """
    joined = (
        event_metrics.filter(~F.col("metric_name").isin(*BASELINE_EXCLUDED_FIELDS))
        .filter(_finite(F.col("metric_value")))
        .join(events.select("event_id", "role"), "event_id")
    )

    def agg(df, role_col):
        return (
            df.groupBy("metric_name", role_col.alias("role"))
            .agg(
                F.avg("metric_value").alias("mean"),
                F.stddev_samp("metric_value").alias("stddev"),
                F.percentile("metric_value", 0.95).alias("p95"),
                F.min("metric_value").alias("min"),
                F.max("metric_value").alias("max"),
                F.count(F.lit(1)).alias("count"),
            )
            .filter(F.col("count") >= min_count)
        )

    if per_role:
        if with_all_rows:
            # The whole-population aggregate below owns the 'ALL' row;
            # null-role events must not ALSO produce a conflicting
            # subset-'ALL' row (dropDuplicates between the two would be
            # partition-order-dependent), so restrict the per-role branch
            # to real roles and union is disjoint by construction.
            out = agg(joined.filter(F.col("role").isNotNull()), F.col("role"))
            out = out.unionByName(agg(joined, F.lit("ALL")))
        else:
            out = agg(joined, F.coalesce(F.col("role"), F.lit("ALL")))
    else:
        out = agg(joined, F.lit("ALL"))
    return out.orderBy(F.desc("count"), "metric_name", "role").limit(top_n)


def _with_baseline(df: DataFrame, baselines: DataFrame, metric_name_col, role_col):
    """J6 lookup with role='ALL' fallback, baselines broadcast
    (reference: detectors.py:20-57)."""
    b = baselines.select(
        F.col("metric_name").alias("__b_metric"),
        F.col("role").alias("__b_role"),
        F.col("mean").alias("__b_mean"),
        F.col("stddev").alias("__b_std"),
    )
    exact = df.join(
        F.broadcast(b),
        (metric_name_col == F.col("__b_metric")) & (role_col == F.col("__b_role")),
        "left",
    )
    fb = baselines.filter(F.col("role") == "ALL").select(
        F.col("metric_name").alias("__f_metric"),
        F.col("mean").alias("__f_mean"),
        F.col("stddev").alias("__f_std"),
    )
    out = exact.join(F.broadcast(fb), metric_name_col == F.col("__f_metric"), "left")
    return (
        out.withColumn("baseline_mean", F.coalesce("__b_mean", "__f_mean"))
        .withColumn("baseline_std", F.coalesce("__b_std", "__f_std"))
        .drop("__b_metric", "__b_role", "__b_mean", "__b_std", "__f_metric", "__f_mean", "__f_std")
    )


# ---------------------------------------------------------------------------
# D1 storage pressure
# ---------------------------------------------------------------------------


def storage_engine_pressure(
    events: DataFrame,
    baselines: DataFrame | None = None,
    lag_threshold: float = 50000,
    z_score_threshold: float = 3.0,
    start_time=None,
    end_time=None,
) -> dict[str, DataFrame]:
    """D1 — VersionLag on StorageMetrics events vs baseline z-score OR
    absolute threshold (reference: detectors.py:60-122; case-variant
    ``versionLag`` at :79)."""
    sm = _time_filter(
        events.filter(F.col("event") == "StorageMetrics"), start_time, end_time
    )
    lag = F.coalesce(
        py_float(F.element_at("fields", F.lit("VersionLag"))),
        py_float(F.element_at("fields", F.lit("versionLag"))),
    )
    pts = sm.select(
        "ts",
        F.coalesce(F.col("role"), F.lit("ALL")).alias("role"),
        lag.alias("lag"),
    ).filter(F.col("lag").isNotNull())

    if baselines is not None:
        pts = _with_baseline(pts, baselines.filter(F.col("metric_name") == "VersionLag"),
                             F.lit("VersionLag"), F.col("role"))
    else:
        pts = pts.withColumn("baseline_mean", F.lit(None).cast("double")).withColumn(
            "baseline_std", F.lit(None).cast("double")
        )
    z = F.when(
        F.col("baseline_std").isNotNull() & (F.col("baseline_std") > 0),
        F.abs((F.col("lag") - F.col("baseline_mean")) / F.col("baseline_std")),
    )
    pts = pts.withColumn("zscore", z).withColumn(
        "is_high",
        (F.col("zscore").isNotNull() & (F.col("zscore") >= z_score_threshold))
        | (F.col("lag") > lag_threshold),
    )
    anomalies = pts.filter("is_high").select("ts", "role", F.col("lag").alias("value"), "zscore")
    summary = pts.agg(
        (F.count_if("is_high") > 0).alias("detected"),
        F.max("lag").alias("max_lag"),
        F.percentile("lag", 0.95).alias("p95_lag"),
        F.avg("lag").alias("mean_lag"),
        F.count_if("is_high").alias("count_high"),
        F.count(F.lit(1)).alias("total"),
        F.max("zscore").alias("max_zscore"),
        F.min(F.when(F.col("is_high"), F.col("ts"))).alias("first_high_ts"),
        F.max(F.when(F.col("is_high"), F.col("ts"))).alias("last_high_ts"),
    )
    return {"summary": summary, "anomalies": anomalies}


# ---------------------------------------------------------------------------
# D2/D3/D5 — event-class scans
# ---------------------------------------------------------------------------


def _class_scan_summary(hits: DataFrame) -> DataFrame:
    return hits.agg(
        (F.count(F.lit(1)) > 0).alias("detected"),
        F.count(F.lit(1)).alias("count"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def ratekeeper_throttling(
    events: DataFrame, start_time=None, end_time=None
) -> dict[str, DataFrame]:
    """D2 — Ratekeeper/Throttle class events where 'throttle' appears in
    the name or any payload key (reference: detectors.py:125-149)."""
    cls = _time_filter(
        events.filter(F.col("event").rlike("Ratekeeper|Throttle")),
        start_time,
        end_time,
    )
    hits = cls.filter(
        F.lower(F.col("event")).contains("throttle")
        | F.exists(F.map_keys("fields"), lambda k: F.lower(k).contains("throttle"))
    )
    return {"summary": _class_scan_summary(hits), "events": hits}


def missing_tlogs(
    events: DataFrame, start_time=None, end_time=None
) -> dict[str, DataFrame]:
    """D3 — TLog failure-shaped event names (reference: detectors.py:152-173)."""
    hits = _time_filter(
        events.filter(
            F.col("event").like("%TLog%")
            & (
                F.col("event").like("%Missing%")
                | F.col("event").like("%Failed%")
                | F.col("event").like("%Error%")
            )
        ),
        start_time,
        end_time,
    )
    return {"summary": _class_scan_summary(hits), "events": hits}


def coordination_loss(
    events: DataFrame, start_time=None, end_time=None
) -> dict[str, DataFrame]:
    """D5 — Coordinator events with fail/lost in the name or stringified
    payload (reference: detectors.py:206-231)."""
    cls = _time_filter(
        events.filter(F.col("event").like("%Coordinator%")), start_time, end_time
    )
    fields_str = F.lower(F.to_json(F.col("fields")))
    name = F.lower(F.col("event"))
    hits = cls.filter(
        name.contains("fail")
        | name.contains("lost")
        | fields_str.contains("fail")
        | fields_str.contains("lost")
    )
    return {"summary": _class_scan_summary(hits), "events": hits}


# ---------------------------------------------------------------------------
# D4 recovery loop
# ---------------------------------------------------------------------------


def recovery_loop(
    events: DataFrame,
    threshold: int = 3,
    window_seconds: float = 60,
    start_time=None,
    end_time=None,
    bucket_seconds: float | None = None,
) -> dict[str, DataFrame]:
    """D4 — count sliding windows of `threshold` MasterRecoveryState
    events within `window_seconds` (reference: detectors.py:176-203; note
    the reference's ``range(len - threshold)`` skips the final window —
    we count all of them, a strict superset that can only raise
    loop_count by one).

    The lag runs inside coarse time buckets (``bucket_seconds``, default
    16x the detection window) with a one-``window_seconds`` halo of the
    previous bucket's tail replicated in, so no task ever holds the whole
    (rare but data-dependent) recovery stream. This is exactly the global
    computation: a native row's within-bucket ``lag(k)`` equals the global
    ``lag(k)`` whenever that row lies at or after ``bucket_start -
    window_seconds``; when the true lag row is older the in-bucket lag is
    NULL (the bucket+halo is a contiguous range of the global order, so
    fewer than k predecessors exist in it) and the true span necessarily
    exceeds ``window_seconds`` — excluded from the count either way.
    """
    recs = _time_filter(
        events.filter(F.col("event") == "MasterRecoveryState"), start_time, end_time
    ).select("ts", "event_id")
    if bucket_seconds is None:
        bucket_seconds = 16 * window_seconds
    if bucket_seconds < window_seconds:
        raise ValueError("bucket_seconds must be >= window_seconds (one-bucket halo)")
    bs_us = int(round(bucket_seconds * 1_000_000))
    win_us = int(round(window_seconds * 1_000_000))
    us = F.unix_micros(F.col("ts"))
    bkt = F.expr(f"unix_micros(ts) div {bs_us}L")
    native = recs.withColumn("__b", bkt).withColumn("__native", F.lit(True))
    halo = (
        recs.withColumn("__b", bkt + 1)
        .withColumn("__native", F.lit(False))
        .filter(us >= (bkt + 1) * F.lit(bs_us) - F.lit(win_us))
    )
    w = Window.partitionBy("__b").orderBy("ts", "event_id")
    span = F.col("ts").cast("double") - F.lag("ts", threshold - 1).over(w).cast("double")
    flagged = (
        native.unionByName(halo)
        .withColumn("span", span)
        .filter(F.col("__native"))
        .drop("__b", "__native")
    )
    summary = flagged.agg(
        (F.count_if(F.col("span") <= window_seconds) > 0).alias("detected"),
        F.count_if(F.col("span") <= window_seconds).alias("loop_count"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        (F.max("ts").cast("double") - F.min("ts").cast("double")).alias(
            "duration_seconds"
        ),
    )
    return {"summary": summary}


# ---------------------------------------------------------------------------
# D6 z-score hotspots
# ---------------------------------------------------------------------------


def zscore_hotspots(
    events: DataFrame, bucket_seconds: int = 300, min_z: float = 2.0, limit: int = 20
) -> dict[str, DataFrame]:
    """D6 — buckets with unusually high event counts + max severity
    (reference: detectors.py:234-285)."""
    b = events.groupBy(
        bucket_start("ts", bucket_seconds).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("count"), F.max("severity").alias("max_severity"))
    # whole-frame window over the (small) bucket table: one plan, no
    # separate broadcast-build job; the single window partition holds
    # bucket rows only, never events — scale-safe at any data volume
    w = Window.partitionBy()
    hot = (
        b.withColumn("mean_cnt", F.avg("count").over(w))
        .withColumn("std_cnt", F.stddev_samp("count").over(w))
        .filter(F.col("std_cnt").isNotNull() & (F.col("std_cnt") > 0))
        .withColumn("zscore", (F.col("count") - F.col("mean_cnt")) / F.col("std_cnt"))
        .filter(F.col("zscore") >= min_z)
        .select("bucket", "count", "max_severity", "zscore")
        .orderBy(F.desc("zscore"))
        .limit(limit)
    )
    return {"hotspots": hot}


# ---------------------------------------------------------------------------
# D7 baseline window anomalies
# ---------------------------------------------------------------------------

DEFAULT_WINDOW_METRICS = [
    "VersionLag",
    "DurabilityLag",
    "BytesInput",
    "WorstStorageServerQueue",
    "WorstStorageServerDurabilityLag",
]


def baseline_window_anomalies(
    events: DataFrame,
    event_metrics: DataFrame,
    baselines: DataFrame,
    bucket_seconds: int = 30,
    z_score_threshold: float = 3.0,
    min_samples: int = 3,
    metrics: list[str] | None = None,
) -> dict[str, DataFrame]:
    """D7 — bucket x role x metric means vs baselines z-score
    (reference: detectors.py:288-352)."""
    metrics = metrics or DEFAULT_WINDOW_METRICS
    bucketed = (
        event_metrics.filter(F.col("metric_name").isin(*metrics))
        .filter(_finite(F.col("metric_value")))
        .join(events.select("event_id", "ts", "role"), "event_id")
        .groupBy(
            bucket_start("ts", bucket_seconds).alias("bucket"),
            F.coalesce(F.col("role"), F.lit("ALL")).alias("role"),
            "metric_name",
        )
        .agg(F.avg("metric_value").alias("mean_val"), F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_samples)
    )
    joined = _with_baseline(bucketed, baselines, F.col("metric_name"), F.col("role"))
    z = F.when(
        F.col("baseline_std").isNotNull() & (F.col("baseline_std") > 0),
        F.abs((F.col("mean_val") - F.col("baseline_mean")) / F.col("baseline_std")),
    )
    anomalies = (
        joined.withColumn("zscore", z)
        .filter(F.col("zscore") >= z_score_threshold)
        .select(
            "bucket", "role", F.col("metric_name").alias("metric"), "mean_val",
            "baseline_mean", "baseline_std", "zscore", "count",
        )
        .orderBy("bucket", "role", "metric")
    )
    return {"anomalies": anomalies}


# ---------------------------------------------------------------------------
# D8 per-event metric anomalies
# ---------------------------------------------------------------------------

# reference: tools/anomaly_detector.py:186-198
ABS_THRESHOLDS = {"Max": 1.0, "P99": 0.5, "P95": 0.3, "QueryQueue": 100.0}

# reference: tools/anomaly_detector.py:23-36
INTERESTING_EVENTS = {
    "MasterRecoveryState", "RkUpdate", "TLogError", "SharedTLogFailed",
    "CoordinatorFailed", "RatekeeperThrottle", "SlowSSLoopx100",
}


def _parse_numeric_col(v):
    """reference _parse_numeric (anomaly_detector.py:169-184): for
    space-separated strings, max over non-excluded tokens — but the whole
    max() generator sits in one try/except, so ANY unparseable
    non-excluded token (or zero non-excluded tokens) yields None, e.g.
    '0.5 abc' -> None, not 0.5. Tokens '-1'/'inf' are excluded by STRING
    compare before parsing; token parse is bare float() (py_float)."""
    toks = F.split(F.trim(v), r"\s+")
    kept = F.filter(toks, lambda t: ~t.isin("-1", "inf"))
    parsed = F.filter(
        F.transform(kept, py_float), lambda x: x.isNotNull()
    )
    multi = F.when(
        (F.size(parsed) > 0) & (F.size(parsed) == F.size(kept)),
        F.array_max(parsed),
    )
    return F.when(v.contains(" "), multi).otherwise(py_float(v))


def metric_anomalies(
    events: DataFrame,
    limit: int = 500,
    z_score_threshold: float = 2.5,
    extreme_threshold: float = 3.0,
) -> dict[str, DataFrame]:
    """D8 — per-event z-score anomalies over the most recent `limit`
    events (reference: detectors.py:355-394 + anomaly_detector.py:92-167).

    Melt fields -> per-metric mean/stdev over positive values -> flag
    reasons: z>thr, z>3 extreme, absolute thresholds on Max/P99/P95/
    QueryQueue. The interesting-event prefilter keeps all events when no
    interesting ones exist, like the reference.
    """
    recent = events.orderBy(F.desc("ts"), F.desc("event_id")).limit(limit)
    has_interesting = recent.filter(F.col("event").isin(*INTERESTING_EVENTS)).limit(1)
    n_int = has_interesting.count()
    pool = (
        recent.filter(F.col("event").isin(*INTERESTING_EVENTS)) if n_int else recent
    )

    melted = (
        pool.select("event_id", "ts", "event", "severity", "role",
                    F.explode(F.map_entries("fields")).alias("e"))
        .select(
            "event_id", "ts", "event", "severity", "role",
            F.col("e.key").alias("metric"),
            _parse_numeric_col(F.col("e.value")).alias("val"),
        )
        .filter(F.col("val").isNotNull() & (F.col("val") > 0))
    )
    stats = (
        melted.groupBy("metric")
        .agg(F.avg("val").alias("m"), F.stddev_samp("val").alias("sd"),
             F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
    )
    flagged = (
        melted.join(F.broadcast(stats), "metric")
        .withColumn(
            "z",
            F.when((F.col("sd").isNotNull()) & (F.col("sd") != 0),
                   F.abs((F.col("val") - F.col("m")) / F.col("sd"))),
        )
        .withColumn(
            "reasons",
            F.array_compact(
                F.array(
                    F.when(F.col("z") > z_score_threshold,
                           F.concat(F.lit("z_score_anomaly_"), F.col("metric"))),
                    F.when(F.col("z") > extreme_threshold,
                           F.concat(F.lit("extreme_value_"), F.col("metric"))),
                    F.when(
                        (F.col("metric") == "Max") & (F.col("val") > ABS_THRESHOLDS["Max"])
                        | (F.col("metric") == "P99") & (F.col("val") > ABS_THRESHOLDS["P99"])
                        | (F.col("metric") == "P95") & (F.col("val") > ABS_THRESHOLDS["P95"])
                        | (F.col("metric") == "QueryQueue")
                        & (F.col("val") > ABS_THRESHOLDS["QueryQueue"]),
                        F.concat(F.lit("threshold_violation_"), F.col("metric")),
                    ),
                )
            ),
        )
        .filter(F.size("reasons") > 0)
    )
    per_event = flagged.groupBy("event_id", "ts", "event", "severity", "role").agg(
        F.array_sort(F.flatten(F.collect_list("reasons"))).alias("reasons")
    )
    return {"anomalies": per_event}


# ---------------------------------------------------------------------------
# D9 rollback analysis (W1+W2+W3)
# ---------------------------------------------------------------------------


def rollback_analysis(events: DataFrame) -> dict[str, DataFrame]:
    """D9 — combine version-drop, version-reset and recovery-version
    regression scans into one status row (reference:
    global_scanner.py:258-401). Ordering partitioned by machine_id keeps
    the scan scalable; the reference's single global order is the
    machine_id=constant special case.

    The returned frames read the four stitched scans' localCheckpoints; a
    caller done with them drops those by running the call and its reads
    inside ``operators.windows.released_checkpoints()``."""
    from ..operators.windows import (
        lag_regressions_stitched,
        value_drops_stitched,
        value_resets_stitched,
    )

    def field_num(name):
        return py_float(F.element_at("fields", F.lit(name)))

    # The narrow parsed frame is persisted because the stitched scans
    # below run EAGER boundary-carry jobs at construction — without the
    # persist each of those jobs re-runs the full log parse upstream
    # (measured: 304 s; with it, the parse runs once — see
    # OPTIMIZATION_r13.md). In-query persist only: rebuilt on every
    # run, nothing cached across runs.
    versions = events.select(
        "event_id", "ts",
        field_num("CommittedVersion").alias("committed"),
        field_num("DurableVersion").alias("durable"),
    ).persist()
    # The reference's version scans ARE a single global order
    # (machine_id=constant special case, see docstring). The stitched
    # operators compute that exact order DISTRIBUTED — range shuffle +
    # one boundary-carry row per partition — instead of a
    # single-partition sort: measured 49.2 s -> 1.0 s per scan on 10M
    # events (OPTIMIZATION_r13.md), identical rows (w12's oracle pins
    # the stitched form; d09's oracle pins this composition).
    drops_c = value_drops_stitched(
        versions.filter(F.col("committed").isNotNull()), "committed",
        ts_col="ts", tiebreak="event_id",
    )
    drops_d = value_drops_stitched(
        versions.filter(F.col("durable").isNotNull()), "durable",
        ts_col="ts", tiebreak="event_id",
    )
    resets = value_resets_stitched(
        versions.filter(F.col("committed").isNotNull()), "committed",
        high=1_000_000, low=1_000_000, ts_col="ts", tiebreak="event_id",
    )
    rv = events.filter(F.col("event") == "RecoveryState").select(
        "event_id", "ts", field_num("RecoveryVersion").alias("rv")
    ).filter(F.col("rv").isNotNull()).persist()
    rv_regr = lag_regressions_stitched(
        rv, "rv", ts_col="ts", tiebreak="event_id",
    )
    # Persist hygiene (VERDICT r13 item 8): the stitched operators
    # localCheckpoint(eager=True) their range-sorted input at
    # construction, so by this point every returned frame reads the
    # checkpointed partitions, NOT the persisted lineage — the persists
    # above exist only so the four eager construction jobs share one
    # parse. Release them now instead of pinning two event-volume frames
    # in executor storage for the rest of the session.
    versions.unpersist()
    rv.unpersist()

    drops = drops_c.select("event_id", "ts", F.lit("CommittedVersion").alias("column"),
                           "prev_value", F.col("committed").alias("value"), "drop_amount")
    drops = drops.unionByName(
        drops_d.select("event_id", "ts", F.lit("DurableVersion").alias("column"),
                       "prev_value", F.col("durable").alias("value"), "drop_amount")
    )
    summary = (
        drops.agg(
            F.count(F.lit(1)).alias("num_drops"),
            F.max("drop_amount").alias("max_drop"),
        )
        .crossJoin(resets.agg(F.count(F.lit(1)).alias("num_resets")))
        .crossJoin(rv_regr.agg(F.count(F.lit(1)).alias("num_recovery_resets")))
        .withColumn(
            "detected",
            (F.col("num_drops") > 0) | (F.col("num_resets") > 0)
            | (F.col("num_recovery_resets") > 0),
        )
    )
    return {"summary": summary, "drops": drops, "resets": resets, "recovery_regressions": rv_regr}


# ---------------------------------------------------------------------------
# D10 recovery episodes
# ---------------------------------------------------------------------------


def recovery_episodes(
    events: DataFrame, gap_seconds: float = 60, halo_seconds: float = 30
) -> dict[str, DataFrame]:
    """D10 — sessionize MasterRecoveryState into episodes (gap>60s);
    per-episode duration + max severity of ALL events within a ±30s halo
    (reference: global_scanner.py:177-219). The halo is a range join
    against the events table, not a per-episode rescan."""
    from ..operators.windows import session_summary, sessionize

    recs = events.filter(F.col("event") == "MasterRecoveryState").select("ts", "event_id")
    # MasterRecoveryState is a rare event type: the sessionized frame is
    # recovery-level, not event-level — a deliberate, bounded global order.
    sessions = sessionize(recs, gap_seconds, ts_col="ts", tiebreak="event_id",
                          allow_global_order=True)
    episodes = session_summary(sessions).select(
        F.col("session_id").alias("episode_id"),
        F.timestamp_micros(F.col("start_ts_us")).alias("start_ts"),
        F.timestamp_micros(F.col("end_ts_us")).alias("end_ts"),
        "duration_s",
        F.col("n_events").alias("n_recoveries"),
    )
    # Range-join bucketing (same shape as detect_recoveries): a pure
    # interval condition would plan episodes x events as a nested-loop
    # product. Each episode's halo [start-H, end+H] is exploded to the
    # H-second buckets it covers and events carry their own bucket, so
    # the join is equi on bucket + band filter — work bounded by bucket
    # co-residency, scale-safe however many episodes exist. Left
    # semantics (an episode whose halo holds no event still surfaces)
    # come from the final left join back to episodes.
    def tbucket(col):
        return F.floor(col.cast("double") / halo_seconds).cast("long")

    lo = F.col("start_ts") - F.expr(f"INTERVAL {halo_seconds} SECONDS")
    hi = F.col("end_ts") + F.expr(f"INTERVAL {halo_seconds} SECONDS")
    ep_b = episodes.withColumn("__lo", lo).withColumn("__hi", hi).withColumn(
        "__b", F.explode(F.sequence(tbucket(F.col("__lo")), tbucket(F.col("__hi"))))
    )
    ev_b = events.select(
        "ts", "severity", tbucket(F.col("ts")).alias("__b")
    )
    halo_max = (
        ep_b.join(
            ev_b,
            (ep_b["__b"] == ev_b["__b"])
            & (F.col("ts") >= F.col("__lo"))
            & (F.col("ts") <= F.col("__hi")),
            "inner",
        )
        .groupBy("episode_id")
        .agg(F.max("severity").alias("max_severity_halo"))
    )
    out = (
        episodes.join(halo_max, "episode_id", "left")
        .select(
            "episode_id", "start_ts", "end_ts", "duration_s", "n_recoveries",
            "max_severity_halo",
        )
        .orderBy("episode_id")
    )
    return {"episodes": out}


# ---------------------------------------------------------------------------
# D11 recovery cause attribution (W7 + J3)
# ---------------------------------------------------------------------------


def detect_recoveries(
    events: DataFrame,
    look_back_seconds: float = 5.0,
    include_codecoverage: bool = True,
) -> dict[str, DataFrame]:
    """D11 — per MasterRecoveryState: decode StatusCode to the named state
    and attribute a cause from the look-back window (reference:
    tools/recovery_detector.py:92-207).

    Cause priority (nearest-last within the window), matching the
    reference's two reversed scans:
      1. CodeCoverage whose Comment contains a KNOWN_CAUSE -> the comment
      2. event name containing fail/error/terminated
      3. severity >= 40
    Implemented as one look-back range join + a priority/recency
    row_number — no per-recovery rescans.
    """
    state_map = F.create_map(
        *[F.lit(x) for kv in RECOVERY_STATES.items() for x in kv]
    )
    base = events if include_codecoverage else events.filter(F.col("event") != "CodeCoverage")
    recs = (
        base.filter(F.col("event") == "MasterRecoveryState")
        .select(
            F.col("event_id").alias("recovery_id"),
            F.col("ts").alias("recovery_ts"),
            F.element_at("fields", F.lit("StatusCode")).try_cast("int").alias("state_code"),
        )
        # NULL/missing StatusCode rows are KEPT and decode to 'unknown'.
        # Deliberate deviation from the reference, which SKIPS events whose
        # StatusCode is missing/unparseable (recovery_detector.py:117-118
        # `continue` on None) and only decodes unmapped codes to 'unknown'.
        # Keeping them surfaces malformed recovery events instead of
        # silently dropping them, and matches the D11 oracle SQL (no IS NOT
        # NULL filter in its recs CTE).
        .withColumn(
            "state_name",
            F.coalesce(state_map[F.col("state_code")], F.lit("unknown")),
        )
    )

    known = F.array(*[F.lit(c.lower()) for c in KNOWN_CAUSES])
    comment = F.element_at("fields", F.lit("Comment"))
    name_lower = F.lower(F.col("event"))
    # The reference's second reversed scan (recovery_detector.py:191-207)
    # checks fail-name AND severity>=40 on EACH event in recency order, so
    # they form ONE tier ranked purely by recency; within a single event
    # the fail-name message wins. Events with a falsy name are skipped
    # entirely by that scan (`if not event.event: continue`).
    has_name = F.col("event").isNotNull() & (F.col("event") != "")
    is_fail_name = has_name & (
        name_lower.contains("fail") | name_lower.contains("error")
        | name_lower.contains("terminated")
    )
    is_high_sev = has_name & F.col("severity").isNotNull() & (F.col("severity") >= 40)
    cand = base.select(
        "event_id", "ts", "event", "severity",
        F.when(
            (F.col("event") == "CodeCoverage")
            & F.exists(known, lambda c: F.lower(F.coalesce(comment, F.lit(""))).contains(c)),
            F.lit(1),
        )
        .when(is_fail_name | is_high_sev, F.lit(2))
        .alias("priority"),
        is_fail_name.alias("is_fail_name"),
        comment.alias("comment"),
    ).filter(F.col("priority").isNotNull())

    # Look-back attribution WITHOUT a range join. The earlier bucketed
    # equi join's work is anchors x candidates CO-RESIDENT per bucket —
    # quadratic in time-density, and log density grows with cluster
    # size (measured 4.7x super-linear at the 10x-densified sf10:
    # 424 s). Instead: union anchors and candidates into the same
    # L-second buckets (candidates replicated into their own and the
    # NEXT bucket, so an anchor's [rts - L, rts) window is fully
    # covered by its own partition) and carry the most recent
    # candidate per priority tier forward with one running max of a
    # (ts, event_id, cause) struct — sort + linear scan per bucket, no
    # pairwise intermediate. At equal ts the anchor sorts BEFORE
    # candidates (kind 0 < 1), preserving the strict ts < rts rule;
    # the struct max's lexicographic order reproduces the old
    # (priority asc, ts desc, event_id desc) pick exactly.
    def tbucket(c):
        return F.floor(F.col(c).cast("double") / look_back_seconds).cast("long")

    cause_str = F.when(F.col("priority") == 1, F.col("comment")).when(
        F.col("priority") == 2,
        F.when(
            F.col("is_fail_name"),
            F.concat(F.lit("Detected failure event: "), F.col("event")),
        ).otherwise(
            F.concat(
                F.lit("High severity event: "),
                F.col("event"),
                F.lit(" (severity "),
                F.col("severity").cast("string"),
                F.lit(")"),
            )
        ),
    )
    cand_u = cand.select(
        F.explode(F.array(tbucket("ts"), tbucket("ts") + 1)).alias("__b"),
        F.col("ts"),
        F.lit(1).alias("kind"),
        F.col("event_id"),
        F.col("priority"),
        cause_str.alias("cause_str"),
        F.lit(None).cast("long").alias("recovery_id"),
        F.lit(None).cast("int").alias("state_code"),
        F.lit(None).cast("string").alias("state_name"),
    )
    rec_u = recs.select(
        tbucket("recovery_ts").alias("__b"),
        F.col("recovery_ts").alias("ts"),
        F.lit(0).alias("kind"),
        F.col("recovery_id").alias("event_id"),
        F.lit(None).cast("int").alias("priority"),
        F.lit(None).cast("string").alias("cause_str"),
        F.col("recovery_id"),
        "state_code",
        "state_name",
    )
    run = (
        Window.partitionBy("__b")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def tier_last(p):
        return F.max(
            F.when(
                F.col("priority") == p,
                F.struct(
                    F.col("ts").alias("cts"),
                    F.col("event_id").alias("cid"),
                    F.col("cause_str").alias("cause"),
                ),
            )
        ).over(run)

    lb = F.col("ts") - F.expr(f"INTERVAL {look_back_seconds} SECONDS")
    scanned = (
        cand_u.unionByName(rec_u)
        .withColumn("__t1", tier_last(1))
        .withColumn("__t2", tier_last(2))
        .filter(F.col("kind") == 0)
        .withColumn(
            "cause",
            F.when(
                F.col("__t1").isNotNull() & (F.col("__t1.cts") >= lb),
                F.col("__t1.cause"),
            ).when(
                F.col("__t2").isNotNull() & (F.col("__t2.cts") >= lb),
                F.col("__t2.cause"),
            ),
        )
    )
    picked = scanned.select(
        "recovery_id",
        F.col("ts").alias("recovery_ts"),
        "state_code",
        "state_name",
        "cause",
    ).orderBy("recovery_id")
    return {"recoveries": picked}


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_by: list[str],
    threshold: float = 3.5,
    bins: int = 256,
) -> DataFrame:
    """D12 (extension) — robust outliers via median absolute deviation:
    ``robust_z = 0.6745 * (v - median) / MAD``, flagging |z| >
    threshold (Iglewicz & Hoaglin's modified z-score). Unlike the
    mean/std z-score detectors (D6/A10), the breakdown point is 50% —
    a burst of extreme values cannot drag the baseline toward itself.

    At scale the usual blocker is that median and MAD need per-group
    sorts; here both ride the histogram-quantile sketch
    (operators/sketches.histogram_quantiles) — four two-phase
    aggregation passes total, zero sorts, group stats broadcast back.
    Every step is IEEE basic arithmetic, so the scores hash-match the
    oracle restatement unrounded.
    """
    from db_loganalyzer_spark.operators.sketches import histogram_quantiles

    base = df.filter(
        F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    )
    med = histogram_quantiles(base, value_col, group_by, (0.5,), bins).select(
        *group_by, F.col("est").alias("med")
    )
    dev = base.join(F.broadcast(med), group_by).withColumn(
        "__absdev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = histogram_quantiles(dev, "__absdev", group_by, (0.5,), bins).select(
        *group_by, F.col("est").alias("mad")
    )
    # degenerate groups (MAD = 0: single row, or >= half the values
    # identical) carry no scale information — exclude them explicitly
    # rather than divide by zero (ANSI mode makes that a job-killing
    # DIVIDE_BY_ZERO; the oracle mirrors the same filter)
    scored = (
        dev.join(F.broadcast(mad), group_by)
        .filter(F.col("mad") != 0)
        .withColumn(
            "robust_z",
            F.lit(0.6745) * (F.col(value_col) - F.col("med")) / F.col("mad"),
        )
    )
    return scored.filter(F.abs(F.col("robust_z")) > threshold).drop(
        "__absdev"
    )


def lag_correlation(
    events: DataFrame,
    type_a: str,
    type_b: str,
    bucket_seconds: int,
    max_lag_buckets: int,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """D13 (extension) — which signal leads which: Pearson correlation
    between two event types' bucket counts at every lag in
    [-K, +K] buckets. A peak at positive lag means type_a's rate
    precedes type_b's — the cause-ordering evidence the investigation
    loop's timeline narrates, computed instead of eyeballed.

    Scale shape: events collapse to per-type bucket counts (two partial
    aggs); the zero-filled grid, the lag explode and every sum after
    that run on bucket-level rows (O(span/bucket * lags)). All six
    correlation sums are exact BIGINTs over integer counts, so r — one
    sqrt and one division over exact inputs — is deterministic
    cross-engine unrounded.
    """
    from db_loganalyzer_spark.functions.scalars import bucket_start

    bs = int(bucket_seconds)
    b = bucket_start(ts_col, bs)
    base = events.filter(F.col(type_col).isin([type_a, type_b]))
    counts = (
        base.groupBy(b.alias("bucket"), F.col(type_col).alias("t"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    span = base.agg(
        F.min(b).alias("b0"), F.max(b).alias("b1")
    )
    grid = span.select(
        F.explode(F.sequence("b0", "b1", F.lit(bs))).alias("bucket")
    )
    ga = grid.join(
        counts.filter(F.col("t") == type_a).select("bucket", F.col("n").alias("na")),
        "bucket", "left",
    ).select("bucket", F.coalesce("na", F.lit(0)).cast("long").alias("na"))
    gb = grid.join(
        counts.filter(F.col("t") == type_b).select("bucket", F.col("n").alias("nb")),
        "bucket", "left",
    ).select(
        F.col("bucket").alias("bucket_b"),
        F.coalesce("nb", F.lit(0)).cast("long").alias("nb"),
    )
    lags = ga.select(
        "bucket", "na",
        F.explode(
            F.sequence(
                F.lit(-max_lag_buckets), F.lit(max_lag_buckets)
            )
        ).alias("lag"),
    )
    paired = lags.join(
        gb, F.col("bucket_b") == F.col("bucket") + F.col("lag") * bs
    )
    s = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("na").cast("long").alias("sx"),
        F.sum("nb").cast("long").alias("sy"),
        F.sum(F.col("na") * F.col("nb")).cast("long").alias("sxy"),
        F.sum(F.col("na") * F.col("na")).cast("long").alias("sxx"),
        F.sum(F.col("nb") * F.col("nb")).cast("long").alias("syy"),
    )
    # The composite terms exceed signed-64 at scale (the variance
    # product is ~(buckets * c^2)^2 — observed ARITHMETIC_OVERFLOW at
    # sf10). DECIMAL(38,0) keeps them exact (the oracle's SUM promotes
    # to HUGEINT), and the single cast of the exact integer product to
    # double is engine-identical. Past 38 digits (variance terms beyond
    # ~1e19 each) BOTH engines fail loudly — Spark's ANSI decimal
    # overflow error, DuckDB's HUGEINT multiply error — never a silent
    # divergence; at that magnitude pre-scale the bucket counts.
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (d("n") * d("sxy") - d("sx") * d("sy")).cast("double")
    den = F.sqrt(
        (
            (d("n") * d("sxx") - d("sx") * d("sx"))
            * (d("n") * d("syy") - d("sy") * d("sy"))
        ).cast("double")
    )
    return s.select(
        (F.col("lag") * bs).cast("long").alias("lag_seconds"),
        F.col("n").alias("n_pairs"),
        F.when(den > 0, num / den).alias("r"),
    )


# ---------------------------------------------------------------------------
# D14 CUSUM drift
# ---------------------------------------------------------------------------


def cusum_drift(
    events: DataFrame,
    value_col: str,
    partition_by: list[str],
    threshold: float,
    ts_col: str = "ts",
    tiebreak: str = "event_id",
    k: float = 0.0,
    include_raw: bool = False,
    ref: float | None = None,
) -> DataFrame:
    """D14 — per-key CUSUM change-point score: the classic sequential
    drift detector ``s_t = max(0, s_{t-1} + (x_t - ref - k))``, which a
    z-score-on-buckets detector (d06/d08) misses when the shift is small
    but sustained. Uses the prefix-min closed form
    ``s_t = C_t - min(0, min_{j<=t} C_j)`` (C = running sum of
    deviations), so the recursion becomes two stacked window passes over
    ONE key shuffle — no iteration, no UDF.

    Determinism discipline: deviations are exact BIGINT micro-units
    against the key's discrete MEDIAN (the ((n+1)/2)-th smallest value —
    an order statistic, engine-identical, and it keeps every running
    sum integer where a mean would reintroduce float accumulation whose
    grouping differs between Spark's incremental WindowExec and
    DuckDB's segment trees). The final score is one division of exact
    integers. Bound: |C_t| <= n * (|v|*1e6 + |k|*1e6) — safe in
    signed-64 for millions of rows per key at metric-sized values.

    ``k`` is the standard slack per observation (drift allowance);
    ``threshold`` flags ``cusum > threshold``. Pass ``ref`` to use a
    FIXED reference level instead of the per-key median — the
    streaming twin (streams.streaming_cusum) can only know a fixed
    reference, and with the same ``ref`` this batch form equals the
    drained stream row-for-row (also skips both median window passes).
    """
    k_us = int(round(k * 1_000_000))
    wk = Window.partitionBy(*partition_by)
    order = [F.col(ts_col), F.col(tiebreak)]
    wo = Window.partitionBy(*partition_by).orderBy(*order)
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    base = events.filter(
        F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    ).select(
        *partition_by,
        F.col(tiebreak),
        F.col(ts_col),
        F.col(value_col).alias("value"),
        F.floor(F.col(value_col) * 1_000_000 + 0.5)
        .cast("long")
        .alias("__vus"),
    )
    if ref is not None:
        with_med = base.withColumn(
            "__med", F.lit(int(round(ref * 1_000_000))).cast("long")
        )
    else:
        ranked = base.withColumn(
            "__n", F.count(F.lit(1)).over(wk)
        ).withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(*partition_by).orderBy("__vus", tiebreak)
            ),
        )
        with_med = ranked.withColumn(
            "__med",
            F.max(
                F.when(
                    # integer floor-div: (n+1)/2 in Spark is DOUBLE division
                    F.col("__rn") == F.floor((F.col("__n") + 1) / 2),
                    F.col("__vus"),
                ).otherwise(F.lit(None))
            ).over(wk),
        )
    dev = F.col("__vus") - F.col("__med") - F.lit(k_us)
    with_c = with_med.withColumn("__c", F.sum(dev).over(run))
    with_s = with_c.withColumn(
        "__s", F.col("__c") - F.least(F.lit(0), F.min("__c").over(run))
    )
    raw = (
        # exact BIGINT score for downstream argmax ranking (the double
        # `cusum` could collide after / 1e6 rounding at extreme sums)
        [F.col("__s").alias("cusum_us")] if include_raw else []
    )
    return with_s.select(
        *partition_by,
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(tiebreak),
        "value",
        (F.col("__s").cast("double") / 1_000_000.0).alias("cusum"),
        (
            (F.col("__s").cast("double") / 1_000_000.0) > threshold
        ).alias("is_drift"),
        *raw,
    )


def cusum_changepoints(
    events: DataFrame,
    value_col: str,
    partition_by: list[str],
    threshold: float,
    ts_col: str = "ts",
    tiebreak: str = "event_id",
    k: float = 0.0,
) -> DataFrame:
    """D15 — changepoint localization on top of :func:`cusum_drift`:
    for each key, the row where the CUSUM score peaks — the standard
    point estimate of WHERE a sustained shift is concentrated (the
    peak is where accumulated drift is largest; drift onset is just
    before the last zero preceding it). One extra ``row_number`` pass
    over the SAME key partitioning — no new shuffle key.

    Ranking is on the exact BIGINT score (``include_raw``), ties broken
    by earliest ``(ts, tiebreak)`` — fully deterministic across
    engines. Output: one row per key with the peak location, the peak
    score, the key's row count, and whether the peak clears
    ``threshold``.
    """
    scored = cusum_drift(
        events,
        value_col,
        partition_by,
        threshold,
        ts_col=ts_col,
        tiebreak=tiebreak,
        k=k,
        include_raw=True,
    )
    wk = Window.partitionBy(*partition_by)
    rank = Window.partitionBy(*partition_by).orderBy(
        F.desc("cusum_us"), "ts_us", tiebreak
    )
    return (
        scored.withColumn("__rn", F.row_number().over(rank))
        .withColumn("n_points", F.count(F.lit(1)).over(wk))
        .filter(F.col("__rn") == 1)
        .select(
            *partition_by,
            F.col("ts_us").alias("peak_ts_us"),
            F.col(tiebreak).alias("peak_" + tiebreak),
            F.col("cusum").alias("peak_cusum"),
            F.col("n_points"),
            F.col("is_drift"),
        )
    )


# ---------------------------------------------------------------------------
# D16 seasonal-residual anomalies
# ---------------------------------------------------------------------------


def seasonal_anomalies(
    events: DataFrame,
    value_col: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    z_threshold: float = 3.0,
    min_samples: int = 30,
    id_col: str = "event_id",
) -> DataFrame:
    """D16 — anomalies against a CYCLIC (hour-of-day) profile: each
    value is z-scored against its (type, hour-of-day) mean/std over the
    whole history, so the nightly batch-load peak is part of the
    baseline instead of a daily false alarm — the seasonal completion
    of d06 (flat bucket z) and d07 (trailing-window baseline).

    Scale shape: ONE partial-agg shuffle to a (types x 24)-row profile
    — count, micro-unit sum, and micro-unit sum-of-squares — broadcast
    back over the scan; scoring is a pure projection. Determinism: each
    squared micro-unit ALREADY exceeds signed-64 for values past ~3000
    (vm^2 > 9.2e18), so the square is taken in DECIMAL(38,0) — exact,
    and the DuckDB oracle multiplies in HUGEINT (its BIGINT `*` errors
    on overflow rather than promoting — same class as the d13 fix);
    variance is one double division of exact integers, and IEEE sqrt is
    correctly rounded — the z-scores hash-match unrounded.
    """
    hour = ((F.floor(F.unix_timestamp(ts_col) / 3600)) % 24).cast("int")
    base = events.filter(
        F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    ).select(
        F.col(id_col).alias("event_id"),
        F.col(type_col).alias("event_type"),
        F.col(value_col).alias("value"),
        hour.alias("hod"),
    )
    vm = F.floor(F.col("value") * 1_000_000.0 + F.lit(0.5)).cast("long")
    vmd = vm.cast("decimal(38,0)")
    prof = base.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(vm).alias("s"),
        F.sum(vmd * vmd).alias("q"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mean = F.col("s").cast("double") / 1_000_000.0 / F.col("n")
    var_num = (d("n") * F.col("q") - d("s") * F.col("s")).cast("double")
    std = (
        F.sqrt(var_num / (F.col("n") * (F.col("n") - 1)).cast("double"))
        / 1_000_000.0
    )
    scored = base.join(
        F.broadcast(
            prof.select(
                "event_type",
                "hod",
                "n",
                mean.alias("hod_mean"),
                std.alias("hod_std"),
            )
        ),
        ["event_type", "hod"],
    )
    zc = (F.col("value") - F.col("hod_mean")) / F.col("hod_std")
    return (
        scored.filter(
            (F.col("n") >= min_samples)
            & F.col("hod_std").isNotNull()
            & (F.col("hod_std") > 0)
        )
        .withColumn("z", zc)
        .filter(F.abs(F.col("z")) >= z_threshold)
        .select(
            "event_id", "event_type", "hod", "value",
            "hod_mean", "hod_std", "z",
        )
    )


def slo_burn_alerts(
    events: DataFrame,
    is_bad: Column,
    budget: float = 0.25,
    short_seconds: int = 300,
    long_seconds: int = 3600,
    short_burn: float = 1.2,
    long_burn: float = 1.05,
    ts_col: str = "ts",
) -> DataFrame:
    """D17 — multi-window multi-burn-rate SLO alerting (the Google SRE
    workbook policy): an alert fires only when the error-budget burn
    rate exceeds its threshold in BOTH a short window (fast detection)
    and the enclosing long window (sustained, not a blip) — the
    standard cure for both paging lag and flappy alerts. burn =
    (bad/total) / budget per window.

    One scan, two bucket-level aggregates (map-side combined), one
    equi join on the enclosing long bucket (``short div ratio`` —
    exact integer arithmetic; ``long_seconds`` must be a multiple of
    ``short_seconds``). All ratios are single divisions of exact
    integer counts — correctly rounded doubles, engine-portable with
    no rounding step. Output: one row per alerting short bucket with
    both windows' counts and burns.

    reference: the closest reference analogue is the fixed-threshold
    severity hotspotting (hotspot_selector.py); the two-window burn
    policy is the production SRE generalization.
    """
    if long_seconds % short_seconds:
        raise ValueError("long_seconds must be a multiple of short_seconds")
    # `div` is exact int64 arithmetic at any magnitude; the former
    # floor(double-division) form was value-correct only because
    # epoch-microseconds stay under 2^53. Domains here are
    # nonnegative, so div == floor-division.
    tagged = events.select(
        F.expr(
            f"unix_micros({ts_col}) div {short_seconds * 1_000_000}"
        ).alias("short_bucket"),
        is_bad.cast("int").alias("__bad"),
    )
    short = tagged.groupBy("short_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_short"),
        F.sum("__bad").cast("long").alias("bad_short"),
    )
    ratio = long_seconds // short_seconds
    long_ = (
        tagged.withColumn(
            "long_bucket", F.expr(f"short_bucket div {ratio}")
        )
        .groupBy("long_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_long"),
            F.sum("__bad").cast("long").alias("bad_long"),
        )
    )
    joined = short.withColumn(
        "long_bucket", F.expr(f"short_bucket div {ratio}")
    ).join(long_, "long_bucket")
    bs = F.col("bad_short") / F.col("n_short") / budget
    bl = F.col("bad_long") / F.col("n_long") / budget
    return joined.filter((bs > short_burn) & (bl > long_burn)).select(
        "short_bucket",
        "long_bucket",
        "n_short",
        "bad_short",
        bs.alias("burn_short"),
        "n_long",
        "bad_long",
        bl.alias("burn_long"),
    )
