"""Detector tests (D1-D11) on a synthetic log-shaped events table with
the incident patterns FIXTURES.md prescribes: a VersionLag ramp, recovery
episodes + a tight burst, CodeCoverage causes before recoveries, version
drops/resets, and throttle/TLog/coordinator failure events."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from db_loganalyzer_spark import detectors as D
from db_loganalyzer_spark.sources.trace_logs import derive_event_metrics

T0 = datetime(2025, 9, 5, 21, 0, 0)


def _ev(i, dt_s, event, severity=10, role="SS", **fields):
    return (
        i,
        T0 + timedelta(seconds=dt_s),
        severity,
        event,
        role,
        "m1:4500",
        {k: str(v) for k, v in fields.items()},
    )


@pytest.fixture(scope="module")
def log_events(spark):
    rows = []
    i = 0

    def add(dt_s, event, severity=10, role="SS", **fields):
        nonlocal i
        rows.append(_ev(i, dt_s, event, severity, role, **fields))
        i += 1

    # baseline StorageMetrics: lag ~100, committed versions rising
    for k in range(30):
        add(k * 10, "StorageMetrics", VersionLag=100 + k, Mean=0.001,
            CommittedVersion=1_000_000 + k * 1000, DurableVersion=990_000 + k * 1000)
    # lag ramp: exceeds 50k absolute threshold
    add(310, "StorageMetrics", VersionLag=60_000)
    add(320, "StorageMetrics", VersionLag=1_200_000)
    # case-variant key
    add(325, "StorageMetrics", versionLag=70_000)
    # version drop + reset
    add(330, "StorageMetrics", CommittedVersion=1_030_000)
    add(340, "StorageMetrics", CommittedVersion=900_000)       # drop
    add(350, "StorageMetrics", CommittedVersion=500)           # reset (<1e6 after >1e6)
    # RecoveryState regression
    add(355, "RecoveryState", RecoveryVersion=5000)
    add(356, "RecoveryState", RecoveryVersion=4000)
    # cause then recovery burst (3 within 60s) = episode 1
    add(398, "CodeCoverage", severity=10, Comment="Terminated due to tLog failure")
    add(400, "MasterRecoveryState", severity=30, StatusCode=0)
    add(410, "MasterRecoveryState", severity=30, StatusCode=7)
    add(420, "MasterRecoveryState", severity=30, StatusCode=14)
    # second episode after >60s gap, preceded by a failure-name event
    add(598, "SharedTLogFailed", severity=40)
    add(600, "MasterRecoveryState", severity=30, StatusCode=0)
    add(610, "MasterRecoveryState", severity=30, StatusCode=14)
    # throttling + tlog + coordinator signals
    add(700, "RkUpdate", role="RK", Reason="Throttle", ReleasedTPS=100)
    add(705, "RatekeeperThrottle", role="RK")
    add(710, "TLogCommitError", severity=40, role="TLog")
    add(715, "CoordinatorFailed", severity=40, role="CD", Detail="connection lost")
    # latency metrics above thresholds
    add(720, "UpdateLatencyMetrics", Mean=0.5, P95=0.4, P99=0.6, Max=1.5)

    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, severity int, event string, role string, "
        "machine_id string, fields map<string,string>",
    )


def test_storage_pressure(spark, log_events):
    out = D.storage_engine_pressure(log_events)
    s = out["summary"].collect()[0]
    assert s.detected and s.max_lag == 1_200_000.0
    assert s.count_high == 3  # 60k, 1.2M, 70k (case-variant counted)
    assert s.total == 33


def test_storage_pressure_with_baselines(spark, log_events):
    em = derive_event_metrics(log_events)
    b = D.metric_baselines_table(log_events, em, min_count=5, top_n=100)
    names = {r.metric_name for r in b.collect()}
    assert "VersionLag" in names
    out = D.storage_engine_pressure(log_events, baselines=b, z_score_threshold=3.0)
    assert out["summary"].collect()[0].detected


def test_ratekeeper_throttling(spark, log_events):
    # name-based class scan: RkUpdate (Reason=Throttle) is NOT in the
    # Ratekeeper|Throttle name class, matching the reference's SQL
    s = D.ratekeeper_throttling(log_events)["summary"].collect()[0]
    assert s.detected and s["count"] == 1


def test_missing_tlogs(spark, log_events):
    s = D.missing_tlogs(log_events)["summary"].collect()[0]
    assert s.detected and s["count"] == 2  # TLogCommitError + SharedTLogFailed


def test_coordination_loss(spark, log_events):
    s = D.coordination_loss(log_events)["summary"].collect()[0]
    assert s.detected and s["count"] == 1


def test_recovery_loop(spark, log_events):
    s = D.recovery_loop(log_events, threshold=3, window_seconds=60)["summary"].collect()[0]
    assert s.detected and s.loop_count == 1  # only the first burst of 3


def test_zscore_hotspots(spark, log_events):
    hot = D.zscore_hotspots(log_events, bucket_seconds=300, min_z=1.0)["hotspots"]
    assert hot.count() >= 1  # the dense first bucket


def test_rollback_analysis(spark, log_events):
    out = D.rollback_analysis(log_events)
    s = out["summary"].collect()[0]
    assert s.detected
    assert s.num_drops == 2   # committed 1.03M->900k, then 900k->500
    assert s.num_resets == 1  # >1e6 -> <1e6
    assert s.num_recovery_resets == 1


def test_rollback_analysis_releases_input_persists(spark, log_events):
    """Persist hygiene (VERDICT r13 item 8): rollback_analysis persists
    its two narrow parsed frames only to share the parse across the four
    stitched constructions; both must be unpersisted before it returns.
    The only storage residue allowed is the stitched operators' own
    localCheckpoints (one per scan — four), which the returned frames
    read from."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = D.rollback_analysis(log_events)
    out["summary"].collect()
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    # new residue == the 4 eager localCheckpoints; the versions/rv
    # persists would make this 6
    assert len(after - before) == 4


def test_rollback_analysis_checkpoints_released_in_scope(spark, log_events):
    """Inside ``released_checkpoints`` the 4 stitched checkpoints are
    dropped at exit, so a caller that only reads the summary row leaves
    executor storage as it found it."""
    from db_loganalyzer_spark.operators.windows import released_checkpoints

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    with released_checkpoints():
        s = D.rollback_analysis(log_events)["summary"].collect()[0]
        assert len(set(jsc.getPersistentRDDs().keySet().toArray()) - before) == 4
    assert s.num_drops == 2 and s.num_resets == 1 and s.num_recovery_resets == 1
    assert set(jsc.getPersistentRDDs().keySet().toArray()) == before


def test_recovery_episodes(spark, log_events):
    eps = D.recovery_episodes(log_events)["episodes"].collect()
    assert len(eps) == 2
    assert eps[0].n_recoveries == 3 and eps[1].n_recoveries == 2
    # severity-40 SharedTLogFailed lands in episode 2's halo
    assert eps[1].max_severity_halo == 40


def test_detect_recoveries_cause_attribution(spark, log_events):
    recs = {r.recovery_id: r for r in
            D.detect_recoveries(log_events)["recoveries"].collect()}
    assert len(recs) == 5
    first = min(recs)
    assert recs[first].state_name == "reading_coordinated_state"
    # CodeCoverage comment wins for the first recovery
    assert recs[first].cause == "Terminated due to tLog failure"
    # second episode: failure event name
    ep2_first = sorted(recs)[3]
    assert "SharedTLogFailed" in (recs[ep2_first].cause or "")
    # state decode for final state
    assert any(r.state_name == "fully_recovered" for r in recs.values())


def test_detect_recoveries_challenge_mode(spark, log_events):
    recs = D.detect_recoveries(log_events, include_codecoverage=False)["recoveries"]
    causes = [r.cause for r in recs.collect()]
    assert all(c is None or "tLog failure" not in c for c in causes)


def test_metric_anomalies(spark, log_events):
    out = D.metric_anomalies(log_events, limit=500, z_score_threshold=2.5)["anomalies"]
    rows = out.collect()
    # the latency event violates Max/P99/P95 absolute thresholds,
    # but only interesting events are scanned when any exist —
    # RkUpdate's ReleasedTPS z-score pool is tiny; just assert it runs
    # and any flagged rows carry reasons
    for r in rows:
        assert r.reasons


def test_baseline_window_anomalies(spark, log_events):
    em = derive_event_metrics(log_events)
    b = D.metric_baselines_table(log_events, em, min_count=5, top_n=100)
    # 60k and 1.2M share the 300-330s bucket: mean 630k, z ~2.8
    out = D.baseline_window_anomalies(
        log_events, em, b, bucket_seconds=30, z_score_threshold=2.5, min_samples=1
    )["anomalies"]
    # the 1.2M lag bucket deviates wildly from the ~100 baseline
    assert out.filter(F.col("metric") == "VersionLag").count() >= 1


def test_recovery_loop_bucketed_equals_global(spark):
    # A recovery stream that straddles several bucket boundaries, with
    # bursts placed exactly on / just inside / just outside the halo edge,
    # must count identically to the single-partition global lag.
    import datetime

    base = datetime.datetime(2024, 1, 1)
    offsets = [
        0, 10, 20,            # burst inside bucket 0
        95, 100, 105,         # burst straddling the 100s bucket boundary
        195, 200, 260,        # spans boundary, last gap exactly 60s window
        299, 301, 360,        # straddles boundary, gap > window
        400, 700, 1000,       # sparse - never within window
    ]
    rows = [
        (base + datetime.timedelta(seconds=o), f"e{i:03d}", "MasterRecoveryState")
        for i, o in enumerate(offsets)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_id string, event string")
    bucketed = D.recovery_loop(
        df, threshold=3, window_seconds=60, bucket_seconds=100
    )["summary"].collect()[0]
    glob = D.recovery_loop(
        df, threshold=3, window_seconds=60, bucket_seconds=10**9
    )["summary"].collect()[0]
    assert bucketed.asDict() == glob.asDict()
    assert bucketed.loop_count == 3  # spans 20s, 10s, 41s; the 41s one crosses a boundary


def test_robust_outliers_breakdown_resistance(spark):
    """A 20% burst of extreme values must not drag the robust baseline:
    the burst itself is flagged, the inliers are not — the property the
    mean/std z-score detector lacks."""
    from pyspark.sql import functions as F

    from db_loganalyzer_spark.detectors.detectors import robust_outliers

    inliers = [(i, "m", 100.0 + (i % 11) - 5) for i in range(100)]
    burst = [(1000 + i, "m", 1e6) for i in range(25)]
    df = spark.createDataFrame(
        inliers + burst, "event_id long, event_type string, value double"
    )
    out = robust_outliers(df, "value", ["event_type"])
    flagged = {r["event_id"] for r in out.collect()}
    assert all(1000 + i in flagged for i in range(25))
    assert not any(i in flagged for i in range(100))
    # classical z-score for contrast: the burst inflates sigma so much
    # that sigma > 3x any inlier deviation — none of the burst's
    # pollution effect appears in the robust result above
    stats = df.agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd")
    ).collect()[0]
    assert stats["sd"] > 1e5  # the contamination the MAD ignores


def test_robust_outliers_degenerate_groups_excluded(spark):
    """MAD = 0 groups (single row; constant values) must be excluded,
    not crash with ANSI DIVIDE_BY_ZERO."""
    from db_loganalyzer_spark.detectors.detectors import robust_outliers

    rows = (
        [(i, "varied", float(i % 7) + (100.0 if i == 0 else 0.0)) for i in range(30)]
        + [(100, "solo", 5.0)]
        + [(200 + i, "constant", 3.0) for i in range(10)]
    )
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    out = robust_outliers(df, "value", ["event_type"])
    types = {r["event_type"] for r in out.collect()}
    assert "solo" not in types and "constant" not in types
    assert types == {"varied"}  # the contaminated point still flags


def test_lag_correlation_finds_planted_lead(spark):
    """Series B is series A shifted by +2 buckets: the correlation must
    peak (r ~ 1.0) exactly at lag = +2 buckets."""
    import datetime as dtm

    from db_loganalyzer_spark.detectors.detectors import lag_correlation

    t0 = dtm.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(50):
        burst = 5 if i % 7 == 0 else 1  # spiky pattern
        for _ in range(burst):
            rows.append((eid, t0 + dtm.timedelta(seconds=i * 60 + 1), "a")); eid += 1
        for _ in range(burst):  # same pattern, 2 buckets later
            rows.append((eid, t0 + dtm.timedelta(seconds=(i + 2) * 60 + 1), "b")); eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r["lag_seconds"]: r["r"] for r in
           lag_correlation(df, "a", "b", 60, 5).collect()}
    best = max((v, k) for k, v in out.items() if v is not None)
    assert best[1] == 120  # +2 buckets of 60s
    assert best[0] > 0.95


def test_cusum_drift_matches_sequential_reference(spark):
    """The prefix-min closed form must equal the textbook recursion
    s_t = max(0, s_{t-1} + (x_t - median)) computed sequentially, and
    flag a planted sustained shift while leaving balanced noise alone."""
    import datetime as dt

    from db_loganalyzer_spark.detectors.detectors import cusum_drift

    t0 = dt.datetime(2024, 1, 1)
    # key "a": balanced noise around 10; key "b": +5 shift over the last
    # 3 points (a MINORITY of the series — the median reference assumes
    # drift affects < half the points, else it IS the new baseline)
    vals_a = [10.0, 11.0, 9.0, 10.0, 12.0, 8.0, 10.0, 11.0, 9.0, 10.0]
    vals_b = [10.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 15.8, 15.1, 15.4]
    rows = []
    eid = 0
    for key, vals in (("a", vals_a), ("b", vals_b)):
        for i, v in enumerate(vals):
            rows.append((key, eid, t0 + dt.timedelta(seconds=i), v))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double"
    )
    out = {
        (r["user_id"], r["event_id"]): (r["cusum"], r["is_drift"])
        for r in cusum_drift(
            df, "value", ["user_id"], threshold=8.0
        ).collect()
    }

    def reference(vals, eids):
        med_us = sorted(int(v * 1e6) for v in vals)[(len(vals) + 1) // 2 - 1]
        s, exp = 0, {}
        for v, e in zip(vals, eids):
            s = max(0, s + int(v * 1e6) - med_us)
            exp[e] = s / 1e6
        return exp

    exp_a = reference(vals_a, range(0, 10))
    exp_b = reference(vals_b, range(10, 20))
    for e, want in {**exp_a, **exp_b}.items():
        key = "a" if e < 10 else "b"
        assert out[(key, e)][0] == want, (e, out[(key, e)][0], want)
    # the sustained +5 shift accumulates past threshold; noise never does
    assert any(flag for (k, _), (_, flag) in out.items() if k == "b")
    assert not any(flag for (k, _), (_, flag) in out.items() if k == "a")


def test_cusum_changepoints_locates_peak(spark):
    import datetime as dt

    from db_loganalyzer_spark.detectors.detectors import cusum_changepoints

    t0 = dt.datetime(2024, 1, 1)
    vals_a = [10.0, 11.0, 9.0, 10.0, 12.0, 8.0, 10.0, 11.0, 9.0, 10.0]
    vals_b = [10.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 15.8, 15.1, 15.4]
    rows = []
    eid = 0
    for key, vals in (("a", vals_a), ("b", vals_b)):
        for i, v in enumerate(vals):
            rows.append((key, eid, t0 + dt.timedelta(seconds=i), v))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double"
    )
    out = {
        r["user_id"]: r
        for r in cusum_changepoints(
            df, "value", ["user_id"], threshold=8.0
        ).collect()
    }
    assert len(out) == 2 and all(r["n_points"] == 10 for r in out.values())
    # drift accumulates through the shifted tail: peak at the LAST point
    assert out["b"]["peak_event_id"] == 19 and out["b"]["is_drift"]
    assert not out["a"]["is_drift"]
    # hand-computed: key a deviations vs median 10 give s =
    # 0,1,0,0,2,0,0,1,0,0 — unique peak 2.0 at event 4
    assert out["a"]["peak_cusum"] == 2.0
    assert out["a"]["peak_event_id"] == 4


def test_seasonal_anomalies_baseline_absorbs_daily_peak(spark):
    """A nightly peak that repeats every day is baseline; the same
    magnitude at an off-hour is the anomaly."""
    import datetime as dt

    from db_loganalyzer_spark.detectors.detectors import seasonal_anomalies

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 40 days: hour 2 always ~100 (the nightly batch), hour 10 always ~10
    for day in range(40):
        for hod, val in ((2, 100.0), (10, 10.0)):
            jitter = (eid % 5) * 0.5  # spread so std > 0
            rows.append(
                (eid, t0 + dt.timedelta(days=day, hours=hod), "load",
                 val + jitter)
            )
            eid += 1
    # the true anomaly: one 100.0 at hour 10
    rows.append((eid, t0 + dt.timedelta(days=40, hours=10), "load", 100.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = seasonal_anomalies(df, "value", z_threshold=3.0, min_samples=30)
    flagged = out.collect()
    # only the off-hour spike fires; all 40 nightly peaks stay silent
    assert [r.event_id for r in flagged] == [eid]
    assert flagged[0].hod == 10 and flagged[0].z > 3


def test_slo_burn_multiwindow_policy(spark):
    """Planted buckets: a short spike inside a healthy hour must NOT
    alert (long window vetoes the blip); a spike inside a bad hour
    must; a healthy bucket inside a bad hour must not."""
    from pyspark.sql import functions as F

    from db_loganalyzer_spark.detectors.detectors import slo_burn_alerts

    def mk(hour, minute, n_bad, n_ok):
        base = f"2024-01-01 {hour:02d}:{minute:02d}:00"
        return [(base, "error")] * n_bad + [(base, "view")] * n_ok

    rows = (
        # hour 10: one spiky 5-min bucket (80% bad), rest clean -> long
        # burn 8/110/0.25 = 0.29 < 1.05: NO alert
        mk(10, 0, 8, 2) + mk(10, 10, 0, 50) + mk(10, 20, 0, 50)
        # hour 11: sustained badness -> its spike buckets alert, its
        # clean bucket does not
        + mk(11, 0, 40, 10) + mk(11, 10, 40, 10) + mk(11, 20, 0, 10)
    )
    ev = spark.createDataFrame(rows, "ts_s string, event_type string").select(
        F.to_timestamp("ts_s").alias("ts"), "event_type"
    )
    out = slo_burn_alerts(ev, F.col("event_type") == "error")
    alerts = {(r.short_bucket, r.long_bucket) for r in out.collect()}
    # short bucket index = epoch // 300; compute from the fixture times
    import datetime

    def sbucket(hour, minute):
        t = datetime.datetime(2024, 1, 1, hour, minute, tzinfo=datetime.timezone.utc)
        return int(t.timestamp()) // 300

    assert (sbucket(10, 0), sbucket(10, 0) // 12) not in alerts
    assert (sbucket(11, 0), sbucket(11, 0) // 12) in alerts
    assert (sbucket(11, 10), sbucket(11, 10) // 12) in alerts
    assert (sbucket(11, 20), sbucket(11, 20) // 12) not in alerts
    assert len(alerts) == 2
