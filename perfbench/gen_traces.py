"""Seeded FoundationDB TraceEvent generator for the benchmark.

Writes ``n_files`` trace files in the three raw shapes the ingest path
reads (FIXTURES.md §1-2): XML ``<Event .../>`` lines, JSONL objects and
plaintext ``Key=Value`` lines, with a known number of malformed lines.
Beside the files it writes ``manifest.json``: the row count each of the 5
ingested tables must have, and the ground truth of the injected incident
(storage pressure ramp, recovery episodes, a version rollback).

The program under test receives only the trace files; the manifest is for
the benchmark's checks. Output is a pure function of the arguments, so
the same seed always gives byte-identical files.

    python3 perfbench/gen_traces.py --seed 7 --events 10000 --out .perfbench_work/traces
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
from datetime import datetime, timedelta, timezone

T0 = datetime(2025, 9, 5, 21, 0, 0, tzinfo=timezone.utc)
FORMATS = ("xml", "jsonl", "log")  # file i gets FORMATS[i % 3]
ROLES = ("SS", "TLog", "CP", "GP", "MS", "CD", "RK", "DD", "CC")
N_MACHINES = 10
N_EPISODES = 3
EPISODE_STEP_S = 2  # MasterRecoveryState StatusCode 0..14, one per step
# envelope keys the ingest path strips from the payload map
MANDATORY = {
    "Severity", "Time", "DateTime", "Type", "Process", "Role", "PID",
    "Machine", "MachineId", "Address", "LogGroup", "File", "Line",
}
MALFORMED_SHARE = 0.002  # of lines, spread over all files
STORAGE_CLUSTER = "storage_engine_pressure"


def _machine(i: int) -> str:
    return f"10.0.{i // 4}.{i % 4 + 1}:4500"


def _fmt_dt(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


class _Gen:
    """Accumulates events as (offset_seconds, machine_index, attrs)."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.events: list[tuple[float, int, dict]] = []
        self.committed = 1_000_000.0

    def add(self, t: float, m: int, etype: str, sev: int, role: str | None, **fields):
        attrs = {"Severity": str(sev), "Time": f"{t:.6f}", "Type": etype}
        if role is not None:
            attrs["Roles"] = role
        attrs.update({k: str(v) for k, v in fields.items()})
        self.events.append((t, m, attrs))

    def background(self, t: float) -> None:
        r = self.rng
        m = r.randrange(N_MACHINES)
        role = None if r.random() < 0.2 else ROLES[m % len(ROLES)]
        sev = r.choices((5, 10, 20), (1, 17, 2))[0]
        kind = r.randrange(9)
        if kind == 0:
            lag_key = "versionLag" if r.random() < 0.02 else "VersionLag"
            v = 1_000_000 + int(t * 1000)
            self.add(t, m, "StorageMetrics", sev, "SS", **{
                lag_key: r.randint(500, 5000), "BytesInput": r.randint(10**5, 10**7),
                "Version": v, "DurableVersion": v - r.randint(1000, 50_000),
                "QueryQueue": r.randint(0, 50),
            })
        elif kind == 1:
            self.committed += r.randint(1000, 20_000)
            self.add(t, m, "ProxyMetrics", sev, "CP", CommittedVersion=int(self.committed),
                     TxnCommitIn=r.randint(0, 500), Mutations=r.randint(0, 5000))
        elif kind == 2:
            self.add(t, m, "TLogMetrics", sev, "TLog", QueueSize=r.randint(0, 10**6),
                     WorstTLogQueue=f"{r.uniform(0, 1e6):.1f}", Elapsed="5.0")
        elif kind == 3:
            self.add(t, m, "GRVProxyMetrics", sev, "GP", Mean=f"{r.uniform(0.001, 0.02):.6f}",
                     P95=f"{r.uniform(0.01, 0.05):.6f}", Max="1.79769e+308")
        elif kind == 4:
            name = r.choice(("UpdateLatencyMetrics", "ReadLatencyMetrics",
                             "CommitLatencyMetrics"))
            hi = r.random() < 0.01
            self.add(t, m, name, sev, role, Mean=f"{r.uniform(0.001, 0.01):.6f}",
                     P95=f"{r.uniform(0.01, 0.2):.6f}",
                     P99=f"{r.uniform(0.6, 0.9) if hi else r.uniform(0.02, 0.3):.6f}",
                     Max=f"{r.uniform(1.1, 2.0) if hi else r.uniform(0.05, 0.5):.6f}",
                     Count=r.randint(1, 1000))
        elif kind == 5:
            self.add(t, m, "DiskMetrics", sev, role, DiskQueue=r.randint(0, 10**6),
                     Ops=r.randint(0, 10**4), ReadsWrites="12 34 -1")
        elif kind == 6:
            self.add(t, m, "Role", sev, role, As="StorageServer", Transition="Begin",
                     ID=f"r{r.getrandbits(32):08x}")
        elif kind == 7:
            self.add(t, m, "CodeCoverage", sev, role, Comment="Covered branch",
                     Covered=1, SrcFile="fdbserver/storageserver.actor.cpp")
        else:
            self.add(t, m, "Net2Starting", sev, role, Version="7.3.27",
                     Ops=r.randint(0, 100))


def generate(seed: int, n_events: int, n_files: int = 8):
    """Return ({file_name: text}, manifest)."""
    g = _Gen(seed)
    r = g.rng
    # whole 300 s buckets, at least 12 of them, ~3 events/s at most
    span = max(3600, int(n_events / 3 // 300 * 300))
    ps = span * 0.45 // 300 * 300 + 37  # pressure ramp start (offset s)
    ramp = 300
    ss = [m for m in range(N_MACHINES) if ROLES[m % len(ROLES)] == "SS"] or [0]
    lag100k = lag1m = None
    for i in range(60):  # VersionLag 5k -> 2M over the ramp
        t = ps + i * ramp / 60
        lag = int(5000 + (2_000_000 - 5000) * (i / 59) ** 2)
        g.add(t, ss[i % len(ss)], "StorageMetrics", 10, "SS", VersionLag=lag,
              BytesInput=r.randint(10**7, 10**8))
        if lag > 100_000 and lag100k is None:
            lag100k = t
        if lag > 1_000_000 and lag1m is None:
            lag1m = t
    severe = ps + 60
    g.add(severe, ss[0], "SlowSSLoopx100", 30, "SS", Elapsed="12.5")
    for i in range(12):
        g.add(ps + 20 + i * 20, 6 % N_MACHINES, "RkUpdate", 20, "RK",
              ThrottleReason="storage_server_write_queue", TPSLimit=r.randint(10, 900))
    g.add(ps + 90, 2, "CommitLatencyMetrics", 20, "CP", Min="-0.5", Mean="0.004")
    # event burst: a third of all events in one 300 s bucket, several
    # times the background rate of the other buckets
    burst0 = ps // 300 * 300 + 300
    n_burst = n_events // 3
    for i in range(n_burst):
        g.background(burst0 + i * 300 / n_burst)
    rec0 = ps + ramp + 120
    episodes = []
    for k in range(N_EPISODES):
        e0 = rec0 + k * 200
        g.add(e0 - 4, 3, "TLogError", 40, "TLog", Error="io_error")
        g.add(e0 - 3, 3, "CodeCoverage", 10, None,
              Comment="Terminated due to tLog failure", Covered=1)
        for code in range(15):
            g.add(e0 + code * EPISODE_STEP_S, 4, "MasterRecoveryState", 20, "MS",
                  StatusCode=code, Status=f"state_{code}")
        g.add(e0 + 15, 4, "RecoveryState", 20, "MS",
              RecoveryVersion=5_000_000 - k * 100_000)
        episodes.append(e0)
    # rollback: CommittedVersion resets from >1e6 to <1e6 once
    g.add(rec0 + 1, 2, "ProxyMetrics", 20, "CP", CommittedVersion=500_000)
    reserved = len(g.events)
    truth = {
        "severe_event": "SlowSSLoopx100",
        "severe_t": f"+{int(severe):.1f}s",
        "lag100k_t": f"+{int(lag100k):.1f}s",
        "lag1m_t": f"+{int(lag1m):.1f}s",
        "recovery_t": f"+{int(episodes[0]):.1f}s",
        "root_cause_signal": "storage_pressure_precedes_recovery",
        "episodes": N_EPISODES,
        "hypothesis_cluster": STORAGE_CLUSTER,
        "hotspot_bucket": int(T0.timestamp()) + int(burst0),
    }
    # the first event pins the trace start at T0
    g.add(0.0, 0, "Net2Starting", 10, None, Version="7.3.27")
    n_bg = max(0, n_events - reserved - 1)
    for i in range(n_bg):
        g.background(span * (i + r.random()) / max(n_bg, 1))
    g.events.sort(key=lambda e: (e[0], e[1]))
    files, counts = _render(g, n_files)
    manifest = {"seed": seed, "events_generated": len(g.events), **counts,
                "ground_truth": truth}
    return files, manifest


def _render(g: _Gen, n_files: int):
    """Lay events out one file per machine group and render each in its
    format; count what the ingest path must produce."""
    r = g.rng
    per_file: list[list[str]] = [[] for _ in range(n_files)]
    rows = 0
    metrics = 0
    processes: set[str] = set()
    roles: set[tuple] = set()
    malformed = 0
    for t, m, attrs in g.events:
        fi = m % n_files
        fmt = FORMATS[fi % len(FORMATS)]
        a = dict(attrs)
        a["DateTime"] = _fmt_dt(T0 + timedelta(seconds=t))
        a["Machine"] = _machine(m)
        if fmt == "log":  # plaintext values carry no spaces
            a = {k: v.replace(" ", "_") for k, v in a.items()}
        lines = per_file[fi]
        if r.random() < MALFORMED_SHARE:
            malformed += 1
            if fmt == "xml":
                lines.append('Event Severity="10" Type="Truncated')  # dropped
            else:
                lines.append('{"Severity": "10", "Type": "Trunc')  # empty row
                rows += 1
        if fmt == "xml":
            body = " ".join(f'{k}="{v}"' for k, v in a.items())
            lines.append(f"<Event {body} />")
        elif fmt == "jsonl":
            lines.append(json.dumps(a))
        else:
            lines.append(" ".join(f"{k}={v}" for k, v in a.items()))
        rows += 1
        for k, v in a.items():
            if k not in MANDATORY and _is_float(v):
                metrics += 1
        processes.add(a["Machine"])
        if "Roles" in a:
            roles.add((a["Machine"], a["Roles"], a["DateTime"]))
    files = {}
    for fi, lines in enumerate(per_file):
        fmt = FORMATS[fi % len(FORMATS)]
        name = f"trace.{fi:02d}.{fmt}"
        if fmt == "xml":
            lines = ['<?xml version="1.0"?>', "<Trace>", *lines, "</Trace>"]
        files[name] = "\n".join(lines) + "\n"
    lines_in = sum(text.count("\n") for text in files.values())
    counts = {
        "lines": lines_in,
        "malformed_lines": malformed,
        "bytes": sum(len(t.encode()) for t in files.values()),
        "expected_rows": {
            "events": rows,
            "event_metrics": metrics,
            "events_wide": rows,
            "processes": len(processes),
            "process_roles": len(roles),
        },
    }
    return files, counts


def _is_float(v: str) -> bool:
    """The ingest path's numeric test (bare float() of the trimmed text)
    for the value shapes this generator writes."""
    try:
        float(v.strip())
    except ValueError:
        return False
    return True


def write(out_dir: str, seed: int, n_events: int, n_files: int = 8) -> dict:
    """Write the trace files and ``manifest.json`` under ``out_dir``;
    return the manifest with the file paths and a content hash added."""
    files, manifest = generate(seed, n_events, n_files)
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    paths = []
    for name in sorted(files):
        path = os.path.join(out_dir, name)
        with open(path, "w", encoding="utf-8") as f:
            f.write(files[name])
        h.update(name.encode())
        h.update(files[name].encode())
        paths.append(path)
    manifest["sha256"] = h.hexdigest()
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    manifest["paths"] = paths
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, default=10_000)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    m = write(a.out, a.seed, a.events)
    print(json.dumps({k: m[k] for k in ("lines", "expected_rows", "sha256")}))


if __name__ == "__main__":
    main()
