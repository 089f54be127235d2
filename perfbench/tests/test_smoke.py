"""Smoke test of the harness: a tiny seed runs all three workloads and
every metric named in BENCHMARK.json is emitted. Slow (one Spark driver
per run, about five minutes); run with

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def _run(*args):
    p = subprocess.run([sys.executable, RUN, "--seed", "5", "--seconds", "1",
                        "--scale", "0.05", *args],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900, check=False)
    assert p.returncode == 0, p.stdout[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_every_workload_emits_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in [w["name"] for w in bench["workloads"]] + ["ingest"]:
        for trace, want in ((0, e2e), (1, layer)):
            out = _run("--workload", w, "--trace", str(trace))
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, (w, trace, set(got) ^ set(want))
            assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
            if trace == 0:
                assert all(out["metrics"][k]["value"] > 0 for k in e2e), (w, out["metrics"])
