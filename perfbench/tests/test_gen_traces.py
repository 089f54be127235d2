"""The trace generator is a pure function of its arguments."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_traces  # noqa: E402

# sha256 over (file name, content) of every file for seed 7, 2000 events
PINNED_SHA256 = "b398ae08b9cf0f60f41bd62989c072d3fb7f70fcee81448f51f2b12b9cf5e002"


def test_output_hash_is_pinned(tmp_path):
    m = gen_traces.write(str(tmp_path / "a"), seed=7, n_events=2000)
    assert m["sha256"] == PINNED_SHA256
    again = gen_traces.write(str(tmp_path / "b"), seed=7, n_events=2000)
    assert again["sha256"] == m["sha256"]


def test_seed_changes_output(tmp_path):
    a = gen_traces.write(str(tmp_path / "a"), seed=1, n_events=2000)
    b = gen_traces.write(str(tmp_path / "b"), seed=2, n_events=2000)
    assert a["sha256"] != b["sha256"]


def test_manifest_counts_and_truth(tmp_path):
    m = gen_traces.write(str(tmp_path), seed=3, n_events=3000)
    rows = m["expected_rows"]
    assert len(m["paths"]) == 8
    assert {p.rsplit(".", 1)[-1] for p in m["paths"]} == {"xml", "jsonl", "log"}
    assert rows["events"] == rows["events_wide"] <= m["lines"]
    assert m["malformed_lines"] > 0
    assert rows["processes"] == gen_traces.N_MACHINES
    truth = m["ground_truth"]
    assert truth["episodes"] == gen_traces.N_EPISODES
    assert float(truth["lag100k_t"][1:-1]) < float(truth["recovery_t"][1:-1])
