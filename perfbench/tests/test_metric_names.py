"""BENCHMARK.json is well formed and every metric the benchmark can
print is declared there under a valid name and unit."""

import json
import os
import re

from workloads import WORKLOADS, all_queries

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_and_units_are_valid_and_unique():
    s = spec()
    names = [w["name"] for w in s["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in s[group]:
            names.append(m["name"])
            assert UNIT.match(m["unit"]), m
            assert m["better"] in ("lower", "higher"), m
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))


def test_name_rule_rejects_bad_names():
    for bad in ("", "_lead", ".lead", "has space", "q/x", "x" * 65, "é"):
        assert not NAME.match(bad)
    for good in ("wall_s", "q.k_core_parts.s", "exec.run-s", "9lives"):
        assert NAME.match(good)


def test_workloads_match_definitions():
    s = spec()
    assert [w["name"] for w in s["workloads"]] == list(WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in s["workloads"])


def test_end_to_end_bounds():
    e2e = {m["name"]: m for m in spec()["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_every_printed_metric_is_declared():
    from run import end_to_end, per_layer

    res = {
        "order": list(WORKLOADS["fraud_scoring"]),
        "warm_wall_s": [1.0], "cold_wall_s": 2.0, "session_start_s": 3.0,
        "trace": [_record(q) for q in WORKLOADS["fraud_scoring"]],
    }
    declared_e2e = {m["name"] for m in spec()["end_to_end"]}
    declared_layer = {m["name"] for m in spec()["per_layer"]}
    assert set(end_to_end(res, 1.0)) == declared_e2e
    printed = per_layer(res, 0.0, 2**30)
    assert set(printed) == declared_layer
    assert {f"q.{q}.s" for q in all_queries()} <= set(printed)


def _record(query):
    counts = {k: 0 for k in (
        "jobs", "stages", "tasks", "last_job_end", "scan_bytes", "scan_rows",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_disk_bytes",
        "spill_mem_bytes", "gc_s", "python_bytes_out", "python_bytes_in", "python_stage_s")}
    streaming = {k: 0 for k in (
        "streaming.batches", "streaming.input_rows", "streaming.batch_ms_p50",
        "streaming.add_batch_s", "streaming.wal_commit_s", "streaming.query_planning_s")}
    return {
        "pass": 1, "query": query, "wall_s": 1.0, "uncovered_s": 0.1,
        "plans_s": 0.5, "catalyst_s": 0.1, "exec_s": 0.2, "fetch_s": 0.05, "cache_s": 0.05,
        "build": counts, "run": counts, "streaming": streaming,
        "live_after": 0, "persisted_after": 0, "rows_out": 1, "bytes_out": 8,
    }
