"""One benchmark process: set up the engine, run a cold pass and then
warm passes of one workload, check every result, and write the timings.

Started by ``run.py`` with the environment pinned there. It talks back
on stdout with ``PERFBENCH <json>`` lines: ``ready`` once the session
answers a trivial job, ``warm_start`` and ``warm_end`` around the warm
passes (a traced run's parent samples memory between them). Everything
else goes to the result file named by ``--out``.

One operation is one query: build the plan, run it, collect the whole
result to the driver as Arrow, and release the engine's swap caches.
The result is checked after the operation's clock stops.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import random
import sys
import time
import traceback

from py4j.protocol import Py4JError

import expected
import tracing
from workloads import PACKAGE, WORKLOADS


#: nominal length of one warm pass; ``--seconds`` buys one pass per this
NOMINAL_PASS_S = 10.0


def emit(event: str, **kw) -> None:
    print("PERFBENCH " + json.dumps({"event": event, **kw}), flush=True)


class Runner:
    def __init__(self, spark, registry, cache, data_dir, want, traced):
        self.spark = spark
        self.registry = registry
        self.cache = cache
        self.data_dir = data_dir
        self.want = want
        self.traced = traced
        self.spans: list[tracing.Span] = []
        self.windows: list[tuple[float, float, tuple]] = []
        self.ops: list[dict] = []

    def _persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def operation(self, pass_no: int, query: str) -> dict:
        """Run one query; returns its record (timings, check status)."""
        op_id = len(self.ops)
        sc = self.spark.sparkContext
        rec = {"pass": pass_no, "query": query}
        root = tracing.Span("op", time.time(), 0.0, op_id)
        table, error = None, None
        try:
            t = time.time()
            if self.traced:
                sc.setJobGroup(f"perfbench-{op_id}-build", query)
            df = self.registry[query].builder(self.spark, self.data_dir)
            root.children.append(tracing.Span("plans", t, time.time(), op_id))
            if self.traced:
                t = time.time()
                df._jdf.queryExecution().executedPlan()
                root.children.append(tracing.Span("catalyst", t, time.time(), op_id))
                sc.setJobGroup(f"perfbench-{op_id}-run", query)
            t = time.time()
            table = df.toArrow()
            root.children.append(tracing.Span("run", t, time.time(), op_id))
            t = time.time()
            self.cache.release_caches()
            root.children.append(tracing.Span("cache", t, time.time(), op_id))
        except Exception:  # a failed query is a failed operation, not a crashed run
            traceback.print_exc()
            error = traceback.format_exc().strip().splitlines()[-1]
            self.cache.release_caches()
        root.end = time.time()
        rec["wall_s"] = root.duration
        if self.traced:
            sc.setJobGroup("perfbench-idle", "")
            # entries left in the swap-cache registry, and JVM persistent
            # RDDs, once the operation has released its caches
            rec["live_after"] = len(self.cache._ACTIVE_CACHES)
            rec["persisted_after"] = self._persisted()
            self.spans.append(root)
            for c in root.children:
                phase = "build" if c.name == "plans" else "run"
                self.windows.append((c.start, c.end, (op_id, phase)))
        if error is not None:
            rec["status"], rec["reason"] = "failed", error
        else:
            rec["rows_out"] = table.num_rows
            rec["bytes_out"] = table.nbytes
            rec["status"], rec["reason"] = expected.check(query, table, self.want[query])
        self.ops.append(rec)
        return rec

    def run_pass(self, pass_no: int, order: list[str]) -> float:
        return sum(self.operation(pass_no, q)["wall_s"] for q in order)


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    # set-up: package imported -> registry loaded -> session answers a job
    plans = importlib.import_module(f"{PACKAGE}.plans")
    cache = importlib.import_module(f"{PACKAGE}.cache")
    session = importlib.import_module(f"{PACKAGE}.session")
    registry = plans.REGISTRY
    t = time.perf_counter()
    spark = session.get_spark("perfbench")
    spark.range(1).collect()
    session_start_s = time.perf_counter() - t
    emit("ready")

    with open(args.expected) as f:
        want = json.load(f)
    batches: list[dict] = []
    if args.trace:
        spark.streams.addListener(tracing.make_listener(batches))
    runner = Runner(spark, registry, cache, args.data, want, bool(args.trace))
    order = list(WORKLOADS[args.workload])
    random.Random(args.seed).shuffle(order)

    cold = runner.run_pass(0, order)
    emit("warm_start")
    # a fixed pass count, not a deadline: the count must not depend on how
    # fast the host happens to be, or runs land at different warm-up depths
    n_warm = max(1, round(args.seconds / NOMINAL_PASS_S))
    warm = [runner.run_pass(p, order) for p in range(1, n_warm + 1)]
    emit("warm_end")

    result = {
        "order": order,
        "cold_wall_s": cold,
        "warm_wall_s": warm,
        "session_start_s": session_start_s,
        "ops": runner.ops,
        "versions": versions(spark),
    }
    if args.trace:
        try:  # deliver every queued listener event before reading them
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # the internal API moved: give the bus a moment instead
            time.sleep(1.0)
        log_dir = spark.conf.get("spark.eventLog.dir")
        app_id = spark.sparkContext.applicationId
        spark.stop()
        path = os.path.join(log_dir.removeprefix("file:"), app_id)
        result["trace"] = layer_records(runner, path, batches)
    else:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)


def layer_records(runner: Runner, event_log: str, batches: list[dict]) -> list[dict]:
    """Per-operation layer split: span self-times, event-log counts and
    streaming batches. The ``run`` span (``toArrow``) is split at the
    end of its last Spark job into ``exec`` and ``fetch``."""
    counts = tracing.parse_event_log(event_log, runner.windows)
    out = []
    for root in runner.spans:
        op = runner.ops[root.op]
        build = counts.get((root.op, "build"), tracing.SparkCounts())
        run = counts.get((root.op, "run"), tracing.SparkCounts())
        spans = {c.name: c for c in root.children}
        layers = {k: spans[k].duration if k in spans else 0.0 for k in ("plans", "catalyst", "cache")}
        r = spans.get("run")
        if r is not None:
            split = min(max(run.last_job_end, r.start), r.end) if run.jobs else r.start
            root.children = [c for c in root.children if c.name != "run"] + [
                tracing.Span("exec", r.start, split, root.op),
                tracing.Span("fetch", split, r.end, root.op),
            ]
            layers["exec"], layers["fetch"] = split - r.start, r.end - split
        mine = [b for b in batches if root.start <= b["start"] <= root.end]
        out.append({
            "pass": op["pass"],
            "query": op["query"],
            "wall_s": root.duration,
            "uncovered_s": tracing.self_time(root),
            **{f"{k}_s": v for k, v in layers.items()},
            "build": vars(build),
            "run": vars(run),
            "streaming": tracing.batch_totals(mine),
            "live_after": op.get("live_after", 0),
            "persisted_after": op.get("persisted_after", 0),
            "rows_out": op.get("rows_out", 0),
            "bytes_out": op.get("bytes_out", 0),
        })
    return out


if __name__ == "__main__":
    sys.exit(main())
