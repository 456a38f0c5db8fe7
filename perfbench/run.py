"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout generates the
input tables and the expected results under ``.bench_build/perfbench``;
later runs reuse them. Each run then starts one fresh engine process
(``worker.py``) with a pinned environment, times its set-up, one cold
pass and one warm pass per 10 s of ``--seconds``, checks every
result against its oracle, prints a report and, as its last line, one
JSON object with the metrics: the end-to-end ones with ``--trace 0``,
the per-layer ones with ``--trace 1``.

Load is a closed loop with one client: one query at a time on
``local[nproc]``. ``--seed`` sets the order of the queries in a pass.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import expected  # noqa: E402
from workloads import DATA_SEED, DATA_SF, PACKAGE, WORKLOADS, all_queries  # noqa: E402

#: the whole run, build included, stops by then (the limit is 180 s)
RUN_DEADLINE_S = 165
DRIVER_MEM = "4g"


class BenchError(Exception):
    """The benchmark cannot run here; exit non-zero without a result."""


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- build: inputs and expected results, once per checkout --------------------

def build(root: str, work: str) -> tuple[str, str, str]:
    """(data dir, expected-results file, data content key)."""
    with open(datagen.__file__, "rb") as f:  # a changed generator means new tables
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(work, f"data-sf{DATA_SF}-seed{DATA_SEED}-{gen}")
    key_file = os.path.join(data, "CONTENT_KEY")
    if not os.path.exists(key_file):
        t = time.perf_counter()
        tables = datagen.generate(DATA_SF, DATA_SEED)
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(tables, tmp)
        with open(os.path.join(tmp, "CONTENT_KEY"), "w") as f:
            f.write(datagen.content_key(tables))
        shutil.rmtree(data, ignore_errors=True)
        os.replace(tmp, data)
        log(f"generated inputs in {time.perf_counter() - t:.1f} s")
    with open(key_file) as f:
        data_key = f.read().strip()
    sys.path.insert(0, root)
    from importlib import import_module

    oracles = import_module(f"{PACKAGE}.plans").oracle_sql()
    cache_path = os.path.join(work, "expected-cache.json")
    want = expected.build(all_queries(), oracles, data, data_key, cache_path, log)
    want_path = os.path.join(work, "expected-now.json")
    with open(want_path, "w") as f:
        json.dump(want, f)
    return data, want_path, data_key


# -- memory sampling -------------------------------------------------------------

def _session_rss_bytes(sid: int) -> int:
    """Summed RSS of every process in session ``sid`` (the worker, its
    JVM and the JVM's Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # fields[3] is the session id
            total += int(fields[21]) * page  # resident pages
    return total


class PeakSampler(threading.Thread):
    def __init__(self, sid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.sid, self.period = sid, period
        self.active = threading.Event()
        self.stopped = threading.Event()
        self.peak = 0

    def run(self) -> None:
        while not self.stopped.wait(self.period):
            if self.active.is_set():
                self.peak = max(self.peak, _session_rss_bytes(self.sid))


# -- one run ---------------------------------------------------------------------

def pinned_env(root: str, run_dir: str, traced: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # keep the JVM's temp files and perf counters out of /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    for k in ("SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        env.pop(k, None)
    if traced:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file:{events} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
        )
    return env


def run_worker(root, run_dir, args, data, want_path, deadline: float) -> tuple[dict, float, float]:
    """(worker result, setup seconds, peak RSS bytes)."""
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--expected", want_path, "--out", out,
    ]
    env = pinned_env(root, run_dir, bool(args.trace))
    err_path = os.path.join(run_dir, "worker.log")
    setup_s, code = None, None
    with open(err_path, "w") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        # memory is sampled only where it is reported: the traced run
        sampler = PeakSampler(proc.pid) if args.trace else None
        if sampler:
            sampler.start()
        killer = threading.Timer(max(1.0, deadline - time.perf_counter()),
                                 _kill_group, (proc.pid,))
        killer.start()
        try:
            for line in proc.stdout:
                if not line.startswith("PERFBENCH "):
                    continue
                event = json.loads(line[len("PERFBENCH "):])["event"]
                if event == "ready":
                    setup_s = time.perf_counter() - t0
                elif sampler and event == "warm_start":
                    sampler.active.set()
                elif sampler and event == "warm_end":
                    sampler.active.clear()
            code = proc.wait()
        finally:
            killer.cancel()
            if sampler:
                sampler.stopped.set()
                sampler.join()
            _kill_group(proc.pid)
            proc.stdout.close()
            proc.wait()
    if code != 0 or setup_s is None or not os.path.exists(out):
        with open(err_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"worker exited with code {code}:\n{tail}")
    with open(out) as f:
        return json.load(f), setup_s, sampler.peak if sampler else 0.0


def _kill_group(pgid: int) -> None:
    """Stop every process left in the worker's session and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while time.time() < deadline and _session_rss_bytes(pgid) > 0:
        time.sleep(0.05)


# -- metrics ---------------------------------------------------------------------

def end_to_end(res: dict, setup_s: float) -> dict:
    # the fastest warm pass: other tenants of the host only ever add time,
    # so the minimum filters their interference; medians are taken across runs
    return {
        "wall_s": (min(res["warm_wall_s"]), "s"),
        "setup_s": (setup_s, "s"),
    }


def _fastest_warm_pass(records: list[dict]) -> list[dict]:
    """The operation records of the warm pass with the least total time
    (the pass ``wall_s`` reports)."""
    passes: dict[int, list[dict]] = {}
    for r in records:
        if r["pass"] > 0:
            passes.setdefault(r["pass"], []).append(r)
    return min(passes.values(), key=lambda rs: sum(r["wall_s"] for r in rs))


def per_layer(res: dict, failed_share: float, peak_rss: float) -> dict:
    recs = _fastest_warm_pass(res["trace"])
    m = {}

    def add(name, unit, fn, combine=sum):
        m[name] = (combine(fn(r) for r in recs), unit)

    add("plans.build_s", "s", lambda r: r["plans_s"])
    add("plans.build_jobs", "count", lambda r: r["build"]["jobs"])
    add("plans.build_stages", "count", lambda r: r["build"]["stages"])
    add("catalyst.plan_s", "s", lambda r: r["catalyst_s"])
    add("exec.run_s", "s", lambda r: r["exec_s"])
    add("exec.jobs", "count", lambda r: r["run"]["jobs"])
    add("exec.stages", "count", lambda r: r["run"]["stages"])
    add("exec.tasks", "count", lambda r: r["run"]["tasks"])
    add("fetch.collect_s", "s", lambda r: r["fetch_s"])
    add("fetch.rows_out", "count", lambda r: r["rows_out"])
    add("fetch.bytes_out", "bytes", lambda r: r["bytes_out"])
    add("cache.release_s", "s", lambda r: r["cache_s"])
    # JVM persistent RDDs, left by the query / left after release: the
    # largest count in the pass, since the count carries across operations
    add("cache.live_after", "count", lambda r: r["live_after"], max)
    add("cache.persisted_after", "count", lambda r: r["persisted_after"], max)
    for k, unit in (("batches", "count"), ("input_rows", "count"), ("add_batch_s", "s"),
                    ("wal_commit_s", "s"), ("query_planning_s", "s")):
        add(f"streaming.{k}", unit, lambda r, k=k: r["streaming"][f"streaming.{k}"])
    m["streaming.batch_ms_p50"] = (statistics.median(
        [r["streaming"]["streaming.batch_ms_p50"] for r in recs
         if r["streaming"]["streaming.batches"]] or [0.0]), "ms")

    def both(key):
        return lambda r: r["build"][key] + r["run"][key]

    add("sources.scan_bytes", "bytes", both("scan_bytes"))
    add("sources.scan_rows", "count", both("scan_rows"))
    add("exchange.shuffle_write_bytes", "bytes", both("shuffle_write_bytes"))
    add("exchange.shuffle_read_bytes", "bytes", both("shuffle_read_bytes"))
    add("memory.spill_disk_bytes", "bytes", both("spill_disk_bytes"))
    add("memory.spill_mem_bytes", "bytes", both("spill_mem_bytes"))
    add("memory.gc_s", "s", both("gc_s"))
    add("arrow.python_bytes_out", "bytes", both("python_bytes_out"))
    add("arrow.python_bytes_in", "bytes", both("python_bytes_in"))
    add("arrow.python_stage_s", "s", both("python_stage_s"))
    m["session.start_s"] = (res["session_start_s"], "s")
    m["cold_wall_s"] = (res["cold_wall_s"], "s")
    m["peak_rss_mb"] = (peak_rss / 2**20, "MB")
    add("trace.wall_s", "s", lambda r: r["wall_s"])
    add("trace.uncovered_s", "s", lambda r: r["uncovered_s"])
    m["failed_share"] = (failed_share, "ratio")
    # every workload prints every query's time; 0 for queries it does not run
    for q in all_queries():
        if q in res["order"]:
            add(f"q.{q}.s", "s", lambda r, q=q: r["wall_s"] if r["query"] == q else 0.0)
        else:
            m[f"q.{q}.s"] = (0.0, "s")
    return m


# -- report ----------------------------------------------------------------------

def report(args, res, metrics, host) -> None:
    ops = res["ops"]
    failed = [o for o in ops if o["status"] == "failed"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"order {' -> '.join(res['order'])}")
    print("host " + " ".join(f"{k}={v}" for k, v in host.items()))
    print("pass  wall_s  " + "  ".join(res["order"]))
    for p in range(len(res["warm_wall_s"]) + 1):
        row = [o for o in ops if o["pass"] == p]
        total = sum(o["wall_s"] for o in row)
        label = "cold" if p == 0 else f"warm{p}"
        print(f"{label:5} {total:7.3f}  " + "  ".join(f"{o['wall_s']:.3f}" for o in row))
    for o in sorted({o["query"]: o for o in ops}.values(), key=lambda o: o["query"]):
        st = {x["status"] for x in ops if x["query"] == o["query"]}
        print(f"check {o['query']}: {'/'.join(sorted(st))} ({o.get('rows_out', 0)} rows)")
    for o in failed:
        print(f"FAILED pass {o['pass']} {o['query']}: {o['reason']}")
    print(f"failed_share {len(failed)}/{len(ops)}")
    if "trace" in res:
        print("layer split per operation (s): plans catalyst exec fetch cache uncovered | wall")
        for r in res["trace"]:
            print(f"  p{r['pass']} {r['query']}: {r['plans_s']:.3f} {r['catalyst_s']:.3f} "
                  f"{r['exec_s']:.3f} {r['fetch_s']:.3f} {r['cache_s']:.3f} "
                  f"{r['uncovered_s']:.3f} | {r['wall_s']:.3f}")
    for name, (value, unit) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit}")


def _ram_gb() -> float:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) / 2**20


def _source_rev(root: str) -> str:
    """The git revision, or (outside a git checkout) a hash of the
    package's Python sources."""
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        h = hashlib.sha256()
        for d, _, files in sorted(os.walk(os.path.join(root, PACKAGE))):
            for f in sorted(x for x in files if x.endswith(".py")):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
        return "tree-" + h.hexdigest()[:12]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.perf_counter() + RUN_DEADLINE_S

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        raise BenchError(f"run from the repository root: no {PACKAGE}/ in {root}")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    data, want_path, data_key = build(root, work)

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res, setup_s, peak = run_worker(root, run_dir, args, data, want_path, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    n_failed = sum(o["status"] == "failed" for o in res["ops"])
    attempted = len(res["ops"])
    if args.trace:
        metrics = per_layer(res, n_failed / attempted, peak)
    else:
        metrics = end_to_end(res, setup_s)
    host = {"nproc": os.cpu_count(), "ram_gb": round(_ram_gb(), 1), **res["versions"],
            "source": _source_rev(root), "data": data_key}
    report(args, res, metrics, host)
    record = {
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                           f"{time.strftime('%Y%m%dT%H%M%S')}.json"), "w") as f:
        json.dump({**record, "host": host, "setup_s": setup_s, "run": res}, f)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"perfbench: {e}")
        sys.exit(2)
