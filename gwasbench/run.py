"""GWAS-warehouse benchmark: one command, one workload per call.

    python3 gwasbench/run.py --workload {load_browse,maintain} \
        --seed N --seconds S --trace {0,1} [--scale tiny] [--corrupt]

Run from the root of a source checkout. Each call starts a fresh Spark
session at SPARK_GRAFT_CPUS=4, builds the workload's stores from seeded
inputs, drives one closed-loop client for at least `--seconds`, checks
every result, and prints the end-to-end metrics by name with their
units. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

With `--trace 1` the session runs with Spark's event log on
(PYSPARK_SUBMIT_ARGS). Jobs, tasks and bytes are attributed to the
benchmark's spans (see ledger.py) and printed as per-layer metrics.
Each read op is repeated with the event log off, and tracing overhead
is the traced reads' median latency over the untraced ones', per
function.

All state lives under `.gwasbench_work/` in the checkout and is removed
before exit. Without the program's sources beside it, the command exits
with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import types

sys.dont_write_bytecode = True  # a run leaves nothing in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import ledger  # noqa: E402
from ledger import EventLogSwitch, Spans, cpu_ticks, next_job_id, now_ms, steal_share  # noqa: E402

CPUS = "4"

# -- metric catalogue ------------------------------------------------------

END_TO_END = (
    ("setup_s", "s"),
    ("ok_op_frac", "ratio"),
    ("write_ms", "ms"),
    ("read_ms", "ms"),
    ("write_jobs", "jobs/op"),
    ("read_jobs", "jobs/op"),
)

FUNCS = (
    "ingest.ingest_study",
    "warehouse.append",
    "warehouse.build_combined",
    "warehouse.build_marker_index",
    "api.markers_by_region",
    "api.markers_by_probe",
    "api.marker_exact",
    "api.locus_window",
    "api.combined_region",
    "acid.merge",
    "acid.delete_where",
    "acid.update_set",
    "acid.append",
    "acid.read_where",
    "ann_index.upsert_cell_index",
    "ann_graph.graph_probe_persisted",
    "search.update_text_index",
    "search.bm25_topk_indexed",
)
FUNC_STATS = (("ms", "ms"), ("jobs", "count"), ("tasks", "count"), ("shuffle_mb", "MB"), ("input_mb", "MB"))
API = [f for f in FUNCS if f.startswith("api.")]
REWRITE = ("acid.merge", "acid.delete_where", "acid.update_set")
TOUCHED = ("ann_index.upsert",)


def per_layer_catalogue() -> list:
    out = [(f"{f}.{s}", u) for f in FUNCS for s, u in FUNC_STATS]
    out += [(f"{f}.plan_ms", "ms") for f in API]
    out += [(f"{f}.rows_scanned_per_row", "ratio") for f in API]
    out += [(f"{f}.rewrite_rows_per_changed_row", "ratio") for f in REWRITE]
    out += [(f"{f}.touched_cells", "count") for f in TOUCHED]
    out += [
        ("session.get_spark.ms", "ms"),
        ("run.gc_ms", "ms"),
        ("run.spill_mb", "MB"),
        ("run.tracing_overhead_pct", "%"),
        ("run.unattributed_jobs", "count"),
    ]
    return out


PER_LAYER = per_layer_catalogue()


# -- the measured pass ---------------------------------------------------

def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_session(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has ended.
    Stopping the context also ends its Python worker daemons."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a hung JVM is killed
            proc.kill()
            proc.wait()


def settle(spark, max_s: float = 10.0) -> float:
    """End of set-up: collect garbage, then wait until the JIT compiler's
    total time stops growing, so compiles the set-up triggered do not
    run during the measured window. Returns the seconds waited."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = time.perf_counter()
    last = -1
    while time.perf_counter() - t0 < max_s:
        cur = jit.getTotalCompilationTime()
        if cur == last:
            break
        last = cur
        time.sleep(0.5)
    return time.perf_counter() - t0


def measure(a, workload, work: str) -> dict:
    """One pass of one workload in a fresh session: set-up, the measured
    window, the final checks. Returns the raw results."""
    ctx = types.SimpleNamespace(seed=a.seed, scale=a.scale, corrupt=a.corrupt, work=work,
                                spans=Spans(), events=EventLogSwitch())
    wl = workload(ctx)

    t0, c0 = time.perf_counter(), cpu_ticks()
    # inputs are generated while the JVM starts
    gen_err: list = []

    def gen():
        try:
            wl.generate()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            gen_err.append(e)

    th = threading.Thread(target=gen)
    th.start()
    from gwasdb_spark.session import get_spark

    s0, k0 = now_ms(), cpu_ticks()
    spark = ctx.spark = get_spark()
    try:
        session_ms = (now_ms() - s0) * (1.0 - steal_share(k0, cpu_ticks()))
        ctx.spans.jobs = next_job_id(spark)
        th.join()
        if gen_err:
            raise gen_err[0]
        wl.build()
        settle_s = settle(spark)
        ctx.events = EventLogSwitch(spark)
        setup_wall_s = time.perf_counter() - t0
        setup_s = setup_wall_s * (1.0 - steal_share(c0, cpu_ticks()))

        w0, c1 = now_ms(), cpu_ticks()
        t_end = time.perf_counter() + a.seconds
        while time.perf_counter() < t_end or not wl.enough():
            if not wl.step():
                break
        metrics = wl.finish()
        w1 = now_ms()
        metrics["steal_frac"] = (steal_share(c1, cpu_ticks()), "ratio")
        metrics["settle_s"] = (settle_s, "s")

        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        ctx.events.set(True)  # the listener must be attached to flush on stop
    finally:
        stop_session(spark)

    warm_s, warm_wall_s = wl.warmup_s()
    return {
        "setup_s": setup_s + warm_s,
        "setup_wall_s": setup_wall_s + warm_wall_s,
        "session_ms": session_ms,
        "peak_rss_mb": rss,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "errors": wl.errors[:20],
        "window": [w0, w1],
        "metrics": metrics,
        "layer_extras": wl.layer_extras(),
        "spans": ctx.spans.items,
    }


def run_pass(a, workload, work: str) -> dict:
    """Run `measure` with the session's environment set and the work
    directory as the current directory, then read the event log."""
    os.makedirs(work, exist_ok=True)
    events = os.path.join(work, "events")
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    # Python workers the JVM starts import the program and write no bytecode
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    if a.trace:
        os.makedirs(events)
        os.environ["PYSPARK_SUBMIT_ARGS"] = ledger.EVENT_LOG_CONF.format(dir=events)
    cwd, stdout = os.getcwd(), os.dup(1)
    os.chdir(work)  # Spark's own leftovers (spark-warehouse/, derby.log) land here
    os.dup2(2, 1)  # the JVM inherits stdout: keep it for the result alone
    try:
        res = measure(a, workload, work)
    finally:
        sys.stdout.flush()
        os.dup2(stdout, 1)
        os.close(stdout)
        os.chdir(cwd)
    res["jobs"] = ledger.read_event_log(events) if a.trace else []
    return res


def end_to_end(res: dict) -> dict:
    out = {
        "setup_s": res["setup_s"],
        "ok_op_frac": 1.0 - res["failed"] / max(1, res["attempted"]),
    }
    for name in ("write_ms", "read_ms", "write_jobs", "read_jobs"):
        out[name] = res["metrics"].pop(name)[0]
    return out


def tracing_overhead_pct(spans: list) -> float:
    """Summed per-function medians of traced reads over their untraced
    repeats. Writes are never repeated, so the figure covers reads only."""
    on = off = 0.0
    for f in FUNCS:
        dur = {True: [], False: []}
        calls = [s for s in spans if s["name"] == f]
        if not any(s["traced"] is False for s in calls):
            continue  # a write: never repeated
        for s in calls:
            dur[s["traced"]].append(ledger.adjusted_ms(s))
        if dur[True] and dur[False]:
            on += statistics.median(dur[True])
            off += statistics.median(dur[False])
    return 100.0 * (on - off) / off if off else 0.0


def per_layer(res: dict) -> dict:
    spans = [s for s in res["spans"] if s.get("traced", True)]
    by_span, loose = ledger.attribute(res["jobs"], spans, tuple(res["window"]))
    vals = {name: 0.0 for name, _ in PER_LAYER}
    MB = 1024.0 * 1024.0
    for f in FUNCS:
        idx = [i for i, s in enumerate(spans) if s["name"] == f]
        if not idx:
            continue
        jobs = [j for i in idx for j in by_span.get(i, [])]
        n = len(idx)
        vals[f"{f}.ms"] = statistics.median(ledger.adjusted_ms(spans[i]) for i in idx)
        vals[f"{f}.jobs"] = len(jobs) / n
        vals[f"{f}.tasks"] = sum(j["tasks"] for j in jobs) / n
        vals[f"{f}.shuffle_mb"] = sum(j["shuffle_write_bytes"] for j in jobs) / n / MB
        vals[f"{f}.input_mb"] = sum(j["input_bytes"] for j in jobs) / n / MB
        if f in API:
            vals[f"{f}.plan_ms"] = statistics.median(spans[i]["plan_ms"] * (1 - spans[i]["steal"]) for i in idx)
            rows = sum(spans[i]["rows"] for i in idx)
            vals[f"{f}.rows_scanned_per_row"] = sum(j["input_records"] for j in jobs) / max(1, rows)
    vals.update(res["layer_extras"])
    vals["session.get_spark.ms"] = res["session_ms"]
    w0, w1 = res["window"]
    in_window = [j for j in res["jobs"] if w0 <= j["submit_ms"] <= w1]
    vals["run.gc_ms"] = float(sum(j["gc_ms"] for j in in_window))
    vals["run.spill_mb"] = sum(j["spill_bytes"] for j in in_window) / MB
    vals["run.tracing_overhead_pct"] = tracing_overhead_pct(res["spans"])
    vals["run.unattributed_jobs"] = float(len(loose))
    return vals


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="default", choices=("default", "tiny"))
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: drop one row from the first checked result")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "gwasdb_spark")):
        print(f"gwasbench: program sources not found under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"gwasbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops its session and removes its state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    top = os.path.join(ROOT, ".gwasbench_work")
    work = os.path.join(top, f"{a.workload}-{os.getpid()}")
    try:
        res = run_pass(a, WORKLOADS[a.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(top)
        except OSError:
            pass

    e2e = end_to_end(res)
    print(f"workload {a.workload}  seed {a.seed}  ops {res['attempted']}  failed {res['failed']}")
    named = [(n, e2e[n], u) for n, u in END_TO_END]
    named.append(("failed_op_frac", 1.0 - e2e["ok_op_frac"], "ratio"))
    named.append(("setup_wall_s", res["setup_wall_s"], "s"))
    named.append(("peak_rss_mb", res["peak_rss_mb"], "MB"))
    named += [(n, v, u) for n, (v, u) in res["metrics"].items()]
    for name, value, unit in named:
        print(f"  {name:<28} {value:>14.4f} {unit}")
    for err in res["errors"]:
        print(f"  error: {err}")
    if a.trace:
        layer = per_layer(res)
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
        for name, unit in PER_LAYER:
            print(f"  {name:<52} {layer[name]:>12.4f} {unit}")
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
