"""Self-test of the benchmark at tiny sizes.

    python3 gwasbench/selftest.py [workload ...]

For each workload it runs `run.py --scale tiny` three times and asserts:

- untraced: every end-to-end metric is printed in the result line with
  its unit, every named workload metric is printed with its unit, and
  no op failed (for `load_browse`, at least one unanchored probe ran,
  so its regex-replay check passed);
- traced: every per-layer metric is printed with its unit, every
  function the workload calls was attributed at least one job, and no
  job inside the measured window fell outside a span;
- corrupted (one row dropped from the first checked result): the
  workload's check catches it, so the run reports a failed op.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # a run leaves nothing in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402

NAMED = {
    "load_browse": (
        ("ingest_rows_per_s", "rows/s"), ("publish_s", "s"), ("browse_p50_ms", "ms"),
        ("unanchored_probes", "count"),
    ),
    "maintain": (
        ("commit_p50_ms", "ms"), ("index_update_p50_ms", "ms"), ("snapshot_read_p50_ms", "ms"),
        ("topk_p50_ms", "ms"), ("write_amp", "ratio"), ("space_amp", "ratio"),
    ),
}
CALLS = {
    "load_browse": ("ingest.", "warehouse.", "api."),
    "maintain": ("acid.", "ann_index.", "ann_graph.", "search."),
}


def run(workload: str, *extra: str) -> tuple[list, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def check(workload: str) -> None:
    lines, res = run(workload, "--trace", "0")
    assert res["failed"] == 0 and res["correct"], lines
    assert set(res["metrics"]) == {n for n, _ in END_TO_END}, res["metrics"]
    for name, unit in END_TO_END:
        assert res["metrics"][name]["unit"] == unit, name
    assert res["metrics"]["ok_op_frac"]["value"] == 1.0
    text = "\n".join(lines[:-1])
    for name, unit in NAMED[workload] + (("failed_op_frac", "ratio"),):
        assert any(ln.split()[:1] == [name] and ln.split()[-1] == unit for ln in lines), (name, text)
    if workload == "load_browse":
        probes = [ln.split() for ln in lines if ln.split()[:1] == ["unanchored_probes"]]
        assert float(probes[0][1]) >= 1, "no unanchored probe ran"
    print(f"{workload}: untraced ok ({res['attempted']} ops)")

    lines, res = run(workload, "--trace", "1")
    assert res["failed"] == 0, lines
    m = res["metrics"]
    assert set(m) == {n for n, _ in PER_LAYER}, sorted(set(m) ^ {n for n, _ in PER_LAYER})
    for name, unit in PER_LAYER:
        assert m[name]["unit"] == unit, name
        # ingest_study only plans: its jobs run inside warehouse.append
        if name.endswith(".jobs") and name.startswith(CALLS[workload]) and "ingest_study" not in name:
            assert m[name]["value"] > 0, f"no jobs attributed to {name}"
    assert m["run.unattributed_jobs"]["value"] == 0, m["run.unattributed_jobs"]
    print(f"{workload}: traced ok")

    lines, res = run(workload, "--trace", "0", "--corrupt")
    assert res["failed"] >= 1 and not res["correct"], f"dropped row not caught: {lines}"
    print(f"{workload}: corrupted result caught")


def main() -> int:
    for w in sys.argv[1:] or list(NAMED):
        check(w)
    return 0


if __name__ == "__main__":
    sys.exit(main())
