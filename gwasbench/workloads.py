"""The benchmark's two workloads: `load_browse` and `maintain`.

Each workload has four phases, driven by `run.py`:

- `generate()`: pure Python; writes the seeded inputs as files while the
  Spark session starts;
- `build()`: store builds through the program's own functions;
- `step()`: one closed-loop unit of work, timed in a span named
  `<layer>.<function>`, its result checked outside the span;
- `finish()`: final checks and the workload's metrics.

A raised exception or a failed check counts one failed op. Checks
compare against facts the generator recorded or a pure-Python replay,
never against the program's own output.

In a traced pass each read op is repeated right after its measured call
with the event log off, so the pass measures its own tracing overhead;
writes are always traced.
"""

from __future__ import annotations

import bisect
import math
import os
import random
import re
import statistics
from contextlib import contextmanager

from gen import make_doc, make_variants, make_vector, write_dimensions, write_study
from ledger import adjusted_ms, now_ms

# Sizes per scale. `tiny` is the self-test's scale.
SCALES = {
    "default": {
        "variants": 2_200, "studies": 1, "queries_min": 30,
        "acid_studies": 2, "acid_rows": 1_000, "ann_vectors": 600, "ann_dim": 8,
        "docs": 600,
    },
    "tiny": {
        "variants": 440, "studies": 2, "queries_min": 12,
        "acid_studies": 2, "acid_rows": 200, "ann_vectors": 200, "ann_dim": 8,
        "docs": 200,
    },
}


def gmean_of_medians(lat: dict) -> float:
    """Geometric mean over functions of each function's median latency:
    one figure per op class in which every function weighs the same,
    however often the plan calls it."""
    meds = [statistics.median(v) for v in lat.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def parallel(*tasks) -> None:
    """Run independent store builds side by side (set-up only)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(tasks)) as pool:
        for f in [pool.submit(t) for t in tasks]:
            f.result()


def tree_files(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def tree_bytes(root: str) -> int:
    return sum(v[0] for v in tree_files(root).values())


def payload_bytes(rows) -> int:
    """Bytes of a batch as tab-separated text lines: the size a user
    hands the system, against which write amplification is counted."""
    return sum(len("\t".join(str(x) for x in r).encode()) + 1 for r in rows)


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spans = ctx.spans
        self.sz = SCALES[ctx.scale]
        self.rng = random.Random(ctx.seed)
        self.root = os.path.join(ctx.work, self.name)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._corrupted = False

    def fail(self, msg: str) -> bool:
        self.errors.append(msg[:300])
        return False

    def corrupt(self, rows: list) -> list:
        """Self-test hook: drop one row from the first checked result."""
        if self.ctx.corrupt and not self._corrupted and rows:
            self._corrupted = True
            return rows[:-1]
        return rows

    def span(self, name: str, **extra):
        """Span for a measured call, with the event log on in a traced pass."""
        return self.spans.span(name, traced=self.ctx.events.set(True), **extra)

    @contextmanager
    def read_span(self, name: str, again):
        """Span for a repeatable read. In a traced pass `again()` repeats
        the read right after the measured call with the event log off, so
        tracing overhead compares identical work. The repeat runs second,
        warmer, so the overhead it gives is an upper bound; the measured
        call is never warmed by its twin."""
        with self.span(name) as rec:
            yield rec
        if self.ctx.events.listener is None:
            return  # untraced pass: nothing to compare against
        self.ctx.events.set(False)
        with self.spans.span(name, traced=False):
            again()

    def enough(self) -> bool:
        return True

    def warmup_s(self) -> tuple:
        """(adjusted, wall) seconds of warm-up done inside the measured
        window; they count as set-up, not as any op."""
        return 0.0, 0.0

    def layer_extras(self) -> dict:
        return {}


# -- load_browse -------------------------------------------------------------

class LoadBrowse(Workload):
    """Load studies one at a time the way the reference notebooks do
    (ingest_study → append gwas / no_gwas_result → build_combined →
    build_marker_index), then one app user clicking through them in a
    closed loop: region lists, marker probes, exact lookups, ±10 kb
    locus windows and region plots. Each block of queries calls every api function once, anchored
    at a peak variant, plus one unanchored probe that scans the whole
    marker index: pruned lookups beside a full-index scan."""

    name = "load_browse"
    MIX = ("markers_by_region", "markers_by_probe", "marker_exact", "locus_window", "combined_region")
    FLANK = 10_000  # the app's locus window, gwasDB/app.R:149-154

    def generate(self):
        self.variants = make_variants(self.rng, self.sz["variants"])
        n = self.sz["studies"]
        self.dims = write_dimensions(self.root + "/in", self.variants, n)
        self.studies = [write_study(self.root + "/in", self.rng, self.variants, i) for i in range(1, n + 1)]
        self.by_chr: dict = {}
        for v in self.variants:
            self.by_chr.setdefault(v.chr, []).append(v)
        self.pos_of = {c: [v.pos for v in vs] for c, vs in self.by_chr.items()}
        self.names = sorted(v.kgp_id for v in self.variants)
        self.var_of = {v.kgp_id: v for v in self.variants}
        peaks = sorted({k for f in self.studies for k, nlp in f.nlp.items() if nlp >= 5.0})
        self.peaks = [self.var_of[k] for k in peaks] or self.variants
        self.plan: list = []

    def build(self):
        from pyspark.sql import types as T

        from gwasdb_spark import schemas as S
        from gwasdb_spark.gwas.warehouse import Warehouse
        from gwasdb_spark.sources.csv import read_delim

        spark = self.spark = self.ctx.spark
        self.wh = Warehouse(spark, self.root + "/wh")
        study_cols = ("id", "name", "ancestry", "n", "n_case", "n_control")
        study_schema = T.StructType([f for f in S.STUDY.fields if f.name in study_cols])
        parallel(*[
            lambda t=t, sch=sch: self.wh.write(t, read_delim(spark, self.dims[t], schema=sch))
            for t, sch in (("b37", S.B37), ("marker", S.MARKER), ("study", study_schema))
        ])
        self.warm: list = []  # warm-up spans
        self.loads: list = []  # per study: its load's spans
        self.lat_ms: list = []
        self.lat_by_fn: dict = {}
        self.read_jobs: list = []

    def enough(self) -> bool:
        return len(self.lat_ms) >= self.sz["queries_min"] and not self.plan

    def warm_up(self) -> None:
        """One unchecked block of queries on the loaded warehouse, so the
        timed queries are not the JVM's first run of their plans."""
        for fn, args in self.block():
            with self.spans.span(f"warmup.api.{fn}") as rec:
                self.query(fn, args).collect()
            self.warm.append(rec)

    def warmup_s(self) -> tuple:
        return (sum(adjusted_ms(s) for s in self.warm) / 1000.0,
                sum(s["end"] - s["start"] for s in self.warm) / 1000.0)

    # ---- the study load ----------------------------------------------
    def load_study(self, f) -> list:
        """ingest_study → append gwas / no_gwas_result → build_combined →
        build_marker_index, each in a span; returns the spans."""
        from gwasdb_spark.gwas.ingest import RawStudyInputs, ingest_study

        inputs = RawStudyInputs(gwas_tsv=f.gwas_glob, hwe_tsv=f.hwe_glob, mfi_tsv=f.mfi_glob)
        n0 = len(self.spans.items)
        with self.span("ingest.ingest_study"):
            rows, tombs = ingest_study(self.spark, inputs, f.study_id, marker=self.wh.read("marker"))
        with self.span("warehouse.append", table="gwas"):
            self.wh.append("gwas", rows)
        with self.span("warehouse.append", table="no_gwas_result"):
            self.wh.append("no_gwas_result", tombs)
        with self.span("warehouse.build_combined"):
            self.wh.build_combined()
        with self.span("warehouse.build_marker_index"):
            self.wh.build_marker_index()
        return self.spans.items[n0:]

    def load_stats(self) -> dict:
        """Per-study load figures: the median study's load time and jobs,
        its publish time, and raw rows per second over all loads."""
        total, jobs, ingest_ms, publish_ms = [], [], 0.0, []
        for spans in self.loads:
            dur: dict = {}
            for s in spans:
                dur[s["name"]] = dur.get(s["name"], 0.0) + s["end"] - s["start"]
            total.append(sum(adjusted_ms(s) for s in spans))
            jobs.append(sum(s["jobs"] for s in spans))
            ingest_ms += dur["ingest.ingest_study"] + dur["warehouse.append"]
            publish_ms.append(dur["warehouse.build_combined"] + dur["warehouse.build_marker_index"])
        rows = sum(f.n_rows for f in self.studies[: len(self.loads)])
        return {
            "write_ms": (statistics.median(total), "ms"),
            "write_jobs": (statistics.median(jobs), "jobs/op"),
            "ingest_rows_per_s": (rows / (ingest_ms / 1000.0), "rows/s"),
            "publish_s": (statistics.median(publish_ms) / 1000.0, "s"),
        }

    def check_load(self) -> bool:
        from pyspark.sql import functions as F

        loaded = self.studies[: len(self.loads)]
        want = {
            "gwas": sum(len(f.survivors) for f in loaded),
            "no_gwas_result": sum(len(f.tombstones) for f in loaded),
            "combined": sum(len(f.survivors) for f in loaded),
            "marker_index": len(self.variants),
        }
        q = None
        for t in want:
            part = self.wh.read(t).agg(F.count(F.lit(1)).alias("n")).select(F.lit(t).alias("t"), "n")
            q = part if q is None else q.unionByName(part)
        got = {r["t"]: r["n"] for r in q.collect()}
        if self.ctx.corrupt and not self._corrupted:
            self._corrupted = True
            got["gwas"] -= 1
        return got == want or self.fail(f"load counts {got} != {want}")

    # ---- the browse loop -----------------------------------------------
    def step(self) -> bool:
        self.attempted += 1
        try:
            if len(self.loads) < len(self.studies):
                self.loads.append(self.load_study(self.studies[len(self.loads)]))
                with self.spans.span("check.load"):
                    ok = self.check_load()
                if len(self.loads) == len(self.studies):
                    self.warm_up()
            else:
                ok = self.browse()
        except Exception as e:  # noqa: BLE001 - every failure is counted
            ok = self.fail(f"{type(e).__name__}: {e}")
        if not ok:
            self.failed += 1
        return True

    def browse(self) -> bool:
        if not self.plan:
            self.plan = self.block()
        fn, args = self.plan.pop()
        with self.read_span(f"api.{fn}", lambda: self.query(fn, args).collect()) as rec:
            df = self.query(fn, args)
            rec["plan_ms"] = now_ms() - rec["start"]  # the call, before collect
            rows = df.collect()
        rec["rows"] = len(rows)
        self.lat_ms.append(rec["end"] - rec["start"])
        kind = fn + ("" if fn != "markers_by_probe" or args[0].startswith("^") else ".unanchored")
        self.lat_by_fn.setdefault(kind, []).append(adjusted_ms(rec))
        self.read_jobs.append(rec["jobs"])
        with self.spans.span("check.browse"):
            if fn == "locus_window":
                got = [(r["kgp_id"], r["study_id"]) for r in rows]
            else:
                got = [tuple(r) for r in rows]
            got = self.corrupt(got)
            want = self.truth(fn, args)
            return self.same(fn, got, want) or self.fail(
                f"{fn}{args}: got {len(got)} rows, want {len(want)}"
            )

    def block(self) -> list:
        """One block of queries: each api function once, anchored at a
        peak variant, and one probe for a `:pos_ref` fragment of a random
        variant, which has no literal prefix and scans the whole marker
        index. Shuffled, then consumed from the end."""
        out = [self.draw(fn, self.rng.choice(self.peaks)) for fn in self.MIX]
        v = self.rng.choice(self.variants)
        out.append(("markers_by_probe", (f":{v.pos}_{v.ref}",)))
        self.rng.shuffle(out)
        return out

    def draw(self, fn: str, v) -> tuple:
        lo, hi = v.pos - self.FLANK, v.pos + self.FLANK
        if fn == "markers_by_region":
            return fn, (v.chr, lo, hi)
        if fn == "markers_by_probe":
            # a partial id as a user types it: chr:pos minus its last 2 digits
            return fn, ("^" + v.kgp_id.split("_")[0][:-2],)
        if fn in ("marker_exact", "locus_window"):
            return fn, (v.kgp_id,)
        return fn, (v.chr, lo, hi)

    def query(self, fn: str, args: tuple):
        from gwasdb_spark.gwas import api

        if fn == "locus_window":
            return api.locus_window(self.wh, args[0], self.FLANK)
        return getattr(api, fn)(self.wh, *args)

    @staticmethod
    def same(fn: str, got: list, want: list) -> bool:
        if fn in ("markers_by_region", "markers_by_probe"):
            return got == want  # ordered results
        if fn == "combined_region":
            norm = lambda rs: sorted((c, p, round(n, 6), s) for c, p, n, s in rs)  # noqa: E731
            return norm(got) == norm(want)
        return sorted(got) == sorted(want)

    def _window(self, chrom: int, lo: int, hi: int) -> list:
        ps, vs = self.pos_of.get(chrom, []), self.by_chr.get(chrom, [])
        return vs[bisect.bisect_left(ps, lo): bisect.bisect_right(ps, hi)]

    def truth(self, fn: str, args: tuple) -> list:
        if fn == "markers_by_region":
            return [(v.chr, v.pos, v.kgp_id) for v in self._window(*args)]
        if fn == "markers_by_probe":
            pat = args[0]
            if pat.startswith("^"):
                pre = pat[1:]
                i = bisect.bisect_left(self.names, pre)
                hits = []
                while i < len(self.names) and self.names[i].startswith(pre):
                    hits.append(self.names[i])
                    i += 1
            else:
                rx = re.compile(pat)
                hits = [k for k in self.names if rx.search(k)]
            vs = sorted((self.var_of[k] for k in hits), key=lambda v: (v.chr, v.pos))
            return [(v.chr, v.pos, v.kgp_id) for v in vs]
        if fn == "marker_exact":
            v = self.var_of[args[0]]
            return [(v.chr, v.pos, v.kgp_id)]
        if fn == "locus_window":
            a = self.var_of[args[0]]
            return [
                (v.kgp_id, f.study_id)
                for f in self.studies
                for v in self._window(a.chr, a.pos - self.FLANK, a.pos + self.FLANK)
                if v.kgp_id in f.survivors
            ]
        return [
            (v.chr, v.pos, f.nlp[v.kgp_id], f.name)
            for f in self.studies
            for v in self._window(*args)
            if v.kgp_id in f.survivors
        ]

    def finish(self) -> dict:
        return {
            **self.load_stats(),
            "read_ms": (gmean_of_medians(self.lat_by_fn), "ms"),
            "read_jobs": (statistics.mean(self.read_jobs), "jobs/op"),
            "browse_p50_ms": (statistics.median(self.lat_ms), "ms"),
            "unanchored_probes": (float(len(self.lat_by_fn.get("markers_by_probe.unanchored", []))), "count"),
        }


# -- maintain ----------------------------------------------------------------

ACID_SCHEMA = (
    "kgp_id string, study_id int, stat double, se double, "
    "neg_log10_p double, impute_score double"
)
TOKEN = re.compile(r"[^a-z0-9]+")


def bm25_replay(docs: dict, terms: list, k: int, k1: float = 1.2, b: float = 0.75) -> list:
    """Okapi BM25 top-k over a plain dict corpus: the pure-Python twin of
    the program's `bm25_topk`, scored in the same order and rounded to
    6 places. Returns [(doc, score)] by (score desc, doc asc)."""
    tf: dict = {}
    dl: dict = {}
    for d, text in docs.items():
        toks = [t for t in TOKEN.split(text.lower().strip()) if t]
        if not toks:
            continue
        dl[d] = len(toks)
        for t in toks:
            tf.setdefault(t, {}).setdefault(d, 0)
            tf[t][d] += 1
    n_docs = float(len(docs))
    avgdl = sum(dl.values()) / len(dl)
    scores: dict = {}
    for t in sorted({t.lower() for t in terms}):
        post = tf.get(t, {})
        idf = math.log((n_docs - len(post) + 0.5) / (len(post) + 0.5) + 1.0)
        for d, f in post.items():
            s = (idf * (f * (k1 + 1.0))) / (f + k1 * (1.0 - b + b * dl[d] / avgdl))
            scores[d] = scores.get(d, 0.0) + s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(d, round(s, 6)) for d, s in ranked]


class Maintain(Workload):
    """Incremental writes beside reads, one client, in a fixed cycle:
    AcidTable MERGE / pruned DELETE / pruned UPDATE (the comma-suffix
    fixup) / APPEND with point `read_where` lookups between them, and ANN
    cell-index and BM25 text-index maintenance batches with top-k queries
    between them. Every read is checked against a pure-Python replay."""

    name = "maintain"
    CYCLE = (
        "append", "merge", "read", "upsert_cells", "graph_topk", "delete",
        "read", "update_text", "bm25_topk", "update", "read",
    )
    K = 10

    # ---- generation ----------------------------------------------------
    def generate(self):
        r, sz = self.rng, self.sz
        self.next_pos = 10_000
        self.rows: dict = {}  # (kgp_id, study_id) -> row tuple
        self.study_keys: dict = {}
        groups = []
        for sid in range(1, sz["acid_studies"] + 1):
            g = []
            for _ in range(sz["acid_rows"]):
                kgp = self.new_kgp()
                if r.random() < 0.02:  # the comma leak the reference fixes up
                    kgp = f"{kgp},{kgp.split(':')[1].split('_')[0]}"
                g.append(self.new_row(kgp, sid))
            groups.append(g)
        self.groups = groups
        self.load_group(0)
        dim = sz["ann_dim"]
        self.vectors = {i: make_vector(r, dim) for i in range(sz["ann_vectors"])}
        self.next_vec = sz["ann_vectors"]
        self.docs = {i: make_doc(r) for i in range(sz["docs"])}
        self.next_doc = sz["docs"]
        self.cycle_i = 0

    def new_kgp(self) -> str:
        self.next_pos += self.rng.randrange(1, 400)
        a, b = self.rng.sample(("A", "C", "G", "T"), 2)
        return f"{self.rng.randrange(1, 23)}:{self.next_pos}_{a}_{b}"

    def new_row(self, kgp: str, sid: int) -> tuple:
        r = self.rng
        return (kgp, sid, round(r.lognormvariate(0, 0.1), 4), round(r.random() * 0.2, 4),
                round(r.expovariate(1.0), 4), round(r.uniform(0.3, 1.0), 4))

    # ---- set-up --------------------------------------------------------
    def build(self):
        from gwasdb_spark.acid.table_log import AcidTable
        from gwasdb_spark.operators.ann_graph import build_graph_sidecar
        from gwasdb_spark.operators.ann_index import build_cell_index
        from gwasdb_spark.operators.search import build_text_index

        spark = self.spark = self.ctx.spark
        self.acid_dir = self.root + "/acid"
        self.ann_dir = self.root + "/ann"
        self.text_dir = self.root + "/text"

        def acid():
            self.table = AcidTable.create(
                spark, self.acid_dir, spark.createDataFrame(self.groups[0], ACID_SCHEMA),
                bloom_cols=["kgp_id"],
            )

        def ann():
            build_cell_index(self.vec_df(self.vectors.items()), self.ann_dir)
            build_graph_sidecar(spark, self.ann_dir, R=8)

        parallel(acid, ann, lambda: build_text_index(self.doc_df(self.docs.items()), self.text_dir))
        self.warm_up()
        self.lat: dict = {"commit": [], "index": [], "read": [], "topk": []}
        self.lat_by_fn: dict = {}
        self.jobs: dict = {True: [], False: []}
        self.written = 0
        self.payload = 0
        self.rewrite: dict = {}  # commit name -> [rows written, rows changed]
        self.touched_cells: list = []

    def warm_up(self) -> None:
        """One unchecked call of each read the cycle times, so the timed
        reads are not the JVM's first run of their plans. Writes are not
        warmed: a write changes the stores the replay models."""
        from gwasdb_spark.acid.predicates import And, Eq
        from gwasdb_spark.operators.ann_graph import graph_probe_persisted
        from gwasdb_spark.operators.search import bm25_topk_indexed

        key = self.groups[0][0][0]
        self.table.read_where(And(Eq("study_id", 1), Eq("kgp_id", key))).collect()
        graph_probe_persisted(self.spark, self.ann_dir, self.probe_df({-1: self.vectors[0]}),
                              k=self.K, ef=0).collect()
        bm25_topk_indexed(self.spark, self.text_dir, [WORDS_FOR_QUERIES[0]], k=self.K).collect()

    def probe_df(self, queries: dict):
        """Graph probes for every cell: flat regime, so top-k is exact."""
        dim = self.sz["ann_dim"]
        return self.spark.createDataFrame(
            [(q, [float(x) for x in v], c) for q, v in queries.items() for c in range(1, dim + 1)],
            "query_id long, q_vec array<float>, cell int",
        )

    def vec_df(self, items):
        return self.spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in items],
            "vec_id long, embedding array<float>",
        )

    def doc_df(self, items):
        return self.spark.createDataFrame([(int(i), t) for i, t in items], "doc_id long, text string")

    # ---- the loop ------------------------------------------------------
    def step(self) -> bool:
        for op in self.CYCLE:
            self.attempted += 1
            try:
                ok = getattr(self, "op_" + op)()
            except Exception as e:  # noqa: BLE001 - every failure is counted
                ok = self.fail(f"{op}: {type(e).__name__}: {e}")
            if not ok:
                self.failed += 1
        self.cycle_i += 1
        if self.cycle_i == 1:
            self.space_amp = self.measure_space_amp()
        return True

    def timed_call(self, kind: str, name: str, store: str, payload: int, fn, *args, **kw):
        """Run one program call in a span; for writes, count the bytes
        the call left under its store directory against its payload."""
        before = tree_files(store) if kind in ("commit", "index") else None
        if kind in ("read", "topk"):
            span = self.read_span(name, lambda: fn(*args, **kw).collect())
        else:
            span = self.span(name)
        with span as rec:
            out = fn(*args, **kw)
            if kind in ("read", "topk"):
                out = out.collect()
        self.lat[kind].append(rec["end"] - rec["start"])
        writes = kind in ("commit", "index")
        self.lat_by_fn.setdefault((writes, name), []).append(adjusted_ms(rec))
        self.jobs[writes].append(rec["jobs"])
        if before is not None:
            after = tree_files(store)
            self.written += sum(v[0] for p, v in after.items() if before.get(p) != v)
            self.payload += payload
        return out

    # ---- AcidTable ops ---------------------------------------------------
    def load_group(self, i: int) -> int:
        """Replay a study's rows into the model; returns its study id."""
        sid = i + 1
        for row in self.groups[i]:
            self.rows[(row[0], sid)] = row
        self.study_keys[sid] = [row[0] for row in self.groups[i]]
        return sid

    def pick_study(self) -> int:
        return self.rng.choice(sorted(self.study_keys))

    def live_keys(self, sid: int) -> list:
        return [k for k in self.study_keys[sid] if (k, sid) in self.rows]

    def commit(self, name: str, changed: int, payload: int, fn, *args):
        v0 = self.table.latest_version()
        self.timed_call("commit", name, self.acid_dir, payload, fn, *args)
        added = self.new_group_rows(v0)
        cur = self.rewrite.setdefault(name, [0, 0])
        cur[0] += added
        cur[1] += changed

    def manifest(self, v: int) -> dict:
        import json

        with open(os.path.join(self.acid_dir, "_log", f"{v:08d}.json")) as fh:
            return json.load(fh)

    def new_group_rows(self, v0: int) -> int:
        old = set(self.manifest(v0)["file_groups"])
        m = self.manifest(self.table.latest_version())
        return sum(
            next(iter(m["stats"][g].values()))[3] for g in m["file_groups"] if g not in old
        )

    def op_merge(self) -> bool:
        sid = self.pick_study()
        keys = self.rng.sample(self.live_keys(sid), 50)
        batch = [self.new_row(k, sid) for k in keys] + [self.new_row(self.new_kgp(), sid) for _ in range(50)]
        for row in batch:
            self.rows[(row[0], sid)] = row
            if row[0] not in keys:
                self.study_keys[sid].append(row[0])
        self.commit("acid.merge", len(batch), payload_bytes(batch), self.table.merge,
                    self.spark.createDataFrame(batch, ACID_SCHEMA), ["kgp_id", "study_id"])
        self.last_key = (batch[0][0], sid)
        return True

    def op_delete(self) -> bool:
        from gwasdb_spark.acid.predicates import And, Eq, IsIn

        sid = self.pick_study()
        keys = self.rng.sample(self.live_keys(sid), 5)
        for k in keys:
            del self.rows[(k, sid)]
        self.commit("acid.delete_where", len(keys), payload_bytes([keys]), self.table.delete_where,
                    And(Eq("study_id", sid), IsIn("kgp_id", keys)))
        self.last_key = (keys[0], sid)
        return True

    def op_update(self) -> bool:
        from pyspark.sql import functions as F

        from gwasdb_spark.acid.predicates import And, Eq, IsIn

        for _ in range(self.sz["acid_studies"]):
            sid = self.pick_study()
            keys = [k for k in self.live_keys(sid) if "," in k][:3]
            if keys:
                break
        if not keys:  # no comma ids left: a no-op fixup still commits
            sid, keys = self.pick_study(), ["0:0_A_C,0"]
        for k in keys:
            if (k, sid) in self.rows:
                row = self.rows.pop((k, sid))
                fixed = k.split(",")[0]
                self.rows[(fixed, sid)] = (fixed, *row[1:])
                self.study_keys[sid].append(fixed)
        self.commit("acid.update_set", len(keys), payload_bytes([keys]), self.table.update_set,
                    And(Eq("study_id", sid), IsIn("kgp_id", keys)),
                    {"kgp_id": F.expr("substr(kgp_id, 1, instr(kgp_id, ',') - 1)")})
        self.last_key = (keys[0].split(",")[0], sid)
        return True

    def op_append(self) -> bool:
        """Load the next study's rows as a new file group (a new study's
        INSERT); once every generated study is in, append 50 new rows."""
        i = len(self.study_keys)
        if i < len(self.groups):
            batch = self.groups[i]
            sid = self.load_group(i)
        else:
            sid = self.pick_study()
            batch = [self.new_row(self.new_kgp(), sid) for _ in range(50)]
            for row in batch:
                self.rows[(row[0], sid)] = row
                self.study_keys[sid].append(row[0])
        self.commit("acid.append", len(batch), payload_bytes(batch), self.table.append,
                    self.spark.createDataFrame(batch, ACID_SCHEMA))
        self.last_key = (batch[-1][0], sid)
        return True

    def op_read(self) -> bool:
        from gwasdb_spark.acid.predicates import And, Eq

        key = getattr(self, "last_key", None)
        if key is None or self.rng.random() < 0.5:
            sid = self.pick_study()
            key = (self.rng.choice(self.study_keys[sid]), sid)
        got = self.timed_call("read", "acid.read_where", self.acid_dir, 0, self.table.read_where,
                              And(Eq("study_id", key[1]), Eq("kgp_id", key[0])))
        got = self.corrupt([tuple(r) for r in got])
        want = [self.rows[key]] if key in self.rows else []
        if got != want:
            self.errors.append(f"read_where{key}: {got} != {want}")
            return False
        return True

    # ---- ANN cell index + graph sidecar --------------------------------
    def op_upsert_cells(self) -> bool:
        from gwasdb_spark.operators.ann_index import upsert_cell_index

        dim = self.sz["ann_dim"]
        ids = self.rng.sample(sorted(self.vectors), 10) + list(range(self.next_vec, self.next_vec + 10))
        self.next_vec += 10
        batch = [(i, make_vector(self.rng, dim)) for i in ids]
        self.vectors.update(batch)
        out = self.timed_call("index", "ann_index.upsert_cell_index", self.ann_dir, payload_bytes(batch),
                              upsert_cell_index, self.spark, self.ann_dir, self.vec_df(batch))
        self.touched_cells.append(len(out["touched_cells"]))
        return True

    def op_graph_topk(self) -> bool:
        import numpy as np

        from gwasdb_spark.operators.ann_graph import graph_probe_persisted

        dim = self.sz["ann_dim"]
        queries = {10**9 + j: make_vector(self.rng, dim) for j in range(2)}
        rows = self.timed_call("topk", "ann_graph.graph_probe_persisted", self.ann_dir, 0,
                               graph_probe_persisted, self.spark, self.ann_dir, self.probe_df(queries),
                               k=self.K, ef=0)
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
        if got:
            first = min(got)
            got[first] = self.corrupt(sorted(got[first]))
        ids = np.array(sorted(self.vectors))
        M = np.array([self.vectors[i] for i in ids], dtype=np.float32).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
        for q, v in queries.items():
            qv = np.array(v, dtype=np.float32).astype(np.float64)
            sims = M @ (qv / np.linalg.norm(qv))
            order = np.lexsort((ids, -sims))[: self.K]
            want = [int(ids[i]) for i in order]
            have = [n for _, n, _ in sorted(got.get(q, []))]
            if have != want:
                self.errors.append(f"graph top-k for {q}: {have} != {want}")
                return False
        return True

    # ---- BM25 text index -----------------------------------------------
    def op_update_text(self) -> bool:
        from gwasdb_spark.operators.search import update_text_index

        batch = [(self.next_doc + j, make_doc(self.rng)) for j in range(20)]
        self.next_doc += 20
        self.docs.update(batch)
        self.timed_call("index", "search.update_text_index", self.text_dir, payload_bytes(batch),
                        update_text_index, self.doc_df(batch), self.text_dir)
        return True

    def op_bm25_topk(self) -> bool:
        from gwasdb_spark.operators.search import bm25_topk_indexed

        terms = self.rng.sample(WORDS_FOR_QUERIES, self.rng.randrange(1, 4))
        rows = self.timed_call("topk", "search.bm25_topk_indexed", self.text_dir, 0,
                               bm25_topk_indexed, self.spark, self.text_dir, terms, k=self.K)
        got = self.corrupt([(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])])
        want = bm25_replay(self.docs, terms, self.K)
        same = len(got) == len(want) and all(
            g[0] == w[0] and abs(g[1] - w[1]) <= 1e-5 for g, w in zip(got, want)
        )
        if not same:
            self.errors.append(f"bm25 {terms}: {got} != {want}")
        return same

    # ---- end of run ----------------------------------------------------
    def measure_space_amp(self) -> float:
        live = sum(
            os.path.getsize(os.path.join(d, f))
            for g in self.manifest(self.table.latest_version())["file_groups"]
            for d, _, fs in os.walk(os.path.join(self.acid_dir, "data", g))
            for f in fs
        )
        other = tree_bytes(self.ann_dir) + tree_bytes(self.text_dir)
        disk = tree_bytes(self.acid_dir) + other
        return disk / (live + other)

    def finish(self) -> dict:
        self.attempted += 1
        with self.spans.span("check.snapshot"):
            got = sorted(tuple(r) for r in self.table.read().collect())
        if got != sorted(self.rows.values()):
            self.failed += 1
            self.errors.append(f"snapshot: {len(got)} rows != replay {len(self.rows)}")
        return {
            "write_ms": (gmean_of_medians({k: v for k, v in self.lat_by_fn.items() if k[0]}), "ms"),
            "read_ms": (gmean_of_medians({k: v for k, v in self.lat_by_fn.items() if not k[0]}), "ms"),
            "write_jobs": (statistics.mean(self.jobs[True]), "jobs/op"),
            "read_jobs": (statistics.mean(self.jobs[False]), "jobs/op"),
            "commit_p50_ms": (statistics.median(self.lat["commit"]), "ms"),
            "index_update_p50_ms": (statistics.median(self.lat["index"]), "ms"),
            "snapshot_read_p50_ms": (statistics.median(self.lat["read"]), "ms"),
            "topk_p50_ms": (statistics.median(self.lat["topk"]), "ms"),
            "write_amp": (self.written / self.payload, "ratio"),
            "space_amp": (self.space_amp, "ratio"),
        }

    def layer_extras(self) -> dict:
        out = {
            f"{name}.rewrite_rows_per_changed_row": written / max(1, changed)
            for name, (written, changed) in self.rewrite.items()
            if name != "acid.append"  # an append rewrites nothing
        }
        out["ann_index.upsert.touched_cells"] = statistics.mean(self.touched_cells)
        return out


WORDS_FOR_QUERIES = (
    "allele", "locus", "variant", "gene", "signal", "peak", "urate",
    "gout", "kidney", "lipid", "receptor", "pathway", "cohort",
)

WORKLOADS = {w.name: w for w in (LoadBrowse, Maintain)}
