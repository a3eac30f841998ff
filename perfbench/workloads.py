"""The two workloads and the traced run's layer probes.

``build``: repeated full builds of one generated corpus, each into a
fresh root, read from parquet written once in set-up. No queries run.

``serve``: one index built in set-up; a single client in a closed loop
cycles through single queries (``search_wand`` 40 %, ``search_exact``
20 %, ``search_wand`` + ``hydrate`` 20 %, ``facet_counts`` 20 %) and a
``search_wand_many`` batch of the whole query pool after each cycle.
Kinds and query texts keep a fixed order, and every pool slot has a
fixed shape (see ``query_pool``), so every run, whatever its seed, has
the same mix of work; a seeded draw of kinds and texts moved the median
by the mix alone.

With tracing on, every second build, or every second serve cycle with
its batch, is traced (the untraced ones measure tracing overhead).
After the loop, the layer probes and one refresh cycle
(``update_index``, ``delete_docs``, every query kind on the two-segment
tombstoned index, wand/exact through the distributed dictionary,
``compact_segments``) run on the workload's own index, so every layer
reports in either workload.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.common import dir_bytes, median, tail
from perfbench.expect import KEY, Expected, with_content
from seqr_loading_pipelines_spark.corpus import generate_corpus
from seqr_loading_pipelines_spark.functions.tokenizer import (
    index_tokenize,
    term_counts_arrow_project,
    tokenize_py,
)
from seqr_loading_pipelines_spark.index.build import (
    IndexBuilder,
    load_docs,
    load_index,
)
from seqr_loading_pipelines_spark.index.codec import varbyte_decode
from seqr_loading_pipelines_spark.index.deletes import delete_docs
from seqr_loading_pipelines_spark.index.merge import compact_segments, update_index
from seqr_loading_pipelines_spark.query.bm25 import hydrate, search_exact
from seqr_loading_pipelines_spark.query.facets import facet_counts
from seqr_loading_pipelines_spark.query.wand import search_wand, search_wand_many

K = 10
N_REPOS = 50
# 300 frequent non-stop terms plus the 20 stop-words (bin/query_bench.py)
QUERY_VOCAB = [f"term_{i:05d}" for i in range(300)] + [f"sw{i}" for i in range(20)]
SINGLE_KINDS = ["wand", "exact", "hydrate", "facet"]
# one cycle of the closed loop; a batch follows every cycle
CYCLE = ["wand", "exact", "wand", "hydrate", "facet"]

# docs per corpus, and query texts in the pool (a batch is the whole pool)
SCALES = {
    "full": {"docs": 15000, "pool": 100},
    # the self-test's size: every code path, a few seconds of work
    "tiny": {"docs": 1500, "pool": 8},
}
# the refresh cycle's update batch, as a share of the base corpus
UPDATE_FRAC = 0.1


class Run:
    """State of one benchmark run: session, scratch dir, seed, size,
    tracer, gate and CPU clock, plus the samples the workload records."""

    def __init__(self, spark, work, seed, scale, tracer, gate, cpu):
        self.spark, self.work, self.seed = spark, work, seed
        self.scale, self.tracer, self.gate, self.cpu = scale, tracer, gate, cpu
        self.rng = np.random.default_rng(seed)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.overhead: dict[bool, list[float]] = {True: [], False: []}
        self.layer: dict[str, float] = {}
        self.pool: list[str] = []

    def traced(self, unit: int) -> bool:
        """Whether the ``unit``-th build or serve cycle is traced."""
        return self.tracer.enabled and unit % 2 == 0


def write_corpus(spark, path: str, n: int, seed: int) -> pd.DataFrame:
    generate_corpus(spark, n, n_repos=N_REPOS, seed=seed).write.parquet(path)
    return pq.read_table(path).to_pandas()


def content_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["content"].fillna("").str.encode("utf-8").str.len().sum())


def query_pool(rng, n: int) -> list[str]:
    """``n`` distinct query texts of a fixed shape per slot.

    Slot ``j`` has ``2 + j % 3`` terms, each from its own band of 30
    adjacent frequency ranks of the 300 terms, and every second slot
    ends with a stop-word instead. The seed picks only the terms inside
    the bands, so the pools of two seeds cost about the same to serve.
    """
    out: list[str] = []
    while len(out) < n:
        j = len(out)
        words = [
            QUERY_VOCAB[30 * ((j + 3 * i) % 10) + int(rng.integers(30))]
            for i in range(2 + j % 3)
        ]
        if j % 2 == 0:
            words[-1] = f"sw{int(rng.integers(20))}"
        text = " ".join(words)
        if text not in out:
            out.append(text)
    return out


def doc_keys(spark, root: str) -> pd.DataFrame:
    """Engine doc ids with their source keys, from the doc store."""
    manifest = load_index(spark, root)["manifest"]
    return load_docs(spark, root, manifest).select("doc_id", *KEY).toPandas()


def _ranked(rows) -> list[int]:
    return [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])]


# ------------------------------------------------------------ query ops


def query_op(
    run: Run, idx: dict, kind: str, text: str, exp: Expected, shas,
    plan: str = "query.plan",
) -> None:
    """One single query of ``kind``, timed by the caller, answer gated;
    ``plan`` names the span of a wand/exact call up to its lazy result."""
    spark, tr = run.spark, run.tracer
    if kind in ("wand", "exact"):
        fn = search_wand if kind == "wand" else search_exact
        with tr.span(plan):
            df = fn(spark, idx, text, K)
        with tr.span("query.exec"):
            rows = df.collect()
        run.gate.check(f"{kind} {text!r}", _ranked(rows), exp.topk(text))
    elif kind == "hydrate":
        with tr.span("query.plan"):
            df = search_wand(spark, idx, text, K)
        with tr.span("hydrate"):
            rows = hydrate(idx, df).collect()
        got = (_ranked(rows), all(shas.get(tuple(r[c] for c in KEY)) == r["sha256"] for r in rows))
        run.gate.check(f"hydrate {text!r}", got, (exp.topk(text), True))
    else:
        with tr.span("facet.plan"):
            df = facet_counts(spark, idx, text, "lang")
        with tr.span("facet.exec"):
            rows = df.collect()
        got = [(r["lang"], r["n_docs"]) for r in rows]
        run.gate.check(f"facet {text!r}", got, exp.facets(text))


def batch_op(run: Run, idx: dict, texts: list[str], exp: Expected) -> None:
    queries = {f"q{i}": t for i, t in enumerate(texts)}
    with run.tracer.span("batch.plan"):
        df = search_wand_many(run.spark, idx, queries, K)
    with run.tracer.span("batch.exec"):
        rows = df.collect()
    by_q: dict[str, list] = defaultdict(list)
    for r in rows:
        by_q[r["query_id"]].append(r)
    got = {q: _ranked(by_q.get(q, [])) for q in queries}
    run.gate.check("batch", got, {q: exp.topk(t) for q, t in queries.items()})


def timed(run: Run, name: str, traced: bool, fn) -> tuple[float, float] | None:
    """Run ``fn`` as one op; (wall_s, cpu_s), or None when it raised."""
    c0, t0 = run.cpu.seconds(), time.perf_counter()
    try:
        with run.tracer.op(f"op.{name}", traced=traced):
            fn()
    except Exception as exc:  # an op boundary: count it and keep going
        run.gate.error(name, exc)
        return None
    return time.perf_counter() - t0, run.cpu.seconds() - c0


# --------------------------------------------------------------- build


class BuildWorkload:
    name = "build"

    def __init__(self, run: Run):
        self.run = run
        self.src = os.path.join(run.work, "src_build")

    def _build(self, i: int, traced: bool):
        run = self.run
        root = os.path.join(run.work, f"idx_build_{i}")
        out: dict = {}

        def go():
            with run.tracer.span("build") as sp:
                out["m"] = IndexBuilder(run.spark, root).build(
                    run.spark.read.parquet(self.src), f"build-{i}",
                )
            for stage, st in out["m"]["metrics"]["stages"].items():
                run.tracer.add_reported(sp, f"build.stage.{stage}", st["wall_s"], cpu_s=st.get("cpu_s"))

        res = timed(run, "build", traced, go)
        if res is not None:
            m = out["m"]
            got = {k: m[k] for k in ("n_docs", "n_terms", "sum_dl")}
            run.gate.check(f"build {i} manifest", got, self.want)
            for stage, st in m["metrics"]["stages"].items():
                for key in ("wall_s", "cpu_s"):
                    if key in st:
                        run.samples[f"build.stage.{stage}.{key}"].append(st[key])
        return root, res

    def setup(self) -> None:
        run = self.run
        self.pdf = write_corpus(run.spark, self.src, run.scale["docs"], run.seed)
        self.exp = Expected(self.pdf.assign(doc_id=np.arange(len(self.pdf))), QUERY_VOCAB)
        self.want = self.exp.build_counts()
        run.pool = query_pool(run.rng, run.scale["pool"])
        # warm-up builds: JIT, Python workers, parquet readers; until the
        # third, a build took up to 30 % longer than a warm one
        self.warm_root, _ = self._build(-1, traced=False)
        for i in (-2, -3):
            shutil.rmtree(self._build(i, traced=False)[0], ignore_errors=True)
        run.samples.clear()
        self.source_bytes = content_bytes(self.pdf)
        run.samples["index_bytes_per_source_byte"].append(
            dir_bytes(self.warm_root) / self.source_bytes,
        )

    def loop(self, deadline: float) -> None:
        run, i = self.run, 0
        while time.perf_counter() < deadline:
            traced = run.traced(i)
            root, res = self._build(i, traced)
            shutil.rmtree(root, ignore_errors=True)
            if res is not None:
                wall, cpu = res
                run.samples["build_s"].append(wall)
                run.samples["build_cpu_s"].append(cpu)
                run.overhead[traced].append(wall)
            i += 1

    def end_to_end(self) -> tuple[dict, dict]:
        """(bounded metrics by name, detail metrics with their units)."""
        s = self.run.samples
        values = {
            "op_p50_ms": median(s["build_s"]) * 1e3,
            # docs over the summed build time: a sum over the run varies
            # less than the median of its few builds
            "work_per_s": self.want["n_docs"] * len(s["build_s"]) / max(sum(s["build_s"]), 1e-9),
            "cpu_s_per_op": sum(s["build_cpu_s"]) / max(len(s["build_cpu_s"]), 1),
            "index_bytes_per_source_byte": median(s["index_bytes_per_source_byte"]),
        }
        return values, {
            "build_docs_per_s": (values["work_per_s"], "1/s"),
            "build_cpu_s": (values["cpu_s_per_op"], "s"),
            "build_max_ms": (max(s["build_s"], default=0.0) * 1e3, "ms"),
            "builds": (len(s["build_s"]), "count"),
            "build_n_docs": (self.want["n_docs"], "count"),
        }

    def probe_target(self):
        return self.src, self.warm_root, [self.pdf]


# --------------------------------------------------------------- serve


class ServeWorkload:
    name = "serve"

    def __init__(self, run: Run):
        self.run = run
        self.src = os.path.join(run.work, "src_serve")
        self.root = os.path.join(run.work, "idx_serve")

    def setup(self) -> None:
        run, spark = self.run, self.run.spark
        self.pdf = write_corpus(spark, self.src, run.scale["docs"], run.seed)
        m = IndexBuilder(spark, self.root).build(spark.read.parquet(self.src), "serve")
        for stage, st in m["metrics"]["stages"].items():
            for key in ("wall_s", "cpu_s"):
                if key in st:
                    run.samples[f"build.stage.{stage}.{key}"].append(st[key])
        self.idx = load_index(spark, self.root)
        keys = doc_keys(spark, self.root)
        run.gate.check_docs("serve doc set", keys, self.pdf)
        self.exp = Expected(with_content(keys, [self.pdf]), QUERY_VOCAB)
        self.shas = self.exp.sha_by_key()
        run.pool = query_pool(run.rng, run.scale["pool"])
        self.exp.prepare(run.pool)
        # warm-up: two whole cycles of the mix (dictionary cache, JIT,
        # workers); a cycle's mean latency fell by a quarter over the
        # first three cycles of a run
        for c in range(2):
            for j, kind in enumerate(CYCLE):
                text = run.pool[(-1 - c * len(CYCLE) - j) % len(run.pool)]
                timed(run, kind, False, lambda k=kind, t=text: query_op(
                    run, self.idx, k, t, self.exp, self.shas))
            timed(run, "batch", False, lambda: batch_op(run, self.idx, run.pool, self.exp))
        run.samples["index_bytes_per_source_byte"].append(
            dir_bytes(self.root) / content_bytes(self.pdf),
        )

    def loop(self, deadline: float) -> None:
        run, i, every, pool = self.run, 0, len(CYCLE) + 1, self.run.pool
        singles, wall, cpu = [], 0.0, 0.0  # of the current cycle
        while time.perf_counter() < deadline:
            traced = run.traced(i // every)
            if i % every == len(CYCLE):
                res = timed(run, "batch", traced, lambda: batch_op(run, self.idx, pool, self.exp))
                if res is not None:
                    run.samples["batch_s"].append(res[0])
                    if len(singles) == len(CYCLE):
                        run.samples["cycle_query_s"].append(sum(singles) / len(singles))
                        run.samples["cycle_s"].append(wall + res[0])
                        run.samples["cycle_cpu_s"].append(cpu + res[1])
                        run.overhead[traced].append(wall + res[0])
                singles, wall, cpu = [], 0.0, 0.0
            else:
                # the n-th single op of the run takes the n-th pool text
                n = i // every * len(CYCLE) + i % every
                kind, text = CYCLE[i % every], pool[n % len(pool)]
                res = timed(run, kind, traced, lambda: query_op(
                    run, self.idx, kind, text, self.exp, self.shas))
                if res is not None:
                    run.samples[f"{kind}_s"].append(res[0])
                    run.samples["query_s"].append(res[0])
                    singles.append(res[0])
                    wall, cpu = wall + res[0], cpu + res[1]
            i += 1

    def end_to_end(self) -> tuple[dict, dict]:
        """(bounded metrics by name, detail metrics with their units).

        The bounded metrics count whole cycles (five single queries and
        a batch) only; where the deadline cut a cycle would otherwise
        swing the share of batch time, and with it the throughput.
        ``op_p50_ms`` is the median over cycles of a cycle's mean
        single-query latency: the kinds' latencies form separate
        clusters, and a median over all single queries fell in the gap
        between two of them, moving by 10 % from run to run.
        ``work_per_s`` and ``cpu_s_per_op`` count every query answered,
        single or in a batch, against the time and CPU the cycles took."""
        s = self.run.samples
        t, p = tail(s["query_s"])
        answered = max((len(CYCLE) + len(self.run.pool)) * len(s["cycle_s"]), 1)
        detail = {
            "query_p50_ms": (median(s["query_s"]) * 1e3, "ms"),
            "query_tail_ms": (t * 1e3, "ms"),
            "query_tail_pct": (p, "%"),
            "queries": (len(s["query_s"]), "count"),
            "batch_queries_per_s": (len(self.run.pool) / max(median(s["batch_s"]), 1e-9), "1/s"),
            "batches": (len(s["batch_s"]), "count"),
            "cycles": (len(s["cycle_s"]), "count"),
        }
        for kind in SINGLE_KINDS:
            detail[f"{kind}_p50_ms"] = (median(s[f"{kind}_s"]) * 1e3, "ms")
            detail[f"{kind}_n"] = (len(s[f"{kind}_s"]), "count")
        return {
            "op_p50_ms": median(s["cycle_query_s"]) * 1e3,
            "work_per_s": answered / max(sum(s["cycle_s"]), 1e-9),
            "cpu_s_per_op": sum(s["cycle_cpu_s"]) / answered,
            "index_bytes_per_source_byte": median(s["index_bytes_per_source_byte"]),
        }, detail

    def probe_target(self):
        return self.src, self.root, [self.pdf]


WORKLOADS = {w.name: w for w in (BuildWorkload, ServeWorkload)}


# ------------------------------------------------- traced-run epilogue


def _live_bytes(root: str, manifest: dict) -> int:
    dirs = set(manifest["segments"]) | {manifest["dict_segment"]}
    dirs |= {t.split("/")[0] for t in manifest.get("tombstone_dirs") or []}
    return sum(dir_bytes(os.path.join(root, d)) for d in dirs)


def _postings_files(root: str, manifest: dict) -> list[str]:
    return sorted(
        f
        for seg in manifest["segments"]
        for f in glob.glob(os.path.join(root, seg, "postings", "**", "*.parquet"), recursive=True)
    )


def layer_probes(run: Run, src: str, root: str) -> None:
    """Session floor, source scan, tokenizer, analyzer, codec and
    posting footprint, each timed around a public call."""
    spark, tr, layer = run.spark, run.tracer, run.layer
    with tr.op("probe.job_floor"):
        for _ in range(5):
            with tr.span("spark.job_floor"):
                spark.range(10).count()
    with tr.op("probe.source_scan"):
        with tr.span("source.scan"):
            spark.read.parquet(src).write.format("noop").mode("overwrite").save()
    with tr.op("probe.tokenize"):
        with tr.span("tokenize.busy"):
            term_counts_arrow_project(
                spark.read.parquet(src), ("repo", "path", "commit", "lang"),
            ).write.format("noop").mode("overwrite").save()
    idx = load_index(spark, root)
    manifest = idx["manifest"]
    took = []
    with tr.op("probe.analyze"):
        with tr.span("analyze"):
            for text in run.pool:
                t0 = time.perf_counter()
                index_tokenize(idx, text)
                took.append(time.perf_counter() - t0)
    layer["analyze.us"] = median(took) * 1e6

    files = _postings_files(root, manifest)
    blocks = pq.read_table(files, columns=["term_id", "n_docs", "doc_id_deltas"])
    payload = blocks.column("doc_id_deltas").to_pylist()
    with tr.op("probe.codec"):
        with tr.span("codec.decode"):
            t0 = time.perf_counter()
            for buf in payload:
                varbyte_decode(buf)
            took = time.perf_counter() - t0
    layer["codec.decode_mb_per_s"] = sum(map(len, payload)) / took / 1e6
    n_postings = int(pa_sum(blocks.column("n_docs")))
    layer["postings.bytes_per_posting"] = sum(map(os.path.getsize, files)) / n_postings

    # candidate blocks and row groups a query's term_id filter touches
    tdict = pq.read_table(
        os.path.join(root, manifest["dict_segment"], "term_dict"), columns=["term", "term_id"],
    ).to_pandas()
    tid_of = dict(zip(tdict["term"], tdict["term_id"]))
    term_ids = blocks.column("term_id").to_numpy()
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col = md.schema.names.index("term_id")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col).statistics
            ranges.append((st.min, st.max))
    cand, read = [], []
    for text in run.pool:
        tids = [tid_of[t] for t in set(tokenize_py(text)) if t in tid_of]
        cand.append(int(np.isin(term_ids, tids).sum()))
        read.append(sum(any(lo <= t <= hi for t in tids) for lo, hi in ranges))
    layer["postings.candidate_blocks"] = median(cand)
    layer["postings.row_groups_read"] = median(read)
    layer["postings.row_groups_total"] = len(ranges)


def pa_sum(col) -> int:
    import pyarrow.compute as pc

    return pc.sum(col).as_py() or 0


def refresh_cycle(run: Run, root: str, sources: list[pd.DataFrame]) -> None:
    """update -> delete ~1 % -> every query kind, and wand/exact once more
    through the distributed dictionary -> compact -> wand, on ``root``;
    the doc set and the answers gated against the live source rows."""
    spark, layer = run.spark, run.layer
    n_new = max(1, int(UPDATE_FRAC * len(sources[0])))
    upd_src = os.path.join(run.work, "src_update")
    upd = write_corpus(spark, upd_src, n_new, run.seed + 104729)
    sources = sources + [upd]
    out: dict = {}

    def do_update():
        with run.tracer.span("update"):
            out["m"] = update_index(spark, root, spark.read.parquet(upd_src), f"update-{run.seed}")

    res = timed(run, "update", True, do_update)
    if res is not None:
        layer["update.wall_s"], layer["update.cpu_s"] = res
        layer["index.segments"] = len(out["m"]["segments"])
        layer["dict.n_terms"] = out["m"]["n_terms"]
    keys = doc_keys(spark, root)
    run.gate.check_docs("update doc set", keys, pd.concat(sources, ignore_index=True))

    rem = run.seed % 100
    gone = keys["doc_id"] % 100 == rem

    def do_delete():
        with run.tracer.span("delete"):
            out["m"] = delete_docs(spark, root, f"doc_id % 100 = {rem}")

    res = timed(run, "delete", True, do_delete)
    if res is not None:
        layer["delete.wall_s"] = res[0]
        layer["tombstones.n_live"] = out["m"]["n_docs"]
        run.gate.check("delete live count", out["m"]["n_docs"], int((~gone).sum()))

    exp = Expected(with_content(keys[~gone], sources), QUERY_VOCAB)
    shas = exp.sha_by_key()
    exp.prepare(run.pool)
    idx = load_index(spark, root)
    text = run.pool[-1]
    for kind in SINGLE_KINDS:
        timed(run, kind, True, lambda k=kind: query_op(run, idx, k, text, exp, shas))
    timed(run, "batch", True, lambda: batch_op(run, idx, run.pool, exp))
    # the per-index dictionary gate set below n_terms: terms resolve by a
    # pushed-down scan of the distributed dictionary, the path an index
    # past the 2M-term driver cache takes
    dist = load_index(spark, root)
    dist["_dict_cache_max_terms"] = 0
    for kind in ("wand", "exact"):
        timed(run, f"{kind}_dist", True, lambda k=kind: query_op(
            run, dist, k, text, exp, shas, plan="query.plan_dist"))

    before = load_index(spark, root)["manifest"]
    layer["index.bytes_before"] = _live_bytes(root, before)

    def do_compact():
        with run.tracer.span("compact"):
            out["m"] = compact_segments(spark, root)

    res = timed(run, "compact", True, do_compact)
    if res is not None:
        layer["compact.wall_s"] = res[0]
        after = out["m"]
        layer["index.bytes_after"] = _live_bytes(root, after)
        old = set(before["segments"]) | {before["dict_segment"]}
        layer["compact.bytes_rewritten"] = sum(
            dir_bytes(os.path.join(root, d)) for d in set(after["segments"]) - old
        )
        idx = load_index(spark, root)
        timed(run, "wand", True, lambda: query_op(run, idx, "wand", text, exp, shas))


# ------------------------------------------------------ per-layer table


def per_layer(run: Run) -> dict[str, float]:
    """Every per-layer value by name: medians over spans of the same
    name, counts from ``statusTracker``, probe values, manifest stages."""
    tr = run.tracer

    def dur(name, scale=1.0):
        return median([s["duration_s"] * scale for s in tr.named(name)])

    def per_op(ops, key):
        return median([tr.op_total(s, key) for o in ops for s in tr.named(f"op.{o}")])

    v = dict(run.layer)
    v["spark.job_floor_ms"] = dur("spark.job_floor", 1e3)
    v["source.scan_s"] = dur("source.scan")
    v["tokenize.busy_s"] = dur("tokenize.busy")
    for name, values in run.samples.items():
        if name.startswith("build.stage."):
            v[name] = median(values)
    v["query.plan_ms"] = dur("query.plan", 1e3)
    v["query.plan_dist_ms"] = dur("query.plan_dist", 1e3)
    v["query.exec_ms"] = dur("query.exec", 1e3)
    for key in ("jobs", "stages", "tasks"):
        v[f"query.{key}"] = per_op(("wand", "exact"), key)
    v["batch.plan_ms"] = dur("batch.plan", 1e3)
    v["batch.exec_ms"] = dur("batch.exec", 1e3)
    v["batch.tasks"] = per_op(("batch",), "tasks")
    v["hydrate.ms"] = dur("hydrate", 1e3)
    v["hydrate.jobs"] = median([s["jobs"] for s in tr.named("hydrate")])
    v["facet.plan_ms"] = dur("facet.plan", 1e3)
    v["facet.exec_ms"] = dur("facet.exec", 1e3)
    v["facet.jobs"] = per_op(("facet",), "jobs")
    on, off = run.overhead[True], run.overhead[False]
    v["trace.overhead_pct"] = (median(on) / median(off) - 1.0) * 100.0 if on and off else 0.0
    v["trace.spans"] = len(tr.spans)
    return {name: float(x) for name, x in v.items()}
