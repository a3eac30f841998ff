"""Benchmark of the seqr_loading_pipelines_spark engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload {build,serve} --seed N \
        --seconds S --trace {0,1}

One driver process on ``local[nproc]`` with a driver heap below host RAM;
one client in a closed loop. Set-up (session start, corpus -> parquet,
the warm-up build, the warm-up query pass) is timed as ``setup_s`` and
kept out of the measured window. Every answer is checked against
expected answers computed from the generated rows; a wrong answer or a
failed op makes the run exit 1.

Output: a ``host`` line, a ``detail`` line with the workload's own
metrics (its per-kind medians, the tail, peak memory and the share of
failed ops), and as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding every
end-to-end metric of BENCHMARK.json (``--trace 0``) or every per-layer
metric (``--trace 1``), named and unitised as BENCHMARK.json has them. A traced run also writes its spans to
``.perfbench_work/traces/``. All scratch data stays under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import sys
import time


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is the self-test's")
    ap.add_argument("--corrupt", choices=["answer", "docs"],
                    help="feed the gate one wrong answer or doc set (self-test)")
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every temporary file of Python, the JVM and Spark inside
    the checkout; silence Spark's progress bar."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def _host(cpu_source: str, seed: int, driver_memory: str) -> dict:
    import platform

    import pyarrow
    import pyspark

    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": ram_mb,
        "cpu_source": cpu_source,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "driver_memory": driver_memory,
        "seed": seed,
    }


def _metrics(values: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _main(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _main(args, root: str, work: str) -> int:
    _isolate(work)
    sys.path.insert(0, root)
    t_start = time.perf_counter()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    # the engine comes from the checkout; without it this raises and
    # the run exits non-zero before printing anything
    from seqr_loading_pipelines_spark.session import get_spark

    from perfbench.common import CpuClock, RssSampler, Tracer, stop_spark
    from perfbench.expect import Gate
    from perfbench.workloads import (
        SCALES,
        WORKLOADS,
        Run,
        layer_probes,
        per_layer,
        refresh_cycle,
    )

    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    driver_memory = f"{min(4096, ram_mb // 4)}m"
    cpu = CpuClock()
    rss = RssSampler().start()
    spark = None
    try:
        spark = get_spark(
            app_name="perfbench", master=f"local[{nproc}]", driver_memory=driver_memory,
        )
        print(json.dumps({"host": _host(cpu.source, args.seed, driver_memory)}), flush=True)
        tracer = Tracer(spark, enabled=bool(args.trace))
        gate = Gate(corrupt=args.corrupt)
        run = Run(spark, work, args.seed, SCALES[args.scale], tracer, gate, cpu)
        workload = WORKLOADS[args.workload](run)
        workload.setup()
        # the expected answers hold millions of Python objects; frozen,
        # they no longer lengthen the driver's collections inside ops
        gc.collect()
        gc.freeze()
        setup_s = time.perf_counter() - t_start

        workload.loop(time.perf_counter() + args.seconds)
        e2e, detail = workload.end_to_end()
        e2e["setup_s"] = setup_s
        if args.trace:
            src, index_root, sources = workload.probe_target()
            layer_probes(run, src, index_root)
            refresh_cycle(run, index_root, sources)
            tracer.resolve()
            tracer.dump(os.path.join(
                root, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}.json",
            ))
            layer = per_layer(run)
            metrics = {m["name"]: (layer.get(m["name"], 0.0), m["unit"]) for m in bench["per_layer"]}
        else:
            metrics = {m["name"]: (e2e[m["name"]], m["unit"]) for m in bench["end_to_end"]}
        # peak RSS swings with the number of Python workers alive at
        # the sampled moment (0.2-0.7 quartile spread over seeds), too
        # wide to bound, so it is reported beside the bounded metrics
        detail["peak_rss_mb"] = (rss.stop(), "MB")
        # always 0 in a good run, so it cannot be a bounded metric
        detail["ops_failed_ratio"] = (gate.failed / max(1, gate.attempted), "ratio")
        print(json.dumps({"workload": args.workload, "detail": _metrics(detail)}), flush=True)
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)
    ok = gate.failed == 0
    print(json.dumps({
        "correct": ok,
        "attempted": gate.attempted,
        "failed": gate.failed,
        "metrics": _metrics(metrics),
    }), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
