"""Self-test of the benchmark, at the tiny input size.

    python3 perfbench/selftest.py

From the root of a checkout, it checks that:
- the replayed oracle scores equal ``Bm25Oracle`` bit for bit;
- every workload, untraced and traced, exits 0 and prints, as its last
  line, exactly the metrics BENCHMARK.json names, each with its unit;
- a deliberately corrupted answer, and a doc set missing a doc, each
  trip the correctness gate: the run prints ``correct: false`` and
  exits non-zero;
- in a directory holding only BENCHMARK.json and the benchmark, the run
  exits non-zero without printing a result.

Takes a few minutes (one Spark session per run).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd

RUN = [sys.executable, "perfbench/run.py", "--seed", "11", "--seconds", "4", "--scale", "tiny"]


def _run(args: list[str], cwd: str = ".") -> tuple[int, str]:
    p = subprocess.run(args, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines[-1] if lines else ""


def check_oracle_replay() -> None:
    sys.path.insert(0, os.getcwd())
    from perfbench.expect import Expected
    from perfbench.workloads import QUERY_VOCAB, query_pool

    rng = np.random.default_rng(5)
    vocab = np.array(QUERY_VOCAB)
    n = 2000
    docs = pd.DataFrame({
        "doc_id": np.arange(n)[::-1] * 3,
        "repo": "r", "path": [f"p{i}" for i in range(n)], "commit": "c",
        "lang": rng.choice(["go", "js", "md"], n),
        "content": [" ".join(rng.choice(vocab, size=int(rng.integers(1, 80)))) for _ in range(n)],
    })
    Expected(docs, QUERY_VOCAB).check_against_oracle(query_pool(rng, 40))


def check_result(line: str, names: dict[str, str]) -> list[str]:
    errors = []
    out = json.loads(line)
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"keys {sorted(out)}")
    if out.get("correct") is not True or out.get("failed") != 0 or out.get("attempted", 0) < 1:
        errors.append(f"gate {out.get('correct')} {out.get('attempted')} {out.get('failed')}")
    got = out.get("metrics", {})
    if set(got) != set(names):
        errors.append(f"metrics differ: {sorted(set(got) ^ set(names))}")
    for name, unit in names.items():
        m = got.get(name, {})
        if m.get("unit") != unit:
            errors.append(f"{name}: unit {m.get('unit')!r} != {unit!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errors.append(f"{name}: value {v!r}")
    return errors


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    sets = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures = []

    check_oracle_replay()
    print("oracle replay: bit-identical", flush=True)

    for w in bench["workloads"]:
        for trace in (0, 1):
            code, line = _run(RUN + ["--workload", w["name"], "--trace", str(trace)])
            errs = [f"exit {code}"] if code else []
            errs += check_result(line, sets[trace]) if line else ["no result"]
            print(f"{w['name']} trace={trace}: {'ok' if not errs else errs}", flush=True)
            failures += errs

    for corrupt, name in (("answer", "build"), ("docs", "serve")):
        code, line = _run(RUN + ["--workload", name, "--trace", "0", "--corrupt", corrupt])
        tripped = code != 0 and line and json.loads(line)["correct"] is False
        print(f"corrupted {corrupt} on {name} trips the gate: {bool(tripped)}", flush=True)
        if not tripped:
            failures.append(f"gate not tripped by corrupted {corrupt}")

    name = bench["workloads"][0]["name"]
    bare = os.path.join(".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy("BENCHMARK.json", bare)
        for path in bench["paths"]:
            shutil.copytree(path, os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, line = _run(RUN + ["--workload", name, "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    refused = code != 0 and not line.startswith("{\"correct\"")
    print(f"bare directory refused: {refused}", flush=True)
    if not refused:
        failures.append("bare directory produced a result")

    print("SELFTEST", "FAILED" if failures else "PASSED")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
