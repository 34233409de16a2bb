"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. The correctness checker accepts the reference answer and flags each of
   a set of deliberately perturbed results (no Spark needed).
2. A tiny smoke run of every workload, untraced and traced, exits 0, says
   ``correct``, and emits exactly the metrics BENCHMARK.json names, each
   with its unit and a sample count.
3. Started without the engine package beside it, the benchmark exits
   non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
from oracle import Oracle, check  # noqa: E402


def checker_flags_perturbations() -> None:
    cols = gen.doc_batch(1, 0, 0, 200)
    oracle = Oracle()
    oracle.add(cols["doc_id"], cols["text"])
    live = set(cols["doc_id"])
    ranked_q = ("bm25", ("import", "spark"))
    scores = oracle.answer(ranked_q, live)
    top = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:10]
    assert check(ranked_q, top, scores, 10) is None
    outsider = next(d for d in sorted(live) if d not in dict(top))
    perturbed = {
        "score": [(top[0][0], top[0][1] + 1e-3)] + top[1:],
        "docid": [(outsider, top[0][1])] + top[1:],
        "dropped": top[:-1],
        "duplicate": top[:-1] + [top[0]],
    }
    for what, got in perturbed.items():
        assert check(ranked_q, got, scores, 10) is not None, f"checker missed a perturbed {what}"
    set_q = ("keyword", "import")
    docs = oracle.answer(set_q, live)
    assert docs and check(set_q, docs, docs, 10) is None
    assert check(set_q, docs[1:], docs, 10) is not None, "checker missed a dropped docid"
    assert check(set_q, docs + [max(live) + 1], docs, 10) is not None, "checker missed an extra docid"
    print("checker: accepts the reference, flags every perturbation")


def smoke(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] is True, "\n".join(l for l in lines if l.startswith("error"))
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            for name, unit in want.items():
                assert any(re.match(rf"metric {re.escape(name)} = \S+ {re.escape(unit)}  \(n=\d+\)$", l)
                           for l in lines), f"no metric line with unit and sample count for {name}"
            print(f"smoke {w['name']} trace={trace}: {len(want)} metrics, "
                  f"{result['attempted']} ops, correct")


def refuses_without_engine(spec: dict) -> None:
    bare = os.path.join(ROOT, ".bench_work", f"selftest-bare-{os.getpid()}")
    try:
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        cmd = [*spec["command"], "--workload", spec["workloads"][0]["name"], "--seed", "1",
               "--seconds", "1", "--trace", "0"]
        p = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
        assert p.returncode != 0 and '"metrics"' not in p.stdout, "ran without the engine package"
        print("bare directory: exits", p.returncode, "without a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    checker_flags_perturbations()
    refuses_without_engine(spec)
    smoke(spec)
    print("selftest: OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
