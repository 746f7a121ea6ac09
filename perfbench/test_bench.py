#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_bench.py            # everything (several minutes)
    python3 perfbench/test_bench.py compare    # only the fast compare tests

- selftest: every workload at smoke size passes its checks, traced and
  untraced, and one corrupted value per workload makes its checks fail.
- metric names: a smoke run prints exactly BENCHMARK.json's end-to-end
  metrics untraced and its per-layer metrics traced.
- compare: verdicts and refusals of compare.py on synthetic records.
- no sources: in a directory holding only BENCHMARK.json and the
  benchmark, run.py exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import compare  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(*args, timeout=900):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=timeout)


def test_selftest():
    p = run("--selftest")
    print(p.stdout)
    assert p.returncode == 0, "selftest failed"


def test_metric_names():
    e2e = {m["name"] for m in BENCH["end_to_end"]}
    layers = {m["name"] for m in BENCH["per_layer"]}
    for w in BENCH["workloads"]:
        for trace, want in (("0", e2e), ("1", layers)):
            p = run("--workload", w["name"], "--seed", "3", "--seconds", "0",
                    "--trace", trace, "--size", "smoke", timeout=300)
            assert p.returncode == 0, f"{w['name']} trace {trace} exited {p.returncode}"
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert res["correct"] and res["attempted"] >= 1 and res["failed"] == 0, res
            assert set(res["metrics"]) == want, set(res["metrics"]) ^ want
            for name, m in res["metrics"].items():
                assert m["unit"] == next(x["unit"] for x in BENCH["end_to_end"] +
                                         BENCH["per_layer"] if x["name"] == name)


def record(commit, seed, values, **env):
    base = {"nproc": 4, "java": "17", "spark": "4", "heap_mb": 4096, "conf": {},
            "size": "full", "seconds": 1.0, "trace": False}
    base.update(env)
    return {"workload": BENCH["workloads"][0]["name"], "seed": seed, "commit": commit,
            "env": base, "result": values, "correct": True, "_file": f"{commit}-{seed}"}


def metrics(scale):
    return {m["name"]: 100.0 * scale for m in BENCH["end_to_end"]}


def test_compare():
    wobble = [1.0, 1.01, 0.99, 1.005, 0.995, 1.0, 1.002, 0.998, 1.001, 0.999]
    parent = [record("a", s, metrics(wobble[s])) for s in range(10)]
    same = [record("b", s, metrics(wobble[s])) for s in range(10)]
    rows = compare.compare(parent, same, BENCH)
    assert rows and all(r[6] == "no worse" for r in rows), rows
    slower = [record("b", s, {m["name"]: 100.0 * wobble[s] *
                              (1.5 if m["better"] == "lower" else 0.5)
                              for m in BENCH["end_to_end"]}) for s in range(10)]
    assert all(r[6] == "worse" for r in compare.compare(parent, slower, BENCH))
    faster = [record("b", s, {m["name"]: 100.0 * wobble[s] *
                              (0.5 if m["better"] == "lower" else 1.5)
                              for m in BENCH["end_to_end"]}) for s in range(10)]
    assert all(r[6] == "improved" for r in compare.compare(parent, faster, BENCH))
    noisy = [record("b", s, metrics(1.0 + (0.6 if s % 2 else -0.3))) for s in range(10)]
    assert all(r[6] == "unresolved" for r in compare.compare(parent, noisy, BENCH))
    other_env = [record("b", s, metrics(1.0), nproc=8) for s in range(10)]
    try:
        compare.compare(parent, other_env, BENCH)
        raise AssertionError("runs on different hardware were compared")
    except SystemExit as e:
        assert e.code == 2


def test_no_sources():
    d = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    shutil.copytree(HERE, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project/project"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tearsheet",
                        "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=d,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=180)
    shutil.rmtree(d, ignore_errors=True)
    assert p.returncode != 0 and '"correct"' not in p.stdout


TESTS = {"compare": test_compare, "no_sources": test_no_sources,
         "metric_names": test_metric_names, "selftest": test_selftest}

if __name__ == "__main__":
    names = sys.argv[1:] or list(TESTS)
    for n in names:
        TESTS[n]()
        print(f"ok {n}")
