#!/usr/bin/env python3
"""Self-checks of the benchmark's own arithmetic and contract.

    python3 perfbench/selftest.py           # unit checks, seconds
    python3 perfbench/selftest.py --smoke   # plus one short run of every
                                            # workload, untraced and traced

Run from the repository root.
"""
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402


def check(cond, what):
    if not cond:
        raise AssertionError(what)
    print(f"ok   {what}")


def test_percentiles():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    check(metrics.percentile(xs, 50) == 3.0, "p50 of 1..5 is 3")
    check(abs(metrics.percentile(xs, 90) - 4.6) < 1e-12, "p90 of 1..5 interpolates to 4.6")
    check(metrics.percentile([7.0], 90) == 7.0, "percentile of one sample is the sample")
    check(metrics.percentile([1.0, 2.0], 50) == 1.5, "p50 of two samples is their mean")
    # the spread rule: IQR from statistics.quantiles(n=4) over the median
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    check(abs((q3 - q1) / statistics.median(vals) - 0.05) < 0.01, "IQR/median of a 5%-wide set")


def test_idle():
    # span 0..100 ms; tasks cover 10..30, 20..40 (overlap) and 90..120
    # (clipped to 90..100): busy 40 ms, idle 60 ms
    tasks = [(10, 30), (20, 40), (90, 120)]
    check(metrics.union_length(tasks, 0, 100) == 40, "task union clips and merges")
    check(abs(metrics.idle_seconds([(0, 100)], tasks) - 0.060) < 1e-12, "idle_s of one window")
    # two windows of one span, a task outside both
    check(abs(metrics.idle_seconds([(0, 100), (200, 250)], tasks + [(150, 160)]) - 0.110) < 1e-12,
          "idle_s sums windows and ignores tasks outside them")
    check(metrics.idle_seconds([(0, 50)], []) == 0.05, "a span with no task is all idle")


def test_names():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        b = json.load(fh)
    declared = b["end_to_end"] + b["per_layer"]
    check(not metrics.validate_names([(m["name"], m["unit"]) for m in declared]),
          "every declared metric name and unit is valid")
    check(metrics.validate_names([("9bad name", "s"), ("x", "m s"), ("x", "s")])
          == ["bad name '9bad name'", "bad unit 'm s' of x", "duplicate name x"],
          "invalid names, units and duplicates are reported")
    check([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]]
          == metrics.END_TO_END, "BENCHMARK.json end_to_end matches metrics.END_TO_END")
    check([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]]
          == metrics.per_layer_names(), "BENCHMARK.json per_layer matches metrics.per_layer_names")
    check(all(m["bound"] <= 0.25 for m in b["end_to_end"]), "every bound is at most 0.25")
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    check(bounds["setup_s"] == max(bounds.values()), "setup_s has the largest bound")


def test_generator(tmp):
    a = gen.curation(os.path.join(tmp, "a"), 5, n_batches=3, batch_docs=20)
    c = gen.curation(os.path.join(tmp, "b"), 5, n_batches=3, batch_docs=20)
    check(a["unique"] == c["unique"] and a["planted"] == c["planted"],
          "the same seed gives the same curation feed")
    check(not set(a["unique"]) & set(a["planted"]), "planted and unique ids are disjoint")
    ids1, text1 = gen._documents(500, 1)
    ids2, text2 = gen._documents(500, 2)
    check(list(ids1) != list(ids2) and dict(zip(ids1, text1)) == dict(zip(ids2, text2)),
          "the seed shuffles the documents' order, not their text")
    check(sum(" dup" in t for t in text1) == 25, "one document in 20 is a planted near duplicate")


def smoke():
    for wl, trace in (("registry", 0), ("jobs", 0), ("registry", 1), ("jobs", 1)):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                            "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                           capture_output=True, text=True, timeout=900)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        res = json.loads(last)
        want = ([n for n, _, _ in metrics.END_TO_END] if not trace
                else [n for n, _, _ in metrics.per_layer_names()])
        check(p.returncode == 0 and res.get("correct") is True
              and sorted(res.get("metrics", {})) == sorted(want),
              f"smoke run {wl} trace={trace}: correct, all {len(want)} metrics")


def main():
    import tempfile
    test_percentiles()
    test_idle()
    test_names()
    os.makedirs(".bench_build", exist_ok=True)
    with tempfile.TemporaryDirectory(dir=".bench_build") as tmp:
        test_generator(tmp)
    if "--smoke" in sys.argv:
        smoke()


if __name__ == "__main__":
    main()
