#!/usr/bin/env python3
"""Small-size self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

For each workload, at a small input scale:
  1. an untraced run must print exactly BENCHMARK.json's end-to-end metrics
     (with their units) and pass every output check;
  2. a traced run must print exactly the per-layer metrics, pass its checks,
     and write a trace artifact with a span at each layer boundary. A run
     exits non-zero when a listed metric was not measured (only the layers
     a workload declares bypassed read 0), so this also fails then;
  3. a run that checks against a deliberately wrong expected output must
     report the failure (correct false, failed > 0).
Exits 1 on the first problem.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# span names each workload's traced run must record (one per layer boundary)
SPANS = {
    "c360_nightly": ["c360_nightly.e2e", "sources.readLogContent", "sources.readLogSearch",
                     "interaction.profile", "interaction.quantile_job", "behavior.branch",
                     "merge.zipJoinDeterministic", "sinks.JdbcSink.write"],
    "corpus_prepare": ["corpus_prepare.e2e", "functions.scored_text",
                       "dedup.collapsedShingleSets", "dedup.nearDupClusters",
                       "similarity.semDedupSurvivors", "corpus.prepareFunnel",
                       "sinks.ParquetSink.write"],
    "admit_stream": ["admit_stream.e2e", "indexstore.writeAdmissionIndexes", "slice",
                     "indexstore.admitFromIndexes", "sinks.EpochParquetSink.writeEpoch",
                     "indexstore.appendAdmissionIndexes",
                     "indexstore.compactAdmissionIndexes", "stream.trigger"],
}


def run(workload, trace, wrong=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.1",
           "--expect-wrong", str(wrong)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        die(f"{workload}: run.py exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def die(msg):
    print(f"selftest FAILED: {msg}")
    sys.exit(1)


def expect_metrics(workload, res, spec, kind):
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        die(f"{workload} {kind}: missing {sorted(set(want) - set(got))}, "
            f"unexpected {sorted(set(got) - set(want))}, "
            f"unit mismatches {[k for k in want if k in got and got[k] != want[k]]}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        die(f"{workload} {kind}: output checks failed: {res}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    for w in sys.argv[1:] or names:
        if w not in names:
            die(f"unknown workload {w}")
        expect_metrics(w, run(w, 0), bench["end_to_end"], "untraced")
        print(f"ok {w}: end-to-end metrics present, checks pass")
        expect_metrics(w, run(w, 1), bench["per_layer"], "traced")
        with open(os.path.join(ROOT, ".bench_out", f"trace-{w}-5.json")) as f:
            art = json.load(f)
        seen = {s["name"] for s in art["spans"]}
        missing = [s for s in SPANS[w] if s not in seen]
        if missing:
            die(f"{w}: trace artifact lacks spans {missing}")
        if "trace.overhead_s" not in art["per_layer"]:
            die(f"{w}: trace artifact lacks trace.overhead_s")
        print(f"ok {w}: per-layer metrics present, {len(art['spans'])} spans")
        bad = run(w, 0, wrong=1)
        if bad["correct"] or bad["failed"] < 1:
            die(f"{w}: a wrong expected output was not reported as a failure")
        print(f"ok {w}: wrong expected output reported ({bad['failed']} failed)")
    print("selftest passed")


if __name__ == "__main__":
    main()
