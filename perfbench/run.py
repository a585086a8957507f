#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client over the engine's named queries.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 16 --trace 0

Builds the engine and harness from source (perfbench/build.py), runs one
JVM at local[N] with N = the usable cores and shuffle partitions = N over
the sf0.1 test tables, checks every query's result against its DuckDB
oracle, and prints one JSON object as the last line of stdout:
every end-to-end metric with --trace 0, every per-layer metric with
--trace 1. The lines before it give each metric with its unit, the
error rate, the tail percentile and its sample count, and host load.

The seed sets the query order of every pass. A stored-artifact build
inside a timed pass fails the run (exit 3).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

# Why each workload exists and what it stresses is recorded in
# BENCHMARK.json. Lists are fixed: a query that fails the oracle stays in
# its workload and counts in error_rate.
WORKLOADS = {
    # Sub-second queries, at least one per registry shard; one probes a
    # stored artifact, one builds one and one rewrites its ORC copy of the
    # events on every call. Source reads, query construction, Catalyst and
    # job scheduling dominate.
    "tail": [
        "yf_count", "yf_hhi_concentration", "events_key_skew", "events_ttest_welch",
        "events_orc_roundtrip", "docs_merge_upsert", "text_tokenizer_fertility",
        "emb_dim_variance", "sim_brute_topk", "mv_rollup_stored",
        "mv_rollup_live_asof", "orders_monthly_growth", "tpch_q6"],
    # A loop-bound and a shuffle-bound query: PageRank rounds over the
    # stored edge list, and the lineitem self-joins of the late-supplier
    # audit.
    "heavy": ["graph_pagerank_stored", "orders_sole_late_supplier"],
}

HEAP = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def run_harness(sf, queries, run_dir, seed, seconds, trace):
    """Builds if needed, runs the JVM harness into run_dir and returns its
    result.json. The harness log stays in run_dir."""
    classes = build.build()
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", f"{classes}:{build.classpath()}", "perfbench.Harness",
           "--sf", sf, "--out", str(run_dir), "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--queries", ",".join(queries), "--cores", str(len(os.sched_getaffinity(0)))]
    with open(run_dir / "harness.log", "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                            timeout=RUN_LIMIT_S).returncode
    if rc != 0:
        sys.stderr.write((run_dir / "harness.log").read_text()[-6000:])
        raise SystemExit(f"harness exited with code {rc}")
    return json.loads((run_dir / "result.json").read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=str(Path.home() / "testdata" / "sf0.1"),
                    help="directory of the input parquet tables")
    a = ap.parse_args()
    if not all((Path(a.sf) / f"{t}.parquet").is_file() for t in oracle.TABLES):
        raise SystemExit(f"input tables not found under {a.sf}")

    started = time.monotonic()
    queries = WORKLOADS[a.workload]
    run_dir = build.build_dir() / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    try:
        res = run_harness(a.sf, queries, run_dir, a.seed, a.seconds, a.trace)
        mismatches = oracle.check(a.sf, run_dir, queries, build.build_dir() / "oracle-cache.json")
        keep = build.build_dir() / "last" / f"{a.workload}-trace{a.trace}"
        shutil.rmtree(keep, ignore_errors=True)
        keep.mkdir(parents=True)
        for f in ("result.json", "spans.json", "harness.log"):
            if (run_dir / f).exists():
                shutil.copyfile(run_dir / f, keep / f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = res["samples"]
    attempted = len(samples)
    # An execution fails when it threw, or when its query's result does
    # not match the oracle (or could not be dumped for the check).
    bad = set(mismatches) | set(res["verify_errors"])
    failed = sum(1 for s in samples if s["error"] is not None or s["query"] in bad)
    for q, why in sorted({**res["verify_errors"], **mismatches}.items()):
        print(f"FAIL {q}: {why}")
    for s in samples:
        if s["error"] is not None:
            print(f"ERROR {s['query']} pass {s['pass']}: {s['error'][:300]}")

    # The result line carries exactly the metrics BENCHMARK.json declares;
    # the lines above it also show the measured ones it leaves out.
    declared = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    kind = "per_layer" if a.trace else "end_to_end"
    measured = res[kind]
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
               for m in declared[kind]}
    host = res["host"]
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} cores={res['cores']} "
          f"queries={len(queries)} passes={len(res['passes'])} "
          f"wall_s={time.monotonic() - started:.1f}")
    print(f"host loadavg_start={host['loadavg_start']} loadavg_end={host['loadavg_end']} "
          f"steal_pct={host['steal_pct']}")
    print(f"query_tail_s is p{res['tail']['percentile']:g} of {res['tail']['samples']} samples "
          f"({res['tail']['beyond']} beyond it)")
    print(f"error_rate {failed / attempted:.6f} ({failed}/{attempted} executions)")
    units = {k: m["unit"] for k, m in metrics.items()}
    for k, v in measured.items():
        print(f"{k} {v} {units.get(k, '(not declared)')}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
