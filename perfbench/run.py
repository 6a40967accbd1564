#!/usr/bin/env python3
"""graft benchmark: one command per workload, end-to-end or traced.

    python3 perfbench/run.py --workload commit_stream --seed 3 --seconds 12 --trace 0

Builds graft and the benchmark client from source (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py), runs one JVM client in a
closed loop (perfbench/harness), checks every output and prints the
metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["query_board", "commit_stream", "daily_pipeline"]
# distinct ship dates in daily_pipeline's input, where each one is a
# fact_lineitem partition; the other workloads get the test data's range
# (2,499 days). See perfbench/README.md for why it is narrowed.
PIPELINE_SHIP_DAYS = 150

END_TO_END = [("setup_s", "s"), ("pass_s", "s")]
# printed on every run, in the result line only with --trace 1 (as e2e.*):
# some are 0 on some workloads (query_board commits nothing); the op
# percentiles fall between the latency clusters of a pass's distinct
# calls, so a shift of one sample moves them by a cluster gap; the
# post-GC heap of commit_stream flips between two levels ~30 MB apart
WORKLOAD_E2E = [("heap_mb", "MB"), ("op_p50_ms", "ms"), ("op_p90_ms", "ms"),
                ("commit_p50_ms", "ms"), ("commit_p90_ms", "ms"), ("read_p50_ms", "ms"),
                ("read_p90_ms", "ms"), ("write_mb", "MB"), ("space_amp", "ratio"),
                ("fail_ratio", "ratio")]
# per-layer figures in the result line: the layers the listed workloads reach
OBJECTS = ["relational", "events", "conform", "analytics", "quality", "text", "bpe", "dedup",
           "similarity", "multimodal", "lineage", "maintenance"]
NAMED_KEYS = ["corpus_filter"]
PER_LAYER = (
    [("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.job_s", "s"),
     ("spark.driver_gap_s", "s"), ("spark.task_cpu_s", "s"), ("spark.shuffle_write_mb", "MB"),
     ("spark.input_mb", "MB"), ("spark.output_mb", "MB"), ("spark.output_files", "count"),
     ("spark.spill_mb", "MB"),
     ("fs.create", "count"), ("fs.open", "count"), ("fs.rename", "count"),
     ("fs.delete", "count"), ("fs.list", "count"), ("fs.stat", "count"), ("fs.mkdirs", "count"),
     ("fs.bytes_written_mb", "MB"), ("fs.bytes_read_mb", "MB"), ("fs.call_s", "s"),
     ("lake.snapshot_ms", "ms"), ("lake.append_ms", "ms"), ("lake.merge_ms", "ms"),
     ("lake.merge_mor_ms", "ms"), ("lake.delete_ms", "ms"), ("lake.delete_mor_ms", "ms"),
     ("lake.update_ms", "ms"), ("lake.versions", "count"), ("lake.log_kb", "KB"),
     ("lake.read_cow_ms", "ms"), ("lake.read_mor_ms", "ms"), ("lake.live_files", "count"),
     ("lake.dv_files", "count"),
     ("pipeline.silver_s", "s"), ("pipeline.gold_s", "s"), ("pipeline.refresh_ms", "ms"),
     ("pipeline.files_written", "count"), ("pipeline.lineitem_partitions", "count")]
    + [(f"ops.{o}_s", "s") for o in OBJECTS]
    + [(f"key.{k}_s", "s") for k in NAMED_KEYS]
    + [("trace.overhead_pct", "%"), ("trace.unattributed_jobs", "count"),
       ("trace.span_cover_pct", "%")]
    + [(f"e2e.{n}", u) for n, u in WORKLOAD_E2E]
)
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
DEADLINE_S = 175


def pct(xs, q):
    """Linear-interpolated q-quantile of xs (0 for no samples)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_q(n):
    """The highest percentile up to p90 that has at least ten samples beyond it."""
    return max(0.5, min(0.9, 1 - 10 / n)) if n else 0.9


def run_jvm(a, classes, run, data, deadline):
    out = run / "result.json"
    (run / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run / 'tmp'}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes), "perfbench.PerfMain",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", str(data), "--run", str(run),
              "--out", str(out)])
    with open(run / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run)
        try:
            p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit("run: client exceeded the time limit")
    if p.returncode != 0 or not out.exists():
        sys.stderr.write((run / "jvm.log").read_text()[-3000:])
        sys.exit(f"run: client exited with {p.returncode}")
    return json.loads(out.read_text())


def pass_time(samples, passes):
    """A pass's time as the sum over its calls of each call's fastest time
    over the given passes (min-of-K per call): every pass makes the same
    calls in the same order, and the fastest of K repeats is the one least
    disturbed by whatever else the machine was doing.
    """
    by_pos = {}
    for p in passes:
        for i, s in enumerate(x for x in samples if x["pass"] == p):
            by_pos.setdefault(i, []).append(s["ms"])
    return sum(min(v) for v in by_pos.values()) / 1000.0


def metrics(r, a, oracle_failures):
    timed = [p for p in r["passes"] if not (a.trace and p["traced"])] or r["passes"]
    samples = [s for s in r["samples"] if s["ok"]]
    untraced = {p["pass"] for p in timed}
    ops = [s["ms"] for s in samples if s["pass"] in untraced and s["kind"] != "snapshot"]
    commits = [s["ms"] for s in samples if s["pass"] in untraced and s["kind"] == "commit"]
    reads = [s["ms"] for s in samples if s["pass"] in untraced and s["kind"] == "read"]
    failed = r["failed"] + oracle_failures
    m = {
        "setup_s": r["session_s"] + r["init_s"] + statistics.median(r["prep_s"]) + r["warmup_s"],
        "pass_s": pass_time(r["samples"], untraced),
        "op_p50_ms": pct(ops, 0.5),
        "op_p90_ms": pct(ops, tail_q(len(ops))),
        "heap_mb": statistics.median(p["heap_mb"] for p in r["passes"]),
        "commit_p50_ms": pct(commits, 0.5),
        "commit_p90_ms": pct(commits, tail_q(len(commits))),
        "read_p50_ms": pct(reads, 0.5),
        "read_p90_ms": pct(reads, tail_q(len(reads))),
        "write_mb": statistics.median(p["write_mb"] for p in timed),
        "space_amp": r["extra"].get("space_amp", 0.0),
        "fail_ratio": failed / max(1, r["attempted"]),
    }
    counts = {"op": len(ops), "commit": len(commits), "read": len(reads)}
    return m, counts, failed


def layer_metrics(r):
    traced = [p for p in r["passes"] if p["traced"]]
    plain = [p for p in r["passes"] if not p["traced"]]
    names = {n for p in r["layer"] for n in p}
    out = {n: statistics.median(p.get(n, 0.0) for p in r["layer"]) for n in names}
    out.update({k: v for k, v in r["extra"].items() if k != "space_amp"})
    out["trace.overhead_pct"] = 100.0 * (
        statistics.median(p["wall_s"] for p in traced) /
        statistics.median(p["wall_s"] for p in plain) - 1.0)
    return out


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    deadline = started + DEADLINE_S
    classes = build.build()
    deadline = max(deadline, time.monotonic() + DEADLINE_S - 60)
    run = build.OUT / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    try:
        data = run / "data"
        gen.write(str(data), a.seed,
                  PIPELINE_SHIP_DAYS if a.workload == "daily_pipeline" else gen.SHIP_DAYS)
        r = run_jvm(a, classes, run, data, deadline)
        checked, bad = oracle.check(data, run)
        for b in bad:
            print(f"check FAIL {b}")
        m, counts, failed = metrics(r, a, len(bad))
        for e in r["errors"]:
            print(f"error {e}")
        print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
              f"{len(r['passes'])} timed passes, {counts['op']} op samples, "
              f"{counts['commit']} commits, {counts['read']} reads, "
              f"{r['attempted']} ops attempted, {failed} failed, {checked} outputs checked")
        print(f"  set-up parts: session {r['session_s']:.2f}s, init {r['init_s']:.2f}s, prepare "
              f"{statistics.median(r['prep_s']):.3f}s (median of {len(r['prep_s'])}), "
              f"warm-up passes {r['warmup_s']:.2f}s; timed passes " +
              " ".join(f"{p['wall_s']:.2f}{'t' if p['traced'] else ''}" for p in r["passes"]))
        by_name = {}
        for s in r["samples"]:
            by_name.setdefault((s["kind"], s["name"]), []).append(s["ms"])
        print("  median ms: " + ", ".join(f"{k}/{n} {statistics.median(v):.0f}"
                                         for (k, n), v in sorted(by_name.items())))
        e2e = dict(END_TO_END + WORKLOAD_E2E)
        for n, v in m.items():
            print(f"  {n:<14} {v:12.4f} {e2e[n]}")
        if a.trace:
            lm = layer_metrics(r)
            bad_passes = sum(p.get("trace.check_failed", 0.0) for p in r["layer"])
            print(f"  trace check: {'FAIL on %d traced passes' % bad_passes if bad_passes else 'ok'}"
                  f" (jobs wholly inside spans, spans cover >= 95% of the pass)")
            lm.update({f"e2e.{n}": m[n] for n, _ in WORKLOAD_E2E})
            shown = {n: {"value": lm.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
            for n in sorted(lm):
                print(f"  {n:<26} {lm[n]:12.4f}")
        else:
            shown = {n: {"value": m[n], "unit": u} for n, u in END_TO_END}
        print(f"  run wall {time.monotonic() - started:.1f}s")
        print(json.dumps({"correct": failed == 0, "attempted": r["attempted"],
                          "failed": failed, "metrics": shown}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
