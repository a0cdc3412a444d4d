"""Benchmark command for graft's north-star path.

    python3 perfbench/run.py --workload join --seed 1 --seconds 10 --trace 0

Builds the program from source (first run only), stages seeded inputs,
runs one workload in one JVM with local[4], checks every output against the
independent oracle in `oracle.py`, prints a per-workload summary and, as the
last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). Exits non-zero on any oracle mismatch or failed operation.
Workloads and metrics are described in perfbench/README.md.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from statistics import median

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

CORES = 4
JVM_TIMEOUT_S = 160
# build.sbt's javaOptions (module opens Spark 4 needs on JDK 17, UI off, UTC,
# code cache), with a fixed 2 GB heap: small, and a resident set that does not
# follow G1's heap-growth decisions
JVM_FLAGS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")
] + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xms2g", "-Xmx2g",
     "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]

END_TO_END = [("rows_per_s", "rows/s"), ("setup_s", "s"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.gc_frac", "ratio"), ("spark.cpu_util", "ratio"), ("spark.task_skew", "ratio"),
    ("cache.handles_left", "count"),
    ("sources.scan.s", "s"), ("sources.scan.tasks", "count"),
    ("sources.scan.bytes_per_row", "bytes/row"), ("sources.scan.reads_per_row", "ratio"),
    ("core.hex.s", "s"), ("core.hex.ns_per_call", "ns"),
    ("operators.pip.s", "s"), ("operators.pip.ns_per_probe", "ns"),
    ("operators.pip.build_s", "s"), ("operators.pip.hits_per_row", "ratio"),
    ("operators.knn.s", "s"), ("operators.knn.ns_per_probe", "ns"), ("operators.knn.build_s", "s"),
    ("core.tiles.s", "s"), ("core.tiles.ns_per_call", "ns"),
    ("app.enrich.s", "s"),
    ("sources.icelite.write_s", "s"), ("sources.icelite.audit_s", "s"),
    ("sources.icelite.jobs", "count"), ("sources.icelite.write_amp", "ratio"),
    ("operators.dedup.pairs", "count"), ("operators.cc.rounds", "count"),
    ("operators.ring.jobs", "count"), ("operators.ring.stages", "count"),
    ("operators.ring.shuffle_bytes", "bytes"),
    ("trace.overhead", "ratio"),
]


def tail(xs):
    """The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it; with ten samples or fewer, the maximum."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        k = math.ceil(p * n / 100)  # nearest rank
        if n - k >= 10 and k >= 1:
            return xs[k - 1], p, n
    return xs[-1], 100, n


def run_jvm(cp, workload, stage_dir, work, seconds, trace):
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
                                  "--workload", workload, "--stage", stage_dir,
                                  "--work", os.path.join(work, "run"), "--out", out,
                                  "--seconds", str(seconds), "--trace", str(trace),
                                  "--cores", str(CORES)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"harness exited with {p.returncode}")
    with open(out) as fh:
        return json.load(fh)


def end_to_end(res):
    """The gated metrics, and the printed-only ones with their units."""
    times = res["times"]
    fresh = times["fresh"]
    tail_s, p, n = tail(fresh)
    gated = {
        "rows_per_s": res["rows"] / median(fresh),
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    printed = [("op_s_median", median(fresh), "s"), ("op_s_tail", tail_s, "s"),
               ("op_s_tail_rank", f"p{p} of {n} samples", "")]
    if "resume" in times:
        printed.append(("resume_s", median(times["resume"]), "s"))
    if "scale" in res:
        printed.append(("scale_eff_1to4", res["scale"]["scale_eff"], "ratio"))
    return gated, printed


def per_layer(res):
    oc = res["op_counters"]
    m = {k: median([c[k] for c in oc]) for k in oc[0]}
    m["cache.handles_left"] = max(res["handles_left"])
    for k, _ in PER_LAYER:
        if f"layer.{k}" in res:
            m[k] = res[f"layer.{k}"]
    m["trace.overhead"] = median(res["traced_times"]) / median(res["times"]["fresh"]) - 1.0
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    stage_dir, manifest, stage_s, reused = gen.stage(os.path.join(BENCH, ".stage"), a.workload, a.seed)
    work = os.path.join(BENCH, ".work", a.workload)
    res = run_jvm(cp, a.workload, stage_dir, work, a.seconds, a.trace)
    checks = oracle.verify(a.workload, stage_dir, manifest, res)
    shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)

    failed = res["failed"] + sum(not c["ok"] for c in checks)
    attempted = res["attempted"] + len(checks)
    correct = failed == 0
    env = res["env"]
    print(f"[perfbench] workload={a.workload} seed={a.seed} cores={env['cores']} "
          f"spark={env['spark_version']} java={env['java_version']} staged_reused={reused}")
    print(f"[perfbench] jvm_flags={' '.join(env['jvm_flags'])}")
    print(f"[perfbench] spark_sql={json.dumps(env['spark_sql'], sort_keys=True)}")
    if "regime" in res:
        print(f"[perfbench] ring regime: {res['regime']}")
    for c in res["checks"] + [c for c in checks if not c["ok"]]:
        print(f"[perfbench] FAILED {c['name']}: {c['detail'][:500]}")
    if a.trace == 0:
        metrics, printed = end_to_end(res)
        units = dict(END_TO_END)
        rows = [(k, v, units[k]) for k, v in metrics.items()] + printed
        rows += [("error_rate", failed / attempted, "ratio"), ("stage_s", stage_s, "s")]
        for k, v, u in rows:
            print(f"[perfbench] {a.workload:9s} {k:16s} {v:>14} {u}" if isinstance(v, str)
                  else f"[perfbench] {a.workload:9s} {k:16s} {v:14.6g} {u}")
    else:
        metrics = per_layer(res)
        units = dict(PER_LAYER)
        print(f"[perfbench] {'layer':24s} {'calls':>5s} {'total_s':>10s} {'self_s':>10s} "
              f"{'jobs':>5s} {'tasks':>6s} {'in_records':>12s} {'shuffle_b':>10s}")
        for row in res["self_table"]:
            c = row["self_counters"]
            print(f"[perfbench] {row['layer']:24s} {row['calls']:5d} {row['total_s']:10.4f} "
                  f"{row['self_s']:10.4f} {c['jobs']:5d} {c['tasks']:6d} {c['input_records']:12d} "
                  f"{c['shuffle_bytes']:10d}")
        for k, u in PER_LAYER:
            print(f"[perfbench] {a.workload:9s} {k:32s} {metrics[k]:14.6g} {u}")
        trace_out = os.path.join(work, "trace.json")
        with open(trace_out, "w") as fh:
            json.dump({"spans": res["spans"], "self_table": res["self_table"]}, fh)
        print(f"[perfbench] spans and self-time table written to {os.path.relpath(trace_out)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
