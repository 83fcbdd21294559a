#!/usr/bin/env python3
"""Per-PR lakehouse benchmark: one workload, one seed, one process.

    python3 lakebench/run.py --workload floor_mix --seed 1 --seconds 1 --trace 0

Run from the root of an engine checkout. The first run builds the engine
from the checkout's source (see build.py). Inputs are generated from the
seed, the engine is driven through its public functions by one
closed-loop client on local[N], every output is checked, and the last
stdout line is one JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics, or per-layer metrics with --trace 1).
Exit code 0 means the run completed and its outputs were correct.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import pctl  # noqa: E402

ROUNDS = 3          # set-up repetitions per run; setup_s is their median
MAX_CORES = 4
CAP_S = 100.0       # no pass starts after this much JVM wall time
DEADLINE_S = 170.0  # whole run, build excluded

WORKLOADS = {
    "floor_mix": {"min_passes": 2, "scale": "sf0.001"},
    "txlog_dml": {"min_passes": 3, "scale": "sf0.025"},
    "medallion_backfill": {"min_passes": 4, "days": 16},
    # runnable by hand; not in BENCHMARK.json (see README.md)
    "heavy_mix": {"min_passes": 2, "scale": "sf0.1"},
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_ms": "ms", "peak_rss_mb": "MB"}

PER_LAYER = {
    "core.session_ms": "ms", "core.tables_ms": "ms",
    "operators.build_ms": "ms", "operators.build_jobs": "count",
    "plans.analyze_ms": "ms", "plans.optimize_ms": "ms", "plans.physical_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.busy_ratio": "ratio", "exec.ms": "ms", "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms", "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.gc_ms": "ms",
    "exec.codegen_compiles": "count", "exec.codegen_ms": "ms", "exec.jit_ms": "ms",
    "txlog.append_ms": "ms", "txlog.update_ms": "ms", "txlog.delete_ms": "ms",
    "txlog.merge_ms": "ms", "txlog.optimize_ms": "ms", "txlog.checkpoint_ms": "ms",
    "txlog.append_jobs": "count", "txlog.update_jobs": "count",
    "txlog.delete_jobs": "count", "txlog.merge_jobs": "count",
    "txlog.files_added": "count", "txlog.files_removed": "count",
    "txlog.bytes_written_mb": "MB", "txlog.log_versions": "count",
    "txlog.snapshot_files": "count", "txlog.prune_ms": "ms",
    "txlog.prune_kept_ratio": "ratio",
    "etl.bronze_ms": "ms", "etl.silver_write_ms": "ms", "etl.gold_ms": "ms",
    "etl.catalog_ms": "ms", "etl.day_jobs": "count", "etl.silver_read_ratio": "ratio",
    "etl.bytes_written_mb": "MB", "etl.gold_files": "count",
    "trace.overhead_ms": "ms",
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def driver_mem():
    """Heap sized from MemTotal as the repo's Tier-1 run does: half of
    RAM, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def prepare(workload, seed, scratch, cfg):
    """Generate the per-round inputs (timed: part of set-up) and the op
    lists. Returns (plan, seconds spent generating each round, extras)."""
    plan, gen_s, extra = {}, [], {}
    inputs = []
    for k in range(ROUNDS):
        d = scratch / f"in{k}"
        d.mkdir(parents=True)
        t = time.perf_counter()
        if workload in ("floor_mix", "heavy_mix"):
            gen.write_tables(str(d), seed, cfg["scale"])
        elif workload == "txlog_dml":
            c = gen.SCALES[cfg["scale"]]
            li = gen.lineitem_table(seed, c["lineitem"], c["orders"], c["part"], c["supplier"])
            li = li.add_column(0, "row_id", gen.pa.array(range(li.num_rows), gen.pa.int64()))
            gen._write(li, f"{d}/lineitem.parquet")
        else:
            (d / "bronze").mkdir()
            feeds = gen.write_feeds(str(d / "bronze"), seed, cfg["days"])
            wdate, wbody, _ = gen.feed_day(seed + 1, 0)
            wpath = d / "bronze" / f"warm_{wdate}.json"
            wpath.write_text(wbody)
            extra = {"feeds": feeds}
            plan["days"] = [{k2: f[k2] for k2 in ("date", "path", "batch_id")} for f in feeds]
            plan["warm_day"] = {"date": wdate, "path": str(wpath), "batch_id": 0}
        gen_s.append(time.perf_counter() - t)
        inputs.append(str(d))
    plan["inputs"] = inputs
    if workload == "floor_mix":
        plan["orders"] = gen.query_orders(seed, gen.FLOOR_QUERIES)
    elif workload == "heavy_mix":
        plan["orders"] = gen.query_orders(seed, gen.HEAVY_QUERIES)
    elif workload == "txlog_dml":
        plan["rounds_ops"] = gen.txlog_rounds(seed, gen.SCALES[cfg["scale"]]["lineitem"])
        plan["tt_frac"] = random.Random(seed).uniform(0.25, 0.75)
    else:
        plan["gold_sql"] = gen.GOLD_SQL
    return plan, gen_s, extra


def run_jvm(b, plan_path, scratch, cores, timeout_s):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = scratch / "tmp"
    tmp.mkdir()
    heap = driver_mem()
    # a fixed heap and young generation keep peak RSS from following GC
    # sizing heuristics from run to run
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={scratch}/derby",
            f"-Dderby.stream.error.file={scratch}/derby.log",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", ":".join(b["classpath"]), "lakebench.Main", str(plan_path)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(scratch / "spark-local"),
               SPARK_GRAFT_CPUS=str(cores), TZ="UTC")
    log = open(scratch / "jvm.log", "w")
    launch_ms = time.time() * 1000.0
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=log, stderr=subprocess.STDOUT, env=env)
    try:
        rc = proc.wait(timeout=max(10.0, timeout_s))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if proc.poll() is None:  # timed out or interrupted: never leave it running
            proc.kill()
            proc.wait()
        log.close()
    return rc, launch_ms


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="where a traced run writes its spans "
                    "(default .bench_build/spans/<workload>-seed<n>.json)")
    a = ap.parse_args(argv)
    # a terminated run still stops its engine process and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cfg = WORKLOADS[a.workload]
    load_start = loadavg()
    try:
        b = build.ensure()
    except (build.BuildError, subprocess.CalledProcessError) as e:
        print(f"lakebench: cannot build the engine: {e}", file=sys.stderr)
        return 2
    import checks  # heavy imports (duckdb, pandas) after the build check

    t_start = time.perf_counter()
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    scratch = build.OUT / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    try:
        plan, gen_s, extra = prepare(a.workload, a.seed, scratch, cfg)
        plan.update(workload=a.workload, seed=a.seed, cores=cores, scratch=str(scratch),
                    seconds=a.seconds, trace=bool(a.trace),
                    min_passes=max(cfg["min_passes"], 3 if a.trace else 0),
                    cap_s=CAP_S)
        plan_path = scratch / "plan.json"
        plan_path.write_text(json.dumps(plan))
        left = DEADLINE_S - (time.perf_counter() - t_start) - 15.0
        rc, launch_ms = run_jvm(b, plan_path, scratch, cores, left)
        res_path = scratch / "result.json"
        if rc != 0 or not res_path.exists():
            tail = (scratch / "jvm.log").read_text(errors="replace")[-6000:]
            print(f"lakebench: engine process ended with {rc}\n{tail}", file=sys.stderr)
            return 3
        res = json.loads(res_path.read_text())
        return report(a, b, res, gen_s, launch_ms, extra, scratch, load_start, checks, t_start)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def report(a, b, res, gen_s, launch_ms, extra, scratch, load_start, checks, t_start):
    out = f"{scratch}/out"
    rules = checks.oracle_rules(str(build.ROOT))
    ck = res["checks"]
    if "error" in ck:
        fails = [f"check phase failed: {ck['error']}"]
    elif a.workload in ("floor_mix", "heavy_mix"):
        fails = checks.check_queries(ck, out, f"{scratch}/in{ROUNDS - 1}", rules.TABLES, rules)
    elif a.workload == "txlog_dml":
        fails = checks.check_txlog(ck)
    else:
        done = extra["feeds"][:ck["days"]]
        expected = {k: sum(f["counts"][k] for f in done) for k in done[0]["counts"]}
        fails = checks.check_medallion(ck, out, expected, gen.GOLD_SQL, rules)
    fails += [f"op failed: {e}" for e in res["errors"]]

    # end-to-end metrics (untraced passes and samples only)
    setup = [g + (r["end_ms"] - (launch_ms if k == 0 else r["start_ms"])) / 1000.0
             for k, (g, r) in enumerate(zip(gen_s, res["setup"]))]
    cold = [p["ms"] for p in res["passes"] if p["pass"] == 0]
    plain = [p["ms"] for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    traced = [p["ms"] for p in res["passes"] if p["traced"]]
    by_op, w = res["query_ms"], res["write_ms"]
    q = [x for xs in by_op.values() for x in xs]
    p90, nq = pctl.percentile(q, 90, min_tail=10)
    tail_p, tail_v, _ = pctl.highest(q)
    # query_p50_ms is the median over read-op kinds of each kind's median:
    # a plain median of a mix of kinds lands between their modes
    p50 = pctl.median([pctl.median(xs) for xs in by_op.values()])
    space = (ck.get("storage_bytes", 0) / ck["live_bytes"]) if ck.get("live_bytes") else None
    e2e = {
        "setup_s": (pctl.median(setup), len(setup)),
        "pass_s": (pctl.median(plain) / 1000.0 if plain else None, len(plain)),
        "query_p50_ms": (p50, len(q)),
        "peak_rss_mb": (res["peak_rss_mb"], 1),
    }
    extra_e2e = {
        "query_p90_ms": ("ms", p90, nq),
        "write_p50_ms": ("ms", pctl.median(w), len(w)),
        "space_amp": ("ratio", space, 1 if space else 0),
        "failed_frac": ("ratio", res["failed"] / max(1, res["attempted"]), res["attempted"]),
        "first_pass_s": ("s", cold[0] / 1000.0 if cold else None, len(cold)),
    }
    if tail_p not in (None, 50, 90):  # the highest percentile the samples support
        extra_e2e[f"query_p{tail_p}_ms"] = ("ms", tail_v, nq)

    print(f"lakebench workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("  provenance " + json.dumps({k: b[k] for k in ("git_commit", "srchash", "dist_jar")}))
    print("  host " + json.dumps({"nproc": os.cpu_count(), "loadavg_start": load_start,
                                  "loadavg_end": loadavg(), "java": res["java"],
                                  "spark": res["spark"]}))
    print("  session " + json.dumps(res["confs"]))
    print(f"  passes 1 cold, {len(plain)} untraced, {len(traced)} traced over {res['measure_s']:.1f} s: "
          + " ".join(f"{p['ms'] / 1000:.2f}" for p in res["passes"]))
    print("  setup rounds " + " ".join(f"{x:.2f}" for x in setup) + " s")
    print(f"  wall generate {sum(gen_s):.1f} s, engine process {res['jvm_s']:.1f} s "
          f"(checks {res['check_s']:.1f} s), whole run {time.perf_counter() - t_start:.1f} s")
    for name, (v, n) in e2e.items():
        print(f"  metric {name} {fmt(v)} {END_TO_END[name]} n={n}")
    for name, (unit, v, n) in extra_e2e.items():
        note = "" if v is not None else (" (needs >=100 samples)" if name == "query_p90_ms" else "")
        print(f"  metric {name} {fmt(v)} {unit} n={n}{note}")

    metrics = {}
    if a.trace:
        layers = dict(res["layers"])
        kept, total = layers.pop("txlog.prune_kept", 0.0), layers.pop("txlog.prune_total", 0.0)
        layers["txlog.prune_kept_ratio"] = kept / total if total else 0.0
        layers["trace.overhead_ms"] = (pctl.median(traced) - pctl.median(plain)) if traced and plain else 0.0
        for name, unit in PER_LAYER.items():
            metrics[name] = {"value": float(layers.get(name, 0.0)), "unit": unit}
        print(f"  trace overhead {layers['trace.overhead_ms']:.1f} ms per pass "
              f"(traced {fmt(pctl.median(traced))} ms vs untraced {fmt(pctl.median(plain))} ms)")
        for row in res["ops"]:
            print("  op " + json.dumps(row))
        spans = Path(a.spans) if a.spans else build.OUT / "spans" / f"{a.workload}-seed{a.seed}.json"
        spans.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(scratch / "spans.json", spans)
        print(f"  spans {spans}")
    else:
        missing = [name for name in END_TO_END if e2e[name][0] is None]
        if missing:
            print(f"lakebench: no samples for {missing}", file=sys.stderr)
            return 3
        metrics = {name: {"value": float(e2e[name][0]), "unit": unit}
                   for name, unit in END_TO_END.items()}
    for f in fails:
        print(f"  check FAIL {f}")
    print(f"  check {'ok' if not fails else 'FAILED'}")
    correct = not fails
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
