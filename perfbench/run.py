#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke        # every workload's script once

The first run builds the engine and the harness (perfbench/harness) with
sbt. Each run stages its inputs from the shipped sf0.1 tables in
perfbench/data and the seed, starts one JVM with a
`GraftSession` of nproc threads, and runs the workload's op script closed
loop with one client. Outputs are checked after the timed window. The last
stdout line is {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full record of the run is written under
.perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(WORK, "build")
HARNESS = os.path.join(HERE, "harness")
# A byte copy of the shipped sf0.1 testdata (checksums in SHA256SUMS).
SF01 = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("query_mix", "lakehouse", "scan_x10")
SETUP_ROUNDS = 3
MIN_PASSES = 3
# Untimed passes before the window: the first is cold (derived caches,
# code generation, JIT).
WARM_PASSES = 1
HEAP = "3g"
JVM_TIMEOUT_S = 160
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles: the engine's commit when
    there is no git to ask."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), HARNESS]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile engine + harness once per source digest; return the classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            built, cp = fh.read().split("\n", 1)
        if built == digest:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    home = os.path.expanduser("~")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            "-XX:-UsePerfData",
            f"-Dsbt.global.base={BUILD}/sbt-global", f"-Dsbt.ivy.home={BUILD}/ivy",
            f"-Djava.io.tmpdir={BUILD}/tmp"]
    repos = os.path.join(home, ".sbt", "repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=env, capture_output=True, text=True, timeout=800)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp


def make_plan(workload, seed, seconds, trace, smoke, run_dir):
    """Stage the seeded inputs and op script; return the plan."""
    data = os.path.join(run_dir, "data")
    plan = {"workload": workload, "threads": len(os.sched_getaffinity(0)),
            "seconds": seconds, "trace": bool(trace), "smoke": smoke,
            "setup_rounds": 1 if smoke else SETUP_ROUNDS,
            "min_passes": 1 if smoke else MIN_PASSES,
            "warm_passes": 0 if smoke else WARM_PASSES,
            "scratch": run_dir, "data": data,
            "results": os.path.join(run_dir, "results"),
            "derived_root": os.path.join(ROOT, "target")}
    if workload == "lakehouse":
        pool = os.path.join(run_dir, "events_pool")
        plan["history"], plan["passes"] = workloads.lakehouse_script(seed, pool)
        plan["events_pool"] = pool
    elif workload == "query_mix":
        inputs.curation_sample(SF01, data)
        plan["passes"] = workloads.query_script(seed, workloads.QUERY_MIX)
    else:
        inputs.scale_up(SF01, data, 10, seed)
        plan["passes"] = workloads.query_script(seed, workloads.SCAN_X10)
    return plan


def run_jvm(cp, plan, run_dir):
    plan_path = os.path.join(run_dir, "plan.json")
    raw_path = os.path.join(run_dir, "raw.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Dderby.system.home={tmp}",
           "-cp", cp, "graftbench.Main", plan_path, raw_path]
    launched = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(raw_path):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"harness JVM exited with {code}")
    with open(raw_path) as fh:
        return json.load(fh), launched


def span_ms(spans, selfs, name, n):
    return sum(selfs[s["id"]] for s in spans if s["name"] == name) / n


def end_to_end(plan, raw, setup_s):
    passes = raw["passes"]
    ops = [o for p in passes for o in p["ops"]]
    lat = [o["end"] - o["start"] for o in ops]
    reads = [o["end"] - o["start"] for o in ops
             if plan["workload"] != "lakehouse" or o["op"] in workloads.READ_OPS]
    q = stats.tail_quantile(len(plan["passes"][0]) * plan["min_passes"])
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (stats.median([(p["end"] - p["start"]) / 1000 for p in passes]), "s"),
        "op_p50_ms": (stats.quantile(lat, 0.5), "ms"),
        "op_p90_ms": (stats.quantile(lat, q), "ms"),
        "read_p50_ms": (stats.quantile(reads, 0.5), "ms"),
        "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
    }, {"op_samples": len(lat), "op_tail_quantile": q, "read_samples": len(reads),
        "pass_s": [(p["end"] - p["start"]) / 1000 for p in passes],
        # executor run time: recorded, not gated (it spreads past any
        # bound across runs on a shared 4-core host)
        "task_s": stats.median([p["task_ms"] / 1000 for p in passes]),
        "pass_task_s": [p["task_ms"] / 1000 for p in passes]}


def lakehouse_e2e(raw):
    """The two end-to-end figures only the lakehouse has."""
    facts = raw["workload"]
    writes = [o["end"] - o["start"] for p in raw["passes"]
              for o in p["ops"] if o["op"] not in workloads.READ_OPS]
    return stats.median(writes), facts["root_bytes"] / max(1, facts["live_bytes"])


def per_layer(plan, raw, wall_s):
    passes = raw["passes"]
    n = len(passes)
    spans, sp = raw["spans"], raw["spark"]
    selfs = stats.self_times(spans)

    def jobs_in(*names):
        return stats.jobs_in(spans, sp["jobs"], names) / n

    wall_ms = sum(p["end"] - p["start"] for p in passes)
    stages = sp["stages"]
    runs = [r for s in stages for r in s["run_ms"]]
    waits = [lt - s["submit"] for s in stages for lt in s["launch"]]
    skews = [max(s["run_ms"]) / max(1.0, stats.median(s["run_ms"]))
             for s in stages if len(s["run_ms"]) >= 2]
    job_iv = [(j["start"], j["end"]) for j in sp["jobs"] if j["end"] is not None]
    fam = {f: 0.0 for f in workloads.FAMILIES}
    for p in passes:
        for o in p["ops"]:
            f = workloads.family(o.get("name", ""))
            if f:
                fam[f] += (o["end"] - o["start"]) / n
    prog = sp["streaming"]
    nb = max(1, len(prog))
    facts = raw["workload"]
    write_p50, space_amp = lakehouse_e2e(raw) if plan["workload"] == "lakehouse" else (0.0, 0.0)

    def total(key):
        return sum(s[key] for s in stages) / n

    return {
        "queries.build_ms": (span_ms(spans, selfs, "queries.build", n), "ms"),
        "plans.plan_ms": (span_ms(spans, selfs, "plans.plan", n), "ms"),
        "plans.plan_jobs": (jobs_in("queries.build", "plans.plan"), "count"),
        **{f"operators.{f}_ms": (v, "ms") for f, v in fam.items()},
        "sources.open_ms": (span_ms(spans, selfs, "sources.open", n), "ms"),
        "sources.open_jobs": (jobs_in("sources.open"), "count"),
        "sources.scan_files_ratio": (facts.get("scan_files", 0) / max(1, facts.get("scan_live_files", 0)), "ratio"),
        "sources.commit_ms": (span_ms(spans, selfs, "sources.commit", n), "ms"),
        "sources.commit_jobs": (jobs_in("sources.commit"), "count"),
        "sources.merge_ms": (span_ms(spans, selfs, "sources.merge", n), "ms"),
        "sources.merge_jobs": (jobs_in("sources.merge"), "count"),
        "sources.delete_ms": (span_ms(spans, selfs, "sources.delete", n), "ms"),
        "sources.maintain_ms": (span_ms(spans, selfs, "sources.maintain", n), "ms"),
        "sources.stats_ms": (span_ms(spans, selfs, "sources.stats", n), "ms"),
        "sources.write_amp": (facts.get("written_bytes", 0) / max(1, facts.get("live_bytes", 0)), "ratio"),
        "sources.live_files": (facts.get("live_files", 0), "count"),
        "sources.write_p50_ms": (write_p50, "ms"),
        "sources.space_amp": (space_amp, "ratio"),
        "streaming.ingest_ms": (span_ms(spans, selfs, "streaming.ingest", n), "ms"),
        "streaming.batches": (len(prog) / n, "count"),
        "streaming.batch_ms": (sum(p["triggerExecution"] for p in prog) / nb, "ms"),
        "streaming.plan_ms": (sum(p["queryPlanning"] for p in prog) / nb, "ms"),
        "streaming.add_batch_ms": (sum(p["addBatch"] for p in prog) / nb, "ms"),
        "streaming.wal_ms": (sum(p["walCommit"] for p in prog) / nb, "ms"),
        "spark.exec_ms": (span_ms(spans, selfs, "exec", n), "ms"),
        "spark.jobs": (len(sp["jobs"]) / n, "count"),
        "spark.stages": (len(stages) / n, "count"),
        "spark.tasks": (len(runs) / n, "count"),
        "spark.nojob_ms": (sum(stats.uncovered(p["wall_start"], p["wall_end"], job_iv)
                               for p in passes) / n, "ms"),
        "spark.task_ms": (sum(runs) / n, "ms"),
        "spark.ms_per_task": (sum(runs) / max(1, len(runs)), "ms"),
        "spark.sched_wait_ms": (stats.median(waits), "ms"),
        "spark.busy_share": (sum(runs) / max(1.0, wall_ms * plan["threads"]), "ratio"),
        "spark.stage_skew": (stats.median(skews), "ratio"),
        "spark.shuffle_read_bytes": (total("shuffle_read"), "bytes"),
        "spark.shuffle_write_bytes": (total("shuffle_write"), "bytes"),
        "spark.spill_bytes": (total("spill"), "bytes"),
        "spark.input_bytes": (total("input"), "bytes"),
        "spark.gc_ms": (total("gc_ms"), "ms"),
        "spark.failed_tasks": (total("failed_tasks"), "count"),
        "driver.gc_ms": (sum(p["driver_gc_ms"] for p in passes) / n, "ms"),
        "trace.wall_s": (wall_s, "s"),
    }


def run_one(args, cp, digest):
    t_start = time.time()
    run_dir = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan = make_plan(args.workload, args.seed, args.seconds, args.trace, args.smoke, run_dir)
        raw, launched = run_jvm(cp, plan, run_dir)
        prep_s = launched - t_start
        boot_s = (raw["meta"]["main_ms"] / 1000.0) - launched
        warm_s = sum(p["end"] - p["start"] for p in raw["warm"]) / 1000
        load_s = raw["load_ms"] / 1000
        setup_s = prep_s + boot_s + stats.median(raw["setup_round_ms"]) / 1000 + load_s + warm_s
        check = workloads.check_lakehouse if args.workload == "lakehouse" else workloads.check_queries
        c0 = time.time()
        wrong, msgs = check(plan, raw)
        check_s = time.time() - c0
    finally:
        sweep(run_dir)
    measured = [o for p in raw["passes"] for o in p["ops"]]
    attempted, failed = stats.count_failures(measured, wrong)
    setup_wrong = [i for i in wrong if i not in {o["i"] for o in measured}]
    correct = failed == 0 and not setup_wrong
    e2e, samples = end_to_end(plan, raw, setup_s)
    layers = per_layer(plan, raw, e2e["wall_s"][0]) if args.trace else {}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": plan["threads"], "driver_heap": HEAP,
        "max_heap_mb": raw["meta"]["max_heap_mb"], "spark": raw["meta"]["spark"],
        "commit": commit_id(digest), "correct": correct, "attempted": attempted,
        "failed": failed, "fail_ratio": failed / attempted, "errors": msgs[:50],
        "setup": {"prep_s": prep_s, "jvm_boot_s": boot_s, "load_s": load_s, "warm_s": warm_s,
                  "round_ms": raw["setup_round_ms"]},
        "jvm_s": c0 - launched, "check_s": check_s, "run_s": time.time() - t_start,
        "samples": samples, "end_to_end": e2e, "per_layer": layers,
        "ops": [[o["pass"], o.get("name", o["op"]), o["end"] - o["start"]] for o in measured],
        "warm_ops": [[o["pass"], o.get("name", o["op"]), o["end"] - o["start"]]
                     for p in raw["warm"] for o in p["ops"]],
        "op_p50_ms_by_name": {
            name: stats.median([o["end"] - o["start"] for o in measured
                                if o.get("name", o["op"]) == name])
            for name in sorted({o.get("name", o["op"]) for o in measured})},
    }
    if args.workload == "lakehouse":
        record["write_p50_ms"], record["space_amp"] = lakehouse_e2e(raw)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        # tracing overhead: this run's wall_s less the untraced run's of the
        # same seed and commit, when this checkout has made that run
        try:
            with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")) as fh:
                base = json.load(fh)
            if base["commit"] == record["commit"]:
                record["trace_overhead_s"] = e2e["wall_s"][0] - base["end_to_end"]["wall_s"][0]
        except (OSError, ValueError, KeyError):
            pass
    out = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1)
    for m in msgs[:20]:
        print(f"check: {m}", file=sys.stderr)
    chosen = layers if args.trace else e2e
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}


def commit_id(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return f"source-digest:{digest}"


def sweep(run_dir):
    """Leave the checkout as the run found it, build outputs aside."""
    shutil.rmtree(run_dir, ignore_errors=True)
    target = os.path.join(ROOT, "target")
    for d in ("mv", "partitioned", "bucketed", "tmp/stream"):
        shutil.rmtree(os.path.join(target, d), ignore_errors=True)
    if os.path.isdir(target):
        for name in os.listdir(target):
            if "_index_" in name:
                shutil.rmtree(os.path.join(target, name), ignore_errors=True)


def main():
    # a terminated run still stops its JVM and sweeps (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload's script once, traced, and check it")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    digest = source_digest()
    cp = build(digest)
    if args.smoke:
        ok = True
        for w in [args.workload] if args.workload else WORKLOADS:
            args.workload, args.trace = w, 1
            res = run_one(args, cp, digest)
            print(f"smoke {w}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}")
            ok &= res["correct"]
        sys.exit(0 if ok else 1)
    res = run_one(args, cp, digest)
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
