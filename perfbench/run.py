#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 24 --trace 0

It builds the engine (cached in `.bench_build/`), generates the workload's
inputs from the seed, runs the JVM harness (`harness/PerfBench.scala`) for
untimed warm-up passes and then about `--seconds` of timed passes, checks the
outputs (`checks.py`), and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of `BENCHMARK.json`,
measured with tracing off. With `--trace 1` they are the per-layer ones,
from spans recorded around each call into a layer, with Spark listener
counts charged to the innermost open span; half the passes run untraced,
which gives the tracing overhead. A readable report, the load average, the
machine-speed gauges and the core count go to stderr.
"""
import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import corpus  # noqa: E402
import f1gen  # noqa: E402
import workloads  # noqa: E402

JVM_OPTS = ["-Xmx3g", "-Xss8m", "-XX:+UseG1GC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
STAR_TABLES = ["CircuitLocation", "DateDimension", "LocationDimension",
               "StatusDimension", "Driver", "Team", "Race", "TimeDimension",
               "Sprint", "FreePractice", "Qualification", "Laps", "PitStop",
               "Results", "DriverStandings", "TeamStandings"]

# Which end-to-end metric each layer metric should move, and on which
# workload (first matching prefix); printed beside the traced report.
TARGETS = {
    "etl.": "pass_s on star_etl",
    "core.Tables.csv_reparse_ratio": "pass_s on star_etl",
    "core.Tables.input": "pass_s on query_mix",
    "core.Sinks.": "pass_s on star_etl",
    "spark.busy_frac": "pass_s on star_etl",
    "spark.shuffle.": "pass_s on query_mix",
    "spark.": "pass_s on both",
    "jvm.peak_rss_mb": "none: peak memory, both",
    "trace.": "none: the cost of tracing",
    "": "pass_s on query_mix",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [median(xs)] * 3


def tail(lat):
    """Latency at the highest percentile with >= 10 samples beyond it."""
    s = sorted(lat)
    if len(s) <= 10:
        return (s[-1] if s else 0.0), 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def run_jvm(cp, cfg, work, deadline, jvm_flags=()):
    cfg_path = work / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    cmd = ["java"] + JVM_OPTS + list(jvm_flags) + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dgraft.scratch.dir={work / 'scratch'}",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dderby.stream.error.file={work / 'derby.log'}",
        "-cp", os.pathsep.join(cp), "perfbench.PerfBench", str(cfg_path)]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None
    if proc.returncode != 0 or not (work / "result.json").is_file():
        return None
    return json.loads((work / "result.json").read_text())


def pass_times(ops, traced=None):
    per = {}
    for o in ops:
        if traced is None or o["traced"] == traced:
            per[o["pass"]] = per.get(o["pass"], 0.0) + o["dur_s"]
    return [per[p] for p in sorted(per)]


def end_to_end(res, failed_names, setup_clock):
    """End-to-end metrics, plus the op-latency figures the report prints.

    With a few dozen op samples of a handful of query shapes, the median
    op latency falls between shapes and the tail percentile sits near the
    median, so both moved by more than a quarter between runs; they are
    reported, not bounded."""
    ops = res["ops"]
    lat = [o["dur_s"] for o in ops if o["ok"] and o["name"] not in failed_names]
    passes = pass_times(ops)
    tail_v, tail_pct = tail(lat)
    metrics = {
        "setup_s": res["first_op_epoch_ms"] / 1000.0 - setup_clock,
        "pass_s": median(passes),
    }
    detail = {"passes": len(passes), "pass_s_quartiles": quartiles(passes),
              "op_samples": len(lat), "op_p50_s": median(lat),
              "op_tail_s": tail_v, "op_tail_percentile": tail_pct,
              "peak_rss_mb": res["vmhwm_kb"] / 1024.0,
              "warmup_pass_s": res["warmup_pass_s"],
              "session_s": res["session_s"]}
    return metrics, detail


def per_layer(res, csv_bytes, cores):
    """Per-layer metrics: counted per op, summed per traced pass, and the
    median taken over the traced passes. Also gives every span its self
    time (its duration less its children's) for `trace.json`."""
    spans = res["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        total = dict(s["counts"])
        for k in kids.get(s["id"], []):
            for name, v in subtree(k).items():
                total[name] = total.get(name, 0.0) + v
        return total

    for s in spans:
        s["self_s"] = s["dur_s"] - sum(k["dur_s"] for k in kids.get(s["id"], []))
    per_pass = {}
    for s in kids.get(-1, []):
        per_pass.setdefault(s["pass"], []).append(s)
    rows = []
    for p, tops in sorted(per_pass.items()):
        c = {}
        for s in tops:
            for k, v in subtree(s).items():
                c[k] = c.get(k, 0.0) + v
        wall = sum(s["dur_s"] for s in tops)
        m = {k: c.get(k, 0.0) for k in (
            "core.Tables.input_bytes", "core.Tables.input_rows",
            "core.Sinks.bytes_written", "core.Sinks.files_written",
            "plans.planning_ms", "plans.exchanges",
            "plans.single_partition_exchanges", "plans.joins.smj",
            "plans.joins.bhj", "plans.joins.shj", "plans.joins.bnlj",
            "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
            "spark.task_ms", "spark.task_cpu_ms", "spark.gc_ms",
            "spark.shuffle.write_bytes", "spark.shuffle.read_bytes",
            "spark.shuffle.spill_bytes", "spark.shuffle.fetch_wait_ms",
            "streaming.batches", "streaming.trigger_ms",
            "streaming.add_batch_ms", "streaming.wal_commit_ms",
            "streaming.commit_offsets_ms", "streaming.query_planning_ms",
            "jvm.read_syscalls", "jvm.write_syscalls", "jvm.files_created")}
        by_name = {s["name"]: s for s in tops}
        for t in STAR_TABLES:
            s = by_name.get(f"Sinks.parquet:{t}")
            m[f"etl.table_ms.{t}"] = s["dur_s"] * 1000 if s else 0.0
        m["etl.build_all_ms"] = (by_name["buildAll"]["dur_s"] * 1000
                                 if "buildAll" in by_name else 0.0)
        m["core.Tables.csv_reparse_ratio"] = (
            c.get("core.Tables.input_bytes", 0.0) / csv_bytes if csv_bytes else 0.0)
        m["core.Sinks.bytes_out_per_in"] = (
            c.get("core.Sinks.bytes_written", 0.0) / csv_bytes if csv_bytes else 0.0)
        phase = {k: [x for s in tops for x in kids.get(s["id"], [])
                     if x["name"] == k] for k in ("construct", "execute")}
        m["queries.construct_ms"] = sum(x["dur_s"] for x in phase["construct"]) * 1000
        m["queries.construct_jobs"] = sum(x["counts"].get("spark.jobs", 0.0)
                                          for x in phase["construct"])
        m["queries.execute_ms"] = sum(x["dur_s"] for x in phase["execute"]) * 1000

        def op_s(names):
            return sum(s["dur_s"] for s in tops if s["name"] in names)
        m["ops.skew_specs_s"] = op_s(workloads.SKEW)
        m["ops.ordered_scan_specs_s"] = op_s(workloads.ORDERED_SCAN)
        m["streaming.specs_s"] = op_s(workloads.STREAMING)
        m["streaming.empty_batch_frac"] = (
            c.get("streaming.empty_batches", 0.0) / c["streaming.batches"]
            if c.get("streaming.batches") else 0.0)
        tx = [subtree(s) for s in tops if s["name"] in workloads.TXLOG]
        m["core.TxLog.specs_s"] = op_s(workloads.TXLOG)
        m["core.TxLog.jobs_per_op"] = (sum(t.get("spark.jobs", 0.0) for t in tx)
                                       / len(tx) if tx else 0.0)
        m["core.TxLog.bytes_written"] = sum(t.get("spark.output_bytes", 0.0)
                                            for t in tx)
        m["spark.busy_frac"] = (c.get("spark.task_ms", 0.0) / (cores * wall * 1000)
                                if wall else 0.0)
        rows.append(m)
    out = {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}
    out["jvm.peak_rss_mb"] = res["vmhwm_kb"] / 1024.0
    out["trace.overhead_s"] = (median(pass_times(res["ops"], True))
                               - median(pass_times(res["ops"], False)))
    return out


def core_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare(workload, seed, seconds, trace, cores, orders=None):
    """Make a fresh work directory and the workload's inputs from `seed`.

    Returns (harness config, work dir, expected star tables, CSV bytes)."""
    work = build.BUILD_DIR / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("scratch", "tmp", "local", "warehouse", "inputs", "check", "out"):
        (work / d).mkdir(parents=True)
    cfg = {"workload": workload, "cores": cores, "work": str(work),
           "timed_passes": workloads.timed_passes(seconds, trace), "trace": trace,
           "warmup_passes": workloads.WARMUP_PASSES,
           "result": str(work / "result.json"), "orders": []}
    expected, csv_bytes = None, 0
    if workload == "star_etl":
        text, expected = f1gen.generate(seed)
        csv = work / "inputs" / "wide.csv"
        csv.write_text(text)
        csv_bytes = csv.stat().st_size
        cfg.update(csv=str(csv), star_out=str(work / "out"))
    else:
        corpus.write(work / "inputs", workloads.CORPUS_SEED)
        cfg.update(corpus=str(work / "inputs"), check_dir=str(work / "check"),
                   orders=orders or workloads.orders(seed))
    return cfg, work, expected, csv_bytes


def class_archive(build_dir, cp, workload, cores):
    """JVM flags that map the class-data archive of `workload`, and its path.

    Without it a fresh JVM of either workload spends 7-15 s more loading
    Spark's classes from jars (4 cores), a sixth to a quarter of a whole
    run, most of it in set-up. The archive is written
    once per build and workload, by an untimed JVM run of one warm-up pass
    on a fixed seed; the first run after a build writes those of every
    workload, so that only that run, which also compiles, takes long.
    `-Xshare:on` makes a JVM that cannot map it fail instead of silently
    running without it, so every timed JVM of a build starts the same way."""
    for w in workloads.WORKLOADS:
        jsa = build_dir / f"{w}.jsa"
        if jsa.is_file():
            continue
        print(f"perfbench: writing the class-data archive of {w}",
              file=sys.stderr, flush=True)
        cfg, work, _, _ = prepare(w, 0, 0, False, cores)
        cfg.update(warmup_passes=1, timed_passes=0)
        tmp = build_dir / f"{w}-{os.getpid()}.jsa"
        run_jvm(cp, cfg, work, time.time() + 300,
                [f"-XX:ArchiveClassesAtExit={tmp}"])
        if not tmp.is_file():
            fail(f"could not write the class-data archive {jsa.name}; see "
                 f"{work / 'jvm.log'}")
        shutil.rmtree(work, ignore_errors=True)
        tmp.rename(jsa)
    jsa = build_dir / f"{workload}.jsa"
    return [f"-XX:SharedArchiveFile={jsa}", "-Xshare:on"], jsa


def steal_ticks():
    """(steal, total) CPU ticks of the machine so far, from `/proc/stat`.
    Steal is time the hypervisor ran something else on this machine's
    CPUs: the share of it over a run shows a slowdown from outside."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])
    except (OSError, ValueError):
        return 0, 0


def cpu_probe():
    """Seconds a fixed single-threaded loop takes: the same on a quiet
    machine, longer when other work on the host slows this one down."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t


def target(name):
    return next(v for k, v in TARGETS.items() if name.startswith(k))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = T_START + 170

    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    except OSError:
        fail("BENCHMARK.json not found at the repository root")
    if not (ROOT / "tools" / "verify_local.py").is_file():
        fail("tools/verify_local.py (the oracle comparison) is missing")
    cores = core_count()
    build_dir, cp = build.build()
    jvm_flags, jsa = class_archive(build_dir, cp, args.workload, cores)

    setup_clock = time.time()
    deadline = max(deadline, setup_clock + 160)
    cfg, work, expected, csv_bytes = prepare(
        args.workload, args.seed, args.seconds, bool(args.trace), cores)
    load_start = os.getloadavg()[0]
    probe_start = cpu_probe()
    steal0 = steal_ticks()

    res = run_jvm(cp, cfg, work, deadline, jvm_flags)
    steal1 = steal_ticks()
    last = build.BUILD_DIR / "last"
    shutil.rmtree(last, ignore_errors=True)
    last.mkdir()
    shutil.copy(work / "jvm.log", last / "jvm.log")
    if (work / "result.json").is_file():
        shutil.copy(work / "result.json", last / "result.json")
    if res is None:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the JVM harness failed or timed out; see {last / 'jvm.log'}")

    if args.workload == "star_etl":
        verdicts = checks.check_star(str(work / "out"), expected)
        bad_ops = set() if all(v is None for v in verdicts.values()) else {
            o["name"] for o in res["ops"]}
    else:
        names = sorted({o["name"] for o in res["ops"]})
        verdicts = checks.check_queries(str(ROOT), str(work / "inputs"),
                                        str(work / "check"), names,
                                        res["oracle"])
        bad_ops = {n for n, v in verdicts.items() if v is not None}
    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad_ops)
    e2e, detail = end_to_end(res, bad_ops, setup_clock)
    if args.trace:
        values = per_layer(res, csv_bytes, cores)
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": cores, "load1_start": load_start,
              "load1_end": os.getloadavg()[0],
              "steal_frac": ((steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
                             if steal1[1] > steal0[1] else 0.0),
              "cpu_probe_s": [probe_start, cpu_probe()],
              "class_archive": jsa.name, **detail,
              "failed_frac": failed / len(ops) if ops else 1.0,
              "checks": {k: v for k, v in verdicts.items() if v is not None},
              "op_errors": sorted({f"{o['name']}: {o['error']}"
                                   for o in ops if not o["ok"]})[:10]}
    print(json.dumps(report), file=sys.stderr)
    if args.trace:
        print(f"{'metric':44} {'median/pass':>14} {'unit':>6}  moves", file=sys.stderr)
        for m in wanted:
            print(f"{m['name']:44} {values.get(m['name'], 0.0):14.4f} "
                  f"{m['unit']:>6}  {target(m['name'])}", file=sys.stderr)
        (last / "trace.json").write_text(json.dumps(res["spans"]))
    (last / "report.json").write_text(json.dumps(report))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not bad_ops and failed == 0,
                      "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
