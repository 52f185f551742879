#!/usr/bin/env python3
"""Export and docstore write-path benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the program and the benchmark
from source with sbt (cached in `.perfbench/` until a source changes),
generates the input tables with DuckDB (cached too), runs one JVM, checks
every output against DuckDB over the same tables and seed, and prints one
JSON object as the last line of standard output. A failed check fails the
command (exit 1) and prints no timing. Workloads, metrics and the layer
map are described in perfbench/README.md.
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen_fixture  # noqa: E402

WORKLOADS = ["export_full", "export_narrow", "docstore_cycle"]
APPENDS = 14          # small append commits per docstore_cycle round
WARMUP_APPENDS = 2    # ... and in its untimed cold round
WINDOWS = 5           # range-read windows per docstore_cycle run
WINDOW_PASSES = 3     # ... each read this many times per round
ROW_GROUP_BYTES = 1 << 20
RUN_LIMIT_S = 170     # a run ends within 180 s, build excluded

# name -> (unit, how the run's samples become the reported value)
END_TO_END = {
    "rows_per_s": ("rows/s", "median"),
    "commit_s_p50": ("s", "p50:commit_s"),
    "commit_s_p90": ("s", "p90:commit_s"),
    "scan_rows_per_s": ("rows/s", "median"),
    "range_read_s": ("s", "median"),
    "compact_s": ("s", "median"),
    "out_bytes_per_row": ("B/row", "median"),
    "heap_retained_mb": ("MB", "median"),
    "setup_s": ("s", "median"),
}
PER_LAYER = {
    "sources.scan_s": "s", "sources.bytes_read": "B",
    "sources.records_read": "count", "sources.scan_tasks": "count",
    "etl.transform_s": "s", "etl.write_s": "s",
    "etl.files_out": "count", "etl.bytes_out": "B",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.slot_util": "ratio",
    "spark.driver_gap_s": "s",
    "docstore.write_job_s": "s", "docstore.commit_s": "s",
    "docstore.files_added": "count", "docstore.bytes_added": "B",
    "docstore.versions": "count", "docstore.manifest_bytes": "B",
    "docstore.plan_s": "s", "docstore.footer_consults": "count",
    "docstore.scan_tasks": "count", "docstore.scan_bytes_read": "B",
    "docstore.rows_read_ratio": "ratio",
    "compact.files_in": "count", "compact.files_out": "count",
    "compact.bytes_rewritten": "B",
    "setup.session_s": "s", "setup.first_round_s": "s",
}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_files(root):
    pats = ["src/main/**/*", "build.sbt", "project/*.sbt", "project/build.properties",
            "perfbench/src/**/*", "perfbench/build.sbt", "perfbench/project/build.properties"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(root, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build(root, state):
    """Compile program + benchmark with sbt; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise BenchError("no program sources at src/main/scala in " + root)
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    info = os.path.join(state, "build.json")
    if os.path.exists(info):
        with open(info) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building with sbt (first run in a checkout)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError(f"sbt build failed (exit {p.returncode})")
    lines = [ln.strip() for ln in p.stdout.splitlines()
             if ln.strip().endswith(".jar") and os.pathsep in ln]
    if not lines:
        raise BenchError("sbt printed no classpath")
    classpath = lines[-1]
    log(f"built in {time.time() - t0:.1f}s")
    with open(info, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def fixture(state, sf):
    """Generated input tables, cached per generator version."""
    with open(gen_fixture.__file__, "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:16] + f"-{duckdb.__version__}"
    d = os.path.join(state, f"fixture-sf{sf}")
    done = os.path.join(d, ".done")
    if os.path.exists(done) and open(done).read() == tag:
        return d
    shutil.rmtree(d, ignore_errors=True)
    gen_fixture.generate(d, sf)
    with open(done, "w") as fh:
        fh.write(tag)
    return d


# ------------------------------------------------------------ seed params

def window(first, last, days, rng):
    """An inclusive window of `days` whole days starting on a seed-chosen
    day, inside [first, last] (dates). Fixed length, so every seed selects
    about the same number of rows."""
    start = first + datetime.timedelta(days=rng.randrange((last - first).days - days + 2))
    end = start + datetime.timedelta(days=days - 1)
    return start.isoformat(), end.isoformat() + " 23:59:59.999999"


def in_year(rng, days):
    """A `days`-long window inside one seed-chosen year of the lineitem
    dates, so a read of it prunes partitions and row groups."""
    y = rng.randrange(1995, 2001)
    return window(datetime.date(y, 1, 1), datetime.date(y, 12, 31), days, rng)


def params(workload, seed):
    """Everything the seed decides, shared by the JVM and the checks."""
    rng = random.Random(f"{workload}:{seed}")
    # the exports' write path still speeds up in the second round, so
    # their set-up runs two untimed rounds. An export_full round takes
    # most of a run's seconds, so it always runs two timed rounds: the
    # round count, and with it the rank p90 picks, stays fixed.
    p = {"warmup_rounds": 1 if workload == "docstore_cycle" else 2,
         "min_rounds": 2 if workload == "export_full" else 1}
    if workload == "export_narrow":
        # a month (30 days) of lineitem and orders, one day of events
        date = datetime.date
        p["lineitem.start"], p["lineitem.end"] = window(date(1995, 1, 2), date(2001, 11, 4), 30, rng)
        p["orders.start"], p["orders.end"] = window(date(1995, 1, 1), date(2001, 8, 1), 30, rng)
        p["events.start"], p["events.end"] = window(date(2024, 1, 1), date(2024, 1, 30), 1, rng)
        li = date.fromisoformat(p["lineitem.start"])
        p["range.start"], p["range.end"] = window(li, li + datetime.timedelta(days=29), 10, rng)
    elif workload == "export_full":
        p["range.start"], p["range.end"] = in_year(rng, 30)
    elif workload == "docstore_cycle":
        p["salt"] = rng.randrange(1_000_000)
        p["appends"] = APPENDS
        p["warmup_appends"] = WARMUP_APPENDS
        p["row_group_bytes"] = ROW_GROUP_BYTES
        p["windows"] = WINDOWS
        p["window_passes"] = WINDOW_PASSES
        for i in range(WINDOWS):
            p[f"window.{i}.start"], p[f"window.{i}.end"] = in_year(rng, 30)
    return p


# ----------------------------------------------------------------- checks

DATE_COLS = {"lineitem": "l_shipdate", "orders": "o_orderdate", "events": "ts"}
CENTS = "CAST(round(l_extendedprice * 100) AS BIGINT)"


def expected_export(con, fx, workload, p):
    tables = (["lineitem", "orders", "events"] if workload == "export_narrow"
              else gen_fixture.TABLES)
    rows, parts = {}, {}
    for t in tables:
        col = DATE_COLS.get(t)
        where = "TRUE"
        if workload == "export_narrow":
            where = f"{col} BETWEEN TIMESTAMP '{p[t + '.start']}' AND TIMESTAMP '{p[t + '.end']}'"
        pv = f"coalesce(CAST(year({col}) AS VARCHAR), 'unknown')" if col else "'unknown'"
        got = con.execute(f"SELECT {pv}, count(*) FROM '{fx}/{t}.parquet' "
                          f"WHERE {where} GROUP BY 1").fetchall()
        parts[t] = {k: v for k, v in got}
        rows[t] = sum(parts[t].values())
    where = f"l_shipdate BETWEEN TIMESTAMP '{p['range.start']}' AND TIMESTAMP '{p['range.end']}'"
    if workload == "export_narrow":
        where += (f" AND l_shipdate BETWEEN TIMESTAMP '{p['lineitem.start']}'"
                  f" AND TIMESTAMP '{p['lineitem.end']}'")
    rng = list(con.execute(f"SELECT count(*), coalesce(sum({CENTS}), 0) "
                           f"FROM '{fx}/lineitem.parquet' WHERE {where}").fetchone())
    return {"rows": rows, "partitions": parts, "range": rng}


def expected_cycle(con, fx, p):
    split = (f"(l_orderkey * 7919 + l_partkey * 104729 + l_linenumber * 31 + {p['salt']}) % 1000")
    total = list(con.execute(f"SELECT count(*), sum({CENTS}) FROM '{fx}/lineitem.parquet'").fetchone())
    bulk = con.execute(f"SELECT count(*) FROM '{fx}/lineitem.parquet' WHERE {split} < 900").fetchone()[0]
    ranges = [list(con.execute(
        f"SELECT count(*), coalesce(sum({CENTS}), 0) FROM '{fx}/lineitem.parquet' "
        f"WHERE l_shipdate BETWEEN TIMESTAMP '{p[f'window.{i}.start']}' "
        f"AND TIMESTAMP '{p[f'window.{i}.end']}'").fetchone()) for i in range(p["windows"])]
    ranges *= p["window_passes"]
    return {"bulk_rows": bulk, "before_compact": total, "after_compact": total, "ranges": ranges}


def check(workload, fx, p, result):
    """Mismatches between the JVM's outputs and DuckDB, as strings."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    bad = []
    if not result["checks"]:
        return ["no round reported outputs"]
    if workload == "docstore_cycle":
        exp = expected_cycle(con, fx, p)
        for c in result["checks"]:
            for k, v in exp.items():
                if c.get(k) != v:
                    bad.append(f"round {c['round']} {k}: got {c.get(k)}, DuckDB {v}")
            if c["files_after_compact"] >= c["files_before_compact"]:
                bad.append(f"round {c['round']} compaction left "
                           f"{c['files_after_compact']} of {c['files_before_compact']} files")
    else:
        exp = expected_export(con, fx, workload, p)
        for c in result["checks"]:
            r = c["round"]
            if c["rows"] != exp["rows"]:
                bad.append(f"round {r} rows: got {c['rows']}, DuckDB {exp['rows']}")
            for t, want in exp["partitions"].items():
                got = c.get("partitions", {}).get(t)
                if got != want and (c is result["checks"][-1] or "partitions" in c):
                    bad.append(f"round {r} {t} part_year counts: got {got}, DuckDB {want}")
            if c["range"] != exp["range"]:
                bad.append(f"round {r} range read: got {c['range']}, DuckDB {exp['range']}")
            if c["compacted_rows"] != exp["rows"]["orders"]:
                bad.append(f"round {r} compaction wrote {c['compacted_rows']} rows, "
                           f"want {exp['rows']['orders']}")
    con.close()
    return bad


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    """Nearest-rank quantile (q in (0, 1]) of a non-empty list: the
    smallest sample with at least q of the samples at or below it."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def summarize(samples, trace):
    metrics, counts = {}, {}
    if trace:
        for name, unit in PER_LAYER.items():
            xs = samples.get(name, [])
            metrics[name] = {"value": statistics.median(xs) if xs else 0, "unit": unit}
            counts[name] = len(xs)
    for name, (unit, how) in END_TO_END.items():
        if how.startswith("p"):
            q, key = how.split(":")
            xs = samples.get(key, [])
            value = quantile(xs, int(q[1:]) / 100) if xs else None
        else:
            xs = samples.get(name, [])
            value = statistics.median(xs) if xs else None
        counts[name] = len(xs)
        if value is None:
            raise BenchError(f"no samples for {name}")
        if not trace:
            metrics[name] = {"value": value, "unit": unit}
        else:
            metrics.setdefault("_end_to_end", {})[name] = value
    return metrics, counts


# -------------------------------------------------------------------- run

def cpu_times():
    """The machine's aggregate CPU counters (/proc/stat), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time stolen by the hypervisor between two readings: a
    slowdown from other guests that no load average inside shows."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / max(1, sum(d)), 4)


LOAD_LIMIT = 1.0      # load average / nproc above which a run is inflated
STEAL_LIMIT = 0.05    # ... and the share of CPU time stolen by the hypervisor


def inflated(regime):
    """Whether other work on the machine inflated a run's figures."""
    return (regime["load_inflation"] > LOAD_LIMIT
            or (regime["steal_share"] or 0) > STEAL_LIMIT)


def java_cmd(classpath, work, params_file, result_file):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", *opens,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Main", params_file, result_file]


def run_jvm(cmd, cwd, timeout):
    # every file the JVM writes stays under the run's work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(cwd, "spark-local"))
    os.makedirs(os.path.join(cwd, "tmp"))
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise BenchError(f"JVM exceeded {timeout:.0f}s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        sys.stderr.write(out[-6000:])
        raise BenchError(f"JVM exited {p.returncode}")
    return out


def bench(args):
    root = os.getcwd()
    state = os.path.join(root, ".perfbench")
    os.makedirs(state, exist_ok=True)
    classpath = build(root, state)
    t_built = time.time()
    fx = fixture(state, args.sf)
    p = params(args.workload, args.seed)
    cores = len(os.sched_getaffinity(0))
    # Spark gets one CPU less than the process may use: the driver thread,
    # the JIT and the GC keep one, so a CPU the hypervisor takes away for a
    # moment stalls no task at a stage barrier
    slots = max(1, cores - 1)
    work = os.path.join(state, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pfile = os.path.join(work, "params.properties")
    rfile = os.path.join(work, "result.json")
    with open(pfile, "w") as fh:
        for k, v in {**p, "workload": args.workload, "seconds": args.seconds,
                     "trace": args.trace, "cores": slots, "fixture": fx,
                     "work": work}.items():
            fh.write(f"{k}={v}\n")
    load_before, cpu_before = os.getloadavg(), cpu_times()
    t_jvm = time.time()
    try:
        # the build is the only step allowed past the run limit
        run_jvm(java_cmd(classpath, work, pfile, rfile), work, RUN_LIMIT_S - (t_jvm - t_built))
        load_after, cpu_after = os.getloadavg(), cpu_times()
        with open(rfile) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    jvm_s = time.time() - t_jvm
    bad = check(args.workload, fx, p, result)
    metrics, counts = summarize(result["samples"], args.trace)
    regime = dict(result["regime"], nproc=cores, load_before=list(load_before),
                  load_after=list(load_after),
                  load_inflation=round(max(load_before[0], load_after[0]) / cores, 3),
                  steal_share=steal_share(cpu_before, cpu_after))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "params": p, "rounds": result["rounds"],
        "attempted": result["attempted"], "failed": result["failed"],
        "measured_s": result["measured_s"], "jvm_s": jvm_s, "regime": regime,
        "sample_counts": counts, "samples": result["samples"],
        "checks_failed": bad, "errors": result["errors"],
        "metrics": metrics,
    }
    out_dir = os.path.join(state, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if args.sidecar:
        with open(args.sidecar, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
    if bad:
        for b in bad:
            log("CHECK FAILED: " + b)
        raise BenchError(f"{len(bad)} output check(s) failed")
    if regime["load_inflation"] > LOAD_LIMIT:
        log(f"load inflation {regime['load_inflation']}: load average above nproc "
            "during the run; figures are inflated by other work on the machine")
    if (regime["steal_share"] or 0) > STEAL_LIMIT:
        log(f"steal share {regime['steal_share']}: the hypervisor gave this machine's "
            "CPUs to other guests during the run; figures are inflated")
    # detail line: seed, regime, sample counts and the failure ratio (the
    # result is the last line; the ratio is 0 on a healthy run, so it is
    # not a metric with a relative bound)
    fail_ratio = {"value": result["failed"] / result["attempted"], "unit": "ratio"}
    print(json.dumps({"seed": args.seed, "workload": args.workload,
                      "rounds": result["rounds"], "fail_ratio": fail_ratio,
                      "regime": regime, "sample_counts": counts}))
    final_metrics = {k: v for k, v in metrics.items() if not k.startswith("_")}
    print(json.dumps({"correct": True, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": final_metrics}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="fixture scale (0.1 for timing)")
    ap.add_argument("--sidecar", help="also write the run record to this file")
    args = ap.parse_args()
    # a SIGTERM unwinds like an error, so the JVM's process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        bench(args)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)


if __name__ == "__main__":
    main()
