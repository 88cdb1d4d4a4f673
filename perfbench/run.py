#!/usr/bin/env python3
"""Benchmark of the graft ELT engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload elt_pipeline --seed 1 --seconds 10 --trace 0

It compiles the program from src/main/scala and the benchmark process
from perfbench/src with the Scala compiler shipped in Spark's jars
(cached under .bench_build/), runs one workload in one JVM, checks every
output against DuckDB, and prints one JSON line as the last line of
stdout. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the same run is traced and reports per-layer metrics and the
tracing overhead. Details of each run land in .bench_out/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("elt_pipeline", "operators_mix")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
# Fixed, read-only operator dataset (TESTDATA.md's sf0.01 tables); the
# seed only permutes gate order.
SF_DIR = os.path.join(os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata")),
                      "sf0.01")
JVM_TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
GATES = ["qt18_bpe_encode", "qt29_unigram_encode", "qs09_pq_recall",
         "qd05_minhash_lsh", "qg01_pagerank", "q39_window_frames",
         "q14_star_join"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def other_graft_jvms():
    """Pids of live JVMs that run this program, its tests or sbt."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0]) == b"java":
            line = b" ".join(argv)
            if any(k in line for k in (b"graft", b"perfbench", b"sbt")):
                found.append(int(pid))
    return found


def scalac(out, sources, classpath):
    compiler = glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar"))
    library = glob.glob(os.path.join(SPARK_JARS, "scala-library-*.jar"))
    reflect = glob.glob(os.path.join(SPARK_JARS, "scala-reflect-*.jar"))
    if not (compiler and library and reflect):
        fail(f"no Scala compiler under {SPARK_JARS}")
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
           ":".join(compiler + library + reflect), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")


def build(root):
    """Compile the program and the benchmark unless the sources are
    unchanged since the last build. Returns the runtime classpath."""
    app_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                               recursive=True))
    bench_src = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    if not app_src or not bench_src:
        fail("run from the root of a checkout holding src/main/scala and perfbench/src")
    h = hashlib.sha256()
    for p in app_src + bench_src:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    base = os.path.join(root, ".bench_build", "perfbench")
    app, bench = os.path.join(base, "app"), os.path.join(base, "bench")
    stamp = os.path.join(base, "stamp")
    jars = os.path.join(SPARK_JARS, "*")
    built = None
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = f.read()
    if built != h.hexdigest():
        shutil.rmtree(base, ignore_errors=True)
        t0 = time.time()
        scalac(app, app_src, jars)
        scalac(bench, bench_src, f"{app}:{jars}")
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return f"{bench}:{app}:{jars}"


def run_jvm(root, classpath, scratch, args):
    """Run the benchmark process; returns its wall-clock launch time."""
    env = dict(os.environ, GRAFT_FIXTURE_DIR=os.path.join(scratch, "csv"))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dgraft.warehouse.dir={os.path.join(scratch, 'warehouse')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main"] + args)
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "wb") as log:
        t_launch = time.time()
        p = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark process failed ({code})", 1)
    return t_launch


def by_id(spans):
    return {s["id"]: s for s in spans}


def children(spans, parent_id):
    return [s for s in spans if s["parent"] == parent_id]


def check_pipeline_counts(con, res):
    """Row counts the timed pipeline reported, against the CSVs it loaded
    and the DuckDB star: every table the rebuild wrote, the backfilled
    year of the sales fact, and the runner's failed steps."""
    problems = []

    def expect(span, what, got, want):
        if got != want:
            problems.append({"name": span["name"], "span": span["id"],
                             "problem": f"{what}: {got} != {want}"})

    for s in res["spans"]:
        a = s["attrs"]
        if s["name"] == "warehouse.rebuild":
            for k, v in a.items():
                if k.startswith("rows.stg_"):
                    expect(s, k, v, res["setup"][k])
                elif k.startswith("rows."):
                    t = k[len("rows."):]
                    expect(s, k, v, con.sql(f"SELECT count(*) FROM {t}").fetchone()[0])
        elif s["name"] == "warehouse.rebuildPartitions":
            want = con.sql("SELECT count(*) FROM fact_salesactual "
                           f"WHERE DimSaleDateID // 10000 = {int(a['year'])}").fetchone()[0]
            expect(s, "backfilled rows", a["rows"], want)
        elif s["name"] == "runner.run":
            expect(s, "failed steps", a["steps_failed"], 0)
    return problems


def end_to_end(res, t_launch, ops):
    """Set-up is process start to a warmed session, plus the median of the
    workload's repeated input generation."""
    setup = res["session_ready_ms"] / 1000.0 - t_launch + res["setup"].get("generate_s", 0.0)
    return {
        "setup_s": (setup, "s"),
        "op_s": (stats.median([o["seconds"] for o in ops if o["ok"]]), "s"),
    }


def details(res, ops):
    """The figures the workload's own vocabulary names, from one run."""
    spans = res["spans"]
    ok = [o for o in ops if o["ok"]]
    # Reported only when a long --seconds window holds enough operations.
    out = {"samples": len(ok), "op_p90_s": stats.percentile([o["seconds"] for o in ok], 90)}
    if res["workload"] == "elt_pipeline":
        elt, backfill, ratio = [], [], []
        for o in ok:
            kids = {s["name"]: s for s in children(spans, o["span"])}
            elt.append(kids["warehouse.rebuild"]["seconds"] + kids["runner.run"]["seconds"])
            backfill.append(kids["warehouse.rebuildPartitions"]["seconds"]
                            + kids["catalog.read"]["seconds"])
            a = kids["catalog.read"]["attrs"]
            ratio.append(a["star_bytes"] / a["csv_bytes"])
        out.update(elt_s=stats.median(elt), backfill_s=stats.median(backfill),
                   star_bytes_per_csv_byte=stats.median(ratio))
    else:
        out.update(op_pass_s=stats.median([o["seconds"] for o in ok]))
        for g in GATES:
            out[f"gate.{g}_s"] = stats.median(
                [s["seconds"] for o in ok for s in children(spans, o["span"])
                 if s["name"] == f"gate.{g}"])
    return out


def per_layer(res, ops):
    """Per-layer metrics of a traced run. Counters are means per
    operation, so they do not grow with the run length."""
    spans = res["spans"]
    ok = [o for o in ops if o["ok"]]
    n = max(1, len(ok))
    roots = [by_id(spans)[o["span"]] for o in ok]
    ids = {o["span"] for o in ok}
    inside = [s for s in spans if s["op"] in ids]

    def named(name):
        return [s for s in inside if s["name"] == name]

    def med(xs):
        return stats.median(xs) if xs else 0.0

    def total(key):
        return sum(s.get(key, 0) for s in inside) / n

    g = res["trace_globals"]
    rebuilds = named("warehouse.rebuild")
    reads = named("catalog.read")
    m = {
        "warehouse.staging_s": med([s["attrs"]["staging_s"] for s in rebuilds]),
        "warehouse.facts_s": med([s["attrs"]["facts_s"] for s in rebuilds]),
        "warehouse.dims_s": med([s["seconds"] - s["attrs"]["staging_s"] - s["attrs"]["facts_s"]
                                 for s in rebuilds]),
        "warehouse.rebuild_s": med([s["seconds"] for s in rebuilds]),
        "warehouse.rows_written": med([s["attrs"]["rows_written"] for s in rebuilds]),
        "runner.run_s": med([s["seconds"] for s in named("runner.run")]),
        "runner.steps_failed": sum(s["attrs"]["steps_failed"] for s in named("runner.run")),
        "backfill.rebuild_partitions_s": med([s["seconds"] for s in
                                              named("warehouse.rebuildPartitions")]),
        "backfill.first_read_s": med([s["seconds"] for s in reads]),
        "write.star_bytes_per_csv_byte": med([s["attrs"]["star_bytes"] / s["attrs"]["csv_bytes"]
                                              for s in reads]),
        "blocks.pinned_mb_max": max([s["attrs"]["pinned_mb"] for s in inside
                                     if "pinned_mb" in s["attrs"]], default=0.0),
        "catalyst.analysis_ms": g["analysis_ms"] / n,
        "catalyst.optimization_ms": g["optimization_ms"] / n,
        "catalyst.planning_ms": g["planning_ms"] / n,
        "catalyst.queries": g["queries"] / n,
        "sched.jobs": total("jobs"),
        "sched.stages": total("stages"),
        "sched.tasks": total("tasks"),
        "sched.executor_run_s": total("run_ms") / 1e3,
        "sched.executor_cpu_s": total("cpu_ns") / 1e9,
        "sched.driver_gap_s": sum(r.get("driver_gap_s", 0.0) for r in roots) / n,
        "shuffle.write_bytes": total("shuffle_write"),
        "shuffle.read_bytes": total("shuffle_read"),
        "shuffle.spill_bytes": total("spill"),
        "scan.bytes_read": total("input_bytes"),
        "scan.files_read": g["files_read"] / n,
        "scan.files_pruned": g["files_pruned"] / n,
        "write.bytes": total("output_bytes"),
        "write.files": g["files_written"] / n,
        "jvm.gc_s": g["gc_ms"] / 1e3 / n,
        "jvm.peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        # Busy time of the trace listeners as a share of the timed
        # window: what tracing adds to the untraced run.
        "trace.overhead": g["listener_ns"] / 1e9 / max(
            1e-9, (res["window_end_ms"] - res["window_start_ms"]) / 1e3),
    }
    for q in GATES:
        gs = named(f"gate.{q}")
        m[f"gate.{q}_s"] = med([s["seconds"] for s in gs])
        m[f"gate.{q}.jobs"] = med([s.get("jobs", 0) for s in gs])
    return m


UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes", "bytes_read": "bytes",
         "write.bytes": "bytes", "_mb_max": "MB", "_mb": "MB", "overhead": "ratio",
         "per_csv_byte": "ratio"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    if not os.environ.get("SPARK_HOME"):
        fail("set SPARK_HOME to the Spark install the program builds against")
    root = os.getcwd()
    classpath = build(root)
    if a.workload == "operators_mix" and not os.path.isdir(SF_DIR):
        fail(f"operator dataset {SF_DIR} is missing")
    busy = other_graft_jvms()
    if busy:
        fail(f"refusing to time while other graft JVMs run: pids {busy}")

    scratch = os.path.join(root, ".bench_run")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        t_launch = run_jvm(root, classpath, scratch,
                           ["run", a.workload, str(a.seed), str(a.seconds),
                            str(a.trace), scratch, SF_DIR])
        with open(os.path.join(scratch, "result.json")) as f:
            res = json.load(f)
        t_check = time.time()
        con = oracle.connect(res["tables"],
                             SF_DIR if a.workload == "operators_mix" else None)
        problems = [{"name": n, "problem": p}
                    for n, p in oracle.check_outputs(con, res["checks"]) if p]
        if a.workload == "elt_pipeline":
            problems += check_pipeline_counts(con, res)
        con.close()
        res["setup"]["oracle_s"] = time.time() - t_check
        res["setup"]["check_s"] = res["check_s"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    ops = res["ops"]
    spans = by_id(res["spans"])
    for o in ops:
        inside = [s["id"] for s in res["spans"] if s["op"] == o["span"]]
        o["ok"] = o["error"] is None and not any(
            p.get("span") in inside for p in problems)
        if o["error"]:
            problems.append({"name": spans[o["span"]]["name"], "problem": o["error"]})
    attempted = len(ops) + len(res["checks"])
    failed = sum(not o["ok"] for o in ops) + sum(
        1 for p in problems if p["name"] in res["checks"])
    for p in problems:
        print(f"perfbench: FAILED {p['name']}: {p['problem']}", file=sys.stderr)
    if not any(o["ok"] for o in ops):
        fail("no timed operation succeeded", 1)

    if a.trace:
        metrics = {k: (v, unit_of(k)) for k, v in per_layer(res, ops).items()}
    else:
        metrics = end_to_end(res, t_launch, ops)
    info = details(res, ops)
    info.update(failed_share=failed / attempted, setup_parts=res["setup"])

    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"metrics": metrics, "details": info, "problems": problems,
                   "spans": res["spans"]}, f, indent=1)
    for k, v in sorted(info.items()):
        print(f"perfbench: {k} = {v}", file=sys.stderr)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
