#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload in a
fresh JVM, check every output, print one JSON result line.

    python3 perfbench/run.py --workload migrate_bulk --seed 7 --seconds 20 --trace 0

Run from the root of a checkout. The harness (perfbench/src) is compiled
together with the library sources (src/main/scala) by sbt, offline, into
.bench_build/. Inputs and outputs live under .bench_work/ and are removed
when the run ends; a traced run keeps its spans and self-time report
under .bench_out/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
RUN_LIMIT_S = 170  # a run must end within 180 s

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_home():
    """The Spark installation whose jars the harness runs on: SPARK_HOME,
    or the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME to the Spark installation")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; later runs reuse the classes."""
    stamp = sources_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    cmd = (["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
           + (["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
              if os.path.exists(repos) else [])
           + ["compile"])
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if p.returncode != 0:
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def harness_spec(workload, spec):
    if workload == "migrate_bulk":
        dbs = sorted({(t["db"], t["kind"], t["group"]) for t in spec["tables"]})
        return {"dbs": [{"db": d, "kind": k, "group": g} for d, k, g in dbs],
                "tables": [{"db": t["db"], "table": t["table"], "rows_out": t["rows_out"]} for t in spec["tables"]],
                "derby_src": spec["derby_src"], "merge_rows": spec["merge_rows"]}
    return gen.sync_plan(spec)


def run_jvm(args, work, out, trace_out, deadline):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dfile.encoding=UTF-8"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"), "perfbench.Main",
              "--workload", args.workload, "--dir", work, "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--out", out, "--trace-out", trace_out, "--cores", str(cores)])
    if os.environ.get("PERFBENCH_CORRUPT") == "1":
        cmd += ["--corrupt", "1"]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, "harness timed out"
    if rc != 0:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        return None, f"harness exited {rc}:\n{tail}"
    with open(out) as f:
        return json.load(f), None


def parquet_fingerprint(path):
    """The generator's fingerprint over a parquet directory the library
    wrote (data files only, as Spark lists them)."""
    files = sorted(os.path.join(path, f) for f in os.listdir(path)
                   if not f.startswith(("_", ".")) and f.endswith(".parquet"))
    t = pa.concat_tables([pq.read_table(f) for f in files], promote_options="default")
    cols = [c.to_pylist() for c in t.columns]
    return gen.fingerprint(t.column_names, list(zip(*cols)) if cols else [])


def check(workload, spec, result):
    """Compare every target with the expected state; return the set of
    target keys that differ."""
    got = dict(result["fingerprints"])
    for key, path in result["parquet_targets"].items():
        got[key] = parquet_fingerprint(path)
    if workload == "migrate_bulk":
        exp = {f"p{p}/{k}": v for p in range(result["applied"]["passes"]) for k, v in spec["expected"].items()}
    else:
        exp = {t: gen.sync_expected(spec, t, result["applied"].get(t, [])) for t in spec["targets"]}
    bad = {k for k, v in exp.items() if got.get(k) != v}
    bad |= {k for k in got if k not in exp}
    return bad


def summarize(workload, result, bad):
    """(attempted, failed): an operation fails when a target it wrote
    differs from the expected state."""
    attempted = failed = 0
    pass_no = 0
    for w in result["windows"]:
        for o in w["ops"]:
            attempted += 1
            if workload == "migrate_sync":
                key = o["label"].split("/")[0]
            else:  # a pass's copies are listed in order; its merge closes it
                key = f"p{pass_no}/{o['label']}"
                pass_no += o["label"] == "merge/merged"
            failed += key in bad
    return attempted, failed


OP_TYPES = ["sqldump", "csv", "json", "jdbc", "merge",
            "parquet", "manifest", "jdbc_ignore", "jdbc_replace", "stream"]


def op_type(label):
    """Operation type: the bulk source kind, the merge, or the sync target."""
    head = label.split("/")[0]
    return head if head in OP_TYPES else head.split("_")[0]


def op_type_medians(ops):
    """Median operation time per type; 0 for a type the workload lacks."""
    by = {t: [] for t in OP_TYPES}
    for o in ops:
        by[op_type(o["label"])].append(o["s"])
    return {f"op.{t}.p50_s": statistics.median(v) if v else 0.0 for t, v in by.items()}


def dedup_kept_ratio(spec, ops):
    """Rows the deduplicated copies report written over the rows that
    reach their dedup (the generator's count after the transform's
    filter); 0 for a workload without dedup."""
    into = {f"{t['db']}/{t['table']}": t["rows_dedup_in"] for t in spec.get("tables", []) if t["group"] == "txdd"}
    dd = [o for o in ops if o["label"] in into]
    n_in = sum(into[o["label"]] for o in dd)
    return sum(o["rows"] for o in dd) / n_in if n_in else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("library sources (src/main/scala) not found; run from the root of a checkout")
    with open(bench_file) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {args.workload}")

    build()
    deadline = max(deadline, time.time() + 150)  # a first run also builds

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_out = os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}")
    try:
        if args.workload == "migrate_bulk":
            spec = gen.gen_bulk(work, args.seed)
        else:
            spec = gen.gen_sync(work, args.seed)
        with open(os.path.join(work, "spec.json"), "w") as f:
            json.dump(harness_spec(args.workload, spec), f)
        t_gen = time.time()
        result, err = run_jvm(args, work, os.path.join(work, "result.json"), trace_out, deadline)
        print(f"perfbench: inputs ready after {t_gen - t_start:.1f}s, harness ran {time.time() - t_gen:.1f}s",
              file=sys.stderr)
        keep = os.path.join(ROOT, ".bench_out")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(keep, f"last-{args.workload}-jvm.log"))
        if result is None:
            fail(err, code=3)
        shutil.copy(os.path.join(work, "result.json"), os.path.join(keep, f"last-{args.workload}.json"))
        bad = check(args.workload, spec, result)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = summarize(args.workload, result, bad)
    if bad:
        print(f"perfbench: {len(bad)} target(s) differ from the expected state: {sorted(bad)[:5]}",
              file=sys.stderr)
    w0 = result["windows"][0]
    op_s = [o["s"] for o in w0["ops"]]
    q = statistics.quantiles(op_s, n=10, method="inclusive")
    unit_wall = w0["wall_s"] / w0["units"] if args.workload == "migrate_bulk" else w0["wall_s"]
    e2e = {
        "setup_s": result["setup_s"],
        "wall_s": unit_wall,
        "rows_per_s": w0["rows"] / w0["wall_s"],
        "op_s_p50": statistics.median(op_s),
        "op_s_p80": q[7],
    }
    if args.trace:
        layer = dict(result["layer"])
        layer["failed_ratio"] = failed / attempted
        layer["dedup.kept_ratio"] = dedup_kept_ratio(spec, result["windows"][1]["ops"])
        layer.update(op_type_medians(result["windows"][1]["ops"]))
        names = bench["per_layer"]
        values = layer
    else:
        names = bench["end_to_end"]
        values = e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
