#!/usr/bin/env python3
"""Repo benchmark: one command runs a named workload with a seed.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline) into perfbench/target; later runs reuse
the build while the sources are unchanged. A run starts one JVM
(perfbench.Main), which sets up, warms up and measures; this script then
checks the answers (check.py, DuckDB), computes the metrics and prints

  * a report line: every figure of the run, the checks and the run's
    description (commit, seed, cores, JVM flags, load averages, inputs);
  * as the last line, {"correct", "attempted", "failed", "metrics"} with
    the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).

--smoke runs the same code on tiny inputs (a 1k-row car table, sf0.001)
and is what perfbench/test_smoke.py uses. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
JAR = os.path.join(HERE, "target", "perfbench.jar")
WORKLOADS = ("dashboard", "llm_pipeline", "ingest_mixed")
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))
RUN_LIMIT_S = 170  # a run must end within 180 s
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# MaxHeapFreeRatio=100: the full collections of a heap sample do not shrink
# the heap the next op runs in
JVM_FLAGS = ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseG1GC",
             "-XX:MaxHeapFreeRatio=100", "-Dfile.encoding=UTF-8", "-Dstdout.encoding=UTF-8"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    for base in (SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def jvm_cmd(cp, run_dir, *args):
    return (["java"] + JVM_FLAGS + ADD_OPENS + [
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dderby.system.home=" + run_dir, "-cp", cp, "perfbench.Main"] + list(args))


def build(src_hash):
    """Compiles program + harness unless this source hash is built, then
    packs the classes into one jar."""
    if os.path.exists(STAMP) and open(STAMP).read().strip() == src_hash:
        return open(CLASSPATH).read().strip()
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark installation")
    log("building program and harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
        "-Djava.io.tmpdir=" + os.path.join(HERE, "target", "tmp")]))
    os.makedirs(os.path.join(HERE, "target", "tmp"), exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    entries = p.stdout.strip().splitlines()[-1].split(os.pathsep)
    classes = [e for e in entries if os.path.isdir(e)]
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for c in classes:
            for d, _, fs in os.walk(c):
                for f in sorted(fs):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), c))
    cp = os.pathsep.join([JAR] + [e for e in entries if e not in classes])
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(src_hash)
    return cp


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def dir_size(path):
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet") and not f.startswith(".")]
    return len(files), sum(os.path.getsize(f) for f in files)


def quantile(xs, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(xs)
    i = q * (len(s) - 1)
    lo = int(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# ---- correctness --------------------------------------------------------

def judge(res, run_dir, corpus):
    """Marks every timed op ok / failed; returns (ops, checks, wrong)."""
    import check
    ops = res["ops"]
    wl = res["workload"]
    checks = {}
    if wl in ("dashboard", "ingest_mixed"):
        table = "data" if wl == "dashboard" else "initial"
        checks = check.check_dashboard(os.path.join(run_dir, table, "car_data.parquet"),
                                       os.path.join(run_dir, "answers_dashboard.jsonl"))
    elif wl == "llm_pipeline":
        checks = check.check_llm(corpus, os.path.join(run_dir, "answers"),
                                 os.path.join(run_dir, "oracle_sql.json"),
                                 os.path.join(ROOT, ".bench_build", "oracle"))
    reference = {o["key"]: o for o in ops if o["kind"] == "warmup"}
    wrong = 0
    for o in ops:
        o["fail"] = None
        if o["error"]:
            o["fail"] = "error"
        elif wl in ("dashboard", "llm_pipeline") and o["kind"] != "warmup":
            ref = reference.get(o["key"])
            if ref is None or ref["error"] or checks.get(o["key"], "unchecked"):
                o["fail"] = "wrong"
            elif o["hash"] != ref["hash"]:
                o["fail"] = "wrong"
        elif "rows_seen" in o["attrs"]:
            a = o["attrs"]
            if not a["committed_before"] <= a["rows_seen"] <= a["committed_after"]:
                o["fail"] = "wrong"
        if o["fail"] == "wrong":
            wrong += 1
    # a warm-up answer that fails its check is a wrong answer in any workload
    wrong += sum(1 for v in checks.values() if v) if wl == "ingest_mixed" else 0
    return ops, checks, wrong


# ---- metrics ------------------------------------------------------------

def spans_by_op(run_dir):
    out = {}
    path = os.path.join(run_dir, "spans.tsv")
    with open(path) as f:
        next(f)
        for line in f:
            sid, parent, op, name, start, end = line.rstrip("\n").split("\t")
            out.setdefault(int(op), []).append(
                (int(sid), int(parent), name, float(start), float(end)))
    return out


def self_times(spans):
    """{span id: (name, duration, self time)}: self = duration minus the
    union of its children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {}
    for sid, _, name, start, end in spans:
        covered, cur = 0.0, None
        for _, _, _, cs, ce in sorted(kids.get(sid, []), key=lambda k: k[3]):
            cs, ce = max(cs, start), min(ce, end)
            if cur is None or cs > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [cs, ce]
            else:
                cur[1] = max(cur[1], ce)
        if cur:
            covered += cur[1] - cur[0]
        out[sid] = (name, end - start, (end - start) - covered)
    return out


def latency(o):
    """An op's wall time; a swap read's wait for the compaction is not
    part of it."""
    return o["end"] - o["start"] - o["attrs"].get("swap_wait_s", 0)


def figures(res, ops, run_dir):
    """Every figure of a run, end-to-end and per layer."""
    wl = res["workload"]
    primary = {"dashboard": "request", "llm_pipeline": "query", "ingest_mixed": "read"}[wl]
    timed = [o for o in ops if o["pass"] >= 0 and o["kind"] != "warmup"]
    reads = [o for o in timed if o["kind"] == primary]
    lat = [latency(o) for o in reads]
    # a pass's heap samples are not its work
    pass_walls = [p["end"] - p["start"] - p["paused"] for p in res["passes"]]
    wall = sum(pass_walls)
    setup = res["setup"]
    f = {
        "setup_s": sum(setup.values()),
        "latency_p50_s": quantile(lat, 0.5),
        "latency_p90_s": quantile(lat, 0.9),
        # completed ops: a read that failed (a compaction swap) is not one
        "ops_per_s": sum(1 for o in reads if not o["error"]) / wall,
        "pass_s": statistics.median(pass_walls),
        "heap_peak_mb": res["heap_peak_mb"],
        "heap_samples": res["heap_samples"],
        "latency_samples": len(lat),
        "passes": len(pass_walls),
        "fail_ratio": sum(1 for o in timed if o["fail"]) / len(timed),
    }
    appends = [o for o in timed if o["kind"] == "append"]
    compacts = [o for o in timed if o["kind"] == "compact"]
    if wl == "ingest_mixed":
        writer = appends + compacts
        wwall = max(o["end"] for o in writer) - min(o["start"] for o in writer)
        alat = [o["end"] - o["start"] for o in appends]
        f.update({
            "ingest_rows_per_s": sum(o["attrs"].get("ingest.rows", 0) for o in appends) / wwall,
            "append_p50_s": quantile(alat, 0.5), "append_p90_s": quantile(alat, 0.9),
            "append_samples": len(alat),
            "stored_bytes_per_row": res["info"]["table_bytes_end"] / res["info"]["table_rows_end"],
        })
    # compaction overlap: reads whose interval meets a compaction's
    windows = [(o["start"], o["end"]) for o in compacts]
    overlapped = [o for o in reads if any(o["start"] < e and o["end"] > s for s, e in windows)]
    f["maintenance.reads_overlapped"] = len(overlapped)
    f["maintenance.reads_failed"] = sum(1 for o in overlapped if o["fail"])
    errors, samples = {}, {}
    for o in timed:
        if o["error"]:
            words = o["error"].replace(":", " ").replace("[", " ").replace("]", " ").split()
            cls = next((w for w in words if w.isupper() and "_" in w), o["error"].split(":")[0])
            errors[cls] = errors.get(cls, 0) + 1
            samples.setdefault(cls, o["error"][:300])
    by_key = {}
    for o in reads:
        by_key.setdefault(o["key"], []).append(round(latency(o), 4))
    f["latencies_by_key"] = by_key
    f["error_classes"] = errors
    f["error_samples"] = samples
    f.update(layer_figures(res, ops, run_dir, primary, reads, appends, compacts))
    return f


def layer_figures(res, ops, run_dir, primary, reads, appends, compacts):
    if not res["trace"]:
        return {}
    spans = spans_by_op(run_dir)
    traced = [o for o in reads if o["traced"]]
    n = max(len(traced), 1)

    def span_mean(name, group):
        return mean([sum(s[4] - s[3] for s in spans.get(o["id"], []) if s[2] == name)
                     for o in group])

    def attr_mean(name, group):
        vals = [o["attrs"][name] for o in group if name in o["attrs"]]
        return mean(vals)

    sp = res["spark"]

    def spark(field, *phases):
        return sum(sp.get(f"1/{p}", {}).get(field, 0) for p in phases) / n

    build_phases = ("load", "build", "plan")
    f = {
        "tables.load_s": span_mean("tables.load", traced) if primary != "query"
        else spark("job_wall_s", "tables"),
        "tables.load_jobs": spark("jobs", "tables"),
        # construction of the op's DataFrame: SparkEntry.queries on
        # llm_pipeline, CarAnalytics on ingest_mixed (also as car.build_s)
        "operators.build_s": span_mean("operators.build", traced) + span_mean("car.build", traced),
        "car.build_s": span_mean("car.build", traced),
        "operators.build_jobs": spark("jobs", "build"),
        "catalyst.plan_s": span_mean("catalyst.plan", traced),
        "action.run_s": span_mean("action.run", traced) + span_mean("envelope.read", traced),
        "action.jobs": spark("jobs", "action"),
        "envelope.read_s": span_mean("envelope.read", traced),
        "envelope.rows": attr_mean("envelope.rows", traced),
        "envelope.bytes": attr_mean("envelope.bytes", traced),
    }
    for field in ("jobs", "stages", "tasks", "task_wait_s", "task_run_s", "task_cpu_s", "gc_s"):
        f[f"spark.{field}.build"] = spark(field, *build_phases)
        f[f"spark.{field}.action"] = spark(field, "action")
    f["spark.gc_s"] = spark("gc_s", *build_phases, "action")
    traced_wall = sum(latency(o) for o in traced)
    f["spark.slot_busy_ratio"] = (spark("task_run_s", *build_phases, "action") * n
                                  / (res["cores"] * traced_wall) if traced_wall else 0.0)
    for field in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        f[f"spark.{field}"] = spark(field, *build_phases, "action")
    all_ops = max(len([o for o in ops if o["pass"] >= 0]), 1)
    f["spark.rdd_blocks_stored"] = res["rdd_blocks_stored"] / all_ops
    f["spark.rdd_bytes_stored"] = res["rdd_bytes_stored"] / all_ops
    f["spark.failed_tasks"] = sum(v.get("failed_tasks", 0) for k, v in sp.items()
                                  if k.startswith("1/"))
    tr_app = [o for o in appends if o["traced"]]
    tr_cmp = [o for o in compacts if o["traced"]]
    f.update({
        "spark.jobs.write": sum(sp.get(f"1/{p}", {}).get("jobs", 0)
                                for p in ("append", "compact")) / max(len(tr_app), 1),
        "ingest.append_s": span_mean("ingest.append", tr_app),
        "ingest.rows": attr_mean("ingest.rows", tr_app),
        "ingest.files_written": attr_mean("ingest.files_written", tr_app),
        "ingest.bytes_written": attr_mean("ingest.bytes_written", tr_app),
        "table.files_at_read": attr_mean("table.files_at_read", traced),
        "maintenance.compact_s": span_mean("maintenance.compact", tr_cmp),
        "maintenance.bytes_rewritten": attr_mean("maintenance.bytes_rewritten", tr_cmp),
        "maintenance.files_before": attr_mean("maintenance.files_before", tr_cmp),
        "maintenance.files_after": attr_mean("maintenance.files_after", tr_cmp),
    })
    # reconciliation: op wall time against its layer spans
    unattributed, covered = [], []
    for o in traced:
        st = self_times(spans.get(o["id"], []))
        root = next((v for v in st.values() if v[0] == "op"), None)
        if root:
            unattributed.append(root[2])
            covered.append(1 - root[2] / root[1] if root[1] else 1.0)
    f["unattributed_s"] = mean(unattributed)
    f["trace.span_coverage"] = mean(covered)
    # tracing overhead: traced vs untraced latency of the same op keys
    by_key = {}
    for o in reads:
        by_key.setdefault(o["key"], {True: [], False: []})[o["traced"]].append(latency(o))
    pairs = [(mean(v[True]), mean(v[False])) for v in by_key.values() if v[True] and v[False]]
    f["trace.overhead_s"] = mean([a - b for a, b in pairs])
    f["trace.overhead_ratio"] = (sum(a for a, _ in pairs) / sum(b for _, b in pairs) - 1
                                 if pairs else 0.0)
    f["trace.paired_keys"] = len(pairs)
    return f


def load_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(SRC, "graft")):
        raise SystemExit(f"perfbench: no program sources at {SRC}; run from a checkout root")
    contract = load_contract()
    corpus = os.path.join(TESTDATA, "sf0.001" if args.smoke else "sf0.01")
    if args.workload == "llm_pipeline" and not os.path.isdir(corpus):
        raise SystemExit(f"perfbench: test data {corpus} not found (set PERFBENCH_TESTDATA)")
    src_hash = source_hash()
    cp = build(src_hash)

    started = time.time()
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    load_before = loadavg()
    cmd = jvm_cmd(cp, run_dir, args.workload, str(args.seed), str(args.seconds),
                  str(args.trace), run_dir, TESTDATA, "smoke" if args.smoke else "full")
    env = dict(os.environ, SPARK_GRAFT_FIXTURE_DIR=os.path.join(run_dir, "fixtures"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S - 15)
            jvm_s = time.time() - started
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-6000:])
        raise SystemExit(f"perfbench: JVM run failed ({rc})")
    load_after = loadavg()
    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)

    ops, checks, wrong = judge(res, run_dir, corpus)
    fig = figures(res, ops, run_dir)
    timed = [o for o in ops if o["pass"] >= 0 and o["kind"] != "warmup"]
    failed = sum(1 for o in timed if o["fail"])
    if res["workload"] == "llm_pipeline":
        inputs = {t: dict(zip(("files", "bytes"), dir_size(os.path.join(corpus, f"{t}.parquet"))))
                  for t in ("lineitem", "orders", "customer", "part", "supplier", "nation",
                            "region", "events", "documents", "embeddings")}
    else:
        def table(name, d, rows):
            files, nbytes = dir_size(os.path.join(run_dir, d, "car_data.parquet"))
            return {name: {"files": files, "bytes": nbytes, "rows": rows}}
        info = res["info"]
        if "table_rows" in info:
            inputs = table("car_data", "data", info["table_rows"])
        else:
            inputs = {**table("car_data_start", "initial", info["table_rows_start"]),
                      **table("car_data_end", "data", info["table_rows_end"]),
                      "upload": {"files": 1, "rows": info["batch_rows"], "bytes": sum(
                          os.path.getsize(os.path.join(d, f)) for d, _, fs in
                          os.walk(os.path.join(run_dir, "data", "upload.json"))
                          for f in fs if f.endswith(".json"))}}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "git_commit": git_commit(),
        "source_hash": src_hash, "nproc": res["cores"], "jvm_flags": res["jvm_flags"],
        "spark_version": res["spark_version"],
        "load_avg_before": load_before,
        "load_avg_after": load_after, "inputs": inputs, "setup": res["setup"],
        "info": res["info"], "checks": checks,
        "checks_failed": sorted(k for k, v in checks.items() if v),
        "attempted": len(timed), "failed": failed, "wrong_answers": wrong,
        "figures": fig, "run_s": round(time.time() - started, 3),
        "jvm_s": round(jvm_s, 3),
    }
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1, ensure_ascii=False)
    shutil.rmtree(run_dir, ignore_errors=True)

    names = contract["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": float(fig.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(json.dumps({"report": report}, ensure_ascii=False))
    print(json.dumps({"correct": wrong == 0, "attempted": len(timed), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
