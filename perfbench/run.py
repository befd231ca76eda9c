#!/usr/bin/env python3
"""The repository benchmark: one command that builds the program from
source, generates a workload's inputs from a seed, runs the workload
through the program's public entry points, checks every output against
the generator's ground truth, and prints every metric with its unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run it from the repository root. Workloads and metrics are described in
perfbench/README.md. Full detail of each run goes to
.bench_build/results/<workload>-s<seed>-t<trace>.json; the last stdout
line is a compact JSON summary.
"""
import argparse
import concurrent.futures
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

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["s3_day_smallfiles", "s3_day_bulk", "athena_reads", "curation_corpus"]
DEADLINE_S = 170.0

# input sizes: "full" is the measured size; "tiny" is the smoke mode
SIZES = {
    "full": {"day_lines": 30000, "week_lines": 2500, "docs": 500, "vecs": 800,
             "queries": 400, "compact_warmups": 8, "query_warmups": 10},
    "tiny": {"day_lines": 3000, "week_lines": 300, "docs": 120, "vecs": 300,
             "queries": 60, "compact_warmups": 1, "query_warmups": 2},
}
# compaction times keep falling for about ten ops after the cold one while
# the JIT compiles the generated code, hence 8 warm-ups at full size
NUM_OUTPUT_FILES = 10   # LogEtlMain's default
WEEK_OUTPUT_FILES = 2
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


# ---- build ---------------------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if not exe:
            raise BenchError("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BenchError(f"no Spark jars under {jars}")
    return jars


def java_exe():
    jh = os.environ.get("JAVA_HOME")
    exe = os.path.join(jh, "bin", "java") if jh else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BenchError("java not found")
    return exe


def scala_sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "scala")):
        for d, _, fs in sorted(os.walk(base)):
            out += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    if not any(p.startswith(os.path.join(ROOT, "src")) for p in out):
        raise BenchError("program sources (src/main/scala) not found")
    return out


def build():
    """Compile the program and the benchmark harness into
    .bench_build/classes with the Scala compiler shipped in Spark's jars;
    skipped when the sources are unchanged since the last build."""
    srcs = scala_sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return classes, 0.0
    t0 = time.time()
    jars = spark_jars()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if n.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(
            [java_exe(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={BUILD}", "-cp", os.pathsep.join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-classpath",
             os.path.join(jars, "*"), "-d", tmp, "@" + args_file],
            stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        raise BenchError(f"build failed (exit {rc}); see {log}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, time.time() - t0


# ---- processes -----------------------------------------------------------

def jvm_cmd(classes, main, args, tmp):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ([java_exe(), f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", *opens,
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
             "-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
             main] + list(args))


def run_proc(cmd, log, deadline, env=None):
    """Run cmd in its own process group, output to `log`; kill the whole
    group if it outlives `deadline` (epoch seconds). Returns exit code."""
    with open(log, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"timed out: {' '.join(cmd[-3:])}")


# ---- one run -------------------------------------------------------------

def prepare(workload, seed, size, data):
    """Generate the workload's inputs; returns (spec fields, truth)."""
    sz = SIZES[size]
    if workload in ("s3_day_smallfiles", "s3_day_bulk"):
        layout = "small" if workload == "s3_day_smallfiles" else "bulk"
        rec = gen.s3_day(data, seed, sz["day_lines"], layout)
        spec = {"input_root": rec["input_root"], "input_dir": rec["input_dir"],
                "bucket": rec["bucket"], "day": rec["day"],
                "num_output_files": NUM_OUTPUT_FILES, "lines": rec["lines"],
                "warmups": sz["compact_warmups"]}
        return spec, rec
    if workload == "athena_reads":
        week, table = gen.s3_week(os.path.join(data, "raw"), seed, sz["week_lines"])
        mix = gen.query_mix(seed, week, table, sz["queries"])
        week["table_root"] = os.path.join(data, "table")
        week["mix"] = mix
        spec = {"table_root": week["table_root"], "input_root": week["input_root"],
                "buckets": ",".join(week["buckets"]), "from": week["days"][0],
                "to": week["days"][-1], "num_output_files": WEEK_OUTPUT_FILES,
                "lines": week["lines"], "warmups": sz["query_warmups"],
                "queries": [{k: v for k, v in q.items() if k != "answer"}
                            for q in mix]}
        return spec, week
    rec = gen.corpus(data, seed, sz["docs"], sz["vecs"])
    spec = {"corpus": data, "docs": rec["docs"], "ann_queries": rec["queries"]}
    return spec, rec


def run_once(workload, seed, seconds, trace, size, cpus=None):
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    load_start = os.getloadavg()
    classes, build_s = build()
    # one core is left to the driver thread, JIT and GC, which steadies
    # the timings on a small host
    cpus = cpus or max(1, min(4, len(os.sched_getaffinity(0)) - 1))
    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    for d in (data, work, tmp):
        os.makedirs(d)
    log = os.path.join(run_dir, "jvm.log")
    env = dict(os.environ, SPARK_MASTER=f"local[{cpus}]",
               SPARK_GRAFT_CPUS=str(cpus))
    try:
        t0 = time.time()
        spec, truth = prepare(workload, seed, size, data)
        gen_s = time.time() - t0

        result_path = os.path.join(run_dir, "result.json")
        spec.update({"workload": workload, "work": work, "seconds": seconds,
                     "trace": bool(trace), "cpus": cpus, "result": result_path})
        spec_path = os.path.join(run_dir, "spec.json")
        spec["launch_ms"] = int(time.time() * 1000)
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        rc = run_proc(jvm_cmd(classes, "perfbench.PerfBench", [spec_path], tmp),
                      log, deadline, env)
        jvm_s = time.time() - spec["launch_ms"] / 1000.0
        if rc != 0 or not os.path.exists(result_path):
            raise BenchError(f"harness failed (exit {rc}); see {log}")
        with open(result_path) as f:
            res = json.load(f)

        t0 = time.time()
        report = checks.check(workload, res, truth, spec)
        checks_s = time.time() - t0
        detail = summarize(workload, res, report, gen_s, trace)
        detail.update({"seed": seed, "size": size, "seconds": seconds,
                       "trace": trace, "cpus": cpus, "build_s": build_s,
                       "load_avg_start": load_start,
                       "load_avg_end": os.getloadavg(),
                       "jvm_s": jvm_s, "checks_s": checks_s,
                       "wall_s": time.time() - t_start})
        return detail
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def percentile_with_support(xs, min_beyond=10):
    """(label, value) for the highest of p99/p95/p90/p75 that has at least
    `min_beyond` samples above it; the maximum when none does."""
    s = sorted(xs)
    for p in (99, 95, 90, 75):
        k = int(len(s) * p / 100.0)
        if len(s) - k - 1 >= min_beyond:
            return f"p{p}", s[k]
    return "max", s[-1]


def summarize(workload, res, report, gen_s, trace):
    ops = res["ops"]
    secs = [o["s"] for o in ops]
    warm_s = sum(o["s"] for o in res.get("warm", []))
    tail_label, tail = percentile_with_support(secs)
    p50 = statistics.median(secs)
    e2e = {
        "setup_s": (gen_s + res.get("session_s", 0.0) + warm_s, "s"),
        "cold_s": (res["cold"]["s"], "s"),
        "op_ms_p50": (p50 * 1000.0, "ms"),
        "recall": (report["recall"], "frac"),
    }
    layers = report["layers"]
    layers.update({
        "host.calib_ms": (res["calib_pre"]["calib_ms"], "ms"),
        "host.calib_par_ms": (res["calib_pre"]["calib_par_ms"], "ms"),
    })
    attribution = None
    if trace:
        layers.update(trace_layers(res))
        attribution = attribute(res["spans"])
    return {"workload": workload, "end_to_end": e2e, "per_layer": layers,
            "samples": len(secs), "tail_label": tail_label,
            "op_ms_tail": tail * 1000.0, "rss_hwm_mb": res["rss_hwm_mb"],
            "items_per_s": ops[0]["items"] / p50,
            "setup_parts": {"gen_s": gen_s,
                            "session_s": res.get("session_s", 0.0),
                            "warm_s": warm_s},
            "calib": {"pre": res["calib_pre"], "post": res["calib_post"]},
            "checks": report["checks"], "attempted": report["attempted"],
            "failed": report["failed"], "attribution": attribution,
            "spans": res.get("spans"),
            "op_seconds": secs,
            "traced_op_seconds": [o["s"] for o in res.get("traced_ops", [])]}


LAYER_SPANS = [
    "logetl.list", "logetl.scan", "s3accesslog.parse", "logetl.write",
    "logtable.read", "logtable.paths", "logtable.plan", "logtable.exec",
    "textanalysis.curation_report", "dedup.jaccard_pairs", "dedup.cc",
    "dedup.contamination", "textanalysis.pack", "similarity.ivf_build",
    "similarity.ivf_search", "dedup.semdedup",
]
ENGINE = [("jobs", "jobs", 1.0, "count"), ("stages", "stages", 1.0, "count"),
          ("tasks", "tasks", 1.0, "count"), ("task_s", "task_ms", 1e-3, "s"),
          ("gc_s", "gc_ms", 1e-3, "s"),
          ("shuffle_read_bytes", "shuffle_read_bytes", 1.0, "bytes"),
          ("shuffle_write_bytes", "shuffle_write_bytes", 1.0, "bytes"),
          ("spill_bytes", "spill_bytes", 1.0, "bytes"),
          ("input_bytes", "input_bytes", 1.0, "bytes")]


def self_times(spans):
    """Per span id: wall minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        covered, cur = 0, None
        for a, b in sorted(kids.get(s["id"], [])):
            if cur is None or a > cur[1]:
                covered += cur[1] - cur[0] if cur else 0
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        covered += cur[1] - cur[0] if cur else 0
        out[s["id"]] = max(0.0, s["wall_s"] - covered / 1e3)
    return out


def attribute(spans):
    """Self time per span name over the traced ops, and each name's share
    of the traced wall; the shares sum to 1 because every span's self time
    excludes exactly what its children cover."""
    selfs = self_times(spans)
    wall = sum(s["wall_s"] for s in spans if s["parent"] == -1)
    out = {}
    for s in spans:
        a = out.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
        a["calls"] += 1
        a["wall_s"] += s["wall_s"]
        a["self_s"] += selfs[s["id"]]
    for a in out.values():
        a["share"] = a["self_s"] / wall if wall else 0.0
    return {"traced_wall_s": wall,
            "self_sum_s": sum(a["self_s"] for a in out.values()),
            "by_span": out}


def trace_layers(res):
    spans = res["spans"]
    roots = [s for s in spans if s["name"] == "op"]
    n = max(1, len(roots))
    traced = sum(o["s"] for o in res["traced_ops"])
    untraced = sum(o["s"] for o in res["ops"])
    selfs = self_times(spans)
    out = {}
    for name in LAYER_SPANS:
        ss = [s for s in spans if s["name"] == name]
        tot = sum(s["wall_s"] for s in ss)
        out[f"{name}_s"] = (tot / n, "s")
        out[f"{name}_jobs"] = (sum(s["counters"]["jobs"] for s in ss) / n, "count")
        out[f"{name}_gap_s"] = (sum(s["wall_s"] - s["job_union_s"] for s in ss) / n, "s")
        out[f"{name}_task_s"] = (sum(s["counters"]["task_ms"] for s in ss) / 1e3 / n, "s")
    for key, field, scale, unit in ENGINE:
        out[f"spark.{key}"] = (sum(s["counters"][field] for s in roots) * scale / n, unit)
    out["spark.driver_gap_s"] = (sum(s["wall_s"] - s["job_union_s"] for s in roots) / n, "s")
    out["trace.overhead_s"] = ((traced - untraced) / n, "s")
    out["trace.overhead_frac"] = (traced / untraced - 1.0 if untraced else 0.0, "frac")
    out["trace.unattributed_frac"] = (
        sum(selfs[s["id"]] for s in roots) / max(1e-9, sum(s["wall_s"] for s in roots)),
        "frac")
    write = [s for s in spans if s["name"] == "logetl.write"]
    if write:
        out["logetl.shuffle_write_bytes"] = (
            sum(s["counters"]["shuffle_write_bytes"] for s in write) / n, "bytes")
        out["logetl.spill_bytes"] = (sum(s["counters"]["spill_bytes"] for s in write) / n,
                                     "bytes")
    scans = [(op["op"], op["metrics"]) for s in spans if s["name"] == "logtable.exec"
             for p in s["plans"] for op in p["ops"] if op["op"].startswith("Scan")]
    if scans:
        returned = sum(len(o["output"]["rows"]) for o in res["traced_ops"]
                       if o["error"] is None)
        scanned = sum(m.get("numOutputRows", 0) for _, m in scans)
        out["logtable.files_read"] = (sum(m.get("numFiles", 0) for _, m in scans) / n,
                                      "count")
        out["logtable.bytes_read"] = (sum(m.get("filesSize", 0) for _, m in scans) / n,
                                      "bytes")
        out["logtable.rows_scanned_per_returned"] = (scanned / max(1, returned), "ratio")
    return out


# ---- output --------------------------------------------------------------

def emit(detail, trace, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for c in detail["checks"]:
        print(f"check {c['name']:<38} {'ok' if c['ok'] else 'FAIL'}  {c.get('detail', '')}")
    for k, (v, u) in detail["end_to_end"].items():
        print(f"metric {k:<34} {v:>16.4f} {u}")
    for k, (v, u) in sorted(detail["per_layer"].items()):
        print(f"layer  {k:<34} {v:>16.4f} {u}")
    print(f"items/s {detail['items_per_s']:.1f} at the median op; samples "
          f"{detail['samples']}, {detail['tail_label']} {detail['op_ms_tail']:.1f} ms; "
          f"detail: {os.path.relpath(path, ROOT)}")
    metrics = detail["per_layer"] if trace else detail["end_to_end"]
    names = per_layer_names() if trace else None
    out = {}
    for k, (v, u) in metrics.items():
        if names is None or k in names:
            out[k] = {"value": v, "unit": u}
    if names is not None:
        for k, u in names.items():
            out.setdefault(k, {"value": 0.0, "unit": u})
    line = {"correct": detail["failed"] == 0, "attempted": detail["attempted"],
            "failed": detail["failed"], "metrics": out}
    print(json.dumps(line, separators=(",", ":")))


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def selftest():
    """Same seed gives byte-identical inputs, another seed different ones;
    then every workload runs at tiny size with all its checks."""
    ok = True
    base = os.path.join(BUILD, "selftest")
    shutil.rmtree(base, ignore_errors=True)
    for w in WORKLOADS:
        digests = []
        for k, seed in enumerate((11, 11, 12)):
            d = os.path.join(base, f"{w}-{k}")
            prepare(w, seed, "tiny", d)
            digests.append(gen.tree_digest(d))
        same, diff = digests[0] == digests[1], digests[0] != digests[2]
        ok &= same and diff
        print(f"selftest {w:<20} same-seed identical={same} other-seed differs={diff}")
    shutil.rmtree(base, ignore_errors=True)
    build()
    t0 = time.time()
    # the four smoke runs share the host, one core each
    with concurrent.futures.ThreadPoolExecutor(len(WORKLOADS)) as pool:
        runs = list(pool.map(lambda w: run_once(w, 11, 1, 0, "tiny", cpus=1), WORKLOADS))
    for w, d in zip(WORKLOADS, runs):
        bad = [c["name"] for c in d["checks"] if not c["ok"]]
        ok &= not bad and d["attempted"] > 0
        print(f"selftest {w:<20} attempted={d['attempted']} failed={d['failed']} "
              f"{'ok' if not bad else 'FAIL ' + ','.join(bad)} ({d['wall_s']:.1f} s)")
    print(f"selftest {'passed' if ok else 'FAILED'} in {time.time() - t0:.1f} s")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        if a.selftest:
            return selftest()
        if not a.workload:
            ap.error("--workload is required")
        detail = run_once(a.workload, a.seed, a.seconds, a.trace, a.size)
        path = os.path.join(BUILD, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json")
        emit(detail, a.trace, path)
        return 0
    except BenchError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
