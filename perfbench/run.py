"""Benchmark runner: build, generate the lake, run one workload, report.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--smoke] [--write-pins]

Run from the repository root. The program is compiled from source
(`build.py`), the synthetic lake is generated once per scale factor
(`gendata.py`), and one JVM runs the workload in a wiped work root at
`local[N]`, N = the processors this process may use, with N shuffle
partitions. The JVM's raw report (per-cycle op
times, spans, counters, check results) is summarised here. The last
stdout line is the result JSON: end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gendata  # noqa: E402

SF = "0.01"
SMOKE_SF = "0.001"
JVM_HEAP = "2g"
# An untraced run measures one cold cycle. C1-only JIT costs it nothing
# (tiered C1+C2 was no faster) and removes the run-to-run noise of C2
# compile bursts competing with Spark for the cores. C1-only shrinks the
# default code cache to 48 MB, which Spark's generated code fills in
# about 35 s; the JVM then disables its compiler for the rest of the
# run, so the cache is reserved larger. A fixed-size heap with the
# parallel collector keeps the resident set steady.
JVM_FLAGS = [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=512m", "-XX:+UseParallelGC"]
JVM_TIMEOUT_S = 170

# op kinds per workload: the build step, and the client calls after it
# whose total is serve_s
WORKLOADS = {
    "warehouse_refresh": {"build": ["refresh"], "ops": ["query"]},
    "corpus_select": {"build": ["train"], "ops": ["score", "dedup", "export"]},
    "vector_store": {"build": ["build"], "ops": ["search", "ingest"]},
}

# the per-operation metrics printed for people, per workload: name -> op kinds
DETAIL = {
    "warehouse_refresh": {"refresh_s": ["refresh"], "query_ms": ["query"]},
    "corpus_select": {"train_s": ["train", "score"], "dedup_s": ["dedup"],
                      "export_s": ["export"]},
    "vector_store": {"search_ms": ["search"],
                     "ingest_ms": ["ingest"], "maintain_s": ["maintain"]},
}

SPANS = [
    "pipelines.medallion.run", "pipelines.reference.run", "queries.read",
    "operators.learn.train", "operators.learn.score",
    "operators.dedup.minhash", "operators.dedup.cc",
    "operators.textops.export", "streaming.ann_build", "sources.state.load",
    "operators.similarity.search", "streaming.fold",
    "operators.similarity.promote", "operators.similarity.maintain",
    "sources.state.vacuum",
]
WRITE_SPANS = {
    "pipelines.medallion.run", "pipelines.reference.run",
    "operators.textops.export", "streaming.ann_build", "streaming.fold",
    "operators.similarity.promote", "operators.similarity.maintain",
}
COUNTERS = ["wall_s", "jobs", "tasks", "job_busy_s", "driver_gap_s",
            "shuffle_mb", "plan_ms"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def source_id(repo, classes):
    try:
        sha = subprocess.run(["git", "-C", repo, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if sha.returncode == 0:
            return sha.stdout.strip()
    except OSError:
        pass
    return "tree:" + open(os.path.join(classes[0], ".source-hash")).read()[:16]


def lake(repo, sf):
    gen = open(os.path.join(HERE, "gendata.py"), "rb").read()
    d = os.path.join(repo, build.BUILD_DIR, "data",
                     f"sf{sf}-{hashlib.sha256(gen).hexdigest()[:12]}")
    if not os.path.isdir(d):
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        log(f"generating the sf{sf} lake")
        gendata.generate(float(sf), d)
    return d


def run_jvm(repo, classes, args, sf, data, work, pins_file, pin_out, report):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *JVM_FLAGS,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", os.pathsep.join(classes + [jars]), "perfbench.PerfBench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--smoke", "1" if args.smoke else "0",
        "--nproc", str(len(os.sched_getaffinity(0))),
        "--sf", sf, "--data", data,
        "--fixtures", os.path.join(repo, "src", "test", "resources", "fixtures"),
        "--pins", pins_file, "--report", report,
        "--sha", source_id(repo, classes)]
    if pin_out:
        cmd += ["--pin-out", pin_out]
    env = dict(os.environ, LC_ALL="C.UTF-8")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("the workload JVM timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not os.path.exists(report):
        raise SystemExit(f"the workload JVM failed (exit {rc})")
    with open(report) as f:
        return json.load(f)


def op_times(cycles, kinds):
    return [o["seconds"] for c in cycles for o in c["ops"] if o["kind"] in kinds]


def per_cycle(cycles, kinds, clock="seconds"):
    """Per cycle, the total of `clock` (wall `seconds` or `cpu_s`) over
    the ops of `kinds`."""
    return [sum(o[clock] for o in c["ops"] if o["kind"] in kinds) for c in cycles]


def outcome(cycles):
    attempted = sum(len(c["ops"]) for c in cycles)
    failed = sum(1 for c in cycles for o in c["ops"] if o["failure"])
    for c in cycles:
        if c["aborted"] and not any(o["failure"] for o in c["ops"]):
            attempted += 1
            failed += 1
    return attempted, failed


def end_to_end(rep):
    """The gated metrics. Times are CPU seconds of the JVM: on a shared
    host the wall time of the same work moves with the steal time of the
    virtual CPUs, the CPU time much less (README)."""
    cycles = rep["cycles"]
    return {
        "setup_s": (rep["setup_cpu_s"], "s"),
        "cycle_cpu_s": (median([c["cpu_s"] for c in cycles]), "s"),
        "stored_mb": (median([c["stored_bytes"] / 1e6 for c in cycles]), "MB"),
        "peak_rss_mb": (rep["peak_rss_mb"], "MB"),
    }


def detail(rep):
    """Printed, not gated: the CPU seconds of the build step and of the
    calls after it, the wall times of the cycle and of the operations
    they name, and the host's steal time during the cycle."""
    w = WORKLOADS[rep["workload"]]
    cycles = rep["cycles"]
    out = {
        "build_cpu_s": (median(per_cycle(cycles, w["build"], "cpu_s")), "s"),
        "serve_cpu_s": (median(per_cycle(cycles, w["ops"], "cpu_s")), "s"),
        "setup_wall_s": (rep["setup_wall_s"], "s"),
        "cycle_s": (median([c["seconds"] for c in cycles]), "s"),
        "build_s": (median(per_cycle(cycles, w["build"])), "s"),
        "serve_s": (median(per_cycle(cycles, w["ops"])), "s"),
        "steal_s": (median([c["steal_s"] for c in cycles]), "s"),
    }
    for name, kinds in DETAIL[rep["workload"]].items():
        if name.endswith("_ms"):
            xs = op_times(cycles, kinds)
            out[name + ".p50"] = (1e3 * median(xs), "ms")
            out[name + ".p90"] = (1e3 * pct(xs, 0.9), "ms")
            out[name + ".n"] = (len(xs), "count")
        else:
            out[name] = (median(per_cycle(cycles, kinds)), "s")
    attempted, failed = outcome(cycles)
    out["fail_frac"] = (failed / attempted if attempted else 1.0, "ratio")
    out["cycles"] = (len(cycles), "count")
    return out


def per_layer(rep):
    cycles = rep["cycles"]
    traced = [c for c in cycles if c["traced"]]
    plain = [c for c in cycles if not c["traced"]]
    out = {}
    for span in SPANS:
        rows = []
        for c in traced:
            ss = [s for s in c["spans"] if s["name"] == span]
            wall = sum(s["wall_s"] for s in ss)
            busy = sum(s["job_busy_s"] for s in ss)
            rows.append({
                "wall_s": wall, "jobs": sum(s["jobs"] for s in ss),
                "tasks": sum(s["tasks"] for s in ss), "job_busy_s": busy,
                "driver_gap_s": max(0.0, wall - busy),
                "shuffle_mb": sum(s["shuffle_bytes"] for s in ss) / 1e6,
                "plan_ms": sum(s["plan_ms"] for s in ss),
                "files_written": sum(s["files_written"] for s in ss),
                "rows_read": sum(s["rows_read"] for s in ss),
                "results": sum(s["results"] for s in ss),
            })
        units = {"wall_s": "s", "job_busy_s": "s", "driver_gap_s": "s",
                 "shuffle_mb": "MB", "plan_ms": "ms"}
        for k in COUNTERS:
            out[f"{span}.{k}"] = (median([r[k] for r in rows]), units.get(k, "count"))
        if span in WRITE_SPANS:
            out[f"{span}.files_written"] = (median([r["files_written"] for r in rows]), "count")
        if span == "operators.similarity.search":
            ratio = [r["rows_read"] / r["results"] for r in rows if r["results"]]
            out[f"{span}.rows_read_per_result"] = (median(ratio), "ratio")
    out["leaked_rdds"] = (median([c["leaked_rdds"] for c in cycles]), "count")
    base = median([c["cpu_s"] for c in plain])
    out["trace_overhead"] = (median([c["cpu_s"] for c in traced]) / base if base else 0.0, "ratio")
    return out


def counts_repeat(rep):
    """Spans whose job or task counts differ between traced cycles."""
    seen = {}
    for c in rep["cycles"]:
        if not c["traced"]:
            continue
        for span in SPANS:
            ss = [s for s in c["spans"] if s["name"] == span]
            if ss:
                seen.setdefault(span, set()).add(
                    (sum(s["jobs"] for s in ss), sum(s["tasks"] for s in ss)))
    return sorted(s for s, v in seen.items() if len(v) > 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes at sf0.001: a fast wiring check")
    ap.add_argument("--write-pins", action="store_true",
                    help="record this run's output digests in pins.json")
    args = ap.parse_args()
    repo = os.getcwd()
    classes = build.build(repo)
    sf = SMOKE_SF if args.smoke else SF
    data = lake(repo, sf)
    work = os.path.join(repo, build.BUILD_DIR, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pins_path = os.path.join(HERE, "pins.json")
    pins = json.load(open(pins_path)) if os.path.exists(pins_path) else {}
    pins_file = os.path.join(work, "pins.json")
    with open(pins_file, "w") as f:
        json.dump(pins.get(f"sf{sf}", {}).get(args.workload, {}), f)
    pin_out = os.path.join(work, "observed.json") if args.write_pins else None
    t0 = time.time()
    rep = run_jvm(repo, classes, args, sf, data, work, pins_file, pin_out,
                  os.path.join(work, "report.json"))
    if pin_out:
        pins.setdefault(f"sf{sf}", {})[args.workload] = json.load(open(pin_out))
        with open(pins_path, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True, ensure_ascii=False)
            f.write("\n")
    attempted, failed = outcome(rep["cycles"])
    metrics = per_layer(rep) if args.trace else end_to_end(rep)
    print(json.dumps({"env": rep["env"], "wall_s": round(time.time() - t0, 3)}))
    for name, (v, unit) in {**end_to_end(rep), **detail(rep), **metrics}.items():
        print(f"{args.workload:18s} {name:52s} {v:14.6g} {unit}")
    for c in rep["cycles"]:
        for o in c["ops"]:
            if o["failure"]:
                print(f"{args.workload:18s} FAILED cycle {c['index']}: {o['failure']}")
        if c["aborted"]:
            print(f"{args.workload:18s} ABORTED cycle {c['index']}: {c['aborted']}")
    if args.trace:
        for span in counts_repeat(rep):
            print(f"{args.workload:18s} NOTE job/task counts vary across cycles: {span}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
