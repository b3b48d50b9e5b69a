"""Check the pinned outputs against the DuckDB oracle.

The digests in `pins.json` are taken from the program's own outputs, so
this script checks those outputs once against an independent engine: it
runs the program's correctness dump (`graft.Verify`) for the queries
behind the pins on the benchmark's lake, then the repository's DuckDB
comparison (`tools/check.py`) on the result. Run it from the repository
root after re-pinning: python3 perfbench/validate_pins.py [sf ...]
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

# the oracle-backed queries behind the pins: the read queries, the
# medallion mart, the corpus export, and the classifier built on the
# GD weights and scores (MinHash pairs have no SQL oracle)
QUERIES = ["j4_mart_flagship", "a1_pricing_summary", "w3_window_topk",
           "t2_sessionize", "ref1_tripadvisor_chain", "ref2_gmaps_chain",
           "e2e_medallion_mart", "e2e_llm_corpus", "x97_quality_classifier"]


def main():
    repo = os.getcwd()
    classes = build.build(repo)
    jars = os.path.join(build.spark_jars(), "*")
    ok = True
    for sf in sys.argv[1:] or [run.SF, run.SMOKE_SF]:
        data = run.lake(repo, sf)
        work = os.path.join(repo, build.BUILD_DIR, "validate", f"sf{sf}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "out")
        cmd = ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            f"-Xmx{run.JVM_HEAP}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", os.pathsep.join(classes + [jars]), "graft.Verify",
            data, out, ",".join(QUERIES)]
        subprocess.run(cmd, cwd=work, check=True, env=dict(os.environ, LC_ALL="C.UTF-8"))
        path = os.path.join(out, "oracle_sql.json")
        oracle = json.load(open(path))
        with open(path, "w") as f:
            json.dump({q: oracle[q] for q in QUERIES}, f)
        print(f"== sf{sf}", flush=True)
        rc = subprocess.run([sys.executable, os.path.join(repo, "tools", "check.py"), data, out])
        ok = ok and rc.returncode == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
