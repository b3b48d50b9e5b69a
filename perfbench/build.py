"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark program
(`perfbench/scala`) with the Scala compiler that ships in the Spark jar
directory, into `<build_dir>/classes`. The output is reused while the
sources and this file are unchanged. Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the jars of the
    installed pyspark package."""
    homes = [os.environ.get("SPARK_HOME", "")]
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler found; set SPARK_HOME")


def scala_files(top):
    files = []
    for dirpath, _, names in os.walk(top):
        files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def compile_into(out, files, classpath, key):
    """Compile `files` into `out` unless `out` was built from `key`."""
    stamp = os.path.join(out, ".source-hash")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-d", out, "-classpath", classpath, "-nowarn"] + files
    print(f"[perfbench] compiling {len(files)} Scala files into {out}",
          file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("compilation failed")
    with open(stamp, "w") as f:
        f.write(key)


def digest(repo, files, seed=b""):
    h = hashlib.sha256(seed)
    h.update(open(os.path.abspath(__file__), "rb").read())
    for f in files:
        h.update(os.path.relpath(f, repo).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def build(repo):
    """Compile what changed; return the classpath entries of the build:
    the program's classes, then the benchmark program's."""
    main_src = os.path.join(repo, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit(f"program sources not found at {main_src}")
    jars = os.path.join(spark_jars(), "*")
    root = os.path.join(repo, BUILD_DIR, "classes")
    main_out, bench_out = os.path.join(root, "main"), os.path.join(root, "bench")
    main_files = scala_files(main_src)
    main_key = digest(repo, main_files)
    compile_into(main_out, main_files, jars, main_key)
    bench_files = scala_files(os.path.join(HERE, "scala"))
    compile_into(bench_out, bench_files, os.pathsep.join([main_out, jars]),
                 digest(repo, bench_files, main_key.encode()))
    return [main_out, bench_out]


if __name__ == "__main__":
    print(os.pathsep.join(build(os.getcwd())))
