"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships
among the Spark jars, into `$CARGO_TARGET_DIR` (default `.bench_build`)
under the checkout root. A build is skipped when a stamp of its sources
matches.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars of $SPARK_HOME, else of the first spark-submit on PATH
    whose installation ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "scala-compiler-*.jar")):
            return os.path.join(h, "jars")
    return ""


SPARK_JARS = spark_jars()


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(files, out, classpath, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    with open(log, "w") as lf:
        r = subprocess.run(cmd + files, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return True


def build():
    """Returns (main classes, bench classes), or None on failure."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    main_files, bench_files = sources(main_src), sources(bench_src)
    if not main_files or not bench_files:
        print(f"perfbench: no program sources under {main_src}", file=sys.stderr)
        return None
    if not SPARK_JARS:
        print("perfbench: no Spark installation with a Scala compiler found "
              "(set SPARK_HOME)", file=sys.stderr)
        return None
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    out = {}
    for name, files, cp in (("main", main_files, None), ("bench", bench_files, "main")):
        dest = os.path.join(bd, "classes", name)
        st = stamp(files, out.get(cp, ""))
        sf = dest + ".stamp"
        if not (os.path.isdir(dest) and os.path.exists(sf) and open(sf).read() == st):
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            log = os.path.join(bd, f"build-{name}.log")
            extra_cp = None
            if cp:
                extra_cp = os.path.join(bd, "classes", cp)
            if not scalac(files, dest, extra_cp, log):
                print(f"perfbench: compiling {name} failed, see {log}", file=sys.stderr)
                with open(log) as lf:
                    sys.stderr.write(lf.read()[-4000:])
                return None
            with open(sf, "w") as f:
                f.write(st)
        out[name] = st
    return os.path.join(bd, "classes", "main"), os.path.join(bd, "classes", "bench")


if __name__ == "__main__":
    sys.exit(0 if build() else 1)
