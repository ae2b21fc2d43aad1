"""The repo benchmark: the spike-detection loop and incremental dedup
maintenance, measured end to end (`--trace 0`) or per layer (`--trace 1`).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the harness JVM
(perfbench/src) over them, and prints the report followed, as the last
line, by one JSON object: correct, attempted, failed and metrics. All
files go under the build directory inside the checkout and the inputs
are removed afterwards. Workloads and their parameters:
perfbench/workloads.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources
import build  # noqa: E402

JVM_TIMEOUT_S = 170
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        params = json.load(f).get(a.workload)
    if params is None:
        print(f"perfbench: unknown workload {a.workload}", file=sys.stderr)
        return 2

    built = build.build()
    if not built:
        return 2
    bd = build.build_dir()
    run_dir = os.path.join(bd, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return run(a, params["cores"], built, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, want_cores, built, run_dir):
    data = os.path.join(run_dir, "data")
    r = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
                        "--seed", str(a.seed), "--out", data])
    if r.returncode != 0:
        print("perfbench: input generation failed", file=sys.stderr)
        return 1
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # the JVM runs on as many CPUs as Spark gets task slots (workloads.json)
    cpus = sorted(os.sched_getaffinity(0))[:want_cores]
    cores = len(cpus)
    out = os.path.join(run_dir, "result.json")
    reports = os.path.join(build.build_dir(), "reports")
    os.makedirs(reports, exist_ok=True)
    spans = os.path.join(reports, f"spans-{a.workload}-{a.seed}.jsonl")
    log = os.path.join(reports, f"jvm-{a.workload}-{a.seed}-{a.trace}.log")
    # C1 only: Spark generates new classes every pass and batch, so C2
    # never settles within a run; its compiler threads took more CPU than
    # the driver thread on 4 cores and made runs slower and less steady.
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            "-cp", os.pathsep.join([built[0], built[1], os.path.join(build.SPARK_JARS, "*")]),
            "perfbench.Main", "--data", data, "--work", os.path.join(run_dir, "work"),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
            "--out", out, "--spans", spans])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=str(cores))
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=run_dir,
                             preexec_fn=lambda: os.sched_setaffinity(0, cpus))
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            print(f"perfbench: harness timed out after {JVM_TIMEOUT_S} s, log {log}",
                  file=sys.stderr)
            return 1
    if not os.path.exists(out):
        print(f"perfbench: harness exited {p.returncode} without a result, log {log}",
              file=sys.stderr)
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        return 1
    with open(out) as f:
        res = json.load(f)
    for line in res.pop("report"):
        print(line)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
