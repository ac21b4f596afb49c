"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark main
(perfbench/build.py) when a source changed, then runs the main in its own
JVM with every temporary, Spark and state file under the build directory.
The last line of standard output is the result as one JSON object; the
traced run (--trace 1) also writes its spans to
<build dir>/spans/<workload>-<seed>.json.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["crawl_batch", "boilerplate_skew", "nightly_epoch", "image_dedup"]
TIMEOUT_S = 170
TRAIN_TIMEOUT_S = 600
HEAP = "2g"


def java(cp, jvm_flags, main_args, work, timeout):
    """Run the benchmark main in `work`; return (exit code, stdout), with
    exit code None when it ran past `timeout` seconds and was killed."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr"] + jvm_flags + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in build.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.PerfBench",
            "--work", os.path.join(work, "data")] + main_args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    # own process group, so a timeout stops every thread and child the JVM has
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def cds_flags(cp, base):
    """Class-data sharing. After a build, one training JVM runs the warm-up
    op of every workload in BENCHMARK.json and dumps the classes it loaded;
    every measured run then maps them, which shortens JVM and session start
    by the same amount in each run."""
    jsa = build.cds_archive()
    if not os.path.exists(jsa):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            names = [w["name"] for w in json.load(fh)["workloads"]]
        code, _ = java(cp, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"],
                       ["--train", ",".join(names)],
                       os.path.join(base, "work", f"train-{os.getpid()}"),
                       TRAIN_TIMEOUT_S)
        if code != 0:
            sys.exit(f"perfbench: class-data-sharing training run failed ({code})")
        os.replace(jsa + ".tmp", jsa)
    return [f"-XX:SharedArchiveFile={jsa}"]


def main():
    # a SIGTERM unwinds through java()'s cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build.build()
    base = build.build_dir()
    jvm = cds_flags(cp, base)
    t0 = time.time()
    spans = os.path.join(base, "spans", f"{a.workload}-{a.seed}.json")
    code, out = java(cp, jvm,
                     ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--spans", spans],
                     os.path.join(base, "work", f"{a.workload}-{a.seed}-{os.getpid()}"),
                     TIMEOUT_S)
    if code is None:
        sys.exit(f"perfbench: {a.workload} did not finish within {TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit(f"perfbench: {a.workload} failed (exit {code})")
    print("\n".join(lines))
    sys.stderr.write(f"perfbench: {a.workload} run took {time.time() - t0:.1f} s\n")


if __name__ == "__main__":
    main()
