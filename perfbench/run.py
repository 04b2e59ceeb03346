"""Food Finder benchmark runner.

    python3 perfbench/run.py --workload serve|batch --seed N \
        --seconds S --trace 0|1 [--smoke]
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first call compiles the program and
the benchmark (perfbench/build.py); later calls reuse the classes. Each run
gets its own java.io.tmpdir and Spark local dir under perfbench/.work, which
are removed when the run ends. The last line of standard output is the
result object: {"correct", "attempted", "failed", "metrics"}.
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

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve", "batch")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="smoke sizes (50 catalogs, tiny batch fixture)")
    p.add_argument("--self-test", action="store_true",
                   help="run every workload at smoke size and prove each output check rejects a wrong result")
    a = p.parse_args(argv)
    if not a.self_test and a.workload is None:
        p.error("--workload is required")
    return a


def java_command(root, run_dir, main_args):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark")
    os.makedirs(tmp)
    os.makedirs(local)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", *opens, "-Xmx3g", "-Xss4m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(root), "perfbench.Main", *main_args]


def _terminate(signum, frame):
    # unwinds through main's finally blocks, which stop the JVM and remove
    # the run's scratch directory
    raise SystemExit(128 + signum)


def main(argv):
    signal.signal(signal.SIGTERM, _terminate)
    args = parse_args(argv)
    root = os.getcwd()
    build.ensure_built(root)
    run_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}-{time.time_ns()}")
    main_args = (["--self-test"] if args.self_test else
                 ["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace)]
                 + (["--smoke"] if args.smoke else []))
    last = None
    try:
        proc = subprocess.Popen(java_command(root, run_dir, main_args),
                                stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        deadline = time.time() + (600 if args.self_test else RUN_TIMEOUT_S)
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("RESULT "):
                    last = line[len("RESULT "):]
                else:
                    print(line, flush=True)
                if time.time() > deadline:
                    raise TimeoutError
            proc.wait(timeout=max(1, deadline - time.time()))
        except (TimeoutError, subprocess.TimeoutExpired):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            return 3
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if proc.returncode != 0:
            print(f"perfbench: benchmark JVM exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.self_test:
        return 0
    result = json.loads(last or "null")
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: no result object on the last line", file=sys.stderr)
        return 4
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
