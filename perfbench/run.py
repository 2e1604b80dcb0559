#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout:

    python3 perfbench/run.py --workload <vector-serve|ingest-cdc> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark if needed (perfbench/build.py), runs
the workload in one JVM, relays its report and prints its JSON result as
the last line of stdout. Exits non-zero when the build or the run fails
or a correctness check fails.

    python3 perfbench/run.py --selftest

runs the benchmark's own tests (perfbench/selftest.py).
"""
import argparse
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def jvm(main, args, timeout=JVM_TIMEOUT_S):
    """Run a benchmark main class; returns (exit code, stdout lines)."""
    tmp = os.path.abspath(os.path.join(build.OUT, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), main] + args
    log_path = os.path.join(build.OUT, "last-run.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"perfbench: run exceeded {timeout} s; log in {log_path}", file=sys.stderr)
            return 124, []
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode not in (0, 1):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    code = build.build()
    if code != 0:
        return code
    if a.selftest:
        import selftest
        return selftest.main()
    if not a.workload:
        ap.error("--workload is required")
    code, lines = jvm("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                         "--seconds", str(a.seconds), "--trace", str(a.trace)])
    result = [l for l in lines if l.startswith("{")]
    for line in lines:
        if not line.startswith("{"):
            print(line)
    if code not in (0, 1) or not result:
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return code or 1
    print(result[-1])
    return code


if __name__ == "__main__":
    sys.exit(main())
