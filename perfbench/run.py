"""Run one benchmark workload:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark if needed (see build.py), runs the
workload in one JVM, passes its report through, and ends stdout with the
JSON result line. `python3 perfbench/run.py --selftest` runs the tests of
the benchmark's own pure parts.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# A run must end within 180 s of the build finishing, JVM start-ups included.
RUN_BUDGET_S = 172
deadline = None


def java(cp, main, args, work, log):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join(cp + [os.path.join(build.spark_jars(), "*")]), main] + args
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {main} ran past the {RUN_BUDGET_S} s budget; log: {log}")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    cp = build.build(with_tests=a.selftest)
    global deadline
    deadline = time.monotonic() + RUN_BUDGET_S
    if a.selftest:
        rc, out = run_jvm(cp, "selftest", "perfbench.SelfTest", [])
        sys.stdout.write(out)
        raise SystemExit(rc)

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)]
    results = os.path.join(build.build_dir(), "results")
    untraced = os.path.join(results, f"{a.workload}-{a.seed}.json")
    if a.trace and not os.path.exists(untraced):
        # The overhead base: an untraced run of the same workload and seed,
        # in its own JVM so that both runs start equally cold.
        run_workload(cp, a, args + ["--trace", "0"], untraced, echo=False)
    extra = []
    if a.trace:
        extra = ["--untraced-run-s", str(json.load(open(untraced))["metrics"]["run_s"]["value"])]
    run_workload(cp, a, args + ["--trace", str(a.trace)] + extra,
                 None if a.trace else untraced, echo=True)


def run_workload(cp, a, args, save, echo):
    """Run perfbench.Main; check and keep its result line; print if `echo`."""
    tag = f"{a.workload}-{a.seed}-t{args[args.index('--trace') + 1]}"
    rc, out = run_jvm(cp, tag, "perfbench.Main", args)
    if echo:
        sys.stdout.write(out)
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if rc != 0:
        raise SystemExit(f"perfbench: {tag} exited with {rc}")
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    if save:
        os.makedirs(os.path.dirname(save), exist_ok=True)
        with open(save, "w") as fh:
            fh.write(last)


def run_jvm(cp, tag, main, args):
    """Run `main` in a fresh work directory; keep its log and trace files."""
    work = os.path.join(build.build_dir(), "work", f"{tag}-{os.getpid()}")
    logs = os.path.join(build.build_dir(), "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{tag}.log")
    try:
        rc, out = java(cp, main, args + ["--work", work], work, log)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
        traces = os.path.join(build.build_dir(), "traces")
        for f in os.listdir(work):
            if f.startswith("trace-"):
                os.makedirs(traces, exist_ok=True)
                shutil.move(os.path.join(work, f), os.path.join(traces, f))
        return rc, out
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
