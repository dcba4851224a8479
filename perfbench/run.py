#!/usr/bin/env python3
"""The benchmark command.

    python3 perfbench/run.py --workload <extract|engine_docs|curate> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds graft and the benchmark from source (perfbench/build.py), runs one
workload in one JVM and prints a report followed, as the last line of
stdout, by one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (see perfbench/README.md). Exits non-zero when an output check
fails, the build fails, or the run does not finish in time.
"""
import argparse
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("extract", "engine_docs", "curate")
TIMEOUT_S = 170
HEAP = "2g"

# The module opens Spark 4 needs on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def other_jvms(exclude=()):
    """Pids of running `java` processes other than `exclude`."""
    pids = []
    for d in pathlib.Path("/proc").iterdir():
        if not d.name.isdigit() or int(d.name) in exclude:
            continue
        try:
            if (d / "comm").read_text().strip() == "java":
                pids.append(int(d.name))
        except OSError:
            pass
    return sorted(pids)


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    f = [int(x) for x in pathlib.Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[7], sum(f[:8])


def hygiene(when: str) -> str:
    load = " ".join(f"{x:.2f}" for x in os.getloadavg())
    jvms = other_jvms()
    return f"# hygiene {when}: loadavg={load} other_jvms={len(jvms)} {jvms}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        classpath = build.build(ROOT)
    except build.BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_build" / "run" / str(os.getpid())
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath])
    if a.self_test:
        cmd += ["perfbench.SelfTest", str(ROOT)]
    else:
        cmd += ["perfbench.Main", "--root", str(ROOT), "--work", str(work),
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]

    start = hygiene("start")
    steal0 = cpu_times()
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir; drop it so scratch stays in the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, env=env)
    timed_out = threading.Event()

    def stop_child():
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    def on_timeout():
        timed_out.set()
        stop_child()

    watchdog = threading.Timer(TIMEOUT_S, on_timeout)
    watchdog.start()
    signal.signal(signal.SIGTERM, lambda *_: (stop_child(), sys.exit(143)))
    result = None
    try:
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                result = line.strip()
            else:
                sys.stdout.write(line)
        proc.wait()
    finally:
        watchdog.cancel()
        stop_child()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        print(f"# timeout after {TIMEOUT_S}s", file=sys.stderr)
        return 3

    steal1 = cpu_times()
    print(start)
    print(hygiene("end"))
    # CPU time the hypervisor gave to other guests: a disturbed run shows here
    print(f"# cpu steal during run: {(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.4f}")
    if a.self_test:
        return proc.returncode
    if result is None:
        print(f"# no result line (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(result)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
