"""Pipeline benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Builds the engine and the benchmark from
source (``perfbench/build.py``), runs one workload in a fresh JVM at
``local[<cores>]``, and prints every metric by name and unit followed by
one JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes stays under the build root
(``$CARGO_TARGET_DIR``, default ``.bench_build``); the run's scratch
directory is removed when it ends.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the source tree free of build output
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def catalog():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]},
            [w["name"] for w in spec["workloads"]])


def jvm(main, args, classes, jars, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:TieredStopAtLevel=1",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.abspath(
                os.path.join(os.path.dirname(__file__), "log4j2.properties")),
            "-Dderby.system.home=" + tmp] + opens +
           ["-cp", os.pathsep.join([classes, os.path.join(os.path.dirname(jars[0]), "*")]),
            main] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return 1, f"perfbench: {main} exceeded {JVM_TIMEOUT_S} s and was stopped\n"
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def main():
    # a terminated runner still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the harness self-test instead of a workload")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isfile(os.path.join("src", "main", "scala", "graft", "api", "GraftOps.scala")):
        sys.exit("perfbench: no engine sources here — run from the root of a full checkout")
    e2e, layers, workloads = catalog()
    if not a.selftest and a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload}; known: {', '.join(workloads)}")

    classes, jars = build.build(".")
    root = os.path.join(os.path.abspath(build.build_root(".")), "perfbench")
    run_dir = os.path.join(root, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        if a.selftest:
            rc, out = jvm("graft.perfbench.HarnessSelfTest", [run_dir], classes, jars, run_dir)
            sys.stdout.write(out)
            sys.exit(rc)
        trace_dir = os.path.join(root, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--dir", run_dir, "--trace-file",
                os.path.join(trace_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")]
        rc, out = jvm("graft.perfbench.PerfBench", args, classes, jars, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        sys.stdout.write(out)
        sys.exit(f"perfbench: workload run failed (exit {rc})")
    result = json.loads(lines[-1])
    want = layers if a.trace else e2e
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        sys.exit(f"perfbench: metrics disagree with BENCHMARK.json: "
                 f"missing {sorted(set(want) - set(got))}, "
                 f"extra {sorted(set(got) - set(want))}, "
                 f"unit changes {sorted(k for k in got if k in want and got[k] != want[k])}")
    for line in lines[:-1]:
        print(line)
    for name, m in result["metrics"].items():
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
