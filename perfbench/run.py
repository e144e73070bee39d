"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload mv_batch --seed 1 --seconds 8 --trace 0

Builds the engine and harness from source on first use (see build.py),
then runs the workload in one JVM with a local[4] Spark session. With
--trace 0 the result holds the end-to-end metrics; with --trace 1 the
per-layer metrics, and the span trace is written to
.bench_build/perfbench/traces/. Exits non-zero if the build fails or an
output check fails.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the benchmark directory free of build output
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("mv_batch", "mv_sql", "ingest_serve")
TIMEOUT_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    here = Path(__file__).resolve().parent
    work = build.OUT / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={here / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", str(work)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)

    def stop(*_):
        proc.kill()
        proc.wait()
        sys.exit(1)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {a.workload} exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        for t in work.glob("trace-*.json"):
            dest = build.OUT / "traces"
            dest.mkdir(parents=True, exist_ok=True)
            shutil.move(str(t), str(dest / t.name))
        shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        print(f"perfbench: {a.workload} failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
