"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the harness (`perfbench/src`) into
`.bench_build/perfbench/classes` with the Scala compiler that ships in
the Spark distribution's jars (see `spark_jars`). Rebuilds only when a
source changed.

    python3 perfbench/build.py      # build (or reuse) and print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH, else the engine build's `unmanagedBase`."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parents[1] / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for jars in candidates:
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"perfbench: engine sources missing ({engine})")
    files = sorted(engine.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not files:
        raise SystemExit("perfbench: no sources to build")
    return files


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    if (OUT / "stamp").is_file() and (OUT / "stamp").read_text() == stamp and classes.is_dir():
        return classes
    OUT.mkdir(parents=True, exist_ok=True)
    staging = OUT / f"classes.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    argfile = OUT / f"sources{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-classpath", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    finally:
        argfile.unlink(missing_ok=True)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    (OUT / "stamp").write_text(stamp)
    return classes


if __name__ == "__main__":
    print(f"{build()}:{spark_jars()}/*")
