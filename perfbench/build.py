"""Build file of the benchmark: compiles the library sources (src/main/scala)
together with the benchmark's own Scala sources (perfbench/scala) with the
Scala compiler that ships in Spark's jars directory, into
.bench_build/perfbench/classes. A content stamp skips the build when no
source changed.

    python3 perfbench/build.py        # from the repository root
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the installed pyspark package."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        try:
            import pyspark
        except ImportError:
            raise SystemExit("set SPARK_HOME to a Spark installation")
        jars = Path(pyspark.__file__).parent / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler in {jars}; set SPARK_HOME")
    return jars


def sources(root=ROOT):
    lib = root / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit(f"{lib} is missing: run from a checkout of the repository")
    return sorted(lib.rglob("*.scala")) + sorted((root / "perfbench" / "scala").glob("*.scala"))


def ensure():
    """Returns the classes directory, compiling first when sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    if (OUT / "stamp").is_file() and (OUT / "stamp").read_text() == stamp:
        return classes
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = OUT / "tmp"
    staging = OUT / "classes.partial"
    tmp.mkdir(parents=True)
    staging.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
           "-d", str(staging), f"@{argfile}"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"compilation failed with exit code {r.returncode}")
    staging.rename(classes)
    (OUT / "stamp").write_text(stamp)
    return classes


if __name__ == "__main__":
    print(ensure())
