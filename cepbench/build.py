"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
benchmark harness (`cepbench/scala`) with the Scala compiler that ships in the
Spark distribution, into `.bench_build/cepbench/classes-<hash>`.

The build is skipped when a class directory for the same sources and jars
exists. Spark's jar directory is `$SPARK_HOME/jars`, or else the
`unmanagedBase` the repository's `build.sbt` names.

Run on its own: `python3 cepbench/build.py` prints the class directory.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build" / "cepbench"


class BuildError(Exception):
    pass


def spark_jars(root=ROOT):
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jar directory: set SPARK_HOME or unmanagedBase in build.sbt")


def sources(root=ROOT):
    engine = root / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found under {engine.relative_to(root)}")
    files = sorted(engine.rglob("*.scala")) + sorted((root / "cepbench" / "scala").rglob("*.scala"))
    return files


def fingerprint(files, jars, root=ROOT):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    return h.hexdigest()[:16]


def ensure(log=sys.stderr):
    """Compile if needed; return the class directory."""
    files = sources()
    jars = spark_jars()
    out = BUILD_DIR / f"classes-{fingerprint(files, jars)}"
    if (out / ".done").is_file():
        return out
    compiler = [next(jars.glob(f"scala-{n}-2.13*.jar"), None) for n in ("compiler", "library", "reflect")]
    if None in compiler:
        raise BuildError(f"no Scala 2.13 compiler jars in {jars}")
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    for old in BUILD_DIR.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = BUILD_DIR / "tmp-classes"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-cp", str(jars / "*"), f"@{argfile}"]
    print(f"[cepbench] compiling {len(files)} Scala files", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    (tmp / ".done").write_text("ok\n")
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[cepbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
