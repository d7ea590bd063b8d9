"""CEP benchmark: one workload, one run.

    python3 cepbench/run.py --workload cep_uniform --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source if needed (cepbench/build.py),
runs the harness JVM with `local[<cores>]`, checks every output against the
NFA oracle and the reference fixture, and prints each metric by name and
unit, then one JSON line: `{"correct", "attempted", "failed", "metrics"}`.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Run from the repository root; reads and writes only under it.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
# A run must end within 180 s of its start (the benchmark's contract); the
# harness gets 170 s of it. On 4 cores an untraced run took 37-56 s and a
# traced run 78-99 s (see README.md, "Sizes").
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[cepbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def run_jvm(cmd, log_path, deadline_s):
    """Run the harness in its own process group; return (exit code, peak RSS
    in MB) or kill the group and fail after `deadline_s`."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                                start_new_session=True)
        end = time.monotonic() + deadline_s
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid == proc.pid:
                proc.returncode = os.waitstatus_to_exitcode(status)
                return proc.returncode, usage.ru_maxrss / 1024.0
            if time.monotonic() > end:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                fail(f"harness did not finish within {deadline_s} s; log: {log_path}", 3)
            time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.REQUIRED_CHECKS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    fixtures = ROOT / "src" / "test" / "resources"
    try:
        classes = build.ensure()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    jars = build.spark_jars()

    work = build.BUILD_DIR / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work / 'tmp'}",
        "-cp", os.pathsep.join([str(classes), str(jars / "*")]),
        "cepbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
        "--fixtures", str(fixtures), "--cores", str(cores)]
    (work / "tmp").mkdir()
    log = build.BUILD_DIR / f"last-{a.workload}.log"
    try:
        code, rss_mb = run_jvm(cmd, log, JVM_TIMEOUT_S)
        if code != 0:
            tail = log.read_text(errors="replace").splitlines()[-30:]
            fail(f"harness exited with {code}; log: {log}\n" + "\n".join(tail))
        raw = json.loads((work / "raw.json").read_text())
        outcomes = {}
        for c in raw["checks"]:
            got = Path(c["got"]).read_text().splitlines()
            want = Path(c["want"]).read_text().splitlines()
            outcomes[c["name"]] = metrics.compare_rows(got, want)
        fixture_ok = all(
            (work / "fixture" / f).is_file()
            and (work / "fixture" / f).read_bytes() == (fixtures / f).read_bytes()
            for f in ("expected-output.csv", "expected-side-output.csv"))
        res = metrics.result(raw, outcomes, fixture_ok, rss_mb, traced=a.trace == 1)
        metrics.check_shape(res, traced=a.trace == 1)
        if a.trace == 1:
            # the spans and raw layer numbers of the last traced run
            shutil.copyfile(work / "raw.json", build.BUILD_DIR / f"last-{a.workload}-trace.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for err in raw["errors"]:
        print(f"error: {err}")
    for name, (missing, extra) in sorted(outcomes.items()):
        print(f"check {name}: {'ok' if not (missing or extra) else f'{missing} missing, {extra} extra rows'}")
    print(f"check reference fixture: {'ok' if fixture_ok else 'MISMATCH'}")
    print(f"workload {a.workload}: {raw['events']} events, {len(raw['passes'])} passes, "
          f"{cores} cores, failed {res['failed']}/{res['attempted']}")
    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
