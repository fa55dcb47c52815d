#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 16 --trace 0

Run from the repository root. The first run builds the harness (graft's
sources plus perfbench/src) with sbt, offline, and caches the classpath
under .perfbench/; later runs start the JVM directly. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
WORKLOADS = ["cdc_catchup", "curation_batch", "registry_sweep"]
RUN_LIMIT_S = 150
ORACLE_LIMIT_S = 20
BUILD_LIMIT_S = 700
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    inputs = [ROOT / "src" / "main", HERE / "src" / "main", HERE / "build.sbt",
              HERE / "project" / "build.properties"]
    for base in inputs:
        files = sorted(base.rglob("*")) if base.is_dir() else [base]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """The harness classpath, building it first when the sources changed."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"graft's sources are not at {ROOT / 'src/main/scala'}; run from a full checkout")
    stamp = STATE / "build.json"
    digest = sources_digest()
    if stamp.exists():
        built = json.loads(stamp.read_text())
        if built.get("digest") == digest and all(
                Path(p).exists() for p in built["classpath"].split(os.pathsep)):
            return built["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        f"{Path.home() / '.sbt' / 'repositories'} -Dsbt.offline=true -Xmx2g")
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    lines = [l for l in out.stdout.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        die("build failed")
    STATE.mkdir(exist_ok=True)
    stamp.write_text(json.dumps({"digest": digest, "classpath": lines[-1].strip()}))
    return lines[-1].strip()


def run_jvm(cp, args, work):
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(work / "result.json"),
            "--sf", args.sf]
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=log,
                            stderr=subprocess.STDOUT, start_new_session=True)
    try:
        proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        log.close()
    return proc.returncode


def oracle_check(sf, results):
    """Compares the sweep's set-up results with their DuckDB oracles using
    the repository's own gate, scripts/local_check.py. Returns (number of
    queries that match, list of mismatch messages)."""
    try:
        out = subprocess.run([sys.executable, str(ROOT / "scripts" / "local_check.py"), sf,
                              str(results)], stdin=subprocess.DEVNULL, capture_output=True,
                             text=True, timeout=ORACLE_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        return 0, [f"oracle check did not run: {e}"]
    lines = out.stdout.splitlines()
    ok = sum(1 for l in lines if l.startswith("ok "))
    bad = [l[len("FAIL "):] for l in lines if l.startswith("FAIL")]
    if out.returncode != 0 or not lines or not lines[-1].endswith(" fail"):
        bad.append(f"oracle check exited with code {out.returncode}: {out.stderr[-500:]}")
    return ok, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default=str(Path.home() / "testdata" / "sf0.01"),
                    help="table directory the registry_sweep queries read")
    args = ap.parse_args()
    if args.workload == "registry_sweep" and not Path(args.sf, "lineitem.parquet").exists():
        die(f"registry_sweep needs the read-only tables at {args.sf}")

    cp = classpath()
    work = STATE / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        rc = run_jvm(cp, args, work)
        res_file = work / "result.json"
        if not res_file.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            die(f"the harness exited with code {rc} and no result")
        res = json.loads(res_file.read_text())
        if args.workload == "registry_sweep" and res["attempted"] > 0:
            ok, bad = oracle_check(args.sf, work / "registry" / "results")
            res["attempted"] += ok + len(bad)
            res["failed"] += len(bad)
            res["problems"] += bad
        for l in (work / "jvm.log").read_text().splitlines():
            if l.startswith("[perfbench]"):
                print(l, file=sys.stderr)
        for p in res["problems"]:
            print(f"perfbench: {p}", file=sys.stderr)
        res["correct"] = res["failed"] == 0 and res["attempted"] > 0
        if "failed_share" in res["metrics"]:
            res["metrics"]["failed_share"]["value"] = res["failed"] / max(1, res["attempted"])
        line = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
        print(json.dumps(line))
        sys.exit(0 if res["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
