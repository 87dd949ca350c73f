#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: trade_stream, registry_tail (see perfbench/README.md). The first run in a checkout builds the library
and the harness with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`). The line before it is the
full record: environment, checks and per-workload detail. The exit code is
0 only when every correctness check passed.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

# run.py imports modules from the checkout; leave no bytecode beside them
sys.dont_write_bytecode = True

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"
DATA = HERE / ".data"
DEADLINE_S = 175.0
BUILD_TIMEOUT_S = 850.0
HEAP = "2g"

END_TO_END = {
    "setup_s": "s", "latency_ms": "ms", "latency_tail_ms": "ms", "pass_s": "s",
    "throughput_per_s": "1/s", "peak_rss_mb": "MB", "ok_ratio": "ratio",
}

# The JVM flags spark-submit would add on JDK 17 (the library's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so an edited source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compiles library + harness once per source state; returns the
    classpath and the source hash."""
    stamp = source_stamp()
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    log = BUILD / "sbt.log"
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={BUILD / 'tmp'}", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    if r.returncode != 0:
        fail("build failed:\n" + "\n".join(lines[-30:]), 3)
    cp = next((ln for ln in reversed(lines) if ".jar" in ln and not ln.startswith("[")), None)
    if cp is None:
        fail("build printed no classpath", 3)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, stamp


def git_commit():
    """HEAD of the checkout, or None when it is not a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def load_check_module():
    """The repository's DuckDB oracle compare (tools/check.py)."""
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(data_dir, out_dir, names):
    """Compares each query's dumped result with its DuckDB oracle.
    Returns {name: "OK" | reason}."""
    import duckdb
    import pandas as pd
    check = load_check_module()
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / (t + '.parquet')}')")
    oracles = json.loads((out_dir / "oracle_sql.json").read_text())
    results = {}
    for name in names:
        path = out_dir / name
        if not path.exists():
            results[name] = "no result written"
            continue
        if name not in oracles:
            results[name] = "no oracle"
            continue
        spark_df = pd.read_parquet(path)
        try:
            duck_df = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            results[name] = f"oracle error: {e}"
            continue
        results[name] = check.compare(name, spark_df, duck_df) or "OK"
    return results


def ok_ratio(failed, attempted):
    """Share of attempted work that did not fail: failed queries, lost
    events, failed batches, oracle mismatches and failed checks all count."""
    if attempted <= 0 or not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} attempted={attempted}")
    return 1.0 - failed / attempted


def java_cmd(cp, argv):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed, pre-touched heap: resident memory then reads the heap plus
    # what the run uses beyond it (state store, buffers), not how far the
    # collector happened to grow the heap
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={WORK / 'derby'}", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", cp, "perfbench.Main"] + argv)


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in spec:
        fail(f"unknown workload {args.workload}; known: {', '.join(spec)}")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no library sources next to the benchmark (expected build.sbt and src/main/scala in {ROOT})")
    w = spec[args.workload]
    phases = {}
    t_build = time.monotonic()
    cp, stamp = build()
    phases["build_s"] = time.monotonic() - t_build
    t_start += phases["build_s"]  # a first-run build has its own budget

    shutil.rmtree(WORK, ignore_errors=True)
    run_dir = WORK / "run"
    run_dir.mkdir(parents=True)
    out_file = run_dir / "result.json"
    argv = ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(run_dir), "--out", str(out_file)]
    data_dir = None
    if w["kind"] == "batch":
        sys.path.insert(0, str(HERE))
        import datagen
        # The tables are fixed, like the library's own fixtures: generated
        # once per checkout (and generator version) from the workload's
        # table seed. --seed permutes the query order of each pass.
        gen = hashlib.sha256((HERE / "datagen.py").read_bytes()).hexdigest()[:12]
        data_dir = DATA / f"sf{w['sf']}-seed{w['table_seed']}-{gen}"
        if not (data_dir / "done").exists():
            t0 = time.monotonic()
            shutil.rmtree(data_dir, ignore_errors=True)
            datagen.generate(w["table_seed"], w["sf"], data_dir)
            (data_dir / "done").write_text("")
            phases["datagen_s"] = time.monotonic() - t0
        argv += ["--data", str(data_dir), "--queries", ",".join(w["queries"])]

    left = DEADLINE_S - (time.monotonic() - t_start)
    t0 = time.monotonic()
    with open(WORK / "jvm.log", "w") as log:
        try:
            r = subprocess.run(java_cmd(cp, argv), cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=max(30.0, left - 10))
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not out_file.exists():
        tail = (WORK / "jvm.log").read_text(errors="replace").splitlines()[-25:]
        print("\n".join(tail), file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        sys.exit(1)

    phases["jvm_s"] = time.monotonic() - t0
    res = json.loads(out_file.read_text())
    checks = dict(res["checks"])
    attempted, failed = res["attempted"], res["failed"]
    if w["kind"] == "batch":
        t0 = time.monotonic()
        oracle = oracle_check(data_dir, run_dir / "results", w["queries"])
        phases["oracle_s"] = time.monotonic() - t0
        bad = {k: v for k, v in oracle.items() if v != "OK"}
        checks["oracle"] = not bad
        res["detail"]["oracle_mismatches"] = bad
        attempted += len(oracle)
        failed += len(bad)
    correct = all(checks.values())
    res["checks"] = checks
    res["detail"]["phase_seconds"] = {**res["detail"].get("phase_seconds", {}), **phases}
    res["env"].update(commit=git_commit(), source_sha256=stamp)
    if args.trace:
        units = dict(res["layer_units"])
        metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(res["layers"].items())}
    else:
        m = dict(res["metrics"])
        m["ok_ratio"] = ok_ratio(failed, attempted)
        missing = [k for k in END_TO_END if k not in m]
        if missing:
            correct = False
            checks["metrics_present"] = False
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items() if k in m}
    res.update(attempted=attempted, failed=failed, correct=correct)
    (WORK / "record.json").write_text(json.dumps(res, indent=1))
    print(json.dumps({k: res[k] for k in ("env", "checks", "detail")}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
