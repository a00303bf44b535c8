#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The harness (perfbench/src) is compiled together with the engine
sources of the enclosing checkout on first use. The run prints one
progress line per operation and a table of every metric (name, value,
unit, n, quartiles) on stderr, and as the last line of stdout one JSON
object: correct, attempted, failed, and the metrics BENCHMARK.json names
for this mode (end_to_end with --trace 0, per_layer with --trace 1).
result.json and, when traced, spans.jsonl are kept under .bench_out/.

Options beyond those four: --sf picks the scale-factor directory
(default sf0.1), --expected overrides the expected row counts for the
analytics workload, --plant-wrong corrupts one expected answer so that
the output checks can be seen to fail. Test data is found through
$PERFBENCH_DATA, else a `testdata` directory beside the checkout or one
of its ancestors, else in the home directory.
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

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"
WORKLOADS = ["analytics_sf0.1", "docstore_mixed", "index_merge"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sources():
    for d in (REPO / "src" / "main", HERE / "src" / "main"):
        yield from (p for p in d.rglob("*") if p.is_file())
    yield HERE / "build.sbt"


def build():
    """Compile the harness with the engine unless the classes are newer
    than every source."""
    if not (REPO / "src" / "main" / "scala").is_dir() or not (HERE / "build.sbt").is_file():
        fail("engine or harness sources missing: nothing to build")
    newest = max(p.stat().st_mtime for p in sources())
    if STAMP.exists() and STAMP.stat().st_mtime >= newest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = Path.home() / ".sbt" / "repositories"
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true"
                           + (f" -Dsbt.repository.config={repos}" if repos.exists() else ""))
    log("building the harness and the engine (sbt compile)")
    t0 = time.time()
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0:
        fail(f"build failed (exit {rc})")
    STAMP.touch()
    log(f"built in {time.time() - t0:.1f} s")


def run_group(cmd, cwd, env, timeout, stdout):
    """Run cmd in its own process group; on timeout kill the group. Waits
    until the process has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {cmd[0]}")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def find_data(sf):
    env = os.environ.get("PERFBENCH_DATA")
    cands = [Path(env)] if env else []
    cands += [d / "testdata" for d in [REPO, *REPO.parents]] + [Path.home() / "testdata"]
    for c in cands:
        if (c / sf / "documents.parquet").is_file():
            return (c / sf).resolve()
    fail(f"no test data directory holding {sf}/ found")


def java_cmd(work, out, args, sf_dir, expected):
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark installation")
    jars = Path(os.environ["SPARK_HOME"]) / "jars"
    if not jars.is_dir():
        fail(f"no Spark jars under {jars}")
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = int(max(2, min(4, ram_gb // 4)))
    cmd = [str(java)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xmx{heap_gb}g",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{jars}/*",
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf-dir", str(sf_dir), "--repo", str(REPO), "--work", str(work),
        "--out", str(out),
    ]
    if expected:
        cmd += ["--expected", str(expected)]
    if args.plant_wrong:
        cmd.append("--plant-wrong")
    return cmd


def cpu_ticks():
    """(steal, total) CPU ticks of the machine from /proc/stat, or None."""
    try:
        fields = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, (int, float)) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--sf", default="sf0.1")
    ap.add_argument("--expected")
    ap.add_argument("--plant-wrong", action="store_true")
    args = ap.parse_args()

    bench = REPO / "BENCHMARK.json"
    if not bench.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.loads(bench.read_text())
    defs = json.loads((HERE / "metrics.json").read_text())
    units = {m["name"]: m["unit"] for group in ("end_to_end", "per_layer") for m in defs[group]}

    build()
    sf_dir = find_data(args.sf)
    expected = Path(args.expected) if args.expected else REPO / f"CORRECTNESS_{args.sf}.json"
    if args.workload.startswith("analytics") and not expected.is_file():
        fail(f"no expected row counts at {expected}")

    work = REPO / ".bench_work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    out = REPO / ".bench_out" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    before = cpu_ticks()
    try:
        rc = run_group(java_cmd(work, out, args, sf_dir, expected), cwd=work,
                       env=dict(os.environ), timeout=RUN_TIMEOUT_S, stdout=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = cpu_ticks()
    result_file = out / "result.json"
    if rc != 0 or not result_file.is_file():
        fail(f"the run did not finish (exit {rc})", code=1)
    res = json.loads(result_file.read_text())

    if before and after and after[1] > before[1]:
        # CPU time the hypervisor gave to other guests during the run: wall
        # times inflate with it, so it is kept beside them
        res["box"]["cpu_steal_share"] = (after[0] - before[0]) / (after[1] - before[1])
        result_file.write_text(json.dumps(res))
    log(f"box: {json.dumps(res['box'], sort_keys=True)}")
    for f in res["failures"]:
        log(f"failed op {f['op']} ({f['phase']}) {f['kind']} {f['label']}: {f['error']}")
    for g in res["coverage_gaps"]:
        log(f"coverage gap: op {g['op']} {g['label']} {g['ms']:.1f} ms covered {g['coverage']:.1%}")
    log(f"{'metric':32} {'value':>14} {'unit':>8} {'n':>6} {'q1':>12} {'q3':>12}")
    for group in ("end_to_end", "per_layer"):
        for name in [m["name"] for m in defs[group] if m["name"] in res[group]]:
            st = res[group][name]
            note = ""
            if name.endswith("p95_ms") and st["n"] * 0.05 < 10:
                note = "  (n too small for p95: fewer than 10 samples beyond it)"
            log(f"{name:32} {fmt(st['value']):>14} {units.get(name, '?'):>8} {st['n']:>6} "
                f"{fmt(st['q1']):>12} {fmt(st['q3']):>12}{note}")

    group = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[group]:
        if m["name"] not in res[group]:
            fail(f"metric {m['name']} was not measured", code=1)
        metrics[m["name"]] = {"value": res[group][m["name"]]["value"], "unit": m["unit"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
