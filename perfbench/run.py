#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each was chosen):
  graphem_routed       the paper's pipeline via GraphEm on a BA graph, default routes
  graphem_distributed  the pipeline on a BA graph, dual-path operators forced distributed
  query_mix            a module-stratified query sample over tables made from the seed

The engine and the benchmark driver are built from the checkout on the
first run (sbt, offline). Each run starts its own driver JVM on
local[<cores>], so it begins with no persisted RDDs and empty session
memos. Everything is written under perfbench/out/. The last line of
standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. A failed output check makes "correct" false and the exit code 1.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
BUILD = OUT / "build"
sys.path.insert(0, str(HERE))

import layers  # noqa: E402

WORKLOADS = ("graphem_routed", "graphem_distributed", "query_mix")
# The index-lifecycle query every query_mix run includes: the cheapest
# of the six. The others cost 5-20 s each in a fresh JVM on 4 cores and
# do not fit a run; none of the six is drawn as a read.
WRITE_PATH = ("q217_delta_manifest",)
# query_mix data scale (sf=1 is 6M lineitems).
SF = 0.01
# Reads per module in query_mix. The read sample is stratified per
# module and drawn once (SAMPLE_DRAW), and the queries run in name
# order, so every seed runs the same queries in the same order and only
# the data changes with --seed. A fresh JVM charges ~8 s of JIT warm-up
# to its first query, and queries differ ~25x in cost: a per-seed draw
# or order moves run_s and the percentiles more than the program does.
READS_PER_MODULE = 1
SAMPLE_DRAW = 0
SETUP_REPS = 3
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, engine and benchmark driver."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile engine + driver when their sources changed; return the classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path(os.path.expanduser("~/.sbt/repositories"))
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark driver (sbt, offline)")
    t0 = time.time()
    with open(BUILD / "sbt.log", "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"], cwd=HERE, env=env,
                             stdout=subprocess.PIPE, stderr=out, text=True,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        stdout, code = _wait(p, 850, "build")
    lines = [l for l in stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(stdout[-4000:])
        raise SystemExit(f"build failed (exit {code}); see {BUILD / 'sbt.log'}")
    cp = lines[-1].strip()
    java(cp, ["--mode", "catalog", "--out", str(BUILD / "catalog.json")], BUILD / "catalog.log")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.0f}s")
    return cp


# Children run in their own process group (sbt's launcher script starts
# a JVM of its own), so stopping one stops everything under it.
CHILDREN = []


def _kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def _stop(signum, _frame):
    """Take the children down with this process."""
    for p in list(CHILDREN):
        _kill(p)
    sys.exit(128 + signum)


def _wait(p, timeout, what):
    """(stdout, exit code) of a child; killed and waited for on timeout."""
    CHILDREN.append(p)
    try:
        stdout, _ = p.communicate(timeout=timeout)
        return stdout or "", p.returncode
    except subprocess.TimeoutExpired:
        _kill(p)
        raise SystemExit(f"{what} timed out after {timeout:.0f}s")
    finally:
        CHILDREN.remove(p)


def java(cp, args, logfile, extra=(), timeout=RUN_TIMEOUT_S):
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += list(extra) + ["-cp", cp, "perfbench.Main"] + list(args)
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=logfile.parent,
                             start_new_session=True)
        _, code = _wait(p, timeout, f"driver JVM (log: {logfile})")
    if code != 0:
        raise SystemExit(f"driver JVM exited {code}; see {logfile}")


def query_plan(catalog):
    """The write-path queries plus the fixed per-module read sample, in name order."""
    draw = random.Random(SAMPLE_DRAW)
    mods = catalog["modules"]
    module_of = {q: m for m, qs in mods.items() for q in qs}
    picked = list(WRITE_PATH)
    for m in sorted(mods):
        picked += draw.sample(sorted(q for q in mods[m] if q not in layers.INDEX_LIFECYCLE),
                              READS_PER_MODULE)
    return [(module_of[q], q) for q in sorted(picked)]


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit(f"no engine sources next to {HERE.name}/ (expected build.sbt and src/)")
    cp = build()
    started = time.time()
    catalog = json.loads((BUILD / "catalog.json").read_text())

    run = OUT / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "data", "results"):
        (run / d).mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--cores", str(len(os.sched_getaffinity(0))), "--setup-reps", str(SETUP_REPS),
            "--tmp", str(run / "tmp"), "--out", str(run / "jvm.json")]
    gen_s, expected, plan = [], {}, []
    if a.workload == "query_mix":
        import datagen
        import oracle
        plan = query_plan(catalog)
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            datagen.generate(run / "data", a.seed, SF)
            gen_s.append(time.perf_counter() - t0)
        (run / "plan.tsv").write_text("".join(f"{m}\t{q}\n" for m, q in plan))
        # expected results, computed before the driver starts: outside every metric
        expected = oracle.expected(run / "data", {q: catalog["oracle"][q] for _, q in plan})
        args += ["--data", str(run / "data"), "--plan", str(run / "plan.tsv"),
                 "--results", str(run / "results")]
    popen = time.time()
    java(cp, args, run / "jvm.log", extra=[f"-Djava.io.tmpdir={run / 'tmp'}"],
         timeout=max(30, RUN_TIMEOUT_S - (time.time() - started)))
    r = json.loads((run / "jvm.json").read_text())

    if r["run_s"] > a.seconds:
        log(f"the timed part took {r['run_s']:.1f}s, over the --seconds budget of {a.seconds}s")
    checks = list(r["checks"])
    if a.workload == "query_mix":
        checks += oracle.compare(run / "results", expected)
    ops = [s for s in r["spans"] if s["timed"] and s["parent"] == -1]
    failed = sum(not s["ok"] for s in ops)
    bad = [c for c in checks if not c["ok"]]
    for c in bad:
        log(f"CHECK FAILED {c['name']}: {c['detail']}")

    setup_s = (r["session_ready_ms"] / 1000.0 - popen) + statistics.median(r["setup_s"])
    if gen_s:
        setup_s += statistics.median(gen_s)
    # a query is one call of the query surface; a graph workload's one
    # pipeline pass is its one query
    lat = sorted(s["s"] for s in ops) if a.workload == "query_mix" else [r["run_s"]]
    e2e = {
        "run_s": (r["run_s"], "s"),
        "cpu_s": (r["cpu_s"], "s"),
        "setup_s": (setup_s, "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_p90_s": (p90(lat), "s"),
        "seed_spread": (r["seed_spread"], "count"),
    }
    metrics = layers.per_layer(r, ops, gen_s) if a.trace else e2e
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "attempted": len(ops), "failed": failed, "checks": checks,
               "end_to_end": {k: v for k, (v, _) in e2e.items()},
               "plan": [q for _, q in plan]}
    if a.trace:
        summary["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        untraced = OUT / f"{a.workload}-seed{a.seed}-trace0" / "summary.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["end_to_end"]["run_s"]
            summary["trace_overhead_frac"] = r["run_s"] / base - 1.0
            log(f"tracing overhead: run_s {r['run_s']:.3f} traced vs {base:.3f} untraced "
                f"({summary['trace_overhead_frac']:+.1%})")
        (run / "trace.json").write_text(json.dumps(
            {"run_id": run.name, "spans": r["spans"], "totals": r["totals"],
             "untagged": r["untagged"]}, indent=1))
    (run / "summary.json").write_text(json.dumps(summary, indent=1))
    for d in ("tmp", "data", "results"):
        shutil.rmtree(run / d, ignore_errors=True)

    correct = not bad and failed == 0
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
