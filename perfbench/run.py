#!/usr/bin/env python3
"""Benchmark of the graft import tool and its curation query mix.

Run from the root of a checkout:

    python3 perfbench/run.py --workload import_upsert --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --selftest

The first run builds the program and the harness from source with sbt
(offline) and caches the classpath under perfbench/target; later runs
start the harness JVM directly. Each run is one JVM, so an op abandoned
at its deadline dies with it. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}. Per-op records go to
perfbench/.runs/, everything else the run writes lives in a work
directory under perfbench/.work/ that is removed at exit.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
# the project's read-only test tables, as TESTDATA.md lists them
TESTDATA = Path("/root/testdata")
IMPORT_SF = TESTDATA / "sf0.1"
CURATE_SF = TESTDATA / "sf0.001"
WORKLOADS = ("import_upsert", "import_insert", "curate_mix")
# One or two entries per operator family the import layers never touch:
# checkpointed iteration (PageRank q83, k-core q148), hyperplane LSH (q102,
# KnnGraph.knnEdgesLsh), streaming drains (q212 append, q214 upsert), plus
# the flagship pipeline q92.
# Borůvka (q262) runs last: it has hung on the driver before, and the
# per-op deadline must not cost the entries after it.
CURATE_ENTRIES = ("q92_curation_pipeline", "q83_pagerank", "q148_kcore_peel",
                  "q102_mutual_knn", "q212_stream_append", "q214_stream_upsert",
                  "q262_boruvka_mst")
CORES = min(4, os.cpu_count() or 1)
# fixed, pre-touched heap: VmHWM then reads the whole heap plus the native
# peak, and peak_rss_mb swaps the heap for the live set the run kept
XMX = "2g"
# nominal length of one timed cycle (a warm import, a cold pass of the mix):
# a run does round(seconds / nominal) cycles, at least one
NOMINAL_CYCLE_S = {"import_upsert": 6.0, "import_insert": 6.0, "curate_mix": 35.0}
DEADLINE_S = 60.0
JVM_TIMEOUT_S = 165.0
BUILD_TIMEOUT_S = 850.0

END_TO_END = {"setup_s": "s", "wall_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER = (
    ["sources.read_s", "sources.rows", "sources.scan_amplification",
     "api.map_validate_s", "api.invalid_rows", "api.jobs", "api.import_s",
     "operators.dedup_s", "operators.merge_s", "operators.dup_rows",
     "operators.checkpoint_jobs",
     "sink.write_s", "sink.rows_written", "sink.write_amplification", "sink.fallback_blocks"]
    + [f"queries.{e.split('_')[0]}_s" for e in CURATE_ENTRIES]
    + ["streaming.batches", "streaming.input_rows", "streaming.state_rows_max",
       "streaming.leftover_tables", "streaming.leftover_dirs",
       "spark.jobs", "spark.stages", "spark.tasks", "spark.plan_s", "spark.plan_s_max",
       "spark.driver_only_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
       "spark.spill_bytes", "spark.task_skew", "spark.peak_exec_mem_bytes",
       "trace.overhead_s"])


def unit(metric):
    if metric.endswith(("_s", "_s_max")):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith(("_amplification", "_skew")):
        return "ratio"
    return "count"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build -------------------------------------------------------------

def source_stamp():
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in base.glob("*") if p.is_file())
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + harness once per source state."""
    target = BENCH / "target"
    stamp_file = target / "build.stamp"
    stamp = source_stamp()
    if (stamp_file.is_file() and stamp_file.read_text() == stamp
            and (target / "classpath.txt").is_file() and (target / "jvmopts.txt").is_file()):
        return
    target.mkdir(exist_ok=True)
    log("building program and harness (sbt, offline)")
    t0 = time.time()
    with open(target / "build.log", "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath",
             "writeJvmOptions"], cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("build timed out", 3)
    if rc != 0:
        tail = (target / "build.log").read_text().splitlines()[-30:]
        fail("build failed:\n" + "\n".join(tail), 3)
    # class-data sharing archive of a short training run: later harness
    # JVMs map the loaded classes instead of parsing them from the jars
    jsa = target / "cds.jsa"
    jsa.unlink(missing_ok=True)
    work = BENCH / ".work" / f"cds-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        run_jvm("curate_mix", 1, 0, False, work, work / "records.jsonl",
                entries=("q92_curation_pipeline", "q212_stream_append"),
                jvm_extra=[f"-XX:ArchiveClassesAtExit={jsa}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.1f} s")


# ---- one harness JVM ---------------------------------------------------

def run_jvm(workload, seed, seconds, trace, work, records, entries=CURATE_ENTRIES,
            lineitem=IMPORT_SF / "lineitem.parquet",
            deadline=DEADLINE_S, corrupt=False, jvm_extra=None):
    target = BENCH / "target"
    if jvm_extra is None:
        jsa = target / "cds.jsa"
        jvm_extra = [f"-XX:SharedArchiveFile={jsa}"] if jsa.is_file() else []
    cp = (target / "classpath.txt").read_text().strip()
    jvmopts = [o for o in (target / "jvmopts.txt").read_text().split("\n")
               if o and not o.startswith("-Xmx")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    result = work / "result.json"
    cmd = (["java"] + jvmopts +
           [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+AlwaysPreTouch"] + jvm_extra +
           ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={work / 'derby.log'}",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", str(work), "--records", str(records),
            "--result", str(result), "--lineitem", str(lineitem),
            "--curate-sf", str(CURATE_SF), "--entries", ",".join(entries),
            "--cycles", str(max(1, round(seconds / NOMINAL_CYCLE_S[workload]))),
            "--deadline", str(deadline),
            "--corrupt", "1" if corrupt else "0", "--cores", str(CORES), "--xmx", XMX])
    # the harness decides where Spark and the artifact cache write
    env = {k: v for k, v in os.environ.items()
           if not (k.startswith("SPARK_") or k.startswith("GRAFT_"))}
    # two malloc arenas: the native peak then varies about half as much
    # between runs as with one arena per thread
    env["MALLOC_ARENA_MAX"] = "2"
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness JVM exceeded {JVM_TIMEOUT_S} s; see {records}", 4)
    if rc != 0 or not result.is_file():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        fail(f"harness JVM failed (rc {rc}):\n" + "\n".join(tail), 4)
    return json.loads(result.read_text())


# ---- curation outputs against their DuckDB oracles ---------------------

def check_oracle():
    """The project's own oracle comparison (tools/check_oracle.py), so the
    benchmark compares results exactly the way the project does."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check_oracle
    return check_oracle


def oracle_result(sql, cache):
    """The oracle's result in comparable form. The curation inputs are fixed
    files, so it is computed once per checkout and kept under
    perfbench/target, keyed by the SQL and the input files' sizes and times."""
    stamp = "|".join(f"{p.name}:{p.stat().st_size}:{p.stat().st_mtime_ns}"
                     for p in sorted(CURATE_SF.glob("*.parquet")))
    path = BENCH / "target" / "oracle" / (
        hashlib.sha256(f"{sql}|{stamp}".encode()).hexdigest()[:32] + ".json")
    if path.is_file():
        cols, rows = json.loads(path.read_text())
        return cols, [tuple(r) for r in rows]
    co = check_oracle()
    if "con" not in cache:
        import duckdb
        cache["con"] = duckdb.connect()
        for t in co.TABLES:
            p = CURATE_SF / f"{t}.parquet"
            if p.exists():
                cache["con"].execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    cols, rows = co.table_repr(cache["con"].execute(sql).fetchdf())
    path.parent.mkdir(exist_ok=True)
    path.write_text(json.dumps([cols, rows]))
    return cols, rows


def check_curate(res, work, corrupt):
    """Compare each entry output with DuckDB running the entry's oracle SQL,
    the way tools/check_oracle.py does. Returns {op id: failure reason}."""
    import pandas as pd
    oracle = json.loads((work / "oracle.json").read_text())
    expected, bad, cache = {}, {}, {}
    for op in res["ops"]:
        if not op["ok"] or not op["out"]:
            continue
        name = op["name"]
        if name not in expected:
            ecols, erows = oracle_result(oracle[name], cache)
            if corrupt:  # self-test: a wrong expectation must be caught
                erows = erows[:-1]
            expected[name] = (ecols, erows)
        ecols, erows = expected[name]
        files = sorted(glob.glob(f"{op['out']}/*.parquet"))
        if files:
            gcols, grows = check_oracle().table_repr(pd.concat([pd.read_parquet(f) for f in files]))
        else:
            gcols, grows = ecols, []
        if gcols != ecols:
            bad[op["id"]] = f"wrong output: columns {gcols} != oracle {ecols}"
        elif len(grows) != len(erows):
            bad[op["id"]] = f"wrong output: {len(grows)} rows, oracle {len(erows)}"
        elif grows != erows:
            n = sum(1 for a, b in zip(grows, erows) if a != b)
            bad[op["id"]] = f"wrong output: {n} rows differ from the oracle"
    return bad


# ---- metrics -----------------------------------------------------------

def summarize(workload, trace, res, bad):
    ops = res["ops"]
    for op in ops:
        if op["id"] in bad:
            op["ok"], op["reason"] = False, bad[op["id"]]
    attempted, failed = len(ops), sum(1 for op in ops if not op["ok"])
    if trace:
        layers = res["layers"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": unit(n)} for n in PER_LAYER}
    else:
        # a failed op counts at the seconds it took (its deadline, if it
        # hit it) and completes no item, so a failure never reads as a gain
        timed = [op for op in ops if op["timed"]] or ops
        if workload == "curate_mix":
            wall = statistics.median(res["passes"])
            items = sum(op["ok"] for op in timed) / sum(op["s"] for op in timed)
        else:
            wall = statistics.median(op["s"] for op in timed)
            items = statistics.median(op["items"] / op["s"] for op in timed)
        values = {"setup_s": res["setup_s"], "wall_s": wall,
                  "items_per_s": items, "peak_rss_mb": res["peak_rss_mb"]}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    # any failed op (exception, deadline, wrong output) makes the run incorrect
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def bench_once(workload, seed, seconds, trace, **kw):
    corrupt = kw.get("corrupt", False)
    runs = BENCH / ".runs"
    runs.mkdir(exist_ok=True)
    records = runs / f"{workload}-seed{seed}-trace{int(trace)}.jsonl"
    work = BENCH / ".work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(workload, seed, seconds, trace, work, records, **kw)
        t0 = time.time()
        bad = check_curate(res, work, corrupt) if workload == "curate_mix" else {}
        if workload == "curate_mix":
            log(f"oracle check took {time.time() - t0:.1f} s")
        with open(records, "a") as f:
            for op_id, reason in bad.items():
                f.write(json.dumps({"t_ms": int(time.time() * 1000), "ev": "oracle",
                                    "op": op_id, "ok": False, "reason": reason}) + "\n")
        out = summarize(workload, trace, res, bad)
        env = res["env"]
        log(f"{workload} seed {seed} trace {int(trace)}: {out['attempted']} ops, "
            f"{out['failed']} failed (ops_failed_frac {out['failed'] / out['attempted']:.4f}); "
            f"env {json.dumps(env)}")
        for op in res["ops"]:
            if not op["ok"]:
                log(f"failed op {op['id']} {op['name']}: {op['reason']}")
        return out
    finally:
        if (work / "jvm.log").is_file():
            shutil.copy(work / "jvm.log", records.with_suffix(".log"))
        shutil.rmtree(work, ignore_errors=True)


def preflight():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} is not a checkout of the program (no build.sbt / src/main/scala/graft)")
    for p in (IMPORT_SF / "lineitem.parquet", CURATE_SF):
        if not p.exists():
            fail(f"test data {p} is missing")


def selftest():
    """The correctness gate must be able to fail: on sf0.001 data a clean
    run reports no failed op, a run whose expected values are corrupted
    reports failed ops, and an op past its deadline is recorded as failed."""
    small = dict(lineitem=CURATE_SF / "lineitem.parquet")
    entries = ("q92_curation_pipeline", "q148_kcore_peel")
    cases = []
    for w in WORKLOADS:
        kw = dict(small, entries=entries) if w == "curate_mix" else dict(small)
        clean = bench_once(w, 7, 1, False, **kw)
        cases.append((f"{w} clean", clean["failed"] == 0 and clean["correct"]))
        bad = bench_once(w, 7, 1, False, corrupt=True, **kw)
        cases.append((f"{w} corrupted expectation", bad["failed"] > 0 and not bad["correct"]))
    late = bench_once("curate_mix", 7, 1, False, entries=entries, deadline=0.2, **small)
    cases.append(("curate_mix deadline", late["failed"] == 1 and late["attempted"] == 1
                  and not late["correct"]))
    for name, ok in cases:
        log(f"{'PASS' if ok else 'FAIL'} {name}")
    return 0 if all(ok for _, ok in cases) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    preflight()
    build()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        fail("--workload is required")
    out = bench_once(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
