#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout:

    python3 perfbench/run.py --workload panel|lakehouse --seed N \
        --seconds S --trace 0|1

It builds the program and the benchmark from source with sbt (once per
source state, under .bench_build/), generates the workload's inputs from
the seed, sets up, runs one untimed checked pass, then timed passes for
S seconds, and prints one JSON object as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}`. With --trace 0 the
metrics are the end_to_end metrics of BENCHMARK.json, with --trace 1
the per_layer ones. The run context is printed on the line before it;
spans and per-layer figures of a traced run go to .bench_build/traces/.
"""
import argparse
import concurrent.futures
import hashlib
import itertools
import json
import math
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else None
sys.path.insert(0, str(ROOT / "tools"))  # check.py's canonical form

WORKLOADS = ("lakehouse", "panel")
# input scale (sf 0.01 has 15 000 orders): the largest at which a panel
# run, with its checked pass and DuckDB checks, takes about 60 s on four
# cores, so that a few dozen runs of both workloads fit in an hour
SF = 0.01
SETUP_REPS = 3             # the first is cold; the median is a warm one
RUN_LIMIT_S = 170          # a run must end within 180 s
CHECK_WORKERS = 4          # processes comparing outputs with the oracles
LAKE_VERBS = ["append", "merge", "delete", "delete_mor", "update_mor",
              "compact", "vacuum", "read_point", "read_range", "read_full",
              "read_timetravel"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- stats

def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median_or_zero(values):
    return statistics.median(values) if values else 0.0


def trend(values):
    """Least-squares change of `values` over the run, as a share of
    their median (0 with fewer than two values)."""
    n = len(values)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2.0
    my = sum(values) / n
    slope = sum((i - mx) * (v - my) for i, v in enumerate(values)) / \
        sum((i - mx) ** 2 for i in range(n))
    return slope * (n - 1) / statistics.median(values)


# ---------------------------------------------------------------- build

def sources():
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for top in (ROOT / "project", HERE / "project"):
        files += [p for p in top.glob("*") if p.is_file()]
    for top in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += [p for p in top.rglob("*") if p.is_file()]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compiles program and benchmark; returns the runtime classpath."""
    stamp = BUILD / "classpath.json"
    if stamp.exists():
        saved = json.loads(stamp.read_text())
        if saved.get("digest") == digest:
            return saved["classpath"]
    log("building program and benchmark with sbt")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    (BUILD / "logs" / "build.log").write_text(out.stdout)
    lines = [ln for ln in out.stdout.splitlines()
             if os.pathsep in ln and "classes" in ln
             and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        raise RuntimeError("sbt build failed; see .bench_build/logs/build.log")
    stamp.write_text(json.dumps({"digest": digest, "classpath": lines[-1]}))
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def heap_size():
    """Half the machine's memory, 2 to 8 GiB: the rule the repo's test
    runs use for their driver heap."""
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    return f"{min(8, max(2, int(ln.split()[1]) // 2097152))}g"
    except OSError:
        pass
    return "2g"


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


# ---------------------------------------------------------------- checks

# Queries without an oracle: the schema their result must have, and a
# DuckDB query over the inputs that gives the value their `n` column
# must sum to. p11 splits the orders into one "train" and one "test" row.
NO_ORACLE = {
    "p11_group_split": ({"part": "string", "n": "int64"},
                        "SELECT count(*) FROM orders"),
}


def check_query(qdir, in_dir, sql):
    """Compares one dumped query result with its DuckDB oracle `sql`, as
    tools/check.py does, but over every part file of the result. Returns
    the failure text, or None."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from check import canon

    def rows(tbl):
        cols = sorted(tbl.column_names)
        return cols, canon(zip(*[tbl.column(c).to_pylist() for c in cols])) \
            if tbl.num_rows else []

    files = sorted(qdir.glob("*.parquet"))
    if not files:
        return "no parquet output"
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    con = duckdb.connect()
    for table in in_dir.glob("*.parquet"):
        con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM "
                    f"read_parquet('{table}/*.parquet')")
    if qdir.name in NO_ORACLE:
        schema, total_sql = NO_ORACLE[qdir.name]
        got = {f.name: str(f.type) for f in tbl.schema}
        if got != schema:
            return f"schema {got}, expected {schema}"
        total = con.execute(total_sql).fetchone()[0]
        n = sum(tbl.column("n").to_pylist())
        if tbl.num_rows != 2 or n != total:
            return (f"{tbl.num_rows} rows summing to {n}, "
                    f"expected 2 summing to {total}")
        return None
    if sql is None:
        return "no oracle and no expected schema"
    cols, mine = rows(tbl)
    try:
        dcols, theirs = rows(con.execute(sql).fetch_arrow_table())
    except Exception as e:  # noqa: BLE001 - report any oracle error
        return f"oracle error {e}"
    if dcols != cols:
        return f"columns {cols} vs oracle {dcols}"
    if mine != theirs:
        return f"{len(mine)} rows differ from oracle's {len(theirs)}"
    return None


def check_outputs(out_dir, in_dir):
    """Checks every dumped query result, CHECK_WORKERS at a time: the
    canonical form is pure Python and takes ~10 s for the panel results
    on one core. Returns {query: failure text or None}."""
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    qdirs = sorted(p for p in out_dir.iterdir() if p.is_dir())
    with concurrent.futures.ProcessPoolExecutor(CHECK_WORKERS) as ex:
        verdict = dict(zip((q.name for q in qdirs), ex.map(
            check_query, qdirs, itertools.repeat(in_dir),
            [oracle.get(q.name) for q in qdirs])))
    for name in sorted(set(oracle) - set(verdict)):
        verdict[name] = "oracle registered but no output dumped"
    return verdict


# ---------------------------------------------------------------- metrics

def metric_specs(kind):
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def trace_overhead(passes):
    """Median over traced passes of the pass time divided by the mean
    time of the untraced passes beside it (0 without such a pair)."""
    ratios = []
    for i, p in enumerate(passes):
        side = [q["s"] for q in passes[max(0, i - 1):i + 2]
                if not q["traced"]]
        if p["traced"] and side:
            ratios.append(p["s"] / (sum(side) / len(side)))
    return statistics.median(ratios) if ratios else 0.0


def layer_metrics(raw, failed, attempted):
    """Per-layer figures: medians of the untraced passes' operations and
    means of the traced passes' counters."""
    untraced = [o for o in raw["ops"] if o["pass"] > 0 and not o["traced"]]
    by_name = {}
    for o in untraced:
        by_name.setdefault(o["name"], []).append(o["s"])
    passes = raw["passes"]
    plain = [p["s"] for p in passes if not p["traced"]]
    layers = raw["layers"]

    def mean(key):
        vals = [lay[key] for lay in layers if key in lay]
        return sum(vals) / len(vals) if vals else 0.0

    # counters of the traced passes (Layers.scala), then the figures
    # computed here from the operations and the lakehouse totals
    m = {name: mean(name) for name in metric_specs("per_layer")}
    for name in m:
        if name.startswith("q."):
            m[name] = median_or_zero(by_name.get(name[2:-2], []))
    m["control_s"] = median_or_zero([p["control_s"] for p in passes])
    m["pass_trend"] = trend(plain)
    m["failed_frac"] = failed / attempted
    batch_s = [b for lay in layers for b in lay.get("stream.batch_s", [])]
    m["stream.batch_p50_s"] = percentile(batch_s, 50) if batch_s else 0.0
    m["stream.batch_p90_s"] = percentile(batch_s, 90) if batch_s else 0.0
    m["trace.overhead"] = trace_overhead(passes)
    for verb in LAKE_VERBS:
        m[f"lake.{verb}_s"] = median_or_zero(by_name.get(verb, []))
    commits = [o["s"] for o in untraced if o["kind"] == "commit"]
    reads = [o["s"] for o in untraced if o["kind"] == "read"]
    for name, xs in (("commit", commits), ("read", reads)):
        m[f"lake.{name}_p50_s"] = percentile(xs, 50) if xs else 0.0
        m[f"lake.{name}_p90_s"] = percentile(xs, 90) if xs else 0.0
    lake = raw.get("lake", {})
    n_commits = lake.get("commits", 0)
    m["lake.log_bytes_per_commit"] = \
        lake["log_bytes_added"] / n_commits if n_commits else 0.0
    m["lake.data_bytes_per_commit"] = \
        lake["data_bytes_added"] / n_commits if n_commits else 0.0
    m["lake.files_live"] = lake.get("files_live", 0)
    m["lake.write_amp"] = (
        (lake["log_bytes_added"] + lake["data_bytes_added"]) /
        lake["plain_written_bytes"]) if lake.get("plain_written_bytes") else 0.0
    m["lake.space_amp"] = lake["table_bytes"] / lake["plain_live_bytes"] \
        if lake.get("plain_live_bytes") else 0.0
    return m


def end_to_end_metrics(raw):
    plain = [p["s"] for p in raw["passes"] if not p["traced"]]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "pass_s": statistics.median(plain),
        "heap_live_peak_mb": raw["heap_live_peak_mb"],
    }


def result(raw, verdict, trace):
    """The final line: counts of attempted and failed operations and the
    metrics of the requested kind, each with its unit."""
    ops = raw["ops"]
    wrong = {q for q, v in verdict.items() if v}
    attempted = len(ops) + raw["loose_failures"] + len(verdict)
    failed = raw["loose_failures"] + len(wrong)
    failed += sum(1 for o in ops if not o["ok"] or o["name"] in wrong)
    if trace:
        values = layer_metrics(raw, failed, attempted)
        units = metric_specs("per_layer")
    else:
        values = end_to_end_metrics(raw)
        units = metric_specs("end_to_end")
    missing = set(units) ^ set(values)
    if missing:
        raise RuntimeError(f"metrics without a spec or value: {sorted(missing)}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]}
                        for k in units}}


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()

    if SPEC is None or not (ROOT / "build.sbt").exists() or \
            not (ROOT / "src" / "main" / "scala").is_dir():
        log("no program to benchmark: run from the root of a checkout "
            "that holds build.sbt, src/ and BENCHMARK.json")
        return 2
    BUILD.mkdir(exist_ok=True)
    digest = source_digest()
    try:
        classpath = build(digest)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        log(f"build failed: {e}")
        return 3
    built = time.time()  # a building first run may take longer than 180 s

    cores = len(os.sched_getaffinity(0))
    work = BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (BUILD / "logs").mkdir(exist_ok=True)
    jvm_log = BUILD / "logs" / f"{a.workload}-{a.seed}-trace{a.trace}.log"
    cmd = ["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={work / 'tmp'}",
           *ADD_OPENS, "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(work), "--cores", str(cores),
           "--sf", str(SF), "--setup-reps", str(SETUP_REPS)]
    try:
        with open(jvm_log, "w") as logf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=logf,
                                    stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, RUN_LIMIT_S -
                                           (time.time() - built)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                log(f"run exceeded {RUN_LIMIT_S} s; see {jvm_log}")
                return 4
        raw_file = work / "raw.json"
        if rc != 0 or not raw_file.exists():
            log(f"benchmark JVM failed (exit {rc}); see {jvm_log}")
            return 5
        raw = json.loads(raw_file.read_text())
        c0 = time.time()
        verdict = check_outputs(work / "out", work / f"in{SETUP_REPS}")
        oracle_s = time.time() - c0
        for q, why in sorted(verdict.items()):
            if why:
                log(f"check failed: {q}: {why}")
        for why in raw["failures"]:
            log(f"check failed: {why}")
        res = result(raw, verdict, a.trace == 1)
        context = dict(raw["context"], nproc=cores, heap=heap_size(),
                       git_commit=git_commit(), source_sha256=digest,
                       seconds=a.seconds, trace=a.trace,
                       setup_reps=SETUP_REPS,
                       passes=len(raw["passes"]),
                       check_pass_s=raw["check_s"],
                       oracle_check_s=oracle_s,
                       setup_runs_s=raw["setup_s"],
                       pass_runs_s=[p["s"] for p in raw["passes"]],
                       pass_walls_s=[p["wall_s"] for p in raw["passes"]],
                       wall_s=time.time() - started)
        if a.trace:
            out = BUILD / "traces" / f"{a.workload}-seed{a.seed}"
            shutil.rmtree(out, ignore_errors=True)
            out.mkdir(parents=True)
            for f in work.glob("spans-pass*.jsonl"):
                shutil.copy(f, out / f.name)
            (out / "layers.json").write_text(json.dumps(
                {"context": context, "metrics": res["metrics"],
                 "per_pass": raw["layers"],
                 "plan_check": raw.get("plan_check", {}),
                 "checks": verdict, "failures": raw["failures"]}, indent=1))
        print("context " + json.dumps(context, sort_keys=True))
        print(json.dumps(res))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
