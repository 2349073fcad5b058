#!/usr/bin/env python3
"""graft benchmark runner: one workload run, one JSON result line.

    python3 perfbench/run.py --workload hk_etl|olap_star|dedup_curation \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the harness
(`perfbench/harness`, an sbt build that depends on the root build) into
`.bench_build/` and reuses them while the sources are unchanged. hk_etl
generates its archive from the seed into a fresh run directory; the query
workloads read the repository's read-only test tables at scale 0.01 (the
directory TESTDATA.md lists) and the seed orders their warm passes. The
harness JVM then runs set-up, a cold first pass and warm passes for S
seconds through graft's public functions, and the outputs of every pass
are checked: HealthKit conversions by reading the Derby databases back,
queries against the DuckDB results of their oracle SQL on the same tables,
stored in expected.json. See NOTES.md.

The last stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it is the run stamp (source hash, cpus, heap, seed, input
sizes, sample counts).
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

CPUS = len(os.sched_getaffinity(0))
HEAP = "2g"
TIMEOUT_S = 160
TABLE_SCALE = "0.01"
HK_SIZE = dict(n_records=15_000, n_workouts=12, route_points=400, n_days=120)

WORKLOADS = {
    "hk_etl": [],
    "olap_star": "q01 q02 q04 q08 q11 q12 q13 q15 q17 q19 q35 q38 q43 q94".split(),
    "dedup_curation": "q20 q25 q26 q27 q30 q47 q52 q78 q95 q132 q212".split(),
}
# The query workloads read the fixed test tables; the run's seed orders the
# queries of each warm pass. The queries' oracle results (DuckDB running
# each query's oracle SQL over the same tables; the dedup oracles take
# minutes) are stored in EXPECTED with a digest of the tables they were
# computed on (see --refresh-expected).
EXPECTED = os.path.join(HERE, "expected.json")
# Warm passes a run makes at least; latency percentiles are taken over
# exactly these passes, so their sample count does not depend on how many
# more passes fit in the run's seconds.
MIN_WARM = {"hk_etl": 2, "olap_star": 3, "dedup_curation": 3}

END_TO_END = [("setup_s", "s"), ("first_pass_s", "s"), ("warm_pass_s", "s"), ("rows_per_s", "1/s"),
              ("query_p50_s", "s"), ("query_tail_s", "s"), ("peak_rss_mb", "MB")]

PASS_COUNTERS = [("plans.planning_s", "s"), ("plans.exchanges", "count"), ("plans.broadcasts", "count"),
                 ("plans.topk_aggs", "count"), ("spark.jobs", "count"), ("spark.stages", "count"),
                 ("spark.tasks", "count"), ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
                 ("spark.busy_share", "share"), ("spark.shuffle_write_mb", "MB"),
                 ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
                 ("spark.task_skew_max", "ratio"), ("codegen.compiles", "count"),
                 ("codegen.compile_s", "s"), ("jvm.jit_s", "s"), ("jvm.gc_s", "s")]
SHARED_STAGES = ["shingles", "minhashEdges", "jaccardPairs", "exactPairs", "nearDupPairs",
                 "dupLabels", "fuzzyLabels"]
PER_LAYER = (
    [("sources.parse_s", "s"), ("sources.elements_s", "s"), ("sources.elements", "count"),
     ("sources.infer_s", "s"), ("sources.extract_s", "s"), ("sources.tables", "count"),
     ("sources.columns", "count"), ("sinks.jdbc_write_s", "s"), ("sinks.jdbc_rows", "count")]
    + [(f"shared.{s}{suffix}", unit) for s in SHARED_STAGES for suffix, unit in (("_s", "s"), ("_rows", "count"))]
    + [("core.pinned_mb", "MB")]
    + [(f"query.{q}_s", "s") for w in ("olap_star", "dedup_curation") for q in WORKLOADS[w]]
    + [(f"{name}.{when}", unit) for name, unit in PASS_COUNTERS for when in ("first", "warm")]
    + [("trace.overhead_s", "s"), ("failed_share", "share")])

# the module openings graft's build.sbt gives its forked runs (Spark on JDK 17)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout,
    error or SIGTERM the whole group is killed before returning."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


# ---------------------------------------------------------------- build

def source_fingerprint():
    """Hash of everything the build compiles: graft's main sources, the
    harness sources and both builds' definitions."""
    h = hashlib.sha256()
    harness = os.path.join(HERE, "harness")
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(harness, "build.sbt"), os.path.join(harness, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(harness, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(out):
    """Classpath of graft plus the harness, compiled by sbt on first use."""
    fp = source_fingerprint()
    stamp = os.path.join(out, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["fingerprint"] == fp and all(os.path.exists(e) for e in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               TMPDIR=os.path.join(out, "tmp"))
    repos = os.path.expanduser("~/.sbt/repositories")
    # sbt's own state (global base, boot, ivy home) goes under `out` too,
    # so a build writes only inside the checkout
    env["SBT_OPTS"] = " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
         f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}", f"-Djna.tmpdir={os.path.join(out, 'tmp')}",
         f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
         f"-Dsbt.ivy.home={os.path.join(out, 'ivy')}"]
        + ([f"-Dsbt.repository.config={repos}"] if os.path.isfile(repos) else []))
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    with open(os.path.join(out, "build.log"), "w") as log:
        try:
            code, stdout = run_child(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "export harness/Runtime/fullClasspath"],
                840, cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(stdout)
    lines = [l for l in stdout.splitlines() if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed, see {os.path.join(out, 'build.log')}")
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


# --------------------------------------------------------------- inputs

def tables_dir():
    """The test tables at TABLE_SCALE, from the table in TESTDATA.md."""
    path = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.isfile(path):
        fail("TESTDATA.md not found: it names the test tables the query workloads read")
    with open(path) as fh:
        for line in fh:
            cells = [c.strip().strip("`") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == TABLE_SCALE and os.path.isdir(cells[2]):
                return cells[2].rstrip("/")
    fail(f"no test tables at scale {TABLE_SCALE} (see TESTDATA.md)")


def make_inputs(workload, seed, run_dir):
    if workload == "hk_etl":
        import hkgen
        data, elements = hkgen.generate(seed, **HK_SIZE)
        path = os.path.join(run_dir, "export.zip")
        with open(path, "wb") as fh:
            fh.write(data)
        sizes = dict(HK_SIZE, elements=len(elements), archive_bytes=len(data))
        return path, sizes, hkgen.expected(elements)
    import pyarrow.parquet as pq
    path = tables_dir()
    sizes = {os.path.basename(p)[: -len(".parquet")]: pq.ParquetFile(p).metadata.num_rows
             for p in sorted(glob.glob(os.path.join(path, "*.parquet")))}
    return path, dict(sizes, scale=TABLE_SCALE), None


# --------------------------------------------------------------- checks

def check_tables(expected, check):
    """Failed checks of a HealthKit run: each conversion's rows per table,
    and each read-back database in full."""
    want_rows = {t: e["rows"] for t, e in expected.items()}
    bad_conversions = sum(1 for w in check["written"] if w != want_rows)
    bad_dbs = []
    for db, got in check.items():
        if db == "written":
            continue
        if got != expected:
            diff = sorted(t for t in set(got) | set(expected) if got.get(t) != expected.get(t))
            bad_dbs.append(f"{db}: {diff[:5]}")
    return bad_conversions, len(check) - 1, bad_dbs


def canonical_digest(df):
    df = df[sorted(df.columns)].astype("string").fillna("<null>")
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    return [len(rows), hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]]


def input_digests(tables_dir):
    """SHA-256 of every table file, so a changed table fails loudly
    instead of being checked against results of other data."""
    out = {}
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        with open(p, "rb") as fh:
            out[os.path.basename(p)] = hashlib.sha256(fh.read()).hexdigest()[:16]
    return out


def oracle_digests(tables_dir, oracle):
    """(rows, content hash) of each query's oracle SQL run by DuckDB over
    the tables in `tables_dir`."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return {name: {"columns": sorted(df.columns), "digest": canonical_digest(df)}
            for name, df in ((n, con.execute(sql).fetchdf()) for n, sql in sorted(oracle.items()))}


def check_queries(tables_dir, res, refresh):
    """Compares each query's output in every pass (columns, row count and
    order-independent content hash) with its oracle's stored result.
    Returns the failed operations as "<pass>/<query>", the queries with no
    stored result, and the result rows of one pass."""
    import pandas as pd
    check = res["check"]
    stored = {"inputs": {}, "queries": {}}
    if os.path.isfile(EXPECTED):
        with open(EXPECTED) as fh:
            stored = json.load(fh)
    if refresh:
        stored["inputs"] = input_digests(tables_dir)
        stored["queries"].update(oracle_digests(tables_dir, check["oracle"]))
        listed = {q for qs in WORKLOADS.values() for q in qs}
        stored["queries"] = {k: v for k, v in stored["queries"].items() if k.split("_")[0] in listed}
        with open(EXPECTED, "w") as fh:
            json.dump(stored, fh, indent=1, sort_keys=True)
            fh.write("\n")
    elif stored["inputs"] != input_digests(tables_dir):
        fail(f"the tables in {tables_dir} differ from those expected.json was computed on")
    expected = stored["queries"]
    outputs = {}
    for name in sorted(os.listdir(check["dir"])):
        parts = sorted(glob.glob(os.path.join(check["dir"], name, "*.parquet")))
        df = pd.concat([pd.read_parquet(f) for f in parts], ignore_index=True)
        outputs[name] = {int(i): g.drop(columns="pass__") for i, g in df.groupby("pass__")}
    bad, unchecked, rows = [], set(), 0
    for i, p in enumerate(res["passes"]):
        for o in p["ops"]:
            name = o["name"]
            want = expected.get(name)
            if want is None:
                unchecked.add(name)
            if not o["ok"]:
                bad.append(f"{i}/{name}")
                continue
            got = outputs.get(name, {}).get(i)
            if got is None:  # a query that wrote no rows in this pass
                cols = want["columns"] if want else []
                got = pd.DataFrame(columns=cols)
            if i == 0:
                rows += len(got)
            if want is not None and want != {"columns": sorted(got.columns), "digest": canonical_digest(got)}:
                bad.append(f"{i}/{name}")
    return bad, sorted(unchecked), rows


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def harrell_davis(samples, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted average of
    all order statistics, so it moves smoothly when samples trade ranks
    instead of jumping from one sample to the next."""
    import numpy as np
    xs = np.sort(np.asarray(samples, dtype=float))
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)
    with np.errstate(divide="ignore"):
        logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(logpdf - logpdf[np.isfinite(logpdf)].max())
    pdf[~np.isfinite(pdf)] = 0.0
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ xs)


def tail(samples):
    """The highest percentile with at least ten samples beyond it, and
    that percentile (the maximum when there are fewer than eleven)."""
    if len(samples) < 11:
        return max(samples, default=0.0), 100.0
    p = (len(samples) - 10) / len(samples)
    return harrell_davis(samples, p), 100.0 * p


def op_samples(workload, passes):
    """Operation latencies of `passes`, by operation: queries by name; for
    hk_etl the JDBC write statements, which a conversion issues in
    table-name order, by position."""
    by = {}
    for p in passes:
        if workload == "hk_etl":
            for i, w in enumerate(p["writes_s"]):
                by.setdefault(i, []).append(w)
        else:
            for o in p["ops"]:
                if o["ok"]:
                    by.setdefault(o["name"], []).append(o["s"])
    return by


def end_to_end(workload, res, result_rows):
    passes = res["passes"]
    warm = [p for p in passes if p["kind"] == "warm"]
    if workload == "hk_etl":
        warm_s = median([p["wall_s"] for p in warm])
        written = res["check"]["written"][1:1 + len(warm)]
        rate = median([sum(w.values()) / p["wall_s"] for w, p in zip(written, warm)])
    else:
        # a warm pass: each query at its median over the warm passes
        warm_s = sum(median(v) for v in op_samples(workload, warm).values())
        rate = result_rows / warm_s if warm_s else 0.0
    # Latency percentiles over the samples of exactly the first MIN_WARM
    # passes, so the sample count and the tail percentile stay fixed.
    samples = [x for v in op_samples(workload, warm[: MIN_WARM[workload]]).values() for x in v]
    tail_s, tail_pct = tail(samples)
    metrics = {
        "setup_s": res["setup_s"],
        "first_pass_s": passes[0]["wall_s"],
        "warm_pass_s": warm_s,
        "rows_per_s": rate,
        "query_p50_s": harrell_davis(samples, 0.5) if samples else 0.0,
        "query_tail_s": tail_s,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return metrics, {"op_samples": len(samples), "tail_percentile": round(tail_pct, 2),
                     "warm_passes": len(warm)}


def per_layer(workload, res, failed_share):
    passes = res["passes"]
    first = passes[0]
    warm = [p for p in passes if p["kind"] == "warm"]
    traced = [p for p in passes if p["kind"] == "traced"]
    m = {name: 0.0 for name, _ in PER_LAYER}
    m.update(res["layers"])
    for name, _ in PASS_COUNTERS:
        m[f"{name}.first"] = first["counters"][name]
        m[f"{name}.warm"] = median([p["counters"][name] for p in traced])
    for q in WORKLOADS[workload]:
        m[f"query.{q}_s"] = median([o["s"] for p in warm for o in p["ops"]
                                    if o["ok"] and o["name"].split("_")[0] == q])
    m["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in warm])
    m["failed_share"] = failed_share
    unknown = set(m) - {name for name, _ in PER_LAYER}
    if unknown:
        fail(f"unlisted per-layer metrics: {sorted(unknown)}")
    return m


def git_head():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return p.stdout.strip() or None if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refresh-expected", action="store_true",
                    help="query workloads: recompute the stored oracle results of the workload's "
                         "queries with DuckDB (minutes for dedup_curation)")
    args = ap.parse_args()
    # a terminated runner still stops its children (run_child's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("graft sources not found next to perfbench/ (run from a full checkout)")
    out = os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classpath = build(out)

    run_dir = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        t0 = time.time()
        inputs, sizes, expected = make_inputs(args.workload, args.seed, run_dir)
        gen_s = time.time() - t0
        # a fixed-size heap: with a growable one, peak RSS follows the
        # collector's sizing decisions more than the program
        # -UsePerfData: the JVM's perf counters would go to the system's
        # temporary directory, outside the run directory
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
                  f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                  f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
                  "-cp", classpath, "graftbench.Harness",
                  "--workload", args.workload, "--input", inputs, "--out", run_dir,
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--seed", str(args.seed), "--cpus", str(CPUS),
                  "--min-warm", str(MIN_WARM[args.workload]),
                  "--queries", ",".join(WORKLOADS[args.workload])])
        budget = TIMEOUT_S - (time.time() - t0)
        with open(os.path.join(run_dir, "harness.log"), "w") as log:
            try:
                started = time.time()
                code, _ = run_child(cmd, budget, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                    env=dict(os.environ, TMPDIR=os.path.join(run_dir, "tmp")))
            except subprocess.TimeoutExpired:
                fail(f"harness exceeded {budget:.0f} s")
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.isfile(result_path):
            with open(os.path.join(run_dir, "harness.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"harness exited with {code}")
        harness_s = time.time() - t0 - gen_s
        shutil.copy(result_path, os.path.join(out, f"last-{args.workload}.json"))
        with open(result_path) as fh:
            res = json.load(fh)
        # set-up: from the process start to the session ready, inputs staged
        res["setup_s"] = int(res["ready_ms"]) / 1e3 - started

        ops = sum(len(p["ops"]) for p in res["passes"])
        failed_ops = sum(1 for p in res["passes"] for o in p["ops"] if not o["ok"])
        notes = {}
        if args.workload == "hk_etl":
            bad_conv, dbs, bad_dbs = check_tables(expected, res["check"])
            attempted, failed = ops + dbs, failed_ops + bad_conv + len(bad_dbs)
            result_rows = 0
            notes["check_failures"] = bad_dbs
        else:
            bad, unchecked, result_rows = check_queries(inputs, res, args.refresh_expected)
            # every operation's output is checked: a failed or wrong one counts once
            attempted, failed = ops, len(bad)
            notes["check_failures"] = bad
            notes["unchecked"] = unchecked
        notes["harness_s"] = round(harness_s, 2)
        notes["check_s"] = round(time.time() - t0 - gen_s - harness_s, 2)
        e2e, sample_notes = end_to_end(args.workload, res, result_rows)
        notes.update(sample_notes)
        if args.trace:
            metrics = per_layer(args.workload, res, failed / attempted)
            units = dict(PER_LAYER)
        else:
            metrics, units = e2e, dict(END_TO_END)
        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "src_sha": res["src_sha"], "git_head": git_head(), "cpus": res["cpus"], "xmx": HEAP,
            "max_heap_mb": res["max_heap_mb"], "input_sizes": sizes, "input_gen_s": round(gen_s, 3),
            "errors": res["errors"][:5], **notes,
        }
        print(json.dumps({"stamp": stamp}))
        print(json.dumps({
            "correct": failed == 0 and not res["errors"],
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
