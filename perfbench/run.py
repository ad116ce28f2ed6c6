#!/usr/bin/env python3
"""Benchmark of the graft engine: three workloads, end-to-end and per-layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --census            # counts-only pass over all queries

Workloads (membership in perfbench/workloads.json):

* relational   - fixture queries whose builders run no Spark jobs.
* iterative    - fixture queries whose builders run eager jobs or iterate.
* llm_pipeline - the Graft curation operators over a corpus made from the seed.

Each run is one fresh JVM on local[nproc] with nproc shuffle partitions.
The first run in a checkout compiles the engine and the harness
(perfbench/build.sbt), writes the sf0.1 fixture, and records each fixture
query's result digest after checking that result against the DuckDB oracle
(`SparkEntry.oracleSql`, compared with scripts/precheck.py's canonical row
form).  Everything generated goes under .bench_build/ (or $CARGO_TARGET_DIR).

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1).  A run record with every sample, the run stamp and the list of
failures is kept under .bench_build/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
SPARK_HOME = os.environ.get("SPARK_HOME") or (
    shutil.which("spark-submit") and os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("spark-submit")))))
HEAP = "2g"
# fixed-size generations, so peak RSS follows the live data rather than
# the collector's adaptive sizing
GC = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
SETUPS = 3
FIXTURE_SF = 0.1
FIXTURE_SEED = 42
FIXTURE_WORKLOADS = ("relational", "iterative")
ADD_OPENS = [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def source_hash():
    return tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                      os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])


# ------------------------------------------------------------------ build

def build():
    """Compile engine + harness with sbt unless the sources are unchanged."""
    stamp = os.path.join(BUILD, "build.stamp")
    want = source_hash()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.isdir(classes):
        return classes
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                           env=env, stdout=out, stderr=subprocess.STDOUT, timeout=240)
    if r.returncode != 0:
        with open(os.path.join(BUILD, "build.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die("build failed", 3)
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(want)
    return classes


def jvm(classes, mode, args, name, timeout):
    """Run one Harness JVM; return its JSON record.  Timeouts keep a first
    run (build 240 s + goldens 450 s + run 170 s) under 900 s."""
    out = os.path.join(BUILD, "runs", f"{name}.jvm.json")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", *GC, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{SPARK_HOME}/jars/*", "perfbench.Harness", "--mode", mode,
           "--out", out, "--cpus", str(len(os.sched_getaffinity(0)))]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    if os.path.exists(out):
        os.remove(out)
    with open(os.path.join(BUILD, "runs", f"{name}.jvm.log"), "w") as err:
        try:
            r = subprocess.run(cmd, stdout=err, stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            die(f"{mode} JVM exceeded {timeout} s (log: {err.name})", 4)
    if r.returncode != 0 or not os.path.exists(out):
        with open(err.name) as f:
            sys.stderr.write("".join(f.readlines()[-20:]))
        die(f"{mode} JVM failed with code {r.returncode}", 4)
    return load_json(out)


# ------------------------------------------------------------------ inputs

def fixture_dir(sf=FIXTURE_SF):
    """A fixture scale factor, written once per checkout."""
    sys.path.insert(0, HERE)
    import gen
    d = os.path.join(BUILD, "fixture", f"sf{sf}")
    stamp = os.path.join(d, "stamp")
    want = tree_hash([os.path.join(HERE, "gen.py")])
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(d, ignore_errors=True)
        log(f"writing sf{sf} fixture")
        gen.fixture(d, sf, FIXTURE_SEED)
        with open(stamp, "w") as f:
            f.write(want)
    return d


def oracle_verdicts(fx, dump, oracle_sql, planted):
    """DuckDB oracle vs each dumped Spark result, in precheck.py's canonical
    row form: {name: "pass" | "FAIL: ..."}, plus the verdict on the planted
    wrong-row copy of `planted`."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import precheck

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in precheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx}/{t}.parquet')")

    def compare(result_dir, sql):
        try:
            tbl = pq.read_table(result_dir)
        except Exception as e:  # noqa: BLE001 - any unreadable result is a failure
            return f"FAIL: cannot read Spark result: {e}"
        s_cols = list(tbl.column_names)
        s_rows = precheck.rows_of(s_cols, [tuple(d.values()) for d in tbl.to_pylist()])
        try:
            cur = con.execute(sql)
            d_cols = [d[0] for d in cur.description]
            d_rows = precheck.rows_of(d_cols, cur.fetchall())
        except Exception as e:  # noqa: BLE001
            return f"FAIL: DuckDB error: {e}"
        if sorted(s_cols) != sorted(d_cols):
            return f"FAIL: columns spark={sorted(s_cols)} duck={sorted(d_cols)}"
        if len(s_rows) != len(d_rows):
            return f"FAIL: rows spark={len(s_rows)} duck={len(d_rows)}"
        for i, (a, b) in enumerate(zip(s_rows, d_rows)):
            if a != b:
                return f"FAIL: row {i} differs"
        return "pass"

    verdicts = {}
    for name, sql in oracle_sql.items():
        verdicts[name] = compare(os.path.join(dump, name), sql)
    return verdicts, compare(os.path.join(dump, "planted"), oracle_sql[planted])


def golden(classes, fx, workloads):
    """Oracle-verified digest per fixture query, computed once per build."""
    names = sorted({n for w in FIXTURE_WORKLOADS for n in workloads[w]["items"]})
    key = hashlib.sha256((source_hash() + open(os.path.join(fx, "stamp")).read()
                          + ",".join(names)).encode()).hexdigest()[:16]
    gdir = os.path.join(BUILD, "golden")
    table = os.path.join(gdir, f"{key}.tsv")
    meta_path = os.path.join(gdir, f"{key}.json")
    if os.path.exists(table) and os.path.exists(meta_path):
        return table, load_json(meta_path)
    shutil.rmtree(gdir, ignore_errors=True)
    os.makedirs(gdir)
    items = os.path.join(gdir, "items.txt")
    with open(items, "w") as f:
        f.write("\n".join(names) + "\n")
    dump = os.path.join(gdir, "dump")
    log(f"computing oracle-verified digests for {len(names)} fixture queries")
    t0 = time.time()
    rec = jvm(classes, "golden", {"fixture": fx, "items": items, "dump": dump,
                                  "table": table + ".spark", "work": os.path.join(BUILD, "work-golden")},
              "golden", 450)
    verdicts, planted = oracle_verdicts(fx, dump, rec["oracle_sql"], rec["planted"])
    rows = []
    with open(table + ".spark") as f:
        for line in f.read().splitlines():
            name, nrows, digest, err = line.split("\t", 3)
            v = f"FAIL: {err}" if err else verdicts.get(name, "FAIL: no oracle SQL")
            rows.append(f"{name}\t{nrows}\t{digest}\t{v}")
    with open(table, "w") as f:
        f.write("\n".join(rows) + "\n")
    meta = {"planted": rec["planted"], "planted_verdict": planted,
            "oracle_failures": {n: v for n, v in verdicts.items() if v != "pass"}}
    with open(meta_path, "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(dump, ignore_errors=True)
    log(f"golden digests done in {time.time() - t0:.1f} s; "
        f"{len(meta['oracle_failures'])} oracle mismatches")
    return table, meta


def corpus_dir(seed, n_docs):
    """The corpus for `seed` (other corpora are removed) and the
    input-fingerprint check."""
    sys.path.insert(0, HERE)
    import gen
    root = os.path.join(BUILD, "corpus")
    name = f"seed-{seed}-{n_docs}"
    if os.path.isdir(root):
        for old in set(os.listdir(root)) - {name}:
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    d = os.path.join(root, name)
    if not os.path.exists(os.path.join(d, "manifest.json")):
        gen.corpus(d, n_docs, seed)
    manifest = load_json(os.path.join(d, "manifest.json"))
    # input fingerprints: same seed -> same bytes, other seed -> other bytes
    fp = lambda s: gen.fingerprint(*gen.corpus_tables(1000, s))  # noqa: E731
    a, b, c = fp(seed), fp(seed), fp(seed + 1)
    check = {"name": "input_fingerprints", "ok": a == b and a != c,
             "detail": f"seed {seed}: {a[:12]} / {b[:12]}; seed {seed + 1}: {c[:12]}"}
    return d, manifest, check


# ------------------------------------------------------------------ metrics

def tail(values):
    """Highest percentile with at least 10 samples above it."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def stamp_extra():
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"commit": commit, "source_hash": source_hash()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--census", action="store_true",
                    help="counts-only pass over every SparkEntry query; writes perfbench/results/")
    args = ap.parse_args()
    started = time.time()

    for need in ("src/main/scala/graft/SparkEntry.scala", "scripts/precheck.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of an engine checkout")
    if not SPARK_HOME:
        die("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    workloads = load_json(os.path.join(HERE, "workloads.json"))
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if not args.census and args.workload not in workloads:
        die(f"--workload must be one of {sorted(workloads)}")
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    classes = build()
    fx = fixture_dir()

    if args.census:
        census(classes, fx, workloads)
        return

    w = args.workload
    name = f"{w}-{args.seed}-t{args.trace}"
    jargs = {"workload": w, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
             "setups": SETUPS, "passes": workloads[w].get("passes", 1),
             "work": os.path.join(BUILD, f"work-{w}")}
    shutil.rmtree(jargs["work"], ignore_errors=True)
    py_checks = []
    gold = {}
    if w in FIXTURE_WORKLOADS:
        table, meta = golden(classes, fx, workloads)
        items = os.path.join(BUILD, f"items-{w}.txt")
        with open(items, "w") as f:
            f.write("\n".join(workloads[w]["items"]) + "\n")
        jargs.update(fixture=fx, items=items, golden=table)
        with open(table) as f:
            for line in f.read().splitlines():
                n, rows, digest, verdict = line.split("\t", 3)
                gold[n] = (int(rows), digest, verdict)
        py_checks.append({"name": "selftest.oracle_flags_planted_row",
                          "ok": meta["planted_verdict"] != "pass",
                          "detail": f"{meta['planted']}: {meta['planted_verdict']}"})
    else:
        cfg = workloads[w]
        d, manifest, fp_check = corpus_dir(args.seed, cfg["n_docs"])
        py_checks.append(fp_check)
        jargs.update(corpus=d, n_docs=manifest["n_docs"], sum_chars=manifest["sum_chars"],
                     ann_floor=cfg["ann_recall_floor"])

    t0 = time.time()
    rec = jvm(classes, "run", jargs, name, 170)
    log(f"JVM finished in {time.time() - t0:.1f} s")

    failures = []
    attempted = 0
    per_item = {}
    for it in rec["items"]:
        attempted += 1
        per_item.setdefault(it["name"], []).append(it["construct_s"] + it["plan_s"] + it["exec_s"])
        why = it["error"]
        if why is None and w in FIXTURE_WORKLOADS:
            rows, digest, verdict = gold.get(it["name"], (None, None, "no golden digest"))
            if verdict != "pass":
                why = f"oracle: {verdict}"
            elif (it["rows"], it["digest"]) != (rows, digest):
                why = f"result digest {it['digest']} ({it['rows']} rows) differs from the " \
                      f"oracle-verified {digest} ({rows} rows)"
        if why:
            failures.append({"item": it["name"], "pass": it["pass"], "why": why})
    for c in rec["checks"] + py_checks:
        attempted += 1
        if not c["ok"]:
            failures.append({"item": c["name"], "why": c["detail"]})

    passes = rec["passes"]
    med = lambda k: statistics.median(p[k] for p in passes)  # noqa: E731
    # an item's latency is its lower median over the run's passes: with two
    # passes the faster run, so the one-off JIT and code-generation cost that
    # the seed's order puts on the first item does not decide the tail
    lat = [statistics.median_low(v) for v in per_item.values()]
    tail_v, tail_pct, tail_n = tail(lat)
    e2e = {
        "setup_s": statistics.median(rec["setup_s"]),
        "wall_s": med("wall_s"),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail_v,
        "cpu_s": med("cpu_s"),
        "shuffle_bytes": med("shuffle_bytes"),
        "peak_rss_mb": rec["peak_rss_mb"],
        "ok_frac": (attempted - len(failures)) / attempted,
    }
    if args.trace:
        metrics = {m["name"]: {"value": float(rec["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    record = {"stamp": {**rec["stamp"], **stamp_extra(), "heap": HEAP, "setups": SETUPS,
                        "run_total_s": round(time.time() - started, 1),
                        "passes": len(passes), "items": len(lat),
                        "tail_percentile": tail_pct, "tail_samples": tail_n},
              "end_to_end": e2e, "layers": rec["layers"], "setup_samples_s": rec["setup_s"],
              "warmup_s": rec["warmup_s"],
              "passes": passes, "checks": rec["checks"] + py_checks, "failures": failures,
              "spans": rec["spans"]}
    with open(os.path.join(BUILD, "runs", f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for fl in failures[:20]:
        log(f"FAILED {fl['item']}: {fl['why']}")
    log(f"{w} seed {args.seed}: {len(passes)} passes, wall_s {e2e['wall_s']:.3f}, "
        f"setup_s {e2e['setup_s']:.3f}, {len(failures)} failed of {attempted}; "
        f"tail p{tail_pct:.1f} over {tail_n} samples")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))


# ------------------------------------------------------------------ census

def census(classes, fx, workloads):
    rec = jvm(classes, "census", {"fixture": fx, "work": os.path.join(BUILD, "work-census")},
              "census", 3000)
    out = os.path.join(HERE, "results")
    os.makedirs(out, exist_ok=True)
    qs = rec["queries"]
    with open(os.path.join(out, "census.jsonl"), "w") as f:
        for q in qs:
            f.write(json.dumps(q, sort_keys=True) + "\n")
    eager = [q for q in qs if q.get("construct_jobs", 0) > 0]
    wall = sum(q["construct_s"] + q["plan_s"] + q["exec_s"] for q in qs)
    run_s = sum(q.get("task_run_s", 0.0) for q in qs)
    top = lambda key: [[q["name"], q.get(key)] for q in  # noqa: E731
                       sorted(qs, key=lambda q: -(q.get(key) or 0))[:6]]
    summary = {
        "queries": len(qs), "failed": [q["name"] for q in qs if q["error"]],
        "wall_s": round(wall, 1),
        "construct_s": round(sum(q["construct_s"] for q in qs), 1),
        "jobs": sum(q.get("jobs", 0) for q in qs),
        "construct_jobs": sum(q.get("construct_jobs", 0) for q in qs),
        "queries_with_construct_jobs": len(eager),
        "stages": sum(q.get("stages", 0) for q in qs),
        "shuffle_write_bytes": sum(q.get("shuffle_write_bytes", 0) for q in qs),
        "busy_cores": round(run_s / wall, 2) if wall else 0.0,
        "queries_under_one_busy_core": sum(1 for q in qs if q.get("busy_cores", 0) < 1.0),
        "median_query_s": round(statistics.median(
            q["construct_s"] + q["plan_s"] + q["exec_s"] for q in qs), 3),
        "top_by_jobs": top("jobs"), "top_by_construct_jobs": top("construct_jobs"),
        "default_parallelism": rec["default_parallelism"], **stamp_extra(),
        "workload_membership": {
            w: {"items": len(workloads[w]["items"]),
                "with_construct_jobs": sum(1 for q in qs if q["name"] in workloads[w]["items"]
                                           and q.get("construct_jobs", 0) > 0)}
            for w in FIXTURE_WORKLOADS},
    }
    with open(os.path.join(out, "census_summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
