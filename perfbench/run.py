#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON result.

  python3 perfbench/run.py --workload etl_relational --seed 1 --seconds 5 --trace 0

Run from the repository root. It builds the engine and the benchmark from
source (perfbench/build.sbt) when they changed, generates the seeded
inputs (perfbench/gen.py, cached per seed), runs the workload in one JVM
(perfbench.Main), checks every output, and prints as its last line

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) of BENCHMARK.json. The line before it is the run record:
effective config, all metrics, check results and input sizes. A traced
run compares itself with untraced runs of the same build (see
untraced_metrics) and makes one first when there is none. Exit code is
0 only when every operation and every check passed and every declared
metric was measured and is not 0.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(
    os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JAR = os.path.join(WORK, "perfbench.jar")
# JVM class-data-sharing archive of the classes the workloads load:
# written by an untimed warm-up JVM at build time, it cuts every timed
# JVM's start by seconds, and every timed JVM runs with the same flags
CDS = os.path.join(WORK, "classes.jsa")
FIXTURES = os.path.join("src", "test", "resources", "hicsa")
WORKLOADS = ("etl_relational", "corpus_batch", "index_serve")
# inputs per workload: (generator kind, size, seed policy)
INPUTS = {
    "etl_relational": ("relational", 0.01, "run"),     # seed makes the tables
    "corpus_batch": ("corpus", 1500, "run"),           # seed makes the corpus
    "index_serve": ("corpus", 500, "fixed"),           # seed splits the corpus
}
FIXED_SEED = 42
ADD_OPENS = [a for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util "
    "java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
    "sun.security.action sun.util.calendar").split()
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
SLOTS = max(1, min(4, os.cpu_count() or 1))
# A fixed heap and young generation keep the peak resident set from
# following GC sizing heuristics, so peak_rss_mb moves with retained data.
HEAP = "3g"
GC = ["-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt-compile the engine plus the benchmark unless the stamp matches."""
    digest = sources_digest()
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isfile(JAR):
        return
    log("building engine + benchmark (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME,
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                        "-XX:-UsePerfData -Dsbt.repository.config=" +
                        os.path.expanduser("~/.sbt/repositories"))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build failed")
    # class-data sharing needs the classes in a jar
    with zipfile.ZipFile(JAR + ".tmp", "w") as z:
        for f in sorted(glob.glob(os.path.join(CLASSES, "**", "*.class"), recursive=True)):
            z.write(f, os.path.relpath(f, CLASSES))
    os.replace(JAR + ".tmp", JAR)
    if os.path.exists(CDS):
        os.remove(CDS)
    log("writing the class-data-sharing archive (untimed warm-up run)")
    # etl_relational loads the widest set of engine and Spark classes
    data, _ = inputs("etl_relational", 0)
    out = os.path.join(WORK, "out", "warmup")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    work = os.path.join(WORK, "run", str(os.getpid()))
    try:
        rc, _ = run_jvm("etl_relational", 0, 0, 0, data, out, work,
                        [f"-XX:ArchiveClassesAtExit={CDS}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(CDS):
        sys.stderr.write(open(os.path.join(out, "jvm.log")).read()[-4000:])
        sys.exit("build failed: warm-up run did not write the archive")
    with open(stamp, "w") as f:
        f.write(digest)
    os.sync()  # no write-back of the new jar and archive during timed runs


def inputs(workload, seed):
    sys.path.insert(0, HERE)
    import gen
    kind, size, policy = INPUTS[workload]
    s = FIXED_SEED if policy == "fixed" else seed
    with open(gen.__file__, "rb") as f:  # a changed generator regenerates
        version = hashlib.sha1(f.read()).hexdigest()[:8]
    out = os.path.join(WORK, "data", f"{kind}-{size}-{s}-{version}")
    return out, gen.ensure(kind, out, s, size)


def run_jvm(workload, seed, seconds, trace, data, out, work,
            share=(f"-XX:SharedArchiveFile={CDS}",)):
    cp = ":".join([JAR] + sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file in the system temp dir: a run writes only here
    cmd = (["java"] + ADD_OPENS + list(share) + GC +
           ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", data, "--fixtures", FIXTURES, "--out", out,
            "--work", work, "--slots", str(SLOTS)])
    logf = open(os.path.join(out, "jvm.log"), "w")
    # few malloc arenas: native memory would otherwise spread over up to
    # 8 arenas per core and make the peak resident set vary run to run
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)
    try:
        _, status, usage = os.wait4(p.pid, 0)
    except BaseException:  # interrupted or terminated: take the JVM down too
        p.kill()
        p.wait()
        raise
    logf.close()
    # ru_maxrss is in KiB on Linux: the JVM's peak resident set
    return os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0


def canon(df):
    """tools/check.py's comparison form: columns sorted by name, floats
    at 9 decimals, every cell stringified, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
    df = df.astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def oracle_result(con, data, sql):
    """The oracle's rows for `sql` on the inputs in `data`. They depend on
    nothing else, so they are cached beside the inputs, like them."""
    import pandas as pd
    path = os.path.join(data, "oracle", hashlib.sha1(sql.encode()).hexdigest() + ".pkl")
    if os.path.isfile(path):
        return pd.read_pickle(path)
    if con[0] is None:
        import duckdb
        con[0] = duckdb.connect()
        for t in glob.glob(os.path.join(data, "*.parquet")):
            name = os.path.basename(t)[:-len(".parquet")]
            con[0].sql(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    df = con[0].sql(sql).df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def oracle_checks(res, data, out):
    """Each kept batch result against its DuckDB oracle twin on this
    run's inputs, and buildDatabase against the golden 308x5 table."""
    import pandas as pd
    con = [None]  # opened on the first oracle result not yet cached
    checks = []
    for d in sorted(glob.glob(os.path.join(out, "outputs", "*"))):
        name = os.path.basename(d)
        got = pd.read_parquet(d)
        if name == "hicsa_build_database":
            golden = pd.read_parquet(os.path.join(FIXTURES, "golden.parquet"))
            by_type = got["Type"].value_counts().to_dict()
            ok = (len(got) == 308 and canon(got).equals(canon(golden)) and
                  by_type == {"Support": 224, "Technical": 44, "Policy": 40})
            checks.append({"name": f"golden:{name}", "ok": ok,
                           "detail": f"{len(got)} rows, by Type {by_type}"})
            continue
        sql = res["strings"].get(f"oracle:{name}")
        if sql is None:
            checks.append({"name": f"oracle:{name}", "ok": True, "detail": "no oracle twin"})
            continue
        try:
            want = canon(oracle_result(con, data, sql))
            g = canon(got)
            ok = list(g.columns) == list(want.columns) and g.equals(want)
            detail = f"spark {len(g)} rows, oracle {len(want)} rows"
        except Exception as e:  # an oracle that cannot run is a failed check
            ok, detail = False, f"{type(e).__name__}: {str(e)[:300]}"
        checks.append({"name": f"oracle:{name}", "ok": ok, "detail": detail})
    return checks


def pct(xs, q):
    """Linear-interpolated percentile of a non-empty list."""
    s = sorted(xs)
    i = (len(s) - 1) * q
    lo, hi = int(i), min(int(i) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


READS = ("query", "probe_ann", "probe_adc", "probe_bm25")


def metrics(res, rss_mb):
    ops = [o for o in res["ops"] if o["ok"]]
    nums = res["nums"]
    reads = [o["s"] * 1e3 for o in ops if o["kind"] in READS]
    writes = [o["s"] * 1e3 for o in ops if o["kind"] in ("upsert_ann", "upsert_bm25")]
    m = {
        "setup_s": (statistics.median(nums["setup_s"]), "s"),
        "batch_s": (statistics.median(nums["pass_s"]), "s"),
        "probe_p50_ms": (pct(reads, 0.5), "ms"),
        "probe_p90_ms": (pct(reads, 0.9), "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    extra = {"samples": {"setup_s": len(nums["setup_s"]), "batch_s": len(nums["pass_s"]),
                         "probes": len(reads), "upserts": len(writes)}}
    if writes:
        extra["upsert_p50_ms"] = pct(writes, 0.5)
    if nums.get("ann_recall_at_10"):
        extra["ann_recall_at_10"] = nums["ann_recall_at_10"][0]
    return m, extra


def tracing_cost(traced, untraced):
    """Traced against untraced batch_s (printed) and probe_p50_ms (run
    record only), in percent."""
    def pct_over(k):
        return (traced[k] - untraced[k]) / untraced[k] * 100.0
    return {"tracing.overhead_pct": pct_over("batch_s"),
            "tracing.overhead_probe_p50_pct": pct_over("probe_p50_ms")}


def shown(declared, values):
    """The declared metrics' values; exits when one is missing, not a
    finite number, or 0, since such a metric can never show a change."""
    bad = [m["name"] for m in declared
           if not isinstance(values.get(m["name"]), (int, float))
           or not math.isfinite(values[m["name"]]) or values[m["name"]] == 0]
    if bad:
        sys.exit(f"perfbench: declared metrics missing or 0: {', '.join(bad)}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}


def run_once(workload, seed, seconds, trace):
    """One JVM run of the workload plus its output checks; writes and
    returns the run record."""
    data, gen_info = inputs(workload, seed)
    out = os.path.join(WORK, "out", f"{workload}-{seed}-{trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # the engine's scratch (indexes, spark-local) is private to this run
    work = os.path.join(WORK, "run", str(os.getpid()))
    try:
        rc, rss = run_jvm(workload, seed, seconds, trace, data, out, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rpath = os.path.join(out, "result.json")
    if rc != 0 or not os.path.isfile(rpath):
        sys.stderr.write(open(os.path.join(out, "jvm.log")).read()[-4000:])
        sys.exit(f"perfbench: JVM exited with {rc}")
    res = json.load(open(rpath))
    checks = res["checks"] + oracle_checks(res, data, out)
    failed_ops = [o for o in res["ops"] if not o["ok"]]
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = len(res["ops"]) + len(checks)
    failed = len(failed_ops) + len(failed_checks)
    e2e, extra = metrics(res, rss)
    record = {
        "config": dict(res["config"], slots=SLOTS, jvm_gc=" ".join(GC), git_head=git_head(),
                       sources_sha1=sources_digest()),
        "inputs": gen_info, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted,
        "metrics": {k: v for k, (v, _) in e2e.items()},
        "units": {k: u for k, (_, u) in e2e.items()}, **extra,
        "layers": res["layers"], "failed_ops": failed_ops, "failed_checks": failed_checks,
        "checks_passed": len(checks) - len(failed_checks),
    }
    write_record(out, record)
    for c in failed_checks:
        log(f"CHECK FAILED {workload} {c['name']}: {c['detail']}")
    for o in failed_ops:
        log(f"OPERATION FAILED {workload} {o['name']}: {o['error']}")
    return record


def write_record(out, record):
    with open(os.path.join(out, "record.json"), "w") as f:
        json.dump(record, f, indent=1)


def untraced_metrics(workload, seed, seconds):
    """End-to-end metrics of untraced runs of this build: the run of the
    same seed; else the medians over the other seeds' runs; else those
    of a run of this seed, made now."""
    digest = sources_digest()
    recs = {}
    for path in glob.glob(os.path.join(WORK, "out", f"{workload}-*-0", "record.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec["config"]["sources_sha1"] == digest and rec["failed"] == 0:
            recs[rec["config"]["seed"]] = rec["metrics"]
    if str(seed) in recs:
        return recs[str(seed)]
    if recs:
        log(f"no untraced run of seed {seed}: comparing with {len(recs)} other seeds' medians")
        runs = list(recs.values())
        return {k: statistics.median(m[k] for m in runs) for k in runs[0]}
    log("no untraced run of this build yet: running one first")
    return run_once(workload, seed, seconds, 0)["metrics"]


def main():
    # a terminated run unwinds through run_jvm, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("perfbench: run from the repository root (engine sources not found)")
    if not os.path.isfile(os.path.join(FIXTURES, "golden.parquet")):
        sys.exit("perfbench: hi-csa-db fixtures not found")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-core_*.jar")):
        sys.exit(f"perfbench: no Spark jars in {SPARK_JARS}; set SPARK_HOME")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    build()
    if args.trace:
        base = untraced_metrics(args.workload, args.seed, args.seconds)
        record = run_once(args.workload, args.seed, args.seconds, 1)
        record["layers"].update(tracing_cost(record["metrics"], base))
        write_record(os.path.join(WORK, "out", f"{args.workload}-{args.seed}-1"), record)
        values, declared = record["layers"], bench["per_layer"]
    else:
        record = run_once(args.workload, args.seed, args.seconds, 0)
        values, declared = record["metrics"], bench["end_to_end"]
    print(json.dumps(record))
    metrics_shown = shown(declared, values)
    failed = record["failed"]
    print(json.dumps({"correct": failed == 0, "attempted": record["attempted"],
                      "failed": failed, "metrics": metrics_shown}))
    sys.exit(0 if failed == 0 else 1)


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except Exception:
        return None


if __name__ == "__main__":
    main()
