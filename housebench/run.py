#!/usr/bin/env python3
"""housebench: benchmark of the etl-housing Spark engine.

Run from the repository root:

    python3 housebench/run.py --workload housing_etl --seed 1 --seconds 20 --trace 0

Workloads: housing_etl, registry_queries, text_corpus (see README.md).
The first run builds the engine and the harness from source with sbt
(housebench/build.sbt); later runs reuse the build while the sources
are unchanged. Inputs are generated from --seed, the JVM runs a checked
warm-up pass and then timed passes for --seconds, and the registry and
text outputs are compared with the DuckDB oracle. The last stdout line
is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

CORPUS_DOCS = 4000    # text_corpus documents
STAR_SF = 0.01        # registry_queries scale (60,000 lineitem rows)
GEN_REPEATS = 3       # set-ups per run; setup_s takes their median
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
ORACLE_TIMEOUT_S = 60
JVM_TIMEOUT_S = 150


def fail(msg):
    print(f"housebench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"housebench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found beside housebench/")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "housebench-classpath.txt")
    stamp_file = os.path.join(target, "housebench-stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log("building (sbt compile)")
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"sbt build failed: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    cps = [l.strip() for l in p.stdout.splitlines()
           if "scala-2.13/classes" in l and not l.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---------------------------------------------------------------------------
# inputs

def generate(workload, seed, dest, write):
    """Generate the inputs into ``dest``; returns (facts, digest). The
    page archive is thousands of small files, so its repeats hash the
    pages in memory (``write`` false) instead of writing them again."""
    import gen
    if workload == "housing_etl":
        m = gen.listing_archive(os.path.join(dest, "pages"), seed, write)
        return m["quirks"], m["digest"]
    if workload == "registry_queries":
        facts = gen.star_schema(os.path.join(dest, "star"), seed, STAR_SF)
    else:
        facts = gen.zipf_corpus(os.path.join(dest, "corpus"), seed, CORPUS_DOCS)
    return facts, tree_digest(dest)


def tree_digest(d):
    h = hashlib.sha256()
    for base, _, fs in sorted(os.walk(d)):
        for f in sorted(fs):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# oracle check (the rule of scripts/check.py: columns sorted by name,
# same row count, same dtype class, values equal with nulls matching)

def _timed_df(con, sql):
    done = threading.Event()

    def interrupt():
        if not done.is_set():
            con.interrupt()
    timer = threading.Timer(ORACLE_TIMEOUT_S, interrupt)
    timer.start()
    try:
        return con.sql(sql).df()
    finally:
        done.set()
        timer.cancel()


class Oracle(threading.Thread):
    """Runs every oracle query on the generated inputs beside the JVM's
    warm-up (the SQL file appears when the JVM starts; the JVM waits for
    the done flag before its timed passes), then compares the Spark
    outputs of the warm-up pass with the results."""

    def __init__(self, data_dir, out_dir, done_flag):
        super().__init__(daemon=True)
        self.data_dir, self.out_dir, self.done_flag = data_dir, out_dir, done_flag
        self.want, self.errors, self.seconds = {}, [], {}

    def run(self):
        try:
            import duckdb
            sql_file = os.path.join(self.out_dir, "oracle_sql.json")
            deadline = time.time() + ORACLE_TIMEOUT_S
            while not os.path.exists(sql_file) and time.time() < deadline:
                time.sleep(0.05)
            with open(sql_file) as f:
                oracle = json.load(f)
            self.con = duckdb.connect()
            self.con.execute("SET threads TO 4")
            self.con.execute(f"SET temp_directory = '{os.path.dirname(self.out_dir)}/tmp'")
            for f in sorted(os.listdir(self.data_dir)):
                if f.endswith(".parquet"):
                    self.con.execute(f"CREATE VIEW {f[:-8]} AS "
                                     f"SELECT * FROM read_parquet('{self.data_dir}/{f}')")
            for name, sql in sorted(oracle.items()):
                t0 = time.time()
                try:
                    self.want[name] = _timed_df(self.con, sql)
                except Exception as e:
                    self.errors.append(f"{name}: oracle failed: {str(e)[:200]}")
                self.seconds[name] = round(time.time() - t0, 3)
        except Exception as e:
            self.errors.append(f"oracle: {e}")
        finally:
            open(self.done_flag, "w").close()

    def compare(self):
        """Returns (outputs checked, failures)."""
        import pandas as pd
        self.join()
        failures = list(self.errors)
        for name, want in sorted(self.want.items()):
            try:
                got = _timed_df(self.con, "SELECT * FROM read_parquet("
                                f"'{self.out_dir}/{name}/*.parquet')")
            except Exception as e:
                failures.append(f"{name}: no Spark output: {str(e)[:200]}")
                continue
            got = got[sorted(got.columns)]
            want = want[sorted(want.columns)]
            if list(got.columns) != list(want.columns):
                failures.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
                continue
            if len(got) != len(want):
                failures.append(f"{name}: rows {len(got)} != {len(want)}")
                continue
            for c in got.columns:
                a = got[c].reset_index(drop=True)
                b = want[c].reset_index(drop=True)
                if (pd.api.types.is_float_dtype(a) != pd.api.types.is_float_dtype(b)
                        or (a.dtype == object) != (b.dtype == object)):
                    failures.append(f"{name}: {c} dtype {a.dtype} != {b.dtype}")
                    break
                try:
                    ok = bool(((a == b) | (a.isna() & b.isna())).all())
                except Exception:
                    ok = False
                if not ok:
                    failures.append(f"{name}: column {c} differs")
                    break
        return len(self.want) + len(self.errors), failures


# ---------------------------------------------------------------------------

def _terminate(signum, frame):
    # unwinds through the finally blocks: the JVM is killed and the work
    # directory removed
    raise SystemExit(128 + signum)


def main():
    t_start = time.time()
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["housing_etl", "registry_queries", "text_corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--heap", default="3g")
    ap.add_argument("--shuffle-partitions", type=int, default=8)
    args = ap.parse_args()

    classpath = build()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        record = run(args, classpath, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"full_record": record}, sort_keys=True))
    print(json.dumps(record["result"]))


def run(args, classpath, work, t_start):
    # set-up: generate the inputs GEN_REPEATS times; the copies must be
    # byte-identical, and the median generation time enters setup_s
    gen_s, digests, facts = [], [], None
    for i in range(GEN_REPEATS):
        dest = os.path.join(work, "data" if i == 0 else f"gen{i}")
        t0 = time.time()
        facts, digest = generate(args.workload, args.seed, dest, write=i == 0)
        gen_s.append(time.time() - t0)
        digests.append(digest)
        if i > 0:
            shutil.rmtree(dest, ignore_errors=True)
    failures = [] if len(set(digests)) == 1 else ["generator is not deterministic"]

    result_file = os.path.join(work, "result.json")
    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Xms{args.heap}", f"-Xmx{args.heap}", "-XX:+UseG1GC", "-XX:NewRatio=2",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "housebench.BenchMain",
            "--workload", args.workload, "--work", work, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(args.cores),
            "--shuffle-partitions", str(args.shuffle_partitions), "--result", result_file]
    done_flag = os.path.join(work, "oracle.done")
    oracle = None
    if args.workload == "housing_etl":
        open(done_flag, "w").close()
    else:
        sub = "star" if args.workload == "registry_queries" else "corpus"
        oracle = Oracle(os.path.join(work, "data", sub), os.path.join(work, "out"), done_flag)
    t_launch = time.time()
    if oracle:
        oracle.start()
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        # SPARK_LOCAL_DIRS would override spark.local.dir: keep scratch in the work dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result_file):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")
    jvm_s = time.time() - t_launch
    with open(result_file) as f:
        jvm = json.load(f)

    checked, oracle_s = 0, {}
    if oracle:
        checked, bad = oracle.compare()
        oracle_s = oracle.seconds
        failures += bad
    failures += jvm["failures"]
    if args.trace and os.path.exists(os.path.join(work, "spans.json")):
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"))

    setup_s = statistics.median(gen_s) + (jvm["setup_end_ms"] / 1000.0 - t_launch)
    attempted = jvm["attempted"] + checked + 1
    failed = jvm["failed"] + (len(failures) - len(jvm["failures"]))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in jvm["layers"].items()}
        metrics["trace.wall_s"] = {"value": jvm["wall_s"], "unit": "s"}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": jvm["wall_s"], "unit": "s"},
            "rows_per_s": {"value": jvm["rows_per_s"], "unit": "rows/s"},
            "cpu_s": {"value": jvm["cpu_s"], "unit": "s"},
            "heap_peak_mb": {"value": jvm["heap_peak_mb"], "unit": "MB"},
        }
    result = {"correct": not failures, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "gen_s": gen_s, "jvm_s": jvm_s, "inputs": facts, "setup_s": setup_s,
            "failed_frac": failed / attempted, "failures": failures,
            "oracle_checked": checked, "oracle_s": oracle_s, "jvm": jvm, "run_s": time.time() - t_start,
            "result": result}


# unit of each per-layer metric (BENCHMARK.json lists the same)
LAYER_UNITS = {
    "sources.parse_s": "s", "sources.parse_rows": "count",
    "sources.empty_page_frac": "ratio", "sources.jdbc_read_s": "s",
    "sinks.partition_write_s": "s", "sinks.partition_write_mb": "MB",
    "sinks.jdbc_append_s": "s", "sinks.jdbc_rows": "count",
    "operators.clean_s": "s", "operators.clean_keep_frac": "ratio",
    "operators.featurize_s": "s",
    "ml.cv_fit_s": "s", "ml.cv_jobs": "count", "ml.r2": "ratio",
    "jobs.actions_per_load": "count",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.state_rows": "count",
    "kernels.cpu_share": "ratio",
    "physical.exchange_mb": "MB", "physical.sort_s": "s", "physical.agg_s": "s",
    "physical.join_s": "s", "physical.peak_mem_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.task_skew": "ratio",
    "trace.wall_s": "s",
}


def layer_unit(name):
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    if name.endswith("_ns_per_row"):
        return "ns"
    return "ratio" if name.endswith("_share") else "s"


if __name__ == "__main__":
    main()
