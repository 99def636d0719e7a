#!/usr/bin/env python3
"""graft's benchmark: the paper's xlsx -> SQL -> CSV workflow and the
operator catalog, timed end to end and, in a traced run, layer by layer.

Usage (from the checkout root):
  python3 perfbench/run.py --workload xlsx_repl --seed 1 --seconds 20 --trace 0

Workloads, metrics and the layer -> metric -> workload table are in
perfbench/README.md. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; lines before it
give the human summary and the host record.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

import catalog_data

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "graftbench.stamp")
ORACLE_SQL = os.path.join(WORK, "oracle_sql.json")
RUN_LIMIT_S = 170          # a run must end within 180 s of its build
FIXTURE_CACHE = 6          # fixture directories kept (least recently used go)
SETUPS = 3                 # set-ups per run; setup_s is their median

REPL_ROWS = 50_000
CATALOG_SCALE = 1.0
CATALOG_QUERIES = [
    "d07_dedup_corpus", "q06_multijoin", "q03_agg_groupby",
]
# The documents corpus is generated once from a fixed seed: the DuckDB
# oracle of d07 (recursive-CTE connected components) takes about half a
# minute, too long to recompute per seed, so d07 is checked against a
# digest pinned from that oracle (`--pin`).
CORPUS_SEED = 42
PINNED = os.path.join(BENCH, "pinned_digests.json")
PINNED_QUERIES = ["d07_dedup_corpus"]

# The REPL script: one statement per step. `{out}` is the |out= target
# of the sample, `{key}` a key taken from the fixture.
REPL_SCRIPT = [
    "SELECT region, count(*) AS n, sum(requests) AS requests, sum(cost) AS cost "
    "FROM excel_rows GROUP BY region ORDER BY region",
    "SELECT service_name, latency_ms, errors FROM excel_rows "
    "WHERE latency_ms >= 9000 AND errors > 40 ORDER BY latency_ms DESC, service_name LIMIT 20",
    "SELECT DISTINCT region FROM excel_rows ORDER BY region",
    "SELECT region, service_name, requests, rk FROM (SELECT region, service_name, requests, "
    "rank() OVER (PARTITION BY region ORDER BY requests DESC, service_name) AS rk "
    "FROM excel_rows) t WHERE rk <= 3 ORDER BY region, rk",
    "SELECT e.region, count(*) AS above_avg FROM excel_rows e JOIN (SELECT region, "
    "count(*) AS n, sum(cost) AS total FROM excel_rows GROUP BY region) a "
    "ON e.region = a.region WHERE e.cost * a.n > a.total GROUP BY e.region ORDER BY e.region",
    "SELECT count(*) AS n, count(latency_ms) AS with_latency, sum(errors) AS errors FROM excel_rows",
    "SELECT region, min(latency_ms) AS best, max(latency_ms) AS worst FROM excel_rows "
    "WHERE errors > 0 GROUP BY region HAVING count(*) > 10 ORDER BY region",
    "SELECT service_name, requests, cost FROM excel_rows ORDER BY cost DESC, service_name LIMIT 10",
    "SELECT region, sum(errors) AS errors, sum(requests) AS requests FROM excel_rows "
    "GROUP BY region ORDER BY region |out={out}",
    "SELECT * FROM excel_rows WHERE service_name = '{key}'",
]

XLSX_COLUMNS = ("{'service_name': 'VARCHAR', 'region': 'VARCHAR', 'requests': 'DOUBLE', "
                "'latency_ms': 'DOUBLE', 'cost': 'DOUBLE', 'errors': 'DOUBLE'}")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building graft and the harness with sbt")
    sbt = shutil.which("sbt") or fail("sbt not found")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's temporary files (server socket, file watcher, JNA) in the checkout
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "compile"],
                       cwd=BENCH, env={**env, "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData"},
                       stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    if os.path.exists(ORACLE_SQL):
        os.remove(ORACLE_SQL)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest)


def java_cmd(heap):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else (shutil.which("java") or fail("java not found"))
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = [java, f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")]
    return cmd


# ------------------------------------------------------------- fixtures

def generator_version():
    """Fixtures and cached answers are keyed by the code that makes them."""
    h = hashlib.sha256()
    for f in ("run.py", "catalog_data.py", "pinned_digests.json",
              os.path.join("src", "main", "scala", "graftbench", "Fixtures.scala")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


def fixture_dir(kind, seed, rows):
    d = os.path.join(WORK, "fixtures", f"{kind}-s{seed}-r{rows}-{generator_version()}")
    return d, os.path.exists(os.path.join(d, "READY"))


def prune_fixtures(keep):
    root = os.path.join(WORK, "fixtures")
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for i, d in enumerate(dirs):
        if d != keep and i >= FIXTURE_CACHE:
            shutil.rmtree(d, ignore_errors=True)


def duck():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'tmp', 'duckdb')}'")
    con.execute("SET threads = 2")
    return con


def make_workbook(seed, rows):
    d, ready = fixture_dir("xlsx", seed, rows)
    if not ready:
        shutil.rmtree(d, ignore_errors=True)
        xdir = os.path.join(d, "xlsx")
        r = subprocess.run(java_cmd("1g") + ["graftbench.Fixtures", "workbook", xdir,
                                             str(seed), str(rows)],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("workbook generation failed")
        csv = os.path.join(xdir, "wb.csv")
        duck().execute(f"COPY (SELECT * FROM read_csv('{csv}', header = true, "
                       f"columns = {XLSX_COLUMNS})) TO '{os.path.join(d, 'rows.parquet')}' "
                       f"(FORMAT PARQUET)")
        os.remove(csv)
        open(os.path.join(d, "READY"), "w").close()
    os.utime(d)
    prune_fixtures(d)
    return d


def make_corpus():
    d, ready = fixture_dir("corpus", CORPUS_SEED, int(5000 * CATALOG_SCALE))
    if not ready:
        shutil.rmtree(d, ignore_errors=True)
        catalog_data.generate(duck(), d, CORPUS_SEED, CATALOG_SCALE, only={"documents"})
        open(os.path.join(d, "READY"), "w").close()
    os.utime(d)
    return os.path.join(d, "documents.parquet")


def make_catalog(seed):
    corpus = make_corpus()
    d, ready = fixture_dir("catalog", seed, int(600000 * CATALOG_SCALE))
    if not ready:
        shutil.rmtree(d, ignore_errors=True)
        tables = os.path.join(d, "tables")
        catalog_data.generate(duck(), tables, seed, CATALOG_SCALE,
                              only=set(catalog_data.TABLES) - {"documents"})
        shutil.copyfile(corpus, os.path.join(tables, "documents.parquet"))
        open(os.path.join(d, "READY"), "w").close()
    os.utime(d)
    prune_fixtures(d)
    return d


def oracle_sql(names):
    if not os.path.exists(ORACLE_SQL) or not set(names) <= set(json.load(open(ORACLE_SQL))):
        r = subprocess.run(java_cmd("1g") + ["graftbench.Fixtures", "oracle-sql", ORACLE_SQL,
                                             ",".join(CATALOG_QUERIES)],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("oracle SQL export failed")
    sql = json.load(open(ORACLE_SQL))
    return {q: sql[q] for q in names}


def table_views(con, tables):
    for p in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')")


def pin():
    """Recompute the pinned digests of the corpus-only catalog queries
    from their DuckDB oracles."""
    con = duck()
    con.execute("SET threads = 4")
    d = os.path.dirname(make_corpus())
    table_views(con, d)
    digests = {}
    for q, sql in oracle_sql(PINNED_QUERIES).items():
        rel = con.sql(sql)
        cols, rows = canon(rel.fetchall(), rel.columns)
        digests[q] = {"rows": len(rows), "sha256": rows_digest(cols, rows)}
        log(f"pinned {q}: {digests[q]}")
    with open(PINNED, "w") as f:
        json.dump({"corpus_seed": CORPUS_SEED, "scale": CATALOG_SCALE,
                   "digests": digests}, f, indent=2, sort_keys=True)
        f.write("\n")


def rows_view(con, fx):
    con.execute(f"CREATE OR REPLACE VIEW excel_rows AS "
                f"SELECT * FROM read_parquet('{os.path.join(fx, 'rows.parquet')}')")


def repl_script(con, fx):
    rows_view(con, fx)
    n = con.sql("SELECT count(*) FROM excel_rows").fetchone()[0]
    key = con.sql(f"SELECT service_name FROM excel_rows ORDER BY service_name "
                  f"LIMIT 1 OFFSET {n // 2}").fetchone()[0]
    return [s.replace("{key}", key) for s in REPL_SCRIPT]


def cached(fx, name, compute):
    """Oracle answers are computed once per fixture."""
    path = os.path.join(fx, name)
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = compute()
    with open(path + ".tmp", "wb") as f:
        pickle.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def repl_answers(con, fx, script):
    def compute():
        out = []
        for s in script:
            rel = con.sql(s.split("|out=")[0])
            out.append((rel.columns, rel.fetchall()))
        return out
    return cached(fx, "repl_answers.pkl", compute)


def canon(rows, cols):
    """tools/check_local.py's canonical form: columns sorted by name,
    rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(r[i] for i in order) for r in rows)


def norm(v):
    """A value in a form whose repr agrees with check_local's `==`:
    integral numbers as int, lists as tuples."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        f = float(v)
        return int(f) if f.is_integer() and abs(f) < 2 ** 53 else f
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def rows_digest(cols, rows):
    return hashlib.sha256(repr((cols, [tuple(norm(x) for x in r) for r in rows]))
                          .encode()).hexdigest()


def catalog_answers(con, fx):
    def compute():
        table_views(con, os.path.join(fx, "tables"))
        out = {}
        for q, sql in oracle_sql([q for q in CATALOG_QUERIES if q not in PINNED_QUERIES]).items():
            rel = con.sql(sql)
            cols, rows = canon(rel.fetchall(), rel.columns)
            out[q] = {"rows": len(rows), "sha256": rows_digest(cols, rows)}
        pinned = json.load(open(PINNED))["digests"]
        out.update({q: pinned[q] for q in PINNED_QUERIES})
        return out
    return cached(fx, "catalog_answers.pkl", compute)


# --------------------------------------------------------------- checks

def close(a, b):
    return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1.0)


def cell_matches(text, want):
    if want is None:
        return text in ("NULL", "")
    if isinstance(want, (int, float)) and not isinstance(want, bool):
        try:
            return close(float(text.replace(",", "")), float(want))
        except ValueError:
            return False
    return text == str(want)


def table_matches(header, rows, answer):
    cols, want = answer
    if list(header) != list(cols) or len(rows) != len(want):
        return False
    return all(len(r) == len(w) and all(cell_matches(c, v) for c, v in zip(r, w))
               for r, w in zip(rows, want))


def parse_rendered(text):
    lines = [l for l in text.split("\n") if l.startswith("|")]
    cells = [[c.strip() for c in l[1:-1].split("|")] for l in lines]
    return (cells[0], cells[1:]) if cells else ([], [])


def parse_csv(path):
    with open(path) as f:
        lines = f.read().split("\n")
    cells = [l.split(",") for l in lines if l]
    return (cells[0], cells[1:]) if cells else ([], [])


def check_repl(out, res, script, answers):
    bad = set()
    for s in res["samples"]:
        if s["error"]:
            continue
        i = s["step"]
        path = os.path.join(out, "ops", s["tag"] + ".txt")
        ok = os.path.exists(path) and table_matches(*parse_rendered(open(path).read()), answers[i])
        if ok and "|out=" in script[i]:
            csv = os.path.join(out, "ops", s["tag"] + ".csv")
            ok = os.path.exists(csv) and table_matches(*parse_csv(csv), answers[i])
        if not ok:
            bad.add(s["tag"])
    return bad


def check_catalog(out, res, answers):
    bad_queries = set()
    con = duck()
    for q, want in answers.items():
        d = os.path.join(out, "check", q)
        try:
            rel = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')")
            cols, rows = canon(rel.fetchall(), rel.columns)
            got = {"rows": len(rows), "sha256": rows_digest(cols, rows)}
        except Exception as e:  # missing or unreadable output fails the check
            log(f"catalog check {q}: {e}")
            bad_queries.add(q)
            continue
        if got != want:
            log(f"catalog check {q}: {got} differs from the oracle's {want}")
            bad_queries.add(q)
    steps = res["steps"]
    return {s["tag"] for s in res["samples"] if steps[s["step"]] in bad_queries}


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    """One operation is one sample: a statement or a query."""
    samples = [s for s in res["samples"] if not s["traced"]]
    by_step = {}
    for s in samples:
        by_step.setdefault(s["step"], []).append(s["wall_s"])
    ops = [s["wall_s"] for s in samples]
    return {
        "setup_s": median([s["session_s"] + s["register_s"] for s in res["setups"]])
        + res["warmup_s"],
        "op_p50_s": median(ops),
        "pass_s": sum(median(v) for v in by_step.values()),
        "pass_min_s": sum(min(v) for v in by_step.values()),
    }, ops


def percentile_line(ops):
    """The median and the highest of p75/p90 with ≥ 10 samples beyond."""
    xs = sorted(ops)
    n = len(xs)
    parts = [f"p50={median(xs):.3f}s"]
    for p in (0.75, 0.90):
        if (1 - p) * n >= 10:
            parts.append(f"p{int(p * 100)}={statistics.quantiles(xs, n=100)[int(p * 100) - 1]:.3f}s")
    return " ".join(parts) + f" (n={n})"


PER_LAYER_COMMON = [
    "xlsx.scan_s", "xlsx.scan_share", "xlsx.rows_per_task_s", "xlsx.scan_tasks",
    "xlsx.rows_read_per_op", "xlsx.infer_s",
    "ingest.unique_s", "ingest.unique_jobs",
    "repl.load_s", "repl.plan_s", "repl.exec_s", "repl.render_s", "repl.jobs_per_stmt",
    "sinks.export_rendered_s", "sinks.bytes_written", "sinks.write_amp", "sinks.files",
    "staged.storage_peak_mb", "staged.leftover_rdds",
    "spark.tasks", "spark.task_s", "spark.core_util", "spark.shuffle_bytes",
    "spark.spill_bytes", "spark.gc_s", "spark.task_skew",
    "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_frac",
]


def per_layer_names():
    names = list(PER_LAYER_COMMON)
    for q in CATALOG_QUERIES:
        names += [f"queries.{q}.build_s", f"queries.{q}.exec_s",
                  f"queries.{q}.build_jobs", f"queries.{q}.jobs"]
    return names


def ms(a, b):
    return (a - b) / 1000.0 if a is not None and b is not None else 0.0


def per_layer(workload, res, spans, fx_bytes, threads, script):
    m = {n: 0.0 for n in per_layer_names()}
    steps = res["steps"]
    by_op = {}
    for sp in spans:
        by_op.setdefault(sp["op"], []).append(sp)
    traced = [s for s in res["samples"] if s["traced"]]
    untraced = [s for s in res["samples"] if not s["traced"]]

    def op_spans(s):
        return by_op.get(s["op"], [])

    def per_op(f):
        return median([f(op_spans(s), s["wall_s"]) for s in traced])

    m["spark.tasks"] = per_op(lambda sp, w: sum(x["tasks"] for x in sp))
    m["spark.task_s"] = per_op(lambda sp, w: sum(x["task_s"] for x in sp))
    m["spark.core_util"] = per_op(lambda sp, w: sum(x["task_s"] for x in sp) / (w * threads))
    m["spark.shuffle_bytes"] = per_op(lambda sp, w: sum(x["shuffle_bytes"] for x in sp))
    m["spark.spill_bytes"] = per_op(lambda sp, w: sum(x["spill_bytes"] for x in sp))
    m["spark.gc_s"] = per_op(lambda sp, w: sum(x["gc_s"] for x in sp))
    m["spark.task_skew"] = per_op(lambda sp, w: max([x["skew"] for x in sp] or [1.0]))
    m["staged.storage_peak_mb"] = max([s["storage_mb"] for s in res["samples"]] or [0.0])
    pass_totals = {}
    for s in res["samples"]:
        pass_totals[s["pass"]] = pass_totals.get(s["pass"], 0) + s["leftover_rdds"]
    m["staged.leftover_rdds"] = median(list(pass_totals.values()))

    def pass_time(samples):
        per = {}
        for s in samples:
            per[s["pass"]] = per.get(s["pass"], 0.0) + s["wall_s"]
        return median(list(per.values()))
    m["trace.pass_s"] = pass_time(traced)
    m["trace.untraced_pass_s"] = pass_time(untraced)
    if m["trace.untraced_pass_s"]:
        m["trace.overhead_frac"] = m["trace.pass_s"] / m["trace.untraced_pass_s"] - 1

    loads = [sp for sp in spans if sp["step"] == "load" and sp["parent"] == -1]
    if workload == "xlsx_repl":
        m["xlsx.scan_s"] = per_op(lambda sp, w: sum(x["input_task_s"] for x in sp))
        m["xlsx.scan_share"] = per_op(lambda sp, w: sum(x["input_task_s"] for x in sp) / w)
        m["xlsx.scan_tasks"] = per_op(lambda sp, w: sum(x["input_tasks"] for x in sp))
        m["xlsx.rows_read_per_op"] = per_op(
            lambda sp, w: sum(x["records_read"] for x in sp) / REPL_ROWS)
        recs = sum(x["records_read"] for s in traced for x in op_spans(s))
        scan = sum(x["input_task_s"] for s in traced for x in op_spans(s))
        m["xlsx.rows_per_task_s"] = recs / scan if scan else 0.0
        m["xlsx.infer_s"] = median([ms(sp["first_job_ms"], sp["start_ms"]) for sp in loads])
        m["ingest.unique_s"] = median([ms(sp["last_job_end_ms"], sp["first_job_ms"]) for sp in loads])
        m["ingest.unique_jobs"] = median([sp["jobs"] for sp in loads])
        m["repl.load_s"] = median([sp["dur_s"] for sp in loads])
        stmts = [sp for sp in spans if sp["name"] == "repl.runLine" and sp["op"] >= 0
                 and sp["jobs"] > 0 and any(s["op"] == sp["op"] for s in traced)]
        m["repl.plan_s"] = median([ms(sp["first_job_ms"], sp["start_ms"]) for sp in stmts])
        m["repl.exec_s"] = median([ms(sp["last_job_end_ms"], sp["first_job_ms"]) for sp in stmts])
        m["repl.render_s"] = median([ms(sp["end_ms"], sp["last_job_end_ms"]) for sp in stmts])
        m["repl.jobs_per_stmt"] = median([sp["jobs"] for sp in stmts])
        export_steps = {f"stmt{i:02d}" for i, s in enumerate(script) if "|out=" in s}
        m["sinks.export_rendered_s"] = median(
            [ms(sp["end_ms"], sp["last_job_end_ms"]) for sp in stmts if sp["step"] in export_steps])
        sizes = [os.path.getsize(p) for p in glob.glob(os.path.join(res["out"], "ops", "*.csv"))]
        m["sinks.bytes_written"] = median(sizes) * len(export_steps)
        m["sinks.files"] = float(len(export_steps))
        m["sinks.write_amp"] = m["sinks.bytes_written"] / fx_bytes
    if workload == "catalog_sf01":
        for q in CATALOG_QUERIES:
            qi = steps.index(q)
            qops = [op_spans(s) for s in traced if s["step"] == qi]
            build = [[x for x in sp if x["name"] == "queries.build"] for sp in qops]
            exe = [[x for x in sp if x["name"] == "queries.exec"] for sp in qops]
            m[f"queries.{q}.build_s"] = median([sum(x["dur_s"] for x in b) for b in build])
            m[f"queries.{q}.exec_s"] = median([sum(x["dur_s"] for x in e) for e in exe])
            m[f"queries.{q}.build_jobs"] = median([sum(x["jobs"] for x in b) for b in build])
            m[f"queries.{q}.jobs"] = median([sum(x["jobs"] for x in sp) for sp in qops])
    return m


# ----------------------------------------------------------------- main

def host_block(workload, seed, nproc, threads, heap, res, fixture_info):
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        if r.returncode == 0:
            commit = r.stdout.strip()
    return {"nproc": nproc, "spark_threads": threads, "heap": heap,
            "heap_bytes": int(res["heap_bytes"]),
            "spark": res["spark_version"], "workload": workload, "seed": seed,
            "commit": commit, **fixture_info}


def spark_threads(nproc):
    """Spark runs on half the cores. The other half is left to the JIT
    compiler, the GC and the calling thread that plans the queries; a
    catalog pass takes as long on 2 of 4 cores as on all 4."""
    return max(1, nproc // 2)


def heap_size():
    """RAM/2 clamped to 2-8 g, as the tier-1 verify sizes its JVMs."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["xlsx_repl", "catalog_sf01"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true",
                    help="recompute pinned_digests.json from the DuckDB oracles")
    a = ap.parse_args()
    if not a.pin and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    env["SPARK_HOME"] = spark_home()
    build(env)
    built = time.time()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "fixtures"), exist_ok=True)
    if a.pin:
        pin()
        return
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    threads = spark_threads(nproc)
    heap = heap_size()
    con = duck()

    out = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)
    os.makedirs(out)
    harness = ["--workload", a.workload, "--out", out, "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--threads", str(threads), "--setups", str(SETUPS)]
    script = None
    if a.workload == "xlsx_repl":
        fx = make_workbook(a.seed, REPL_ROWS)
        script = repl_script(con, fx)
        answers = repl_answers(con, fx, script)
        with open(os.path.join(out, "script.sql"), "w") as f:
            f.write("\n".join(script) + "\n")
        workbook = os.path.join(fx, "xlsx", "wb.xlsx")
        harness += ["--fixture", workbook, "--script", os.path.join(out, "script.sql")]
        fx_bytes = os.path.getsize(workbook)
        info = {"workbook_rows": REPL_ROWS, "fixture_bytes": fx_bytes}
    else:
        fx = make_catalog(a.seed)
        answers = catalog_answers(con, fx)
        harness += ["--fixture", os.path.join(fx, "tables"), "--queries", ",".join(CATALOG_QUERIES)]
        fx_bytes = sum(os.path.getsize(p)
                       for p in glob.glob(os.path.join(fx, "tables", "*.parquet")))
        info = {"catalog_scale": CATALOG_SCALE, "lineitem_rows": int(600000 * CATALOG_SCALE),
                "fixture_bytes": fx_bytes}

    log_path = os.path.join(out, "harness.log")
    budget = RUN_LIMIT_S - (time.time() - built)
    cmd = java_cmd(heap) + ["graftbench.Harness"] + harness
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("harness exceeded the run time limit")
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"harness exited with {rc}")
    res = json.load(open(os.path.join(out, "result.json")))
    res["out"] = out

    setup_errors = res["warmup_errors"]
    for e in setup_errors:
        log(f"warm-up error: {e}")
    if a.workload == "xlsx_repl":
        bad = check_repl(out, res, script, answers)
    else:
        bad = check_catalog(out, res, answers)
    failed = sum(1 for s in res["samples"] if s["error"] or s["tag"] in bad)
    for s in res["samples"]:
        if s["error"]:
            log(f"{s['tag']}: {s['error']}")
    attempted = len(res["samples"])

    e2e, op_walls = end_to_end(res)
    host = host_block(a.workload, a.seed, nproc, threads, heap, res, info)
    print("host " + json.dumps(host, sort_keys=True))
    error_rate = failed / attempted
    print(f"{a.workload}: setup_s={e2e['setup_s']:.3f}s error_rate={error_rate:.4f} "
          f"({failed}/{attempted} ops failed)")
    if a.workload == "xlsx_repl":
        load = median([s["register_s"] for s in res["setups"]])
        print(f"xlsx_repl: load_s={load:.3f}s stmt {percentile_line(op_walls)}")
    else:
        print(f"catalog_sf01: query_total_s={e2e['pass_s']:.3f}s "
              f"query_total_min_s={e2e['pass_min_s']:.3f}s")

    units = {"setup_s": "s", "op_p50_s": "s", "pass_s": "s", "pass_min_s": "s"}
    if a.trace:
        spans = [json.loads(l) for l in open(os.path.join(out, "trace.jsonl"))]
        layer = per_layer(a.workload, res, spans, fx_bytes, threads, script or [])
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
        for k, v in layer.items():
            print(f"  {k} = {v:.6g} {layer_unit(k)}")
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        for k, v in e2e.items():
            print(f"  {k} = {v:.6g} {units[k]}")
    print(json.dumps({"correct": not bad and not setup_errors and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


def layer_unit(name):
    if name.endswith("rows_per_task_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("share", "util", "frac", "amp", "skew", "per_op")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
