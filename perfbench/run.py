#!/usr/bin/env python3
"""Lifecycle benchmark for graft: warehouse refresh, analyst session and
query mix, with a separate traced run for per-layer numbers.

Usage (from the repository root):

    python3 perfbench/run.py --workload refresh|serve \
        --seed N --seconds S --trace 0|1 [--record runs.jsonl]

One run builds the program and the harness from source if they changed
(sbt, output under .bench_build/), lands the fixtures the workloads read
once per build, starts one harness JVM at local[nproc], checks the
outputs against DuckDB, and prints a report followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""
import argparse
import fcntl
import functools
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
DATA = HERE / "data" / "sf0.01"
WORKLOADS = ("refresh", "serve")
RUN_LIMIT_S = 170  # a run must end within 180 s; leave room to clean up
HEAP = "3g"

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# serve: the analyst session of one pass. It follows the page structure of
# the reference's decision-support UI (SURVEY.md section 3.3): a page load
# runs each of that page's queries once; every widget change on the
# product-details page reruns the page, which is one productSearch.
PAGES = {
    # Clustering_Analysis.py:24-41 (W1), 76-104 (S3/J7/A7), 221-231 (A6)
    "main": ["last_update", "cluster_summary", "cluster_stats"],
    # pages/1_Product_Categories.py:95-110 (A8 rollup), 174-179 (A9/A10 cluster counts)
    "categories": ["brand_rollup", "cluster_pivot"],
}
SERVE_CALLS = PAGES["main"] + PAGES["categories"] + ["product_search"]
# the details page's six sort variants, (column, ascending): profit and
# quantity both ways, ProductID, ProductName (pages/2_Product_Details.py:170-181)
SORTS = [("profit", 0), ("profit", 1), ("avg_quantity_sold", 0), ("avg_quantity_sold", 1),
         ("part_id", 1), ("product_name", 1)]
CLUSTER_OPTIONS = ["", "0", "1", "2", "3"]  # the cluster selectbox: All, then each cluster
PAGE_SIZE = 20                               # pages/2_Product_Details.py:192-231
# Assumptions, not taken from the reference: a pass visits the three pages
# VISITS times; each details-page visit is its load plus INTERACTIONS - 1
# widget changes, each picked uniformly among the widgets that can change
# (search box, cluster, sort, next, prev); a load starts from the first
# sort variant, no search and all clusters.
VISITS = 2
INTERACTIONS = 10
SCRIPT_PASSES = 100       # more than any run reaches
# the recent-activity window of MLOps.features (its Cutoff constant)
RECENT_CUTOFF = "2000-01-01"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------------

def program_files():
    return [ROOT / "build.sbt", ROOT / "project" / "build.properties"] + \
        sorted(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file())


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def source_stamp():
    """Identifies the build: program and harness sources."""
    return stamp_of(program_files() + [HERE / "build.sbt", HERE / "project" / "build.properties"] +
                    sorted(p for p in (HERE / "src").rglob("*") if p.is_file()))


def fixture_stamp():
    """Identifies the fixtures: the program, the code that lands them and
    the tables they are landed from."""
    return stamp_of(program_files() + [HERE / "src" / "main" / "scala" / "perfbench" / "Fixtures.scala"] +
                    sorted(p for p in DATA.rglob("*") if p.is_file()))


def build(stamp):
    """Compile program + harness with sbt unless this source is built."""
    cp_file = STATE / "classpath.txt"
    if (STATE / "stamp").exists() and (STATE / "stamp").read_text() == stamp and cp_file.exists():
        return cp_file.read_text().strip()
    log("building program and harness (sbt)")
    t0 = time.monotonic()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, capture_output=True, text=True, timeout=800, stdin=subprocess.DEVNULL)
    (STATE / "build.log").write_text(out.stdout + out.stderr)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed, see {STATE / 'build.log'}", 4)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    (STATE / "stamp").write_text(stamp)
    log(f"built in {time.monotonic() - t0:.0f}s")
    return cp


# ---- isolation --------------------------------------------------------------

def spark_jvms():
    """Other running JVMs with Spark on their classpath."""
    marks = [b"spark-core", b"org.apache.spark"]
    if os.environ.get("SPARK_HOME"):
        marks.append(os.path.join(os.environ["SPARK_HOME"], "jars").encode())
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            argv = Path(f"/proc/{pid}/cmdline").read_bytes().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0]) == b"java" and any(m in b" ".join(argv) for m in marks):
            found.append(int(pid))
    return found


def guard_isolation(wait_s=60):
    """Refuse to time while another Spark JVM shares the host."""
    deadline = time.monotonic() + wait_s
    while True:
        others = spark_jvms()
        if not others:
            return
        if time.monotonic() > deadline:
            fail(f"another Spark JVM is running (pids {others}); refusing to time", 3)
        time.sleep(2)


# ---- harness ----------------------------------------------------------------

def cpus():
    return len(os.sched_getaffinity(0))


def harness(cp, workload, run_dir, out, deadline, extra):
    """Run one harness JVM; returns its result dict or None."""
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *ADD_OPENS, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", cp, "perfbench.Harness",
           "--workload", workload, "--cpus", str(cpus()), "--data", str(DATA),
           "--work", str(run_dir), "--out", str(out)]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    with open(run_dir / "harness.log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            log(f"{workload}: harness over its time limit, killed")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0 or not out.exists():
        tail = (run_dir / "harness.log").read_text(errors="replace").splitlines()[-15:]
        log(f"{workload}: harness exited {proc.returncode}:\n  " + "\n  ".join(tail))
        return None
    return json.loads(out.read_text())


def fixtures(cp):
    """Warehouse and index store the serving workloads read, landed by
    the same program build before any timed run."""
    fix = STATE / "fixtures" / fixture_stamp()
    if (fix / "done").exists():
        return fix
    for old in (STATE / "fixtures").glob("*"):
        shutil.rmtree(old, ignore_errors=True)
    fix.mkdir(parents=True)
    log("landing fixtures (warehouse + index store)")
    t0 = time.monotonic()
    res = harness(cp, "fixtures", fix / "work", fix / "result.json", time.monotonic() + 800,
                  {"seconds": 0, "trace": 0, "fixtures": fix})
    if res is None:
        fail("fixture landing failed", 4)
    shutil.rmtree(fix / "work", ignore_errors=True)
    (fix / "done").write_text("ok")
    log(f"fixtures landed in {time.monotonic() - t0:.0f}s")
    return fix


# ---- serve inputs -------------------------------------------------------------

def serve_script(seed, fix):
    """The serve passes, generated from the seed. Every pass holds the
    query sample, in seeded order, and VISITS visits of the UI's pages.
    On the details page a search sets a word of the product-name
    vocabulary or a part id (the two arms of P10's match), or clears the
    box; the cluster and sort widgets pick another option; next and
    prev page through the matches. Searches repeat exactly where the
    page model repeats them: a reload, or a prev back to a page seen.
    Every tenth call, and the first of each method, is checked against
    DuckDB."""
    import duckdb
    wh = fix / "warehouse"
    rows = duckdb.sql(
        f"SELECT c.part_id, lower(p.product_name), c.cluster FROM "
        f"read_parquet('{wh}/product_clustering/**/*.parquet', hive_partitioning = true) c "
        f"LEFT JOIN read_parquet('{wh}/DimProduct/*.parquet') p ON c.part_id = p.product_id").fetchall()
    vocab = sorted({w for _, n, _ in rows if n for w in n.split()})
    ids = sorted(str(i) for i, _, _ in rows)

    @functools.lru_cache(maxsize=None)
    def matches(term, cluster):
        return sum(1 for i, n, c in rows
                   if (not term or (n is not None and term.lower() in n) or term in str(i))
                   and (cluster == "" or c == int(cluster)))

    sample = (fix / "sample.txt").read_text().split()
    rng = random.Random(seed)
    steps, calls, seen = [], 0, set()

    def add(p, st):
        nonlocal calls
        check = st["kind"] != "query" and (calls % 10 == 3 or st["kind"] not in seen)
        calls += st["kind"] != "query"
        seen.add(st["kind"])
        steps.append(dict(st, passno=p, check=int(check)))

    blank = {"arg": "", "cluster": "", "sort": SORTS[0][0], "asc": SORTS[0][1], "page": 0}
    for p in range(SCRIPT_PASSES):
        for q in rng.sample(sample, len(sample)):
            add(p, dict(blank, kind="query", arg=q))
        for _ in range(VISITS):
            for m in PAGES["main"] + PAGES["categories"]:
                add(p, dict(blank, kind=m))
            st = dict(blank, kind="product_search")
            add(p, st)
            for _ in range(INTERACTIONS - 1):
                widgets = ["search", "cluster", "sort"]
                if (st["page"] + 1) * PAGE_SIZE < matches(st["arg"], st["cluster"]):
                    widgets.append("next")
                if st["page"] > 0:
                    widgets.append("prev")
                w = rng.choice(widgets)
                st = dict(st)
                if w == "search":
                    how = rng.choice(["word", "id"] + (["clear"] if st["arg"] else []))
                    st["arg"] = rng.choice(vocab) if how == "word" else rng.choice(ids) if how == "id" else ""
                    st["page"] = 0
                elif w == "cluster":
                    st["cluster"] = rng.choice([c for c in CLUSTER_OPTIONS if c != st["cluster"]])
                    st["page"] = 0
                elif w == "sort":
                    st["sort"], st["asc"] = rng.choice([v for v in SORTS if v != (st["sort"], st["asc"])])
                    st["page"] = 0
                else:
                    st["page"] += 1 if w == "next" else -1
                add(p, st)
    return steps


def repeat_share(steps, passes):
    """Share of the timed product searches that repeat an earlier one exactly."""
    keys = [tuple(st[k] for k in ("arg", "cluster", "sort", "asc", "page"))
            for st in steps if st["kind"] == "product_search" and st["passno"] < passes]
    return (len(keys) - len(set(keys))) / max(1, len(keys))


def write_script(steps, path):
    with open(path, "w") as f:
        for st in steps:
            f.write("\t".join(str(st[k]) for k in
                              ("passno", "kind", "arg", "cluster", "sort", "asc", "page", "check")) + "\n")


# ---- output checks ----------------------------------------------------------

def close(a, b, abs_tol=0.0):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=abs_tol + 1e-9)
    return a == b


def rows_match(got, exp, tol=None, ordered=False):
    tol = tol or {}
    if len(got) != len(exp):
        return False
    if not ordered:
        key = lambda r: tuple((v is None, str(v)) for v in r)
        got, exp = sorted(got, key=key), sorted(exp, key=key)
    return all(len(g) == len(e) and all(close(a, b, tol.get(j, 0.0)) for j, (a, b) in enumerate(zip(g, e)))
               for g, e in zip(got, exp))


def check_refresh(res):
    """Row counts against DuckDB over the source, one product_clustering
    row per product active in the recent window with cluster in 0..3,
    and one published artifact per timed build."""
    import duckdb
    con = duckdb.connect()
    src = res["source"]
    for t in ("part", "orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}/{t}.parquet'")
    one = lambda sql: con.sql(sql).fetchone()[0]
    expected = {
        "FactSales": one("SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
                         "WHERE o.o_orderdate IS NOT NULL AND l.l_partkey IN (SELECT p_partkey FROM part)"),
        "DimProduct": one("SELECT count(*) FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem)"),
        "DimBrand": one("SELECT count(*) FROM (SELECT DISTINCT p_brand FROM part)"),
        "DimManufacturer": one("SELECT count(*) FROM (SELECT DISTINCT "
                               "(CAST(regexp_extract(p_brand, '(\\d+)', 1) AS INTEGER) - 1) // 5 FROM part)"),
        "DimDate": one("SELECT count(*) FROM (SELECT DISTINCT date_trunc('month', o_orderdate) FROM orders)"),
        "product_clustering": one(
            "SELECT count(DISTINCT l.l_partkey) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
            f"WHERE o.o_orderdate >= TIMESTAMP '{RECENT_CUTOFF}' AND l.l_partkey IN (SELECT p_partkey FROM part)"),
        "PipelineLog": 2,
    }
    failed_passes, notes = set(), []
    for i, cyc in enumerate(res["cycles"]):
        wh = cyc["warehouse"]
        read = lambda t: f"read_parquet('{wh}/{t}/**/*.parquet', hive_partitioning = true)"
        for t, n in expected.items():
            got = one(f"SELECT count(*) FROM {read(t)}")
            if got != n:
                failed_passes.add(i)
                notes.append(f"pass {i}: {t} has {got} rows, DuckDB expects {n}")
        bad = one(f"SELECT count(*) FROM {read('product_clustering')} c "
                  f"WHERE c.cluster IS NULL OR c.cluster NOT BETWEEN 0 AND 3 "
                  f"OR c.part_id NOT IN (SELECT product_id FROM {read('DimProduct')})")
        dup = one(f"SELECT count(*) - count(DISTINCT part_id) FROM {read('product_clustering')}")
        if bad or dup:
            failed_passes.add(i)
            notes.append(f"pass {i}: product_clustering has {bad} bad labels, {dup} duplicate products")
        published = cyc["published"]
        built = sum(1 for a in res["artifacts"] if cyc["outcomes"].get(a) == "built")
        if published != len(res["artifacts"]) or built != len(res["artifacts"]):
            failed_passes.add(i)
            notes.append(f"pass {i}: store holds {published} published artifacts, {built} built, "
                         f"expected {len(res['artifacts'])}")
    failed_ops = sum(1 for o in res["ops"] if o["pass"] in failed_passes and o["ok"])
    checks = len(res["cycles"]) * (len(expected) + 2)
    return checks, failed_ops, notes


SORT_SIDE = {"product_name": "p", "list_price": "p"}


def call_expected(con, c):
    """DuckDB's answer to one AnalyticsService call over the warehouse:
    (rows, absolute tolerance per rounded column, whether order counts)."""
    k = c["kind"]
    if k == "last_update":
        return con.sql("SELECT pipeline_name, epoch_us(max(last_update)) FROM log GROUP BY 1").fetchall(), {}, False
    if k == "cluster_summary":
        return con.sql("SELECT c.part_id, c.cluster, c.profit, count(DISTINCT f.order_id), "
                       "coalesce(sum(f.quantity), 0.0) FROM clusters c LEFT JOIN fact f "
                       "ON c.part_id = f.product_id GROUP BY 1, 2, 3").fetchall(), {}, False
    if k == "cluster_stats":
        return (con.sql("SELECT cluster, count(*), avg(profit), median(profit), sum(profit), "
                        "avg(profit_margin) FROM clusters GROUP BY 1").fetchall(),
                {2: 0.005, 3: 0.005, 4: 0.005, 5: 0.00005}, False)
    if k == "brand_rollup":
        return (con.sql("SELECT p.brand_id, c.cluster, count(*), sum(c.profit) FROM clusters c "
                        "JOIN products p ON c.part_id = p.product_id "
                        "GROUP BY ROLLUP (p.brand_id, c.cluster)").fetchall(), {3: 0.005}, False)
    if k == "cluster_pivot":
        cols = ", ".join(f"count(*) FILTER (WHERE c.cluster = {i})" for i in range(4))
        return con.sql(f"SELECT p.brand_id, {cols} FROM clusters c JOIN products p "
                       "ON c.part_id = p.product_id GROUP BY 1").fetchall(), {}, False
    where, params = [], []
    if c["arg"]:
        where.append("(contains(lower(p.product_name), ?) OR contains(CAST(c.part_id AS VARCHAR), ?))")
        params += [c["arg"].lower(), c["arg"]]
    if c["cluster"] != "":
        where.append(f"c.cluster = {int(c['cluster'])}")
    side = SORT_SIDE.get(c["sort"], "c")
    order = "ASC NULLS FIRST" if int(c["asc"]) else "DESC NULLS LAST"
    sql = (f"SELECT c.*, p.* FROM clusters c LEFT JOIN products p ON c.part_id = p.product_id "
           f"{'WHERE ' + ' AND '.join(where) if where else ''} "
           f"ORDER BY {side}.{c['sort']} {order}, c.part_id ASC NULLS FIRST "
           f"LIMIT 20 OFFSET {int(c['page']) * 20}")
    return con.execute(sql, params).fetchall(), {}, True


def check_calls(res, steps):
    """A seeded subset of pages must equal DuckDB over the warehouse."""
    import duckdb
    con = duckdb.connect()
    wh = res["warehouse"]
    for view, t in (("fact", "FactSales"), ("clusters", "product_clustering"),
                    ("products", "DimProduct"), ("log", "PipelineLog")):
        con.sql(f"CREATE VIEW {view} AS SELECT * FROM "
                f"read_parquet('{wh}/{t}/**/*.parquet', hive_partitioning = true)")
    failed, notes = 0, []
    for chk in res["checked"]:
        c = steps[chk["step"]]
        exp, tol, ordered = call_expected(con, c)
        got = [list(r) for r in chk["rows"]]
        if not rows_match(got, [list(r) for r in exp], tol, ordered):
            failed += 1
            notes.append(f"step {chk['step']} ({c['kind']}) differs from DuckDB: "
                         f"{len(got)} rows vs {len(exp)}")
    return len(res["checked"]), failed, notes


def check_mix(res):
    """Each sampled query's output must hash-equal its oracle statement,
    compared by tools/parity.py."""
    out = Path(res["mix_out"])
    sample = res["sample"]
    (out / "oracle_sql.json").write_text(json.dumps({q["name"]: q["oracle"] for q in sample}))
    names = [q["name"] for q in sample]
    p = subprocess.run([sys.executable, str(ROOT / "tools" / "parity.py"), res["source"], str(out), *names],
                       capture_output=True, text=True, timeout=150, stdin=subprocess.DEVNULL)
    ok = {l.split()[1] for l in p.stdout.splitlines() if l.startswith("OK ")}
    bad = [n for n in names if n not in ok]
    failed_ops = sum(1 for o in res["ops"] if o["pass"] >= 0 and o["ok"] and o["kind"] in bad)
    notes = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("OK ")][:10]
    return len(names), failed_ops, (notes if bad else [])


# ---- metrics ----------------------------------------------------------------

def percentile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def e2e(res):
    timed = [o for o in res["ops"] if o["pass"] >= 0 and o["ok"]]
    kinds, passes = {}, {}
    for o in timed:
        kinds.setdefault(o["kind"], []).append(o["ms"])
        passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["ms"]
    med = {k: statistics.median(v) for k, v in kinds.items()}
    return {
        "setup_s": (res["setup_s"], "s"),
        "total_s": (statistics.median(passes.values()) / 1e3, "s"),
        "geomean_ms": (math.exp(statistics.fmean(math.log(max(v, 1e-3)) for v in med.values())), "ms"),
        "cpu_s": (res["cpu_s"] / res["passes"], "s"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
    }, med


def report(workload, res, metrics, med, extra_lines):
    parts = ", ".join(f"{k} {v:.2f}" for k, v in res["setup_parts"].items())
    print(f"perfbench {workload}: {res['passes']} passes in {res['measured_s']:.1f}s; "
          f"set-up {res['setup_s']:.2f}s ({parts})")
    for k, (v, u) in metrics.items():
        print(f"  {k:<14} {v:12.4f} {u}")
    timed = [o["ms"] for o in res["ops"] if o["pass"] >= 0 and o["ok"]]
    n = len(timed)
    tail = next((q for q in (0.99, 0.95, 0.9, 0.75) if n * (1 - q) >= 10), None)
    if tail:
        print(f"  latency p50 {percentile(timed, 0.5):.1f} ms, p{round(tail * 100)} "
              f"{percentile(timed, tail):.1f} ms over {n} operations")
    for k in sorted(med):
        print(f"    {k:<32} median {med[k]:10.1f} ms")
    for line in extra_lines:
        print(f"  {line}")


def named_figures(workload, res, med, data_bytes):
    """The workload's own named figures, printed in the report."""
    lines = []
    if workload == "refresh":
        refresh = (med.get("etl", 0) + med.get("clustering", 0)) / 1e3
        artifacts = sum(v for k, v in med.items() if k.startswith("prebuild.")) / 1e3
        cyc = res["cycles"][-1]
        stored = dir_bytes(Path(cyc["warehouse"])) + dir_bytes(Path(cyc["store"]))
        held = len(list(Path(cyc["store"]).glob("*/*/_publish")))
        lines += [f"refresh_s {refresh:.3f} s (EtlJob.run + ClusteringJob.run)",
                  f"artifacts_s {artifacts:.3f} s ({len(res['artifacts'])} timed Prebuild artifacts)",
                  f"stored_bytes_per_source_byte {stored / data_bytes:.3f} ratio "
                  f"(warehouse + store of {held} artifacts, over source parquet)"]
    else:
        calls = [o["ms"] for o in res["ops"] if o["pass"] >= 0 and o["ok"] and o["kind"] in SERVE_CALLS]
        queries = {k: v for k, v in med.items() if k not in SERVE_CALLS}
        lines.append(f"dss_p50_ms {percentile(calls, 0.5):.1f} ms, dss_p95_ms {percentile(calls, 0.95):.1f} ms "
                     f"({len(calls)} calls, {int(len(calls) * 0.05)} beyond p95)")
        lines.append(f"mix_total_s {sum(queries.values()) / 1e3:.3f} s, mix_geomean_s "
                     f"{math.exp(statistics.fmean(math.log(v / 1e3) for v in queries.values())):.4f} s "
                     f"over {len(queries)} queries")
    return lines


def dir_bytes(p):
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file()) if p.exists() else 0


def per_layer_names():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else {}
    return [(m["name"], m["unit"]) for m in spec.get("per_layer", [])]


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append this run's result to a JSON-lines file")
    a = ap.parse_args()

    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala", ROOT / "tools" / "parity.py",
                 HERE / "build.sbt", DATA):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: run from a full checkout of the repository")
    STATE.mkdir(parents=True, exist_ok=True)
    lock = open(STATE / "lock", "w")
    fcntl.flock(lock, fcntl.LOCK_EX)

    stamp = source_stamp()
    cp = build(stamp)
    guard_isolation()
    fix = fixtures(cp)

    t_start = time.monotonic()
    run_dir = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        extra = {"seconds": a.seconds, "trace": a.trace, "fixtures": fix}
        if a.workload == "serve":
            steps = serve_script(a.seed, fix)
            write_script(steps, run_dir / "script.tsv")
            extra["script"] = run_dir / "script.tsv"
        guard_isolation(wait_s=0)
        res = harness(cp, a.workload, run_dir, run_dir / "result.json", t_start + RUN_LIMIT_S - 15, extra)
        if res is None:
            fail(f"{a.workload}: the harness did not produce a result", 1)

        if a.workload == "refresh":
            checks, bad_ops, notes = check_refresh(res)
        else:
            # set-up must serve every artifact from the fixture store; a
            # rebuild would move about a minute of work into setup_s
            rebuilt = {k: v for k, v in res["prebuild_outcomes"].items() if v != "reused"}
            if rebuilt:
                fail(f"serve set-up did not reuse the fixture store: {rebuilt}", 1)
            checks, bad_ops, notes = check_calls(res, steps)
            mix = check_mix(res)
            checks, bad_ops, notes = checks + mix[0], bad_ops + mix[1], notes + mix[2]
        timed = [o for o in res["ops"] if o["pass"] >= 0]
        attempted = len(timed)
        failed = sum(1 for o in timed if not o["ok"]) + bad_ops
        metrics, med = e2e(res)
        data_bytes = dir_bytes(DATA)
        lines = named_figures(a.workload, res, med, data_bytes)
        if a.workload == "serve":
            lines.append(f"searches repeating an earlier one exactly: {repeat_share(steps, res['passes']):.1%}")
        lines.append(f"output checks: {checks} made, {'all match' if not notes else 'MISMATCH'}; "
                     f"error_rate {failed / attempted:.4f} ({failed}/{attempted})")
        lines += [f"  {n}" for n in notes]
        for o in timed:
            if not o["ok"]:
                lines.append(f"  {o['kind']} failed: {o['err']}")

        if a.trace:
            eng = res["engine"]
            lines.append(f"engine over the measured region: {eng['jobs']:.0f} jobs, {eng['tasks']:.0f} tasks, "
                         f"{eng['queries']:.0f} query executions with {eng['plan_ms']:.0f} ms of "
                         f"analysis, optimization and planning")
            layers = res.get("layers", {})
            out = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in per_layer_names()}
            for k, (v, _) in metrics.items():
                if f"trace.{k}" in out:
                    out[f"trace.{k}"]["value"] = v
            lines.append("tracing overhead: the trace.* figures minus the untraced median; "
                         "perfbench/compare.py prints it for recorded runs")
        else:
            out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

        report(a.workload, res, metrics, med, lines)
        result = {"correct": failed == 0 and not notes, "attempted": attempted, "failed": failed,
                  "metrics": out}
        if a.record:
            with open(a.record, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                    **result}) + "\n")
        print(json.dumps(result), flush=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
