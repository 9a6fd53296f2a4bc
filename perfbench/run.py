#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload chsql_select --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. The first run builds the harness
(perfbench/build.sbt compiles ../src/main with the harness sources) and
generates the inputs; both are cached in the checkout (.bench_build,
.bench_data) and rebuilt when their sources change. The JVM harness
(graftbench.Main) runs the ops and writes a raw record; this script checks
outputs, derives the metrics and prints them, one JSON object last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
of a traced run. Each run's raw record, spans and summary are kept under
.bench_runs/<workload>-trace<t>/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["chsql_select", "chsql_ddl", "lineage_catalog"]
# The registry's fixed test tables (TESTDATA.md), the data its oracles were
# validated on. GRAFT_TESTDATA overrides the location.
TESTDATA = os.environ.get("GRAFT_TESTDATA", "/root/testdata")
SELECT_TABLES = "sf0.01"   # tables of chsql_select
DDL_TABLES = "sf0.1"       # `orders` of the chsql_ddl INSERT...SELECTs
DDL_SESSIONS = 3           # one per engine kind
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 165


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths: list) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def tree(*patterns: str) -> list:
    out = []
    for pat in patterns:
        out += [p for p in glob.glob(os.path.join(ROOT, pat), recursive=True)
                if os.path.isfile(p)]
    return out


# ------------------------------------------------------------------ build

def spark_home() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("no Spark install: set SPARK_HOME")
    return home


def build_key() -> str:
    """Digest of the sources the harness was last built from."""
    return open(os.path.join(ROOT, ".bench_build", "stamp")).read()


def build() -> str:
    """Compile the harness with the engine sources; returns the classpath."""
    src = tree("src/main/**/*", "perfbench/src/**/*", "perfbench/build.sbt",
               "perfbench/project/build.properties")
    if not any("/src/main/scala/graft/" in p for p in src):
        raise SystemExit("no engine sources under src/main/scala/graft: "
                         "run from the root of a graft checkout")
    stamp_dir = os.path.join(ROOT, ".bench_build")
    os.makedirs(stamp_dir, exist_ok=True)
    stamp = os.path.join(stamp_dir, "stamp")
    key = digest(src)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if not (os.path.exists(stamp) and open(stamp).read() == key
            and os.path.isdir(classes)):
        log("building the harness (sbt compile)")
        t0 = time.time()
        env = dict(os.environ)
        opts = env.get("SBT_OPTS", "")
        if "-Xmx" not in opts:
            opts += " -Xmx2g"
        env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
        env["SPARK_HOME"] = spark_home()
        with open(os.path.join(stamp_dir, "build.log"), "w") as out:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                               env=env, timeout=BUILD_TIMEOUT_S, preexec_fn=die_with_parent)
        if p.returncode != 0:
            raise SystemExit(f"harness build failed, see {stamp_dir}/build.log")
        with open(stamp, "w") as f:
            f.write(key)
        log(f"built in {time.time() - t0:.0f} s")
    return os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_home(), "jars", "*")])


def die_with_parent() -> None:
    """Child processes get SIGKILL when this script dies, however it dies."""
    try:
        import ctypes
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, 9)  # PR_SET_PDEATHSIG, SIGKILL
    except OSError:
        pass


JAVA_OPTS = ["--add-opens=java.base/" + p + "=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def cpu_ticks() -> list:
    """The aggregate `cpu` line of /proc/stat (user nice system idle iowait
    irq softirq steal ...), or [] where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests in between; a
    high value marks a run slowed by co-resident load."""
    if len(before) < 8 or len(after) < 8:
        return -1.0
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def java(cp: str, args: list, cwd: str, timeout: float) -> None:
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dlog4j2.level=WARN", *JAVA_OPTS, "-cp", cp, "graftbench.Main", *args]
    with open(os.path.join(cwd, "harness.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=err, stderr=subprocess.STDOUT,
                             preexec_fn=die_with_parent)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness timed out after {timeout:.0f} s "
                             f"(log: {cwd}/harness.log)")
    if rc != 0:
        with open(os.path.join(cwd, "harness.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"harness exited with {rc}:\n{tail}")


# ------------------------------------------------------------------ inputs

def testdata(scale: str) -> str:
    d = os.path.join(TESTDATA, scale)
    if not os.path.isfile(os.path.join(d, "orders.parquet")):
        raise SystemExit(f"no test tables at {d}: set GRAFT_TESTDATA")
    return d


def inputs(cp: str, workload: str, seed: int) -> tuple:
    """(tables dir, per-run inputs dir, oracle SQL by registry entry).
    Generated inputs are made on first use and cached per generator
    version and seed."""
    sys.path.insert(0, HERE)
    import gen
    data = os.path.join(ROOT, ".bench_data", digest([os.path.join(HERE, "gen.py")]))
    if workload == "chsql_select":
        tables = testdata(SELECT_TABLES)
        # the oracle SQL lives in the engine sources: one dump per build
        oracles = os.path.join(data, f"oracles-{build_key()}.json")
        if not os.path.exists(oracles):
            work = os.path.join(data, "oracle_dump")
            os.makedirs(work, exist_ok=True)
            java(cp, ["oracles", oracles + ".tmp"], work, RUN_TIMEOUT_S)
            os.replace(oracles + ".tmp", oracles)
            shutil.rmtree(work, ignore_errors=True)
        sql = json.load(open(oracles))
        names = sorted(sql)
        key = hashlib.sha256(json.dumps([sql[n] for n in names]).encode()).hexdigest()[:16]
        run_in = os.path.join(data, f"expected_{SELECT_TABLES}_{key}")
        rows = os.path.join(run_in, "expected_rows.json")
        if not os.path.exists(rows):
            log(f"computing oracle row counts for {len(names)} entries")
            con = duck(tables)
            counts = {n: con.execute(f"SELECT count(*) FROM ({sql[n]})").fetchone()[0]
                      for n in names}
            os.makedirs(run_in, exist_ok=True)
            json.dump(counts, open(rows + ".tmp", "w"))
            os.replace(rows + ".tmp", rows)
        return tables, run_in, sql
    tables = testdata(DDL_TABLES) if workload == "chsql_ddl" else "-"
    run_in = os.path.join(data, f"{workload}-seed{seed}")
    if not os.path.exists(os.path.join(run_in, "done")):
        os.makedirs(run_in, exist_ok=True)
        if workload == "lineage_catalog":
            gen.catalog(seed, run_in)
        else:
            sessions = gen.ddl_sessions(seed, DDL_SESSIONS)
            for s, want in zip(sessions, gen.ddl_expected(sessions, tables)):
                s["expected"] = [[str(v) for v in row] for row in want]
            json.dump(sessions, open(os.path.join(run_in, "ddl.json"), "w"))
        open(os.path.join(run_in, "done"), "w").close()
    return tables, run_in, {}


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck(tables_dir: str):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    return con


def value_check(con, sql: str, out_dir: str) -> str:
    """None when the Spark result equals the DuckDB oracle under the
    registry's normalization (columns sorted by name, values compared as
    strings in order); else a description of the first difference."""
    import pandas as pd

    def norm(df):
        return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return "no spark output"
    try:
        a = norm(pd.concat([pd.read_parquet(f) for f in files]))
        b = norm(con.execute(sql).fetchdf())
    except Exception as e:
        return f"{type(e).__name__}: {e}"
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        if not (a[c].astype(str).values == b[c].astype(str).values).all():
            return f"column {c} differs"
    return None


# ------------------------------------------------------------------ metrics

def tail(durs: list) -> tuple:
    """The highest percentile with at least 10 samples above it: the 11th
    largest sample. With 20 samples or fewer that would not lie above the
    median, so the maximum stands in. Returns (value, percentile, samples)."""
    s = sorted(durs)
    n = len(s)
    if n <= 20:
        return s[-1], 100.0, n
    return s[n - 11], round(100.0 * (n - 10) / n, 2), n


def end_to_end(rec: dict) -> tuple:
    """Metrics of the measured (untraced) cycles; failures of any phase
    count in `failed`."""
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if not o["ok"])
    ops = [o for o in rec["ops"] if o["phase"] == "untraced"]
    ok = [o for o in ops if o["ok"]]
    phase = rec["phases"]["untraced"]
    busy = phase["wall_s"] - sum(o["dur_s"] for o in ops if not o["ok"])
    durs = [o["dur_s"] for o in ok]
    t, pct, n = tail(durs) if durs else (float("nan"), 0, 0)
    m = {
        "setup_s": (statistics.median(rec["setup_s"]), "s"),
        "ops_per_s": (len(ok) / busy if busy > 0 else 0.0, "1/s"),
        "op_p50_s": (statistics.median(durs) if durs else float("nan"), "s"),
        "op_tail_s": (t, "s"),
        "cpu_s_per_op": (phase["cpu_s"] / max(1, len(ops)), "s"),
        "retained_heap_mb": (rec["retained_heap_mb"], "MB"),
    }
    context = {"failed_frac": failed / max(1, attempted), "op_tail_percentile": pct,
               "op_tail_samples": n}
    return m, context, attempted, failed


def per_layer(rec: dict, spans: list, nproc: int) -> tuple:
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["name"] == "op"]
    n_ops = max(1, len(ops))

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def named(prefix):
        return [s for s in spans if s["name"] == prefix]

    def total(name, key=None):
        ss = named(name)
        return sum(dur(s) if key is None else s[key] for s in ss)

    def per_op(name, key=None, scale=1.0):
        return total(name, key) * scale / n_ops

    def per_call(name, key=None):
        ss = named(name)
        return total(name, key) / len(ss) if ss else 0.0

    ddl = [s for s in spans if s["name"].startswith("chddl.")]
    f = rec["probes"]
    st = rec["state"]
    exec_wall = total("exec")
    op_time = sum(dur(s) for s in ops)
    def phase_s(name):
        return sum(o["dur_s"] for o in rec["ops"] if o["phase"] == name)
    untraced = (phase_s("untraced") + phase_s("untraced2")) / 2
    overhead = phase_s("traced") / untraced - 1.0 if untraced else 0.0
    in_records = sum(s["input_records"] for s in ops)
    m = {
        "chsql.translate_s": (per_op("translate"), "s"),
        "chsql.translate_share": (total("translate") / op_time if op_time else 0.0, "ratio"),
        "chddl.create_s": (per_call("chddl.create"), "s"),
        "chddl.insert_s": (per_call("chddl.insert"), "s"),
        "chddl.alter_delete_s": (per_call("chddl.alter_delete"), "s"),
        "chddl.alter_update_s": (per_call("chddl.alter_update"), "s"),
        "chddl.optimize_s": (per_call("chddl.optimize"), "s"),
        "chddl.stmt_jobs": (sum(s["jobs"] for s in ddl) / len(ddl) if ddl else 0.0, "count"),
        "chddl.bytes_written": (sum(s["output_bytes"] for s in ddl) / n_ops, "B"),
        "chddl.bytes_per_live_row": (f.get("table_bytes", 0.0) / f["live_rows"]
                                     if f.get("live_rows") else 0.0, "B"),
        "chddl.leftover_dirs": (st["leftover_dirs"], "count"),
        "catalyst.analysis_s": (per_op("analysis"), "s"),
        "catalyst.optimization_s": (per_op("optimization"), "s"),
        "catalyst.planning_s": (per_op("planning"), "s"),
        "build.s": (per_op("build"), "s"),
        "build.jobs": (per_op("build", "jobs"), "count"),
        "exec.s": (per_op("exec"), "s"),
        "exec.jobs": (per_op("exec", "jobs"), "count"),
        "exec.stages": (per_op("exec", "stages"), "count"),
        "exec.tasks": (per_op("exec", "tasks"), "count"),
        "exec.task_cpu_s": (per_op("exec", "task_cpu_ns", 1e-9), "s"),
        "exec.task_run_s": (per_op("exec", "task_run_ms", 1e-3), "s"),
        "exec.gc_s": (per_op("exec", "gc_ms", 1e-3), "s"),
        "exec.input_bytes": (per_op("exec", "input_bytes"), "B"),
        "exec.shuffle_read_bytes": (per_op("exec", "shuffle_read_bytes"), "B"),
        "exec.shuffle_write_bytes": (per_op("exec", "shuffle_write_bytes"), "B"),
        "exec.spill_bytes": (per_op("exec", "spill_bytes"), "B"),
        "exec.core_util": (total("exec", "task_run_ms") / 1e3 / (exec_wall * nproc)
                           if exec_wall else 0.0, "ratio"),
        "sources.catalog_read_s": (per_op("sources.catalog_read"), "s"),
        "lineage.udf_stage_s": (per_op("lineage.dependencies"), "s"),
        "lineage.ddl_per_s": (f["extract_ddls"] / f["extract_s"]
                              if f.get("extract_s") else 0.0, "1/s"),
        "lineage.error_frac": (f["errors"] / f["views"] if f.get("views") else 0.0, "ratio"),
        "graph.edges_s": (per_op("graph.edges"), "s"),
        "graph.closure_s": (per_op("graph.closure"), "s"),
        "graph.closure_jobs": (per_call("graph.closure", "jobs"), "count"),
        "graph.levels_s": (per_op("graph.levels"), "s"),
        "graph.levels_jobs": (per_call("graph.levels", "jobs"), "count"),
        "render.mermaid_s": (per_op("render.mermaid"), "s"),
        "render.mermaid_bytes": (f.get("mermaid_bytes", 0.0) / len(named("render.mermaid"))
                                 if named("render.mermaid") else 0.0, "B"),
        "pipeline.rows_out_per_in": (f.get("rows_out", 0.0) / in_records
                                     if in_records else 0.0, "ratio"),
        "state.cached_relations": (st["cached_relations"], "count"),
        "state.persistent_rdds": (st["persistent_rdds"], "count"),
        "state.conf_drift": (st["conf_drift"], "count"),
        "trace.overhead_frac": (overhead, "ratio"),
    }
    # self time per span name: duration minus the part its children cover
    child = {}
    for s in spans:
        if s["parent"] in by_id:
            child[s["parent"]] = child.get(s["parent"], 0.0) + dur(s)
    self_s = {}
    for s in spans:
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + dur(s) - child.get(s["id"], 0.0)
    return m, {k: v / n_ops for k, v in sorted(self_s.items())}


# ------------------------------------------------------------------ main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    tables, run_in, sql = inputs(cp, a.workload, a.seed)
    out = os.path.join(ROOT, ".bench_runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # chsql_select: every entry's values against its DuckDB oracle. The
    # tables and the entry list are fixed, so the results are a function of
    # the build: the first run of a build writes every entry's result after
    # its timed loop and the verdict is kept for every later run of the same
    # build. Row counts are checked on every op of every run.
    verdict, verdict_path = None, None
    if a.workload == "chsql_select":
        verdict_path = os.path.join(run_in, f"values-{build_key()}.json")
        if os.path.exists(verdict_path):
            verdict = json.load(open(verdict_path))
    check = verdict_path is not None and verdict is None
    ticks = cpu_ticks()
    java(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(int(check)),
              tables, run_in, out], out, RUN_TIMEOUT_S)
    rec = json.load(open(os.path.join(out, "record.json")))
    rec["host"]["cpu_steal_share"] = steal_share(ticks, cpu_ticks())
    json.dump(rec, open(os.path.join(out, "record.json"), "w"))
    shutil.rmtree(os.path.join(out, "warehouse"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
    if check:
        con = duck(tables)
        verdict = {n: value_check(con, sql[n], os.path.join(out, "check", n))
                   for n in rec["checks"]["value_checked"]}
        json.dump(verdict, open(verdict_path + ".tmp", "w"))
        os.replace(verdict_path + ".tmp", verdict_path)

    # a wrong value fails each op that ran the entry
    wrong = {n: f"value check: {d}" for n, d in (verdict or {}).items() if d}
    for o in rec["ops"]:
        if o["ok"] and o["name"] in wrong:
            o["ok"], o["error"] = False, wrong[o["name"]]
        if not o["ok"]:
            log(f"op {o['name']} failed: {o['error']}")

    e2e, ctx, attempted, failed = end_to_end(rec)
    host = rec["host"]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "host": host,
                      "value_checked": len(verdict or {}), "state": rec["state"], **ctx}))
    for k, (v, u) in e2e.items():
        print(f"{a.workload} {k} = {v:.6g} {u}")
    print(f"{a.workload} failed_frac = {ctx['failed_frac']:.6g} "
          f"({failed} of {attempted}); op_tail_s is p{ctx['op_tail_percentile']} "
          f"of {ctx['op_tail_samples']} samples")
    metrics = e2e
    if a.trace:
        metrics, self_s = per_layer(rec, [json.loads(l) for l in
                                          open(os.path.join(out, "spans.jsonl"))],
                                    host["nproc"])
        for k, (v, u) in metrics.items():
            print(f"{a.workload} {k} = {v:.6g} {u}")
        for k, v in self_s.items():
            print(f"{a.workload} self_s[{k}] = {v:.6g} s/op")
        traced_s = sum(o["dur_s"] for o in rec["ops"] if o["phase"] == "traced")
        print(f"{a.workload} tracer bookkeeping = {rec['trace_bookkeeping_s']:.4g} s, "
              f"{rec['trace_bookkeeping_s'] / traced_s:.4g} of the traced cycle "
              "(target: under 0.02)")
        json.dump({"per_layer": {k: v for k, (v, _) in metrics.items()},
                   "self_s_per_op": self_s,
                   "trace_bookkeeping_s": rec["trace_bookkeeping_s"],
                   "end_to_end_first_untraced_cycle": e2e},
                  open(os.path.join(out, "summary.json"), "w"), indent=1)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": None if v != v else v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
