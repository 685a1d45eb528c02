#!/usr/bin/env python3
"""Benchmark of the football ETL engine: two workloads, one command.

    python3 perfbench/run.py --workload etl_weekly|analytics \
        --seed N --seconds S --trace 0|1 [--smoke]

`--workload defect_probes` runs, the same way, the ops the program is
known to fail on some or all inputs (see perfbench/README.md); it is
not one of the benchmark's workloads.

Builds the library from source (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py, cached per seed under .bench_build),
runs the workload in one JVM with Spark local[nproc], checks every
op's output outside the timed region, and prints as its last line one
JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The line before it is a readable report with the named
per-workload figures, the environment, the inputs and the checks.
See perfbench/README.md for what each metric means.
"""
import argparse
import decimal
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

WORKLOADS = ("etl_weekly", "analytics", "defect_probes")
LEAGUES, SEASONS = 1, 6                 # football raw: one league of 20 teams
CORPUS_SF, SMOKE_SF = 0.1, 0.001        # registry corpus scale factors
HEAP = "3g"
JVM_SLACK_S = 150                       # JVM time allowed beyond --seconds
PROBE_LIMIT_S = 30                      # two-row-header op's time limit
KEEP_SEEDS = 4                          # input cache: newest seed dirs kept
TABLES = ["dim_season", "dim_team", "dim_stadium", "dim_player", "dim_match",
          "fact_team_point", "fact_team_match", "fact_player_match"]
LAYERS = ("sources", "model", "queries", "plans", "exec", "streaming")
FAMILIES = ("graph", "text_dedup", "vector", "stream", "relational")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def dir_stats(path):
    """Total bytes of a file or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            size += os.path.getsize(os.path.join(dp, f))
    return size


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return r.stdout.strip() or None
    except OSError:
        return None


# ------------------------------------------------------------- inputs

def inputs(build_dir, seed, kind, smoke):
    """The seeded input directory of `kind` (football raw or registry
    corpus), generated once per (seed, size) and kept under
    .bench_build/inputs."""
    import gen
    root = os.path.join(build_dir, "inputs")
    # a changed generator gets a directory of its own
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(root, f"seed{seed}_{version}" + ("_smoke" if smoke else ""), kind)
    if not os.path.exists(d + ".done"):
        shutil.rmtree(d, ignore_errors=True)
        if kind == "football":
            gen.football(d, seed, LEAGUES, 2 if smoke else SEASONS)
        else:
            gen.corpus(d, seed, SMOKE_SF if smoke else CORPUS_SF, ROOT)
        open(d + ".done", "w").close()
    os.utime(os.path.dirname(d))
    # keep the cache bounded: drop the oldest seed directories
    dirs = sorted((os.path.getmtime(os.path.join(root, x)), x) for x in os.listdir(root))
    for _, x in dirs[:-KEEP_SEEDS]:
        shutil.rmtree(os.path.join(root, x), ignore_errors=True)
    return d


def input_summary(d):
    """Rows and bytes per generated table."""
    if os.path.exists(os.path.join(d, "manifest.json")):
        out = {f"{tier}/{f}": {"bytes": dir_stats(os.path.join(d, tier, f))}
               for tier in ("cold", "weekly") for f in sorted(os.listdir(os.path.join(d, tier)))}
        out["player_match_two_row.csv"] = {
            "bytes": dir_stats(os.path.join(d, "player_match_two_row.csv"))}
        out["expected_rows"] = json.load(open(os.path.join(d, "manifest.json")))["expected"]
        return out
    import pyarrow.parquet as pq
    return {f: {"rows": pq.ParquetFile(os.path.join(d, f)).metadata.num_rows,
                "bytes": os.path.getsize(os.path.join(d, f))} for f in sorted(os.listdir(d))}


# ---------------------------------------------------------------- JVM

def run_jvm(cp, args, run_dir, timeout):
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dgraft.stream.ckpt={run_dir}/ckpt",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    # Spark's scratch space stays in the run directory, whatever the caller set
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"JVM exceeded {timeout:.0f}s; log in {run_dir}/jvm.log")
    finally:
        log.close()
    if rc != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        fail(f"JVM exited {rc}:\n{tail}")


# -------------------------------------------------------------- checks

def canon(v):
    """A cell as compared between engines: numbers rounded to 6 places."""
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
        return round(float(v), 6)
    return str(v)


def table_stats(con, snap, keys):
    """Per table of an ETL op's warehouse snapshot: rows, rows sharing a
    primary key with another row, an order-independent content digest,
    and part files and bytes."""
    out = {}
    for t in TABLES:
        d = os.path.join(snap, t)
        parts = [os.path.join(dp, f) for dp, _, fs in os.walk(d) for f in fs
                 if f.startswith("part-")]
        key = ", ".join(f'"{k}"' for k in keys[t])
        rows, dups, digest = con.execute(
            f"SELECT sum(n), sum(CASE WHEN n > 1 THEN n ELSE 0 END), sum(d) FROM ("
            f"SELECT count(*) AS n, sum(hash(r)::HUGEINT) AS d FROM read_parquet("
            f"'{d}/**/*.parquet', hive_partitioning = true) AS r GROUP BY {key})").fetchone()
        out[t] = {"rows": int(rows or 0), "dup_keys": int(dups or 0), "digest": str(digest),
                  "files": len(parts), "bytes": sum(os.path.getsize(p) for p in parts)}
    return out


def check_etl(res, raw):
    """Row counts against the generator's manifest and primary-key
    uniqueness after every ETL op, read in DuckDB from the op's
    warehouse snapshot; the second load of the weekly raw must leave every
    table's content digest as the first left it. Each check gets
    its table stats as `tables`."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    exp = json.load(open(os.path.join(raw, "manifest.json")))["expected"]
    keys = res["notes"]["table_keys"]
    bad = {}
    prev = None
    for c in res["notes"]["etl_checks"]:
        if "error" not in c:
            try:
                c["tables"] = table_stats(con, c["snapshot"], keys)
            except duckdb.Error as e:
                c["error"] = str(e)
        if "error" in c:
            bad[c["op"]] = [f"table check failed: {c['error']}"]
            prev = None
            continue
        tables = c["tables"]
        errs = [f"{t}: {tables[t]['rows']} rows, expected {exp[c['tier']][t]}"
                for t in TABLES if tables[t]["rows"] != exp[c["tier"]][t]]
        errs += [f"{t}: {tables[t]['dup_keys']} rows with a duplicate key"
                 for t in TABLES if tables[t]["dup_keys"]]
        if c["tier"] == "weekly" and prev is not None and prev["tier"] == "weekly":
            errs += [f"{t}: re-loading the weekly raw changed its content"
                     for t in TABLES if tables[t]["digest"] != prev["tables"][t]["digest"]]
        if errs:
            bad[c["op"]] = errs
        prev = c
    return bad


def check_two_row_header(res, raw):
    """The two-row-header probe's fact_player_match rows against the
    generator's manifest."""
    want = json.load(open(os.path.join(raw, "manifest.json")))["expected"]["cold"][
        "fact_player_match"]
    return {o["op"]: [f"fact_player_match: {o['n_rows']} rows, expected {want}"]
            for o in res["ops"]
            if o["kind"] == "etl_probe" and "error" not in o and o["n_rows"] != want}


def duck_sql(sql, season, team):
    def lit(s):
        return "'" + s.replace("'", "''") + "'"
    return (sql.replace("`", '"').replace("AS DECIMAL)", "AS DECIMAL(10,0))")
            .replace(":season", lit(season)).replace(":team", lit(team)))


def dashboard_shapes():
    """name -> (sql, order column or None, descending, limit or None)."""
    import re
    out = {}
    text = open(os.path.join(BENCH, "dashboard.sql")).read()
    for block in re.split(r"(?m)^-- name: ", text)[1:]:
        head, body = block.split("\n", 1)
        w = head.split()
        sql = body.strip()
        order = w[w.index("order:") + 1] if "order:" in w else None
        limit = int(w[w.index("limit:") + 1]) if "limit:" in w else None
        last_order = sql.rsplit("ORDER BY", 1)[1].split("\n")[0] if "ORDER BY" in sql else ""
        desc = " DESC" in last_order
        out[w[0]] = (sql, order, desc, limit)
    return out


def duck_views(con, wh):
    for t in ("fact_team_point", "fact_team_match", "fact_player_match",
              "dim_team", "dim_season"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{wh}/{t}/**/*.parquet', hive_partitioning = true)")
    con.execute(f"CREATE OR REPLACE VIEW dim_match AS SELECT game_id AS match_id, "
                f"game AS match_name, date AS match_date, round, day "
                f"FROM read_parquet('{wh}/dim_match/*.parquet')")
    con.execute(f"CREATE OR REPLACE VIEW dim_player AS SELECT player_id, "
                f"player AS player_name, pos, nation, born "
                f"FROM read_parquet('{wh}/dim_player/*.parquet')")


def check_dashboard(res):
    """Each request's rows against the same SQL run by DuckDB over the
    warehouse parquet it read. For ORDER BY ... LIMIT shapes, ties at
    the cut may legitimately differ between engines, so the check is
    the ordered key sequence plus membership in the full result."""
    import re
    from collections import Counter
    import duckdb
    shapes = dashboard_shapes()
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    oracle, bad, opened = {}, {}, None
    reqs = sorted((o for o in res["ops"] if o["kind"] == "dashboard" and "error" not in o),
                  key=lambda o: o["warehouse"])
    for op in reqs:
        if op["warehouse"] != opened:
            duck_views(con, op["warehouse"])
            opened = op["warehouse"]
        sql, order, desc, limit = shapes[op["name"]]
        key = (op["warehouse"], op["name"], op["season"], op["team"])
        if key not in oracle:
            q = duck_sql(sql, op["season"], op["team"])
            q = re.sub(r"\bLIMIT\s+\d+\s*$", "", q)
            cur = con.execute(q)
            cols = [d[0].lower() for d in cur.description]
            oracle[key] = (cols, [tuple(canon(x) for x in r) for r in cur.fetchall()])
        cols, full = oracle[key]
        got = [tuple(canon(x) for x in r) for r in op["rows"]]
        gcols = [c.lower() for c in op["columns"]]
        err = None
        if gcols != cols:
            err = f"columns {gcols} vs {cols}"
        elif limit is None and Counter(got) != Counter(full):
            err = f"rows differ: {len(got)} vs {len(full)}"
        elif limit is not None:
            k = cols.index(order.lower())
            want = sorted((r[k] for r in full), key=lambda v: (v is None, v),
                          reverse=desc)[:limit]
            if [r[k] for r in got] != want:
                err = f"top-{limit} {order}: {[r[k] for r in got]} vs {want}"
            elif Counter(got) - Counter(full):
                err = "rows missing from the oracle result"
        if err is None and order is not None:
            k = cols.index(order.lower())
            seq = [r[k] for r in got]
            if seq != sorted(seq, key=lambda v: (v is None, v), reverse=desc):
                err = f"rows not ordered by {order}"
        if err:
            bad[op["op"]] = [err]
    return bad, len(oracle)


def check_analytics(res):
    """Each pass's query results against the registry's oracle SQL in
    DuckDB, by tools/check.py's rules."""
    bad = {}
    for p in res["notes"]["result_dirs"]:
        ops = [o for o in res["ops"] if o["kind"] == "analytics" and o["rep"] == p["pass"]
               and "error" not in o]
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                            p["corpus"], p["dir"]] + [o["name"] for o in ops],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        lines = r.stdout.splitlines()
        ok = {ln.split()[1] for ln in lines if ln.startswith("ok ")}
        fails = {ln.split()[1].rstrip(":"): ln for ln in lines if ln.startswith("FAIL")}
        for o in ops:
            if o["name"] not in ok:
                bad[o["op"]] = [fails.get(o["name"], "no verdict from tools/check.py")]
    return bad


# ------------------------------------------------------------- metrics

def pct(values, q):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(res, timed):
    setup_ms = median([s["session_ms"] + s["first_job_ms"] for s in res["setups"]]) + sum(
        op["wall_ms"] for op in res["ops"] if op["phase"] == "warmup")
    lat = [op["wall_ms"] for op in timed]
    per_name = {}
    for op in timed:
        per_name.setdefault(op["name"], []).append(op["wall_ms"])
    pass_ms = sum(median(v) for v in per_name.values())
    return {
        "setup_s": (setup_ms / 1000.0, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "pass_s": (pass_ms / 1000.0, "s"),
        "op_p50_ms": (median(lat), "ms"),
    }


def named(workload, timed, failed, attempted):
    """The per-workload figures by the names the design uses, for the
    report line (the final line carries the uniform metrics)."""
    out = {"failed_ratio": failed / attempted}
    if workload == "etl_weekly":
        for name in ("etl_full", "etl_weekly"):
            out[f"{name}_s"] = median([o["wall_ms"] for o in timed if o["name"] == name]) / 1e3
        reqs = [o for o in timed if o["kind"] == "dashboard"]
        lat = [o["wall_ms"] for o in reqs]
        out["dash_p50_ms"] = median(lat)
        out["dash_p90_ms"] = pct(lat, 0.9) if lat else 0.0
        out["dash_samples"] = len(lat)
        seen, repeats = set(), 0
        for o in reqs:
            k = (o["name"], o["season"], o["team"])
            repeats += k in seen
            seen.add(k)
        out["dash_repeat_share"] = repeats / len(reqs) if reqs else 0.0
    else:
        fam = {}
        for o in timed:
            fam.setdefault(o["family"], {}).setdefault(o["name"], []).append(o["wall_ms"])
        for f in FAMILIES:
            out[f"{f}_s"] = sum(median(v) for v in fam.get(f, {}).values()) / 1e3
        out["analytics_s"] = sum(out[f"{f}_s"] for f in FAMILIES)
    return out


def self_times(spans, ops):
    """Per-layer self time over the ops in `ops`: span duration minus
    the part of it covered by child spans. Listener spans (jobs,
    stages, batches) take as parent the innermost span that contains
    their start: a job for a stage, a driver span otherwise."""
    driver = [s for s in spans if s["op"] != -1]
    jobs = [s for s in spans if s["name"] == "exec.job"]

    def innermost(pool, s):
        best = None
        for d in pool:
            if d["start_ns"] <= s["start_ns"] < d["end_ns"] and (
                    best is None or d["end_ns"] - d["start_ns"] < best["end_ns"] - best["start_ns"]):
                best = d
        return best

    for s in spans:
        if s["op"] == -1:
            p = (s["name"] == "exec.stage" and innermost(jobs, s)) or innermost(driver, s)
            if p is not None:
                s["parent"] = p["id"]
                s["op"] = p["op"] if p["op"] != -1 else s["op"]
    # stages parented by a job inherit the job's op once the job has one
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["op"] == -1 and s["parent"] in by_id:
            s["op"] = by_id[s["parent"]]["op"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["op"] not in ops or s["name"].startswith("op."):
            continue
        lo, hi = s["start_ns"], s["end_ns"]
        cov, end = 0, lo
        for a, b in sorted((c["start_ns"], c["end_ns"]) for c in kids.get(s["id"], [])):
            a, b = max(a, end), min(b, hi)
            if b > a:
                cov += b - a
                end = b
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + (hi - lo - cov) / 1e6
    return out


def per_layer(res, timed, cores, new_input_bytes):
    """Per-layer metrics, each averaged per op over the ops its layer
    serves: ETL ops for sources/model, read ops (dashboard requests and
    registry queries) for plans and the scheduling counters, registry
    queries for queries/streaming, and the data-heavy ops (ETL runs and
    registry queries) for the task-level volume counters."""
    etl = [o for o in timed if o["kind"] == "etl"]
    reads = [o for o in timed if o["kind"] in ("dashboard", "analytics")]
    queries = [o for o in timed if o["kind"] == "analytics"]
    heavy = etl + queries

    def mean(ops, f):
        return sum(f(o) for o in ops) / len(ops) if ops else 0.0

    def part(ops, name):
        return mean(ops, lambda o: o["parts"].get(name, 0.0))

    def ctr(ops, k):
        return mean(ops, lambda o: o.get("counters", {}).get(k, 0))

    def phase(k):
        return mean(reads, lambda o: o.get("phases", {}).get(k, 0.0))

    heavy_ms = sum(o["wall_ms"] for o in heavy)
    task_ms = sum(o.get("counters", {}).get("task_run_ms", 0) for o in heavy)
    in_rows = sum(o.get("counters", {}).get("input_rows", 0) for o in reads)
    out_rows = sum(o.get("n_rows", 0) for o in reads)
    weekly = [o for o in etl if o["name"] == "etl_weekly"]
    wbytes = sum(o.get("counters", {}).get("output_bytes", 0) for o in weekly)
    timed_ids = {o["op"] for o in timed}
    files = [sum(t["files"] for t in c["tables"].values())
             for c in res["notes"].get("etl_checks", []) if c["op"] in timed_ids and "tables" in c]
    m = {
        "session.start_ms": median([s["session_ms"] for s in res["setups"]]),
        "sources.read_ms": part(etl, "sources.read"),
        "sources.input_rows": ctr(etl, "input_rows"),
        "sources.input_bytes": ctr(etl, "input_bytes"),
        "model.build_star_ms": part(etl, "model.build_star"),
        "model.rows_written": ctr(etl, "output_rows"),
        "model.bytes_written": ctr(etl, "output_bytes"),
        "model.files_written": sum(files) / len(files) if files else 0.0,
        "model.write_amp": (wbytes / (len(weekly) * new_input_bytes)
                            if weekly and new_input_bytes else 0.0),
        "queries.build_ms": part(queries, "queries.build"),
        "plans.analysis_ms": phase("analysis"),
        "plans.optimization_ms": phase("optimization"),
        "plans.planning_ms": phase("planning"),
        "plans.plan_ms": part(reads, "plans.plan"),
        "exec.run_ms": part(reads, "exec.run"),
        "exec.jobs": ctr(reads, "jobs"),
        "exec.stages": ctr(reads, "stages"),
        "exec.driver_gap_ms": mean(reads, lambda o: o.get("driver_gap_ms", 0.0)),
        "exec.floor_ms": median(res["floor_ms"]),
        "exec.rows_scanned_per_row": in_rows / out_rows if out_rows else 0.0,
        "exec.files_read": mean(reads, lambda o: o.get("files_read", 0)),
        "exec.tasks": ctr(heavy, "tasks"),
        "exec.idle_ratio": 1.0 - task_ms / (cores * heavy_ms) if heavy_ms else 0.0,
        "exec.task_run_ms": ctr(heavy, "task_run_ms"),
        "exec.task_cpu_ms": ctr(heavy, "task_cpu_ms"),
        "exec.gc_ms": ctr(heavy, "gc_ms"),
        "exec.shuffle_read_bytes": ctr(heavy, "shuffle_read_bytes"),
        "exec.shuffle_write_bytes": ctr(heavy, "shuffle_write_bytes"),
        "exec.spill_bytes": ctr(heavy, "spill_bytes"),
        "streaming.batches": ctr(queries, "batches"),
        "streaming.trigger_ms": ctr(queries, "trigger_ms"),
        "streaming.add_batch_ms": ctr(queries, "add_batch_ms"),
        "streaming.query_planning_ms": ctr(queries, "query_planning_ms"),
        "streaming.wal_commit_ms": ctr(queries, "wal_commit_ms"),
    }
    for t in TABLES:
        m[f"model.load_ms.{t}"] = part(etl, f"model.load.{t}")
    st = self_times(res["spans"], timed_ids)
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = st.get(layer, 0.0) / max(1, len(timed))
    return m


def unit_of(name):
    leaf = name.split(".")[1]
    if leaf.endswith("_ms"):
        return "ms"
    if "bytes" in leaf:
        return "bytes"
    if leaf in ("idle_ratio", "rows_scanned_per_row", "write_amp"):
        return "ratio"
    return "count"


def repeatability(ops):
    """Job and stage counts per op name, over its runs in order. The
    warm-up runs are those of phase `warmup`, or else the first run.
    `changed_after_warmup` lists the ops whose later runs (timed runs,
    the weekly load and its re-run, one dashboard shape across
    requests) differ among themselves; `first_run_differs` the ops whose
    warm-up runs did more or less work than their later runs (work done
    once and then cached, for instance); `single_run` the ops run once,
    which a longer --seconds repeats."""
    groups = {}
    for o in ops:
        if o["phase"] not in ("warmup", "timed") or "error" in o:
            continue
        c = o.get("counters", {})
        groups.setdefault(o["name"], []).append(
            (o["phase"], o["rep"], c.get("jobs"), c.get("stages"), c.get("tasks")))
    changed, first, single = [], [], []
    for name, v in sorted(groups.items()):
        n_warm = sum(x[0] == "warmup" for x in v) or 1
        warm, later = v[:n_warm], v[n_warm:]
        counts = {x[2:4] for x in later}
        if not later:
            single.append(name)
        elif len(counts) > 1:
            changed.append({"op": name, "phase_rep_jobs_stages_tasks": v[:6]})
        elif any(x[2:4] not in counts for x in warm):
            first.append({"op": name, "phase_rep_jobs_stages_tasks": v[:3]})
    return {"changed_after_warmup": changed or "none", "first_run_differs": first,
            "single_run": single}


def coverage(timed):
    """Ops whose layer parts cover their wall time by less than 90%."""
    out = []
    for o in timed:
        cov = sum(o["parts"].values()) / o["wall_ms"] if o["wall_ms"] else 1.0
        if cov < 0.9 or cov > 1.1:
            out.append({"op": o["op"], "name": o["name"], "coverage": round(cov, 3)})
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001 corpus, two-season ETL) to check the harness")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "gen_sf.py")):
        fail(f"{ROOT} is not a checkout of the engine (src/main/scala, tools/gen_sf.py missing)")
    build_dir = os.path.join(ROOT, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    import build
    t_build = time.time()
    cp = build.build(build_dir)
    build_s = time.time() - t_build

    cores = nproc()
    t_in = time.time()
    kind = "football" if a.workload == "etl_weekly" else "corpus"
    data = inputs(build_dir, a.seed, kind, a.smoke)
    raw, extra = data, []
    if a.workload == "defect_probes":
        # the football raw is the probe's --inputs, the corpus rides beside it
        raw = inputs(build_dir, a.seed, "football", a.smoke)
        extra = ["--corpus", data, "--probe-limit", str(PROBE_LIMIT_S)]
    input_s = time.time() - t_in

    run_dir = os.path.join(build_dir, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "ckpt", "local"):
        os.makedirs(os.path.join(run_dir, d))
    out_file = os.path.join(run_dir, "result.json")
    t_jvm = time.time()
    run_jvm(cp, ["--workload", a.workload, "--inputs", raw, "--run-dir", run_dir,
                 "--out", out_file, "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--cores", str(cores), "--seed", str(a.seed), "--bench-dir", BENCH]
            + extra, run_dir, a.seconds + JVM_SLACK_S + (PROBE_LIMIT_S if extra else 0))
    jvm_s = time.time() - t_jvm
    res = json.load(open(out_file))
    t_check = time.time()
    # an op that threw counts as failed; its time-to-exception is no metric
    timed = [o for o in res["ops"] if o["phase"] == "timed" and "error" not in o]

    checks = {}
    if a.workload == "etl_weekly":
        bad = check_etl(res, data)
        dbad, checks["distinct_requests"] = check_dashboard(res)
        bad.update(dbad)
        new_bytes = dir_stats(os.path.join(data, "weekly")) - dir_stats(os.path.join(data, "cold"))
    else:
        bad = check_analytics(res)
        if a.workload == "defect_probes":
            bad.update(check_two_row_header(res, raw))
            checks["octile_payer"] = res["notes"]["octile_payer"]
        new_bytes = 0
    bad.update({o["op"]: [o["error"]] for o in res["ops"] if "error" in o})
    attempted = len(res["ops"])
    failed = len(bad)
    check_s = time.time() - t_check
    names = {o["op"]: o["name"] for o in res["ops"]}
    checks["failed_ops"] = {f"{k} {names[k]}": v for k, v in sorted(bad.items())}

    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "smoke": a.smoke,
        "env": dict(res["env"], git_commit=git_commit(), heap=HEAP,
                    build_stamp=open(os.path.join(build_dir, "classes.stamp")).read()[:16]),
        "inputs": input_summary(raw),
        "run_phases_s": {"build": round(build_s, 2), "inputs": round(input_s, 2),
                         "jvm": round(jvm_s, 2), "checks": round(check_s, 2)},
        "named": dict(named(a.workload, timed, failed, attempted), cold_setup_s=(
            res["setups"][0]["session_ms"] + res["setups"][0]["first_job_ms"]) / 1e3),
        "checks": checks, "timed_ops": len(timed),
        "setups_ms": [{k: round(v, 1) for k, v in s.items()} for s in res["setups"]],
    }
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    untraced = os.path.join(results, f"{a.workload}_seed{a.seed}_trace0.json")
    if a.trace:
        metrics = {k: (v, unit_of(k)) for k, v in
                   per_layer(res, timed, cores, new_bytes).items()}
        report["repeatability"] = repeatability(res["ops"])
        report["coverage_outside_10pct"] = coverage(timed)
        if os.path.exists(untraced):
            ref = json.load(open(untraced))["metrics"]
            now = end_to_end(res, timed)
            report["trace_overhead"] = {k: now[k][0] / ref[k]["value"] - 1
                                        for k in ("pass_s", "op_p50_ms")}
        else:
            report["trace_overhead"] = "no untraced run of this seed to compare with"
        with open(os.path.join(results, f"{a.workload}_seed{a.seed}_trace.json"), "w") as f:
            json.dump({"spans": res["spans"], "ops": [
                {k: v for k, v in o.items() if k != "rows"} for o in res["ops"]]}, f)
    else:
        metrics = end_to_end(res, timed)
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    if not a.trace:
        with open(untraced, "w") as f:
            json.dump(line, f)
    print(json.dumps(report, default=str))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
