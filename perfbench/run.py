#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program (see
build.py) and generates the seed's inputs (see gen.py); both are cached
under .bench_build/. One JVM runs the workload at local[<cores>]; this
script then checks every output, computes the metrics and prints, as the
last line of stdout, one JSON object with `correct`, `attempted`,
`failed` and `metrics`. With --trace 0 the metrics are the end-to-end
ones; with --trace 1 they are the per-layer ones, and the spans, job
records and per-operation detail go to .bench_build/traces/.

Exit code: 0 when every operation succeeded with correct output, 1 when
any failed or was wrong, 2 when the run could not happen at all.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
from stats import (ancestors, attribute, median, percentile, record,  # noqa: E402
                   self_times, tail_percentile, union_length)

WORKLOADS = ("mr-wordcount", "catalog-mix", "curate-stream")

# Input sizes, and each workload's nominal pass time on a 4-core host. A
# run times a fixed number of whole passes, round(--seconds / nominal),
# at least one: the JIT is still warming through the first minute of a
# JVM, so a time-boxed pass count would change which passes a run's
# median covers from run to run.
MR = dict(total_bytes=4 << 20, n_files=64, vocab_size=50_000)
MR_TWIN = dict(total_bytes=2 << 20, n_files=64, vocab_size=50_000)
CATALOG_SF, CATALOG_TWIN_SF, CATALOG_DATA_SEED = 0.01, 0.001, 42
CATALOG_BANDS = 10          # cost bands the sampled queries are drawn from
CATALOG_SAMPLE_CAP_S = 0.6  # sampled queries cost at most this (seconds in the pool)
CURATE = dict(n_docs=300, n_batches=6)
CURATE_TWIN = dict(n_docs=80, n_batches=4)
COMPACT_EVERY = 3
NOMINAL_PASS_S = {"mr-wordcount": 2.5, "catalog-mix": 14.0, "curate-stream": 10.0}
JVM_TIMEOUT_S = 170

MR_PATHS = ("faithful", "combine", "wholefile", "df")
FAMILIES = ("text", "relational", "dedup", "sim", "pipeline", "sources", "analytics", "binary")

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "core.session_s": "s", "core.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.analysis_s": "s", "plan.optimizer_s": "s", "plan.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_busy_s": "s", "exec.driver_gap_s": "s", "exec.task_s": "s",
    "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.parallel_eff": "ratio",
    "exec.tasks_failed": "count", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_records": "count",
    "exec.spill_bytes": "bytes", "exec.peak_exec_mem_bytes": "bytes",
    **{f"mr.{p}.{m}": u for p in MR_PATHS for m, u in (
        ("wall_s", "s"), ("map_records", "count"), ("shuffle_records", "count"),
        ("combine_ratio", "ratio"), ("min_stage_tasks", "count"))},
    **{f"family.{f}.{m}": u for f in FAMILIES for m, u in (("wall_s", "s"), ("jobs", "count"))},
    "streaming.batch_jobs": "count", "streaming.chain_depth": "count",
    "streaming.files_written": "count", "streaming.bytes_written": "bytes",
    "streaming.compact_s": "s", "streaming.admitted_ratio": "ratio",
    "streaming.reclean_s": "s", "streaming.read_s": "s",
    "streaming.store_bytes_per_input_byte": "ratio",
    "core.peak_rss_mb": "MB", "core.cpu_s": "s", "trace.overhead_s": "s",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------ inputs


def mr_inputs(cache, seed):
    main = gen.cached(cache, f"mr-s{seed}", lambda d: gen.wordcount_corpus(seed, d, **MR))
    twin = gen.cached(cache, f"mr-twin-s{seed}", lambda d: gen.wordcount_corpus(seed + 7919, d, **MR_TWIN))
    return {"corpus": main, "oracle": f"{main}/oracle.tsv",
            "twin": twin, "twin_oracle": f"{twin}/oracle.tsv"}, {}


def catalog_pool():
    with open(os.path.join(HERE, "catalog_pool.json")) as f:
        return json.load(f)


def catalog_tables(cache, sf):
    return gen.cached(cache, f"catalog-sf{sf}-d{CATALOG_DATA_SEED}",
                      lambda d: gen.catalog_tables(d, sf, CATALOG_DATA_SEED))


def catalog_inputs(cache, seed):
    """The catalog tables, and this seed's query sample: the pool's
    always-run queries plus one query from each cost band of the rest."""
    pool = catalog_pool()
    sampled = {q: (v["family"], v["seconds"]) for q, v in pool["pool"].items()
               if v["seconds"] <= CATALOG_SAMPLE_CAP_S}
    queries = gen.catalog_sample(seed, sampled, pool["always"], CATALOG_BANDS)
    return {"data": catalog_tables(cache, CATALOG_SF), "twin": catalog_tables(cache, CATALOG_TWIN_SF),
            "queries": ",".join(queries)}, {"queries": queries}


def curate_inputs(cache, seed):
    main = gen.cached(cache, f"curate-s{seed}", lambda d: gen.curate_batches(seed, d, **CURATE))
    twin = gen.cached(cache, f"curate-twin-s{seed}",
                      lambda d: gen.curate_batches(seed + 7919, d, **CURATE_TWIN))
    with open(f"{main}/plan.json") as f:
        plan = json.load(f)
    with open(f"{twin}/plan.json") as f:
        twin_plan = json.load(f)["plan"]
    return {"batches": main, "plan": ",".join(map(str, plan["plan"])), "twin": twin,
            "twin_plan": ",".join(map(str, twin_plan)), "compact_every": COMPACT_EVERY}, plan


INPUTS = {"mr-wordcount": mr_inputs, "catalog-mix": catalog_inputs, "curate-stream": curate_inputs}

# ------------------------------------------------------------ checks


def canon(v):
    """A value as the oracle comparison sees it (floats to 6 significant
    digits, as the repository's oracle gate compares them)."""
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if v != v else f"{v:.6g}"
    return str(v)


def canon_rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[canon(r[i]) for i in order] for r in cur.fetchall()]
    return sorted(cols), rows


def rows_digest(cols, rows):
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def sql_key(sql):
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def oracle_digest(con, sql):
    cols, rows = canon_rows(con, sql)
    return {"sql": sql_key(sql), "digest": rows_digest(cols, rows), "rows": len(rows), "cols": cols}


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in sorted(f[:-len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet")):
        con.execute(f"CREATE VIEW {name} AS FROM read_parquet('{data_dir}/{name}.parquet')")
    return con


def catalog_check(data_dir, out_dir, queries, recorded):
    """Query -> None when its written output matches the DuckDB oracle,
    else a reason. `recorded` holds oracle digests made by calibrate.py
    for these exact tables; an oracle whose SQL has changed since, or any
    oracle when the tables differ, is run live."""
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle_sql = json.load(f)
    with open(f"{data_dir}/DIGEST") as f:
        same_tables = f.read().strip() == recorded.get("data_digest")
    con = duck(data_dir)
    verdict = {}
    for q in queries:
        sql = oracle_sql.get(q)
        if sql is None:
            verdict[q] = "no oracle SQL"
            continue
        try:
            want = recorded.get("oracles", {}).get(q) if same_tables else None
            if want is None or want["sql"] != sql_key(sql):
                want = oracle_digest(con, sql)
            cols, rows = canon_rows(con, f"SELECT * FROM read_parquet('{out_dir}/{q}/*.parquet')")
            verdict[q] = None if rows_digest(cols, rows) == want["digest"] else (
                f"output differs from oracle: {len(rows)} rows {cols} vs {want['rows']} rows {want['cols']}")
        except Exception as e:  # a query that wrote nothing, or SQL that fails
            verdict[q] = f"{type(e).__name__}: {str(e)[:200]}"
    return verdict


# ------------------------------------------------------------ metrics


def spans_of(result, kind, within=None):
    out = [s for s in result["spans"] if s["kind"] == kind]
    if within is not None:
        out = [s for s in out if within["start_us"] <= s["start_us"] and s["end_us"] <= within["end_us"]]
    return out


def dur(s):
    return (s["end_us"] - s["start_us"]) / 1e6


def untraced_passes(result):
    return [p for p in spans_of(result, "pass") if not p["attrs"]["traced"]]


def end_to_end_ops(result):
    return [o for p in untraced_passes(result) for o in spans_of(result, "op", p)]


def end_to_end(result, t_launch_us):
    passes = untraced_passes(result)
    op_s = [dur(o) for o in end_to_end_ops(result)]
    return {
        "setup_s": (result["setup_end_us"] - t_launch_us) / 1e6,
        "wall_s": median(dur(p) for p in passes),
        "op_p50_s": percentile(op_s, 50),
    }


def per_layer(result, workload, inputs_meta):
    """Per-layer metrics from the traced passes (median over passes), with
    every job attributed to the span whose window holds its submission."""
    spans = result["spans"]
    by_id = {s["id"]: s for s in spans}
    jobs = result["jobs"]
    owner = attribute([j["submit_ms"] * 1000 for j in jobs], spans)
    for j, o in zip(jobs, owner):
        j["span"] = o
        j["path"] = [by_id[i]["name"] for i in ancestors(o, by_id)] if o is not None else []

    def jobs_in(span):
        ids = {span["id"]}
        return [j for j in jobs if j["span"] is not None and ids & set(ancestors(j["span"], by_id))]

    plans = result["plans"]
    cores = result["cores"]
    traced = [p for p in spans_of(result, "pass") if p["attrs"]["traced"]]
    untraced = [p for p in spans_of(result, "pass") if not p["attrs"]["traced"]]
    per_pass = []
    for p in traced:
        pj = jobs_in(p)
        wall = dur(p)
        busy = union_length((max(j["submit_ms"] * 1000, p["start_us"]), min(j["end_ms"] * 1000, p["end_us"]))
                            for j in pj if j["end_ms"] >= 0) / 1e6
        task_s = sum(j["task_ms"] for j in pj) / 1e3
        in_pass = [r for r in plans if p["start_us"] <= r["start_ms"] * 1000 <= p["end_us"]]
        m = {
            "queries.build_s": sum(dur(s) for s in spans_of(result, "build", p)),
            "queries.build_jobs": sum(len(jobs_in(s)) for s in spans_of(result, "build", p)),
            "plan.analysis_s": sum(r["analysis"] for r in in_pass) / 1e3,
            "plan.optimizer_s": sum(r["optimization"] for r in in_pass) / 1e3,
            "plan.planning_s": sum(r["planning"] for r in in_pass) / 1e3,
            "exec.jobs": len(pj),
            "exec.stages": sum(j["stages"] for j in pj),
            "exec.tasks": sum(j["tasks"] for j in pj),
            "exec.job_busy_s": busy,
            "exec.driver_gap_s": wall - busy,
            "exec.task_s": task_s,
            "exec.task_cpu_s": sum(j["cpu_ns"] for j in pj) / 1e9,
            "exec.gc_s": sum(j["gc_ms"] for j in pj) / 1e3,
            "exec.parallel_eff": task_s / (cores * wall),
            "exec.tasks_failed": sum(j["tasks_failed"] for j in pj),
            "exec.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in pj),
            "exec.shuffle_read_bytes": sum(j["shuffle_read_bytes"] for j in pj),
            "exec.shuffle_records": sum(j["shuffle_records"] for j in pj),
            "exec.spill_bytes": sum(j["spill_bytes"] for j in pj),
            "exec.peak_exec_mem_bytes": max((j["peak_exec_mem_bytes"] for j in pj), default=0),
        }
        ops = spans_of(result, "op", p)
        if workload == "mr-wordcount":
            map_records = inputs_meta["tokens"]
            for o in ops:
                path, oj = o["attrs"]["path"], jobs_in(o)
                shuffled = sum(j["shuffle_records"] for j in oj)
                m[f"mr.{path}.wall_s"] = dur(o)
                m[f"mr.{path}.map_records"] = map_records
                m[f"mr.{path}.shuffle_records"] = shuffled
                m[f"mr.{path}.combine_ratio"] = shuffled / map_records
                m[f"mr.{path}.min_stage_tasks"] = min((j["min_stage_tasks"] for j in oj if j["stages"]),
                                                      default=0)
        if workload == "catalog-mix":
            for f in FAMILIES:
                fam = [o for o in ops if o["attrs"]["family"] == f]
                m[f"family.{f}.wall_s"] = sum(dur(o) for o in fam)
                m[f"family.{f}.jobs"] = sum(len(jobs_in(o)) for o in fam)
        if workload == "curate-stream":
            stream = spans_of(result, "stream", p)[0]
            m["streaming.batch_jobs"] = median(len(jobs_in(o)) for o in ops)
            m["streaming.chain_depth"] = stream["attrs"]["chain_depth"]
            m["streaming.files_written"] = sum(o["attrs"].get("files_new", 0) for o in ops)
            m["streaming.bytes_written"] = sum(o["attrs"].get("bytes_new", 0) for o in ops)
            m["streaming.compact_s"] = sum(dur(s) for s in spans_of(result, "compact", p))
            m["streaming.reclean_s"] = sum(dur(s) for s in spans_of(result, "reclean", p))
            m["streaming.read_s"] = sum(dur(s) for s in spans_of(result, "read", p))
            m["streaming.admitted_ratio"] = stream["attrs"]["curated"] / inputs_meta["delivered"]
            m["streaming.store_bytes_per_input_byte"] = stream["attrs"]["store_bytes"] / inputs_meta["text_bytes"]
        per_pass.append(m)
    out = {name: median(m.get(name, 0) for m in per_pass) for name in PER_LAYER}
    out["core.session_s"] = sum(dur(s) for s in spans_of(result, "session"))
    out["core.warmup_s"] = sum(dur(s) for s in spans_of(result, "warmup"))
    out["core.peak_rss_mb"] = result["vm_hwm_kb"] / 1024.0
    out["core.cpu_s"] = median(p["attrs"]["cpu_s"] for p in traced)
    out["trace.overhead_s"] = median(dur(p) for p in traced) - median(dur(p) for p in untraced)
    return out, per_pass


def op_details(result):
    """Per-operation detail for the trace file: one record per op span
    with its steps and the jobs attributed to it."""
    by_id = {s["id"]: s for s in result["spans"]}
    out = []
    for o in spans_of(result, "op"):
        steps = {s["name"]: dur(s) for s in result["spans"] if s["parent"] == o["id"]}
        jobs = [j["id"] for j in result["jobs"] if j.get("span") is not None
                and o["id"] in ancestors(j["span"], by_id)]
        out.append({"pass": by_id[o["parent"]]["attrs"].get("index") if o["parent"] in by_id else None,
                    "wall_s": dur(o), **o["attrs"], "steps_s": steps, "jobs": len(jobs)})
    return out


# ------------------------------------------------------------ main


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"no program sources under {root}/src/main/scala/graft; run from the root of a checkout")
    bdir = os.path.join(root, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    classpath = build.build(root, bdir)

    cache = os.path.join(bdir, "inputs")
    os.makedirs(cache, exist_ok=True)
    conf, meta = INPUTS[args.workload](cache, args.seed)
    if args.workload == "mr-wordcount":
        with open(conf["oracle"]) as f:
            meta["tokens"] = sum(int(line.split("\t")[1]) for line in f)

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(bdir, "runs", run_id)
    os.makedirs(work)
    passes = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    conf.update(workload=args.workload, run_id=run_id, passes=passes, trace=args.trace,
                cores=len(os.sched_getaffinity(0)), work=work, result=f"{work}/result.json",
                check_out=f"{work}/check")
    code, result, t_launch_us = launch(classpath, work, conf)
    if result is None:
        fail(f"JVM exited {code} without a result; log in {work}/jvm.log")

    # every timed op of every pass is an attempt; wrong outputs count as failed
    ops = [o for p in spans_of(result, "pass") for o in spans_of(result, "op", p)]
    bad = {o["id"] for o in ops if not o["attrs"].get("ok", False)}
    notes = list(result["errors"])
    if args.workload == "catalog-mix" and not result["errors"]:
        verdict = catalog_check(conf["data"], conf["check_out"], meta["queries"], catalog_pool())
        for q, why in verdict.items():
            if why:
                notes.append(f"{q}: {why}")
                bad |= {o["id"] for o in ops if o["attrs"]["query"] == q}
    if args.workload == "curate-stream":
        check = [s for s in result["spans"] if s["kind"] == "check"]
        if not check or not check[0]["attrs"].get("ok"):
            notes.append(f"curated table differs from the one-shot clean + gate: "
                         f"{check[0]['attrs'] if check else 'no check ran'}")
            last = max(spans_of(result, "pass"), key=lambda p: p["start_us"])
            bad |= {o["id"] for o in spans_of(result, "op", last)}
    for o in ops:
        if o["id"] in bad and o["attrs"].get("error"):
            notes.append(f"{o['name']} {o['attrs']}")
    attempted, failed = len(ops), len(bad)
    correct = code == 0 and not result["errors"] and failed == 0 and attempted > 0
    for n in notes[:20]:
        print(f"perfbench: {n}", file=sys.stderr)

    if args.trace:
        layers, per_pass = per_layer(result, args.workload, meta)
        selfs = self_times(result["spans"])
        for s in result["spans"]:
            s["run"] = run_id
            s["self_us"] = selfs[s["id"]]
        trace_dir = os.path.join(bdir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        untraced = end_to_end(result, t_launch_us)
        with open(trace_file, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "run_id": run_id,
                       "cores": result["cores"], "correct": correct, "notes": notes,
                       "end_to_end_untraced": untraced, "per_layer": layers,
                       "per_layer_by_pass": per_pass,
                       "op_tail_percentile": tail_percentile(len(end_to_end_ops(result))),
                       "ops": op_details(result), "spans": result["spans"],
                       "jobs": result["jobs"], "plans": result["plans"]}, f, indent=1)
        print(f"perfbench: trace written to {trace_file}", file=sys.stderr)
        metrics = {k: (layers[k], u) for k, u in PER_LAYER.items()}
    else:
        e2e = end_to_end(result, t_launch_us)
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}

    if correct:
        shutil.rmtree(work, ignore_errors=True)
    print(record(correct, max(attempted, 1), failed if attempted else 1, metrics))
    sys.exit(0 if correct else 1)


def launch(classpath, work, conf, timeout=JVM_TIMEOUT_S):
    """Run the harness JVM on `conf`; return (exit code, result or None,
    launch time in epoch microseconds)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(f"{work}/job.properties", "w") as f:
        for k, v in conf.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    cmd = ["java", *build_jvm_flags(work, tmp), "-cp", classpath, "perfbench.Harness",
           f"{work}/job.properties"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    with open(f"{work}/jvm.log", "w") as log:
        t_launch_us = time.time_ns() // 1000
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM did not finish within {timeout}s; log in {work}/jvm.log")
    if not os.path.exists(conf["result"]):
        return code, None, t_launch_us
    with open(conf["result"]) as f:
        return code, json.load(f), t_launch_us


def build_jvm_flags(work, tmp):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    flags = [f for p in opens for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return flags + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                    "-Dspark.sql.session.timeZone=UTC",
                    f"-Dspark.sql.warehouse.dir={work}/warehouse",
                    f"-Dspark.local.dir={work}/spark-local",
                    f"-Dderby.system.home={work}"]


if __name__ == "__main__":
    main()
