#!/usr/bin/env python3
"""Rebuilds catalog_pool.json: the catalog queries catalog-mix may sample.

    python3 perfbench/calibrate.py [--oracles-only]   (from the checkout root)

Runs every catalog query once on the generated catalog tables (after the
usual warm-up on the twin tables; ~15 min on 4 cores), checks each output
against its DuckDB oracle, and keeps the queries that pass, with their
family, measured seconds and oracle digest. Queries that fail or
mismatch on the generated data are listed under "excluded" with the
reason. Re-run it when the catalog changes; the sample drawn for a seed
changes with the pool. --oracles-only keeps the pool and re-records the
oracle digests (needed when oracle SQL or the table generator changes).
"""
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

# Heavy queries every catalog-mix run includes, from ROADMAP direction 2's
# targets: q168 (dozens of jobs from one action) and q91 (the
# exemplar/cluster family). A run cannot afford all nine targets, and
# rotating them with the seed spread wall_s by 15% from seed to seed.
ALWAYS = ["q168_pipeline_attrition", "q91_dup_clusters_prefix"]


def record_oracles(classpath, work, data, queries):
    """Oracle digests of `queries` on the tables in `data`."""
    sql_file = os.path.join(work, "oracle_sql.json")
    subprocess.run(["java", "-cp", classpath, "perfbench.Harness", "--oracle-sql", sql_file],
                   check=True)
    with open(sql_file) as f:
        sql = json.load(f)
    con = run.duck(data)
    with open(os.path.join(data, "DIGEST")) as f:
        digest = f.read().strip()
    return {"data_digest": digest, "oracles": {q: run.oracle_digest(con, sql[q]) for q in sorted(queries)}}


def main():
    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    classpath = build.build(root, bdir)
    cache = os.path.join(bdir, "inputs")
    os.makedirs(cache, exist_ok=True)
    data, twin = (run.catalog_tables(cache, sf) for sf in (run.CATALOG_SF, run.CATALOG_TWIN_SF))
    work = os.path.join(bdir, "runs", f"calibrate-{int(time.time())}")
    os.makedirs(work)
    pool_file = os.path.join(HERE, "catalog_pool.json")
    if "--oracles-only" in sys.argv:
        with open(pool_file) as f:
            out = json.load(f)
    else:
        out = calibrate(classpath, work, data, twin)
    out.update(record_oracles(classpath, work, data, out["pool"]))
    with open(pool_file, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"{len(out['pool'])} queries pooled, {len(out['excluded'])} excluded", file=sys.stderr)


def calibrate(classpath, work, data, twin):
    conf = dict(workload="catalog-mix", run_id="calibrate", passes=1, trace=0,
                cores=len(os.sched_getaffinity(0)), work=work, result=f"{work}/result.json",
                check_out=f"{work}/check", data=data, twin=twin, queries="*")
    code, result, _ = run.launch(classpath, work, conf, timeout=3600)
    if result is None:
        run.fail(f"calibration JVM exited {code}; log in {work}/jvm.log")
    timed = [o for p in run.spans_of(result, "pass") for o in run.spans_of(result, "op", p)]
    verdict = run.catalog_check(data, conf["check_out"], [o["attrs"]["query"] for o in timed], {})
    pool, excluded = {}, {}
    for o in timed:
        q = o["attrs"]["query"]
        why = o["attrs"].get("error") if not o["attrs"].get("ok") else verdict.get(q)
        if why:
            excluded[q] = why
        else:
            pool[q] = {"family": o["attrs"]["family"], "seconds": round(run.dur(o), 3)}
    missing = [t for t in ALWAYS if t not in pool]
    if missing:
        run.fail(f"always-run queries fail on the generated data: {[(t, excluded.get(t)) for t in missing]}")
    return {"sf": run.CATALOG_SF, "cores": result["cores"], "always": ALWAYS,
            "pool": dict(sorted(pool.items())), "excluded": dict(sorted(excluded.items()))}


if __name__ == "__main__":
    main()
