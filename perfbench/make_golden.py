#!/usr/bin/env python3
"""Regenerate perfbench's golden output files, cross-checked.

    python3 perfbench/make_golden.py <workload> [seed ...]

Query workloads: runs every query of the workload once, digests each
result with the canonicalization run.py checks with, and compares the
digest with the DuckDB oracle's result on the same tables for every
query that has an oracle (SparkEntry.oracleSql). Queries without an
oracle keep a row count only. Any disagreement aborts without writing.

ingest_batches: runs the given seeds (default 1-10), checks each against
the generator's ground truth, and records its survivors digest.

Writes perfbench/golden/<workload>.json. Run it only on a commit whose
outputs are known good.
"""
import json
import os
import shutil
import sys
import time

import run

HERE = run.HERE


def main():
    name = sys.argv[1]
    wl = json.load(open(os.path.join(HERE, "workloads.json")))[name]
    cp = run.build.build()
    cores = len(os.sched_getaffinity(0))
    tables = os.path.abspath(os.path.join(HERE, "data", wl["tables"]))
    base = os.path.abspath(os.path.join(run.BUILD, "golden", name))
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    deadline = time.time() + 3600

    def jvm(mode, ops_file, work, tag):
        params = {"mode": mode, "cores": cores, "tables": tables,
                  "workload": wl["kind"], "ops": ops_file,
                  "warmup": wl.get("warmup_batches", len(wl.get("queries", ()))),
                  "passes": 0 if wl["kind"] == "queries" else 1, "seconds": 0,
                  "trace": 0, "work": work,
                  "out": os.path.join(base, f"{tag}.jsonl"),
                  "compact": wl.get("compact_threshold", 0)}
        return run.jvm(run.build.classpath(), params,
                       os.path.join(base, f"{tag}.log"), deadline)

    out = {}
    if wl["kind"] == "queries":
        import duckdb
        oracles = {r["name"]: r["sql"]
                   for r in jvm("oracles", "-", base, "oracles")}
        ops_file = os.path.join(base, "ops.txt")
        open(ops_file, "w").write("\n".join(wl["queries"]) + "\n")
        work = os.path.join(base, "work")
        recs = jvm("run", ops_file, work, "run")
        con = duckdb.connect()
        for t in os.listdir(tables):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{tables}/{t}'")
        bad = []
        for o in (r for r in recs if r["kind"] == "op"):
            q = o["name"]
            if not o["ok"]:
                bad.append(f"{q}: {o['error']}")
                continue
            rows, names = run.read_parquet_dir(os.path.join(work, "check", q))
            d = run.digest(rows, names)
            if q in oracles:
                rel = con.sql(oracles[q])
                want = run.digest(rel.fetchall(), [c[0] for c in rel.description])
                if want != d:
                    bad.append(f"{q}: Spark result differs from the DuckDB oracle")
                    continue
                out[q] = {"rows": len(rows), "digest": d}
            else:
                out[q] = {"rows": len(rows), "digest": None}
            print(f"{q}: {len(rows)} rows, "
                  f"{'oracle match' if q in oracles else 'no oracle, rows only'}")
        if bad:
            sys.exit("not written:\n" + "\n".join(bad))
    else:
        seeds = [int(s) for s in sys.argv[2:]] or list(range(1, 11))
        for seed in seeds:
            in_dir = os.path.join(base, f"inputs-s{seed}")
            truth = run.ingest_gen.generate(seed, tables, in_dir, wl["batches"])
            ops_file = os.path.join(base, f"ops-s{seed}.txt")
            open(ops_file, "w").write("\n".join(truth["batches"]) + "\n")
            work = os.path.join(base, f"work-s{seed}")
            recs = jvm("run", ops_file, work, f"run-s{seed}")
            bad, ids, digest = run.check_ingest(
                run.ingest_out(work, recs), truth, {}, seed)
            if bad:
                sys.exit(f"seed {seed} fails its ground truth: {bad}")
            out[str(seed)] = digest
            print(f"seed {seed}: {len(ids)} survivors of {truth['docs']}")
    os.makedirs(os.path.join(HERE, "golden"), exist_ok=True)
    with open(os.path.join(HERE, "golden", f"{name}.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
