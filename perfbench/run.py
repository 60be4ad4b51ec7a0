#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the product and the harness
(perfbench/build.py), makes the workload's inputs from the seed, runs
the measured JVM directly on the compiled classpath at local[nproc],
checks every output against the golden files, and prints one JSON
object as the last line of stdout: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. Workloads are defined in
perfbench/workloads.json; the metric names and units in
BENCHMARK.json at the root.

Every run starts with an unmeasured warm-up pass in the cold JVM (its
outputs are the ones checked), then measures warm passes untraced. A
traced run then repeats the measured passes in the same JVM with
tracing on, so the tracing overhead (traced minus untraced wall_s, both
warm) is measured on the same seed, and writes the full per-layer
record to .bench_build/records/<workload>-s<seed>-trace.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import analysis  # noqa: E402
import build  # noqa: E402
import ingest_gen  # noqa: E402

BUILD = build.BUILD
RUN_DEADLINE_S = 170

# --add-opens the JVM needs to run Spark outside spark-submit; the same
# list build.sbt passes to forked runs.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


# ---- output checks ------------------------------------------------------
# canon/frame_key are the canonicalization of tools/verify_local.py (the
# local DuckDB oracle compare): rows sorted, columns by name, floats by
# repr. make_golden.py digests the oracle's rows the same way.

def canon(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        return (1, repr(v))
    if isinstance(v, bool):
        return (2, str(v))
    if isinstance(v, int):
        return (3, str(v))
    return (4, str(v))


def frame_key(rows, names):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def digest(rows, names):
    h = hashlib.sha256(repr(sorted(names)).encode())
    h.update(repr(frame_key(rows, names)).encode())
    return h.hexdigest()


def read_parquet_dir(path):
    import duckdb
    con = duckdb.connect()
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return rel.fetchall(), [d[0] for d in rel.description]


def check_query(name, out_dir, golden):
    """None if the query's written result matches its golden entry,
    else the reason."""
    want = golden.get(name)
    if want is None:
        return "no golden entry"
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        return "no output written"
    rows, names = read_parquet_dir(out_dir)
    if len(rows) != want["rows"]:
        return f"rows {len(rows)} != golden {want['rows']}"
    if want.get("digest") and digest(rows, names) != want["digest"]:
        return "result digest differs from golden"
    return None


def check_ingest(out_dir, truth, golden, seed):
    """Survivors in out_dir against the generator's ground truth
    (every planted exact copy and short text dropped) and, for seeds the
    golden file records, the golden digest of the survivor rows (doc_id,
    content hash, simhash). Returns (failures, survivor ids, digest)."""
    rows, names = [], ["doc_id"]
    if glob.glob(os.path.join(out_dir, "b*", "*.parquet")):
        rows, names = read_parquet_dir(os.path.join(out_dir, "b*"))
    ids = {r[names.index("doc_id")] for r in rows}
    bad = []
    # fresh and near documents go through approximate (LSH) lanes, so
    # only the digest pins them; the deterministic lanes are checked
    # against the ground truth for every seed
    for kind in ("short", "exact_in", "exact_prev"):
        kept = [i for i, k in truth["kinds"].items()
                if k == kind and int(i) in ids]
        if kept:
            bad.append(f"{len(kept)} planted {kind} documents survived "
                       f"(e.g. {kept[0]})")
    got = digest(rows, names)
    want = golden.get(str(seed))
    if want and want != got:
        bad.append("survivors digest differs from golden")
    return bad, ids, got


def ingest_out(work, recs):
    """Output directory of the first measured untraced ingest pass (the
    warm-up pass ingests only the leading batches)."""
    p = next(r["pass"] for r in recs if r["kind"] == "pass"
             and not r["warmup"] and not r["traced"])
    return os.path.join(work, "ingest", f"p{p}", "out")


# ---- running the JVM ----------------------------------------------------

def jvm(cp, params, log_path, deadline):
    # -XX:-UsePerfData: the JVM writes no hsperfdata file under /tmp.
    # Two GC workers, no concurrent GC threads and two JIT compiler
    # threads keep the JVM's own threads from crowding the local[cores]
    # task threads on a small host: in paired surface_small runs on a
    # shared 4-core VM, G1 with the default compiler count burnt about a
    # third more CPU in a warm pass and was no faster.
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:+UseParallelGC",
           "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(params["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness"]
    params = dict(params, launch=repr(time.time()))
    cmd += [f"{k}={v}" for k, v in params.items()]
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("measured JVM ran past the deadline; killed")
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"measured JVM exited {rc}:\n{tail}")
    with open(params["out"]) as f:
        return [json.loads(line) for line in f if line.strip()]


def phase(recs, traced):
    """The records of the untraced or the traced measured passes: pass
    and op records of the other phase and of the warm-up pass are left
    out, every other record kept."""
    return [r for r in recs if r["kind"] not in ("pass", "op")
            or (r["traced"] == traced and not r["warmup"])]


def summarize(recs, bad=frozenset()):
    """End-to-end numbers of the passes in `recs` (one phase). The
    latency percentiles are taken across operations, each one's latency
    the median over the passes. Ops that threw, and every sample of an
    op named in `bad` (its output failed its check), stay out of them."""
    setup = next(r for r in recs if r["kind"] == "setup")
    passes = [r for r in recs if r["kind"] == "pass"]
    ops = [r for r in recs if r["kind"] == "op"]
    end = next(r for r in recs if r["kind"] == "end")
    lat = analysis.op_medians([(o["name"], o["s"]) for o in ops
                               if o["ok"] and o["name"] not in bad])
    tail_v, tail_p, n = analysis.tail(lat)
    return {
        "setup_s": setup["setup_s"],
        "wall_s": analysis.median([p["wall_s"] for p in passes]),
        "cpu_s": analysis.median([p["cpu_s"] for p in passes]),
        "op_p50_s": analysis.median(lat),
        "op_tail_s": tail_v, "tail_pct": tail_p, "samples": n,
        "peak_rss_mb": end["peak_rss_mb"],
        "passes": len(passes),
        "sentinel_s": [r["s"] for r in recs if r["kind"] == "sentinel"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        sys.exit(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(workloads)}")
    if args.seconds <= 0:
        sys.exit("--seconds must be positive")
    wl = workloads[args.workload]
    load0 = os.getloadavg()
    try:
        cp = build.build()
    except RuntimeError as e:
        sys.exit(f"build failed: {e}")
    started = time.time()
    deadline = started + RUN_DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    tables = os.path.join(HERE, "data", wl["tables"])
    if not os.path.isdir(tables):
        sys.exit(f"missing input tables {tables}")
    run_dir = os.path.abspath(os.path.join(
        BUILD, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    truth = None
    if wl["kind"] == "queries":
        ops = list(wl["queries"])
        random.Random(args.seed).shuffle(ops)
    else:
        truth = ingest_gen.generate(args.seed, tables,
                                    os.path.join(run_dir, "inputs"), wl["batches"])
        ops = truth["batches"]
    ops_file = os.path.join(run_dir, "ops.txt")
    with open(ops_file, "w") as f:
        f.write("\n".join(ops) + "\n")

    def run():
        work = os.path.join(run_dir, "work")
        params = {"mode": "run", "cores": cores, "tables": os.path.abspath(tables),
                  "workload": wl["kind"], "ops": ops_file,
                  "warmup": wl.get("warmup_batches", len(ops)),
                  "passes": wl["passes"], "seconds": args.seconds,
                  "trace": args.trace, "work": work,
                  "out": os.path.join(run_dir, "records.jsonl"),
                  "compact": wl.get("compact_threshold", 0)}
        return work, jvm(cp, params, os.path.join(run_dir, "jvm.log"), deadline)

    try:
        result = measure(args, wl, run, truth, len(ops), cores, load0)
    except RuntimeError as e:
        sys.exit(str(e))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"run took {time.time() - started:.1f} s after the build")
    print(json.dumps(result))


def measure(args, wl, run, truth, n_ops, cores, load0):
    """Run the workload (untraced, then traced when asked), check its
    outputs, print every metric, and return the result object."""
    work, recs = run()
    golden_path = os.path.join(HERE, "golden", f"{args.workload}.json")
    golden = json.load(open(golden_path)) if os.path.exists(golden_path) else {}

    # -- checks (after the run, outside every timer) --
    ops_recs = [r for r in recs if r["kind"] == "op"]
    failures, mis_checked = {}, set()
    for o in ops_recs:
        if not o["ok"]:
            failures[f"{o['name']}@pass{o['pass']}"] = o["error"]
    survivors = None
    if wl["kind"] == "queries":
        for o in ops_recs:
            if o["warmup"] and o["ok"]:
                why = check_query(o["name"], os.path.join(work, "check", o["name"]),
                                  golden)
                if why:
                    failures[o["name"]] = why
                    mis_checked.add(o["name"])
    else:
        bad, survivors, _ = check_ingest(ingest_out(work, recs), truth, golden,
                                         args.seed)
        for b in bad:
            failures[f"ingest:{b}"] = b
        if bad:
            mis_checked.update(o["name"] for o in ops_recs)
    for k, v in sorted(failures.items()):
        log(f"FAILED {k}: {v}")
    attempted = len(ops_recs)
    failed = min(attempted, len(failures))

    summary = summarize(phase(recs, False), mis_checked)
    n = summary["samples"]
    op_word = "query" if wl["kind"] == "queries" else "batch"
    e2e = {
        "setup_s": (summary["setup_s"], "s"),
        "wall_s": (summary["wall_s"], "s"),
        "op_p50_s": (summary["op_p50_s"], "s"),
        "op_tail_s": (summary["op_tail_s"], "s"),
        "cpu_s": (summary["cpu_s"], "s"),
        "ok_ratio": (1.0 - failed / attempted, "ratio"),
    }
    log(f"workload={args.workload} seed={args.seed} cores={cores} "
        f"passes={summary['passes']} ops/pass={n_ops} trace={args.trace}")
    log(f"host: loadavg before={load0} after={os.getloadavg()} "
        f"sentinel_s={summary['sentinel_s']}")
    setup = next(r for r in recs if r["kind"] == "setup")
    log(f"setup: session_s={setup['session_s']:.3f} warmup_s={setup['warmup_s']:.3f}")
    for r in recs:
        if r["kind"] == "pass":
            log(f"pass {r['pass']} warmup={r['warmup']} traced={r['traced']} "
                f"wall_s={r['wall_s']:.3f} cpu_s={r['cpu_s']:.3f}")
    for o in ops_recs:
        log(f"op pass={o['pass']} {o['name'].split('/')[-1]} {o['s']:.3f} s "
            + " ".join(f"{k}={v:.3f}" for k, v in o["parts"].items()))
    for k, (v, u) in e2e.items():
        log(f"{k} = {v:.6g} {u}")
    log(f"{op_word}_p50_s = {summary['op_p50_s']:.6g} s  (n={n} {op_word} "
        f"latencies, each the median of {summary['passes']} passes)")
    log(f"{op_word}_tail_s = {summary['op_tail_s']:.6g} s  "
        f"(p{summary['tail_pct']:.1f}, n={n})")
    log(f"fail_ratio = {failed / attempted:.6g} ({failed}/{attempted})")
    # RSS follows the JVM's heap sizing: its run-to-run spread (over 20%
    # here) is too wide for a bound, so it is reported but not gated
    log(f"peak_rss_mb = {summary['peak_rss_mb']:.6g} MB")
    stored = None
    if wl["kind"] == "ingest":
        docs = truth["docs"]
        log(f"docs_per_s = {docs / summary['wall_s']:.6g} 1/s")
        reg = os.path.join(work, "ingest", "p0", "reg")
        stored = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(reg) for f in fs)
        log(f"stored_bytes_per_input_byte = "
            f"{stored / truth['input_bytes']:.6g} ratio")

    if args.trace:
        traced = summarize(phase(recs, True), mis_checked)
        layer = per_layer(phase(recs, True), traced, summary, cores, truth,
                          survivors, stored, wl.get("modules", {}))
        for k in sorted(layer):
            log(f"{k} = {layer[k]:.6g}")
        os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
        with open(os.path.join(BUILD, "records",
                               f"{args.workload}-s{args.seed}-trace.json"),
                  "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "untraced": summary, "traced": traced,
                       "per_layer": layer, "failures": failures}, f, indent=1)
        spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": not failures, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def per_layer(recs, summary, plain, cores, truth, survivors, stored, op_modules):
    """Every per-layer metric of a traced run (see BENCHMARK.json and
    perfbench/workloads.json for what each one should move).
    `op_modules` maps an operation to the module its query exercises."""
    spans = {r["id"]: (r["parent"], r["name"], r["start"], r["end"])
             for r in recs if r["kind"] == "span"}
    job_end = {r["job"]: r["end"] for r in recs if r["kind"] == "job_end"}
    jobs_raw = {r["job"]: r for r in recs if r["kind"] == "job"}
    sql = {r["sql"]: r["details"] for r in recs if r["kind"] == "sql"}
    stage_job = {s: j for j, r in jobs_raw.items() for s in r["stages"]}
    stages = {r["stage"]: r for r in recs if r["kind"] == "stage"}
    tasks = [r for r in recs if r["kind"] == "task"]

    passes = [sid for sid, s in spans.items() if s[1].startswith("pass:")]
    timed = set()
    for p in passes:
        timed |= analysis.subtree(spans, p)
    resolve = {sid for sid, s in spans.items() if s[1].startswith("resolve:")}

    jobs = {j: (r["span"], r["start"], job_end.get(j, r["start"]))
            for j, r in jobs_raw.items() if r["span"] in spans}
    tjobs = {j for j, v in jobs.items() if v[0] in timed}
    ttasks = [t for t in tasks if stage_job.get(t["stage"]) in tjobs]
    out = {}
    # self time per layer over the timed region
    selfs = analysis.self_times(
        spans, jobs, [(stage_job[t["stage"]], t["launch"], t["finish"])
                      for t in tasks if t["stage"] in stage_job], passes)
    for k, v in selfs.items():
        out[f"self.{k}_s"] = v
    out["self.sum_s"] = sum(selfs.values())
    out["wall_s"] = sum(r["wall_s"] for r in recs if r["kind"] == "pass")
    out["trace.overhead_s"] = summary["wall_s"] - plain["wall_s"]
    out["session.s"] = summary["setup_s"]

    res = [r for r in recs if r["kind"] == "resolve"]
    res_jobs = [j for j, v in jobs.items() if v[0] in resolve]
    out["io.resolve_ms"] = 1e3 * analysis.median([r["s"] for r in res])
    out["io.resolve_jobs"] = len(res_jobs) / max(1, len(res))

    ops = [r for r in recs if r["kind"] == "op"]

    def part(name):
        return sum(o["parts"].get(name + "_s", 0.0) for o in ops)

    def span_jobs(name):
        return sum(1 for j in tjobs if spans[jobs[j][0]][1] == name)
    out["queries.build_s"] = part("build")
    out["queries.build_jobs"] = span_jobs("build")
    out["plan.s"] = part("plan")
    out["exec.s"] = part("exec") + part("ingest")
    timed_sql = {jobs_raw[j]["sql"] for j in tjobs}
    for phase in ("analysis", "optimization", "planning"):
        out[f"plan.{phase}_s"] = (
            sum(o["phases"].get(phase, 0.0) for o in ops) +
            sum(r["phases"].get(phase, 0.0) for r in recs
                if r["kind"] == "qe" and r.get("id") in timed_sql))

    out["sched.jobs"] = len(tjobs)
    tstages = {s for j in tjobs for s in jobs_raw[j]["stages"] if s in stages}
    out["sched.stages"] = len(tstages)
    out["sched.tasks"] = len(ttasks)
    by_job = {}
    for t in ttasks:
        by_job.setdefault(stage_job[t["stage"]], []).append(
            (t["launch"], t["finish"]))
    out["sched.idle_s"] = sum(
        (jobs[j][2] - jobs[j][1] - analysis.union_length(by_job.get(j, []))) / 1e3
        for j in tjobs)
    out["exec.task_s"] = sum(t["finish"] - t["launch"] for t in ttasks) / 1e3
    out["exec.cpu_s"] = sum(t["cpu_ns"] for t in ttasks) / 1e9
    out["exec.gc_s"] = sum(t["gc_ms"] for t in ttasks) / 1e3
    out["exec.shuffle_read_mb"] = sum(t["sr_bytes"] for t in ttasks) / 2**20
    out["exec.shuffle_write_mb"] = sum(t["sw_bytes"] for t in ttasks) / 2**20
    out["exec.spill_mb"] = sum(t["spill_bytes"] for t in ttasks) / 2**20
    out["exec.utilization"] = out["exec.task_s"] / max(1e-9, out["wall_s"] * cores)
    out["exec.single_task_stage_s"] = sum(
        (stages[s]["complete"] - stages[s]["submit"]) / 1e3 for s in tstages
        if stages[s]["tasks"] == 1 and stages[s]["submit"] and stages[s]["complete"])

    mods = {m: [0, 0.0, 0.0] for m in analysis.MODULES + ("spark",)}
    task_by_job = {}
    for t in ttasks:
        j = stage_job[t["stage"]]
        task_by_job[j] = task_by_job.get(j, 0.0) + (t["finish"] - t["launch"]) / 1e3
    for j in tjobs:
        r = jobs_raw[j]
        op = analysis.enclosing(spans, jobs[j][0], "op:")
        m = analysis.module_of(r["details"], sql.get(r["sql"]),
                               op_module=op_modules.get(op))
        mods[m][0] += 1
        mods[m][1] += (jobs[j][2] - jobs[j][1]) / 1e3
        mods[m][2] += task_by_job.get(j, 0.0)
    for m, (n, js, ts) in mods.items():
        out[f"mod.{m}.jobs"] = n
        out[f"mod.{m}.job_s"] = js
        out[f"mod.{m}.task_s"] = ts

    out["dedup.checkpoint_jobs"] = sum(
        1 for j in tjobs if jobs_raw[j]["site"].startswith("localCheckpoint"))
    out["dedup.stored_mb"] = (stored or 0) / 2**20
    out["pipeline.survivor_ratio"] = (
        len(survivors) / truth["docs"] if truth and survivors is not None else 0.0)
    return out


if __name__ == "__main__":
    main()
