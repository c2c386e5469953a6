#!/usr/bin/env python3
"""The repo benchmark: times the program's public entry points from outside
the program on one of three workloads, checks every output, and prints one
JSON result line last.

    python3 perfbench/run.py --workload activity_sql --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json):
  activity_sql   star-schema and customer-activity queries over seeded
                 fixture-scale tables (sf0.01: 60,000 lineitem rows)
  llm_corpus     the h122 curation pipeline plus the h15 IVF ANN query over
                 a seeded 800-document corpus and 1,000 vectors
  lakehouse_etl  the six flows of the daily lakehouse job over 30,000
                 generated transactions

With --trace 0 the result carries the end-to-end metrics, with --trace 1 the
per-layer ones. A traced run also writes a span file (one JSON line per
pass, op phase and check) under .bench_work/; stdout keeps a short digest.
Run from the root of a checkout: the program is built from its sources into
.bench_build/ on first use.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {
    "activity_sql": dict(scale=0.01, docs=500, vecs=500),
    "llm_corpus": dict(scale=0.001, docs=800, vecs=1000),
    "lakehouse_etl": dict(scale=0.001, docs=500, vecs=500),
}
FLOWS = ["ingestTransactions", "ingestCustomers", "ingestProducts",
         "curateFact", "curateCustomerDim", "curateProductDim"]
KERNELS = ["ArgMaxCosine", "CosineSimilarity", "DotWeights", "HashedBigramBuckets",
           "HyperplaneSignature", "MarkerHits", "MaxRunLength", "MinHashSignature",
           "SimHashLong", "TokenBucketCounts", "TrigramBuckets", "WinnowMins"]
CURATION = "h122_curation_pipeline"
RUN_LIMIT_S = 170  # the whole run, build excluded
JVM_OPTS = ["-Xmx2g", "-Xss8m", "-XX:-UsePerfData"] + [
    arg for pkg in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                    "java.net", "java.nio", "java.util", "java.util.concurrent",
                    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                    "sun.security.action", "sun.util.calendar"]
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def run_checks(res, work, workload):
    """Returns (failures, per-check spans)."""
    oracle = checks.Oracle()
    failures, spans = [], []
    sqls = res["oracles"]
    for p in res["passes"]:
        for op in p["ops"]:
            for d in op["dumps"]:
                t0 = time.time()
                bad = []
                if d["op"] == CURATION:
                    bad += checks.ledger_chain(d["op"], checks.ledger(d["path"]))
                if d["op"] in sqls:
                    bad += oracle.compare(d["op"], sqls[d["op"]], d["path"], d["inputs"])
                failures += [f"{p['id']}: {b}" for b in bad]
                spans.append(dict(span="check", pass_id=p["id"], op=d["op"], start_s=t0,
                                  dur_s=time.time() - t0, ok=not bad))
    if workload == "lakehouse_etl":
        roots = [p["id"] for p in res["passes"] if p["kind"] in ("check", "timed")]
        for pid in (roots[0], roots[-1]):
            t0 = time.time()
            csv = os.path.join(work, "csv_warm" if pid == "check" else "csv")
            bad = checks.etl_conservation(os.path.join(work, "lake", pid), csv, os.path.join(work, "csv"),
                                          edge_cases=pid != "check")
            failures += bad
            spans.append(dict(span="check", pass_id=pid, op="etl_conservation", start_s=t0,
                              dur_s=time.time() - t0, ok=not bad))
    return failures, spans


def end_to_end(res, t_start):
    timed = [p for p in res["passes"] if p["kind"] == "timed"]
    lat = [o["wall_s"] for p in timed for o in p["ops"] if "error" not in o]
    return {
        "setup_s": (res["first_timed_ms"] / 1e3 - t_start, "s"),
        "wall_s": (median([p["wall_s"] for p in timed]), "s"),
        "op_geomean_s": (geomean(lat), "s"),
    }


def per_layer(res, fail_ratio):
    traced = next(p for p in res["passes"] if p["kind"] == "traced")
    untraced = next(p for p in res["passes"] if p["kind"] == "untraced")
    ops = {o["name"]: o for o in traced["ops"]}
    cores = res["cores"]

    def span(op, label):
        return sum(s["dur_s"] for s in op["spans"] if s["label"] == label) if op else 0.0

    def total(field):
        return sum(o.get("stats", {}).get(field, 0.0) for o in traced["ops"])

    m = {
        "trace_overhead": (traced["wall_s"] / untraced["wall_s"], "ratio"),
        "queries.build_s": (sum(span(o, "build") for o in traced["ops"]), "s"),
        "queries.exec_s": (sum(span(o, "exec") for o in traced["ops"]), "s"),
        "spark.busy_ratio": (total("spark.run_s") / (traced["wall_s"] * cores), "ratio"),
    }
    for f, unit in [("plan.exchanges", "count"), ("plan.sort_aggregates", "count"),
                    ("plan.broadcasts", "count"), ("plan.unpartitioned_windows", "count"),
                    ("spark.stages", "count"), ("spark.tasks", "count"),
                    ("spark.small_tasks", "count"), ("spark.task_wait_s", "s"),
                    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
                    ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"),
                    ("spark.failed_tasks", "count"), ("scan.input_bytes", "bytes"),
                    ("scan.input_rows", "count"), ("scan.tasks", "count")]:
        m[f] = (total(f), unit)
    kernels = res["kernels"]
    for k in KERNELS:
        m[f"kernel.{k}.rows_per_s"] = (kernels.get(k, 0.0), "rows/s")
    cur = ops.get(CURATION)
    m["curate.call_s"] = (span(cur, "build"), "s")
    m["curate.audit_s"] = (span(cur, "exec"), "s")
    m["curate.export_s"] = (span(cur, "export"), "s")
    m["materialize.block_bytes_peak"] = (res["block_bytes_peak"], "bytes")
    m["materialize.block_bytes_after_op"] = (
        max((o.get("block_bytes_after", 0.0) for o in traced["ops"]), default=0.0), "bytes")
    for f in FLOWS:
        op = ops.get(f)
        wall = op["wall_s"] if op else 0.0
        run_s = op.get("stats", {}).get("spark.run_s", 0.0) if op else 0.0
        m[f"pipeline.{f}_s"] = (wall, "s")
        m[f"pipeline.{f}_busy_ratio"] = (run_s / (wall * cores) if wall else 0.0, "ratio")
    extra = traced["extra"]
    m["pipeline.files_written"] = (extra.get("files_written", 0.0), "count")
    m["pipeline.bytes_written"] = (extra.get("bytes_written", 0.0), "bytes")
    m["write_amp"] = (extra["bytes_written"] / extra["input_bytes"] if extra.get("input_bytes") else 0.0,
                      "ratio")
    m["fail_ratio"] = (fail_ratio, "ratio")
    m["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    return m


def write_spans(path, res, check_spans):
    """One JSON line per pass, op phase and check; every span of a pass
    shares the pass id, and an op phase's parent is its pass."""
    run_id = f"{res['workload']}-{res['seed']}"
    with open(path, "w") as f:
        for p in res["passes"]:
            pid = f"{run_id}-{p['id']}"
            f.write(json.dumps(dict(span="pass", id=pid, kind=p["kind"], start_s=p["start_ms"] / 1e3,
                                    dur_s=p["wall_s"])) + "\n")
            for o in p["ops"]:
                for s in o["spans"]:
                    f.write(json.dumps(dict(span=s["label"], pass_id=pid, parent=pid, op=o["name"],
                                            start_s=s["start_ms"] / 1e3, dur_s=s["dur_s"],
                                            error=o.get("error"), stats=o.get("stats"))) + "\n")
        for s in check_spans:
            s = dict(s, pass_id=f"{run_id}-{s['pass_id']}")
            s["parent"] = s["pass_id"]
            f.write(json.dumps(s) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    cp = build.build(root)
    t_start = time.time()
    work = os.path.join(root, ".bench_work", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spec = WORKLOADS[a.workload]
    inputs = os.path.join(work, "inputs")
    gen.generate(inputs, a.seed, spec["scale"], spec["docs"], spec["vecs"])

    deadline = t_start + RUN_LIMIT_S - 30
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Harness",
           "--workload", a.workload, "--inputs", inputs, "--work", work,
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
           "--start-ms", str(int(t_start * 1000)), "--deadline-ms", str(int(deadline * 1000))]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, t_start + RUN_LIMIT_S - 10 - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -1
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: the harness exited with {rc}")
    res = json.load(open(result_file))

    failures, check_spans = run_checks(res, work, a.workload)
    errors = [f"{p['id']}: {o['name']}: {o['error']}" for p in res["passes"] for o in p["ops"]
              if "error" in o]
    attempted = int(res["attempted"])
    failed = min(attempted, len(errors) + len(failures))
    metrics = per_layer(res, failed / attempted) if a.trace else end_to_end(res, t_start)

    spans_file = os.path.join(work, "spans.jsonl")
    write_spans(spans_file, res, check_spans)
    for sub in ("inputs", "check", "lake", "csv", "csv_warm", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)

    passes = [f"{p['id']}={p['wall_s']:.2f}s" for p in res["passes"]]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} cores={res['cores']} "
          f"inputs={json.dumps(res['inputs'], separators=(',', ':'))} passes={' '.join(passes)}")
    conf = {k: v for k, v in res["conf"].items() if not k.endswith("extraJavaOptions")
            and k not in ("spark.app.id", "spark.app.startTime", "spark.driver.port")}
    print("perfbench conf " + json.dumps(conf, separators=(",", ":")))
    for msg in (errors + failures)[:10]:
        print(f"perfbench FAIL {msg[:300]}")
    print(f"perfbench checks: {len(check_spans)} run, {len(failures)} failed; spans in "
          f"{os.path.relpath(spans_file, root)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
