#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload curate|ingest|query-mix \
        --seed N --seconds S [--trace 0|1]

Run from the checkout root. The first run compiles the program (see
build.py). Inputs are generated from the seed under `.bench_run/`, the
JVM side (`perfbench.Main`) drives the program, the saved outputs are
checked against DuckDB, and the last stdout line is one JSON object:
`correct`, `attempted`, `failed` and `metrics` -- every end-to-end metric
of BENCHMARK.json with `--trace 0`, every per-layer metric with
`--trace 1`. The line before it carries the workload's own named figures.
A copy of the full record goes to `.bench_out/` for compare.py.
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
sys.path.insert(0, HERE)

import build  # noqa: E402

DEADLINE_S = 170

# Input sizes. The curation corpus has sf0.1's 5,000 documents;
# the open loop publishes one 10-post file every 50 ms (200 posts/s, well
# under the drain rate this spine reaches on 4 cores) for the run's
# seconds; the backlog is 80 files of 50 posts.
CURATE_DOCS = 5_000
OPEN_INTERVAL_MS, OPEN_POSTS_PER_FILE = 50, 10
BACKLOG_FILES, BACKLOG_POSTS_PER_FILE = 80, 50
POST_T0 = 1_709_251_200  # 2024-03-01 00:00:00 UTC


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))




def generate(workload, seed, seconds, data, trace):
    """Writes the workload's inputs under `data`; returns their properties."""
    import gen
    props = {}
    if workload == "curate":
        props = gen.curation_corpus(f"{data}/corpus", seed, CURATE_DOCS)
    elif workload == "ingest":
        n_open = max(20, int(seconds * 1000 / OPEN_INTERVAL_MS))
        uni, props = gen.posts(f"{data}/pending", seed, n_open, OPEN_POSTS_PER_FILE,
                               POST_T0, 86_400, 2 * 86_400)
        _, back = gen.posts(f"{data}/backlog", seed, BACKLOG_FILES, BACKLOG_POSTS_PER_FILE,
                            POST_T0, 86_400, 2 * 86_400, start_id=10_000_000, universe=uni)
        props.update({f"backlog.{k}": v for k, v in back.items()})
        gen.posts(f"{data}/warmup", seed, 1, OPEN_POSTS_PER_FILE, POST_T0, 86_400, 2 * 86_400,
                  start_id=5_000_000, universe=uni)
        with open(f"{data}/universe.txt", "w") as fh:
            fh.write("\n".join(uni) + "\n")
    else:
        props = gen.tables(f"{data}/tables", seed)
    if trace:
        gen.probe_lineitem(f"{data}/probe", seed)
    return props


def start_jvm(root, cp, args, work):
    jsa = build.archive(root)
    cmd = (["java", f"-Djava.io.tmpdir={work}/tmp"]
           + ([f"-XX:SharedArchiveFile={jsa}"] if jsa else []) + build.JVM_OPTS
           + ["-cp", cp, "perfbench.Main"] + args)
    return subprocess.Popen(cmd, stdout=open(f"{work}/jvm.log", "w"), stderr=subprocess.STDOUT)


def wait_jvm(p, work, deadline):
    try:
        code = p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        code = "timeout"
    if code != 0:
        sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {code}")


def med(xs):
    return statistics.median(xs)


def named_metrics(workload, rec):
    """The workload's own figures, by name (docs/s, family sums, latency)."""
    m = {"setup_s": med(rec["setup_s"]), "setup_cold_s": rec["setup_cold_s"],
         "work_s": med(rec["work_s"]),
         "peak_mem_gib": rec["peak_mem_gib"],
         "error_rate": rec["failed"] / rec["attempted"]}
    if workload != "ingest":
        m["latency_tail_s"] = rec["latency_tail_s"]
        m["latency_tail_pct"] = rec["latency_tail_pct"]
    if workload == "curate":
        m["curate_batch_docs_per_s"] = rec["docs"] / med(rec["batch_s"])
        m["curate_stream_docs_per_s"] = rec["stream_docs"] / med(rec["stream_s"])
        m["curate_samples"] = len(rec["batch_s"])
    elif workload == "ingest":
        m["ingest_latency_p50_s"] = rec["latency_p50_s"]
        m["ingest_latency_tail_s"] = rec["latency_tail_s"]
        m["ingest_latency_tail_pct"] = rec["latency_tail_pct"]
        m["ingest_latency_samples"] = rec["latency_samples"]
        m["ingest_drain_docs_per_s"] = rec["drain_docs_per_s"]
    else:
        fams = rec["families"]
        sums = {f: [sum(p[q] for q in qs) for p in rec["passes"]] for f, qs in fams.items()}
        m["query_mix_s"] = med(rec["work_s"])
        for f in ("relational", "topk", "iterative", "text"):
            m[f"qm_{f}_s"] = med(sums[f])
        m["query_mix_passes"] = len(rec["passes"])
    return m


def layer_metrics(rec, props, spec, untraced_work_s):
    layers = dict(rec.get("layers", {}))
    layers["jvm.gc_s"] = rec["gc_s"]
    layers["box.probe_s"] = rec["probe_s"]
    layers["box.cores"] = cores()
    layers["trace.overhead_s"] = med(rec["work_s"]) - untraced_work_s
    layers["trace.spans"] = len(rec["spans"])
    layers["gen.input_rows"] = next(v for k, v in props.items() if k.startswith("rows."))
    for k, v in props.items():
        if k.startswith("share."):
            layers[f"gen.{k}"] = v
    # every per-layer metric is printed on every workload; a layer the
    # workload never calls spent no time and did no work in it
    return {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]}


def end_to_end(rec, spec):
    vals = {"setup_s": med(rec["setup_s"]),
            "work_s": med(rec["work_s"])}
    return {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}


def untraced_work(root, workload, stamp):
    """Median work_s of the untraced runs of this workload on this build."""
    d = os.path.join(root, ".bench_out")
    vals = []
    for f in os.listdir(d) if os.path.isdir(d) else []:
        r = json.load(open(os.path.join(d, f)))
        if (r["workload"], r["trace"], r.get("build")) == (workload, 0, stamp):
            vals.append(r["named"]["work_s"])
    return med(vals) if vals else None


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["curate", "ingest", "query-mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    root = os.getcwd()
    spec = json.load(open(f"{root}/BENCHMARK.json"))
    cp = build.build(root)
    # a build may take long on a fresh checkout; the run's own budget
    # starts after it
    deadline = time.time() + DEADLINE_S
    # the build stamp plus this package's own scripts, which fix input sizes
    h = hashlib.sha256(open(os.path.join(build.build_dir(root), "stamp"), "rb").read())
    for f in sorted(glob.glob(os.path.join(HERE, "*.py"))):
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    untraced = None
    if a.trace:
        # the tracing overhead is this run's work minus the median of the
        # untraced runs on the same build; make one first if there is none
        untraced = untraced_work(root, a.workload, stamp)
        if untraced is None:
            subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", a.workload,
                            "--seed", str(a.seed), "--seconds", str(a.seconds)],
                           stdout=subprocess.DEVNULL, check=True)
            untraced = untraced_work(root, a.workload, stamp)
    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = f"{run_dir}/data", f"{run_dir}/work"
    os.makedirs(f"{work}/tmp")
    os.makedirs(f"{work}/out")
    jvm = None
    try:
        phases = {}
        t = time.time()
        # the JVM starts while the inputs are generated; its timed set-ups
        # wait for the ready file
        jvm = start_jvm(root, cp, [
            "--workload", a.workload, "--data", data, "--work", work,
            "--out", f"{work}/record.json", "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores()), "--ready", f"{run_dir}/ready",
            "--probe", f"{data}/probe", "--interval-ms", str(OPEN_INTERVAL_MS)], work)
        # numpy, pyarrow and duckdb take a second to load: after the JVM starts
        import oracle
        props = generate(a.workload, a.seed, a.seconds, data, a.trace)
        open(f"{run_dir}/ready", "w").close()
        phases["gen_s"] = time.time() - t
        wait_jvm(jvm, work, deadline)
        rec = json.load(open(f"{work}/record.json"))
        phases["jvm_s"], t = time.time() - t, time.time()
        phases.update({k: rec[k] for k in ("setup_s", "body_s", "save_s") if k in rec})
        verdict = {}
        if rec["checked"]:
            tables = f"{data}/corpus" if a.workload == "curate" else f"{data}/tables"
            verdict = oracle.check(tables, f"{work}/out", rec["checked"], cores(),
                                   max(1.0, deadline - time.time()))
        phases["oracle_s"] = time.time() - t
        bad = {k: v for k, v in verdict.items() if v is not None}
        rec["failed"] += len(bad)
        rec["errors"] += [f"{k}: oracle mismatch: {v}" for k, v in bad.items()]
        named = named_metrics(a.workload, rec)
        metrics = (layer_metrics(rec, props, spec, untraced) if a.trace
                   else end_to_end(rec, spec))
        out = {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
               "failed": rec["failed"], "metrics": metrics}
        os.makedirs(f"{root}/.bench_out", exist_ok=True)
        with open(f"{root}/.bench_out/{a.workload}-s{a.seed}-t{a.trace}-{int(t_start)}.json",
                  "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace, "build": stamp,
                       "cores": cores(), "phases": phases, "inputs": props, "named": named,
                       "errors": rec["errors"], "oracle": verdict, "result": out,
                       "passes": rec.get("passes", []), "probe_shots": rec.get("probe_shots"),
                       "spans": rec.get("spans", [])}, fh, indent=1)
    finally:
        if jvm is not None and jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    for e in rec["errors"]:
        sys.stderr.write(f"perfbench: {e}\n")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cores": cores(),
                      "named": named, "phases": phases, "inputs": props}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
