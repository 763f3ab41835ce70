"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness
(build.py), generates the workload's inputs from the seed (gen.py), runs one
Spark process that sets up, warms up and drives the workload in a closed
loop for ``--seconds``, checks the outputs (gates.py), and prints one JSON
line: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. Scratch output goes under
``.bench_work/`` and is deleted when the run ends. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

# Input sizes. Scale factor 0.1 is the fixture bench scale (~600k lineitem
# rows); the sizes below keep every run of every workload inside its time
# budget on a 4-core machine.
ETL_SCALE = 0.01
ANALYTICS_SCALE = 0.005
SERVE = dict(n_base=2000, n_batches=5, batch_size=100, n_queries=500)

# The sample that is one op of each workload: op_p50_s and cpu_per_op_s are
# taken over it, and the traced decomposition's coverage is measured against it.
PRIMARY = {"etl_transform": "etl_run_s", "retrieval_serve": "serve_latency_s",
           "analytics_mix": "pass_s"}
JVM_TIMEOUT_S = 165
GEN_REPEATS = 3


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def generate(workload, seed, out):
    if workload == "etl_transform":
        gen.write_catalog(os.path.join(out, "catalog"), seed, ETL_SCALE)
    elif workload == "analytics_mix":
        gen.write_catalog(os.path.join(out, "catalog"), seed, ANALYTICS_SCALE)
    elif workload == "retrieval_serve":
        gen.write_serve(os.path.join(out, "serve"), seed, **SERVE)
    else:
        raise SystemExit(f"unknown workload {workload}")


def run_jvm(cp, args, work, cores):
    log = os.path.join(work, "jvm.log")
    java_opts = [f"-Djava.io.tmpdir={work}", "-Xmx3g", "-Xss8m"]
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    for p in opens:
        java_opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd = ["java", *java_opts, "-cp", cp, "graftbench.Main", *args,
           "--cores", str(cores)]
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"benchmark process failed ({code})")


def med(xs):
    return statistics.median(xs) if xs else 0.0


def run_gates(workload, res, data):
    """(problems, extra measurements) of one run's outputs."""
    import gates
    f = res["facts"]
    sql = f.get("oracle_sql", {})
    if workload == "etl_transform":
        return gates.etl(f["marts_dir"], f["markers"], sql, os.path.join(data, "catalog")), {}
    if workload == "analytics_mix":
        return gates.analytics(f["analytics_dir"], sql, os.path.join(data, "catalog")), {}
    srv = os.path.join(data, "serve")

    def vectors(path):
        t = pq.read_table(path)
        return (np.asarray(t.column(0).to_pylist(), dtype=np.int64),
                np.asarray(t.column(1).to_pylist(), dtype=np.float32))
    parts = [vectors(os.path.join(srv, "base.parquet"))]
    corpora = {}

    def corpus_at(a):
        while len(parts) <= a:
            parts.append(vectors(os.path.join(srv, f"append{len(parts)}.parquet")))
        if a not in corpora:
            corpora[a] = (np.concatenate([p[0] for p in parts[:a + 1]]),
                          np.concatenate([p[1] for p in parts[:a + 1]]))
        return corpora[a]
    queries = vectors(os.path.join(srv, "queries.parquet"))[1]
    bad, recall = gates.serve(f["answers"], corpus_at, queries)
    return bad, {"serve_recall_at_10": recall}


def end_to_end(workload, res, gen_s):
    s, f = res["samples"], res["facts"]
    ops = s.get(PRIMARY[workload], [])
    return {
        "setup_s": gen_s + f["session_s"] + f["setup_jvm_s"],
        "op_p50_s": med(ops),
        "cpu_per_op_s": f["loop_cpu_s"] / max(1, len(ops)),
    }


def workload_metrics(s, extra):
    """The per-workload figures, from untraced samples."""
    q = [k for k in s if k.startswith("query:")]
    lat = s.get("serve_latency_s", [])
    return {
        "etl_run_s": med(s.get("etl_run_s", [])),
        "serve_p50_s": med(lat),
        "serve_p90_s": statistics.quantiles(lat, n=10)[-1] if len(lat) >= 2 else 0.0,
        "serve_requests": len(lat),
        "serve_recall_at_10": extra.get("serve_recall_at_10", 0.0),
        "serve_append_s": med(s.get("serve_append_s", [])),
        "analytics_total_s": sum(med(s[k]) for k in q),
        "memo_build_s": med(s.get("memo_build_s", [])),
    }


def per_layer(workload, res, extra, spec):
    spans, f, s, u = res["spans"], res["facts"], res["samples"], res["untraced"]
    if workload == "analytics_mix":
        covered = sum(med(v["wall_s"]) for n, v in spans.items()
                      if res["parents"].get(n, "").startswith("queries"))
    else:
        covered = med(s.get("coverage_num_s", []))
    traced = med(s.get(PRIMARY[workload], []))
    untraced = med(u.get(PRIMARY[workload], []))
    derived = {
        "trace.overhead_frac": traced / untraced - 1.0 if untraced else 0.0,
        "trace.coverage_ratio": covered / untraced if untraced else 0.0,
        "ops.AnnIndex.loadModel.model_cache_hit_ratio": f.get("model_cache_hit_ratio", 0.0),
        "pipelines.Versioned.read.pruned_frac": med(s.get("pruned_frac", [])),
        "queries.memo.rebuilds": f.get("memo_rebuilds", 0),
    }
    derived.update({f"workload.{k}": v
                    for k, v in workload_metrics(u, extra).items()})
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in derived:
            v = derived[name]
        else:
            span, counter = name.rsplit(".", 1)
            v = med(spans[span][counter]) if span in spans else 0
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its Spark process and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = load_spec()
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")
    cp = build.classpath()
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(ROOT, ".bench_work"))
    try:
        gen_times = []
        for i in range(GEN_REPEATS):
            t0 = time.perf_counter()
            generate(a.workload, a.seed, os.path.join(work, f"data{i}"))
            gen_times.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(os.path.join(work, f"data{i}"))
        data = os.path.join(work, "data0")
        out = os.path.join(work, "result.json")
        cores = os.cpu_count() or 1
        run_jvm(cp, ["--workload", a.workload, "--data", data, "--work", work,
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out],
                work, cores)
        with open(out) as fh:
            res = json.load(fh)
        f = res["facts"]
        sys.stderr.write(f"[perfbench] generate {statistics.median(gen_times):.2f}s, "
                         f"session {f['session_s']:.2f}s, warm-up {f['setup_jvm_s']:.2f}s, "
                         + ", ".join(f"{k} n={len(v)} med={med(v):.3f}"
                                     for k, v in res["samples"].items()) + "\n")
        t0 = time.perf_counter()
        bad, extra = run_gates(a.workload, res, data)
        sys.stderr.write(f"[perfbench] gates {time.perf_counter() - t0:.2f}s {extra}\n")
        for b in bad:
            sys.stderr.write(f"[gate] {b}\n")
        if a.trace:
            metrics = per_layer(a.workload, res, extra, spec)
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in end_to_end(a.workload, res, statistics.median(gen_times)).items()}
        print(json.dumps({"correct": not bad, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
