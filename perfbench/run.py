#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the harness in
`perfbench/` with sbt (once per source state), generates the
workload's inputs from the seed (cached per seed and size under
.bench_build/), computes the DuckDB oracle answers for them, then runs
the harness JVM, which sets up several times, measures for the given
seconds and checks every output. All metrics go to
.bench_build/perfbench/work/<workload>/result.json; the last line of
stdout is the summary object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (spans in spans.jsonl next to the result file).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

WORKLOADS = ["olap_tpch", "llm_dedup", "graph_ml_iterative", "stream_ingest"]


def metric_units(kind):
    """name -> unit of the "end_to_end" or "per_layer" metrics"""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "gen.py")]
    for d in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(stamp):
    """sbt compile of the library and the harness; returns the runtime
    classpath. Skipped when the sources are unchanged."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        # no sbt server socket and no JVM perf data files: the build
        # writes nothing outside the checkout but its own caches
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", f"-Djna.tmpdir={tmp}",
             "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=850)
        out.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines()
             if ln.strip() and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    # the spec is dumped from the new build on first use
    if os.path.exists(os.path.join(BUILD, "spec.json")):
        os.remove(os.path.join(BUILD, "spec.json"))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, main_args, work):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # driver heap: half the machine's memory, clamped to [2, 8] GB
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        heap = min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        heap = 2
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + [
        f"-Xmx{heap}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp] + main_args)


def spec(cp):
    """The op mixes' sizes, parameters and DuckDB oracle SQL, as the
    harness defines them (perfbench.Spec)."""
    path = os.path.join(BUILD, "spec.json")
    if not os.path.exists(path):
        work = os.path.join(BUILD, "work")
        r = subprocess.run(java_cmd(cp, ["perfbench.Main", "--dump-spec", path],
                                    work), cwd=work, capture_output=True,
                           text=True, timeout=120)
        if r.returncode != 0:
            fail("spec dump failed: " + r.stderr[-2000:])
    with open(path) as f:
        return json.load(f)


def graph_inputs(d, seed, sp):
    """the power-law co-purchase graph, its oracle answers and its
    reference components and 3-core"""
    import gen
    sizes = gen.star_schema(d, seed, sp["graph_sf"], part_zipf=sp["graph_zipf"])
    gen.oracle(d, sp["oracle"]["graph"], os.path.join(d, "expected.json"))
    sizes["edges"] = gen.graph_truth(d, os.path.join(d, "truth.json"))["edges"]
    return sizes


def inputs(workload, seed, sp, stamp):
    """Generates (or reuses) the seed's inputs; returns (dir, gen_s).
    The cache key holds the source stamp: the oracle answers depend on
    the library's oracle SQL and on gen.py."""
    import gen
    size = {"olap_tpch": f"sf{sp['olap_sf']}",
            "llm_dedup": f"d{sp['llm_docs']}",
            "graph_ml_iterative": f"sf{sp['graph_sf']}z{sp['graph_zipf']}",
            "stream_ingest": "open"}[workload]
    base = os.path.join(BUILD, "data")
    d = os.path.join(base, f"{workload}-s{seed}-{size}-{stamp[:12]}")
    if os.path.exists(os.path.join(d, "done")):
        return d, 0.0
    shutil.rmtree(d, ignore_errors=True)
    # keep the data of at most two other seeds per workload
    old = sorted(glob.glob(os.path.join(base, f"{workload}-s*")),
                 key=os.path.getmtime)
    for o in old[:-2]:
        shutil.rmtree(o, ignore_errors=True)
    t0 = time.time()
    os.makedirs(d)
    if workload == "olap_tpch":
        sizes = gen.star_schema(d, seed, sp["olap_sf"],
                                micro_csv_rows=sp["micro_rows"])
        gen.oracle(d, sp["oracle"]["olap_tpch"],
                   os.path.join(d, "expected.json"))
        graph = graph_inputs(os.path.join(d, "graph"), seed, sp)
        sizes["graph_edges"] = graph["edges"]
    elif workload == "llm_dedup":
        sizes = gen.corpus(d, seed, sp["llm_docs"],
                           quality_min=sp["quality_min"], ngram=sp["ngram"],
                           span_w=sp["ngram"])
    elif workload == "graph_ml_iterative":
        sizes = graph_inputs(d, seed, sp)
    else:
        sizes = {}
    with open(os.path.join(d, "sizes.json"), "w") as f:
        json.dump(sizes, f)
    gen_s = time.time() - t0
    open(os.path.join(d, "done"), "w").close()
    return d, gen_s


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the library sources (build.sbt, src/main/scala/graft) are "
             "missing; run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    sys.path.insert(0, HERE)

    stamp = source_stamp()
    cp = build(stamp)
    built = time.time()
    data, gen_s = inputs(a.workload, a.seed, spec(cp), stamp)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "harness.json")
    cmd = java_cmd(cp, ["perfbench.Main", "--workload", a.workload,
                        "--data", data, "--work", work,
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--seed", str(a.seed), "--out", result_path], work)
    # JVM start and set-ups take ~20 s, the last pass may run past
    # --seconds, and a traced run times every op twice
    budget = max(170.0, 60.0 + a.seconds * (8 if a.trace else 4))
    with open(os.path.join(work, "harness.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=log, stderr=log,
                               timeout=budget - (time.time() - built))
        except subprocess.TimeoutExpired:
            fail(f"harness timed out, see {work}/harness.log")
    if r.returncode != 0 or not os.path.exists(result_path):
        fail(f"harness failed ({r.returncode}), see {work}/harness.log")
    with open(result_path) as f:
        h = json.load(f)

    if a.trace:
        raw = dict(h["per_layer"])
        raw["bench.gen_s"] = gen_s
        metrics = {k: {"value": _num(raw.get(k)), "unit": u}
                   for k, u in metric_units("per_layer").items()}
    else:
        metrics = {k: {"value": _num(h["end_to_end"][k]["value"]), "unit": u}
                   for k, u in metric_units("end_to_end").items()}
    for k, m in metrics.items():
        print(f"{k} = {m['value']} {m['unit']}")
    if a.trace:
        # figures of the workloads BENCHMARK.json does not list
        for k, v in sorted(raw.items()):
            if k not in metrics:
                print(f"{k} = {_num(v)}")
    for op, why in h["failures"].items():
        print(f"FAILED {op}: {why}")
    out = {"correct": bool(h["correct"]), "attempted": int(h["attempted"]),
           "failed": int(h["failed"]), "metrics": metrics}
    line = json.dumps(out)
    with open(os.path.join(work, "result.json"), "w") as f:
        f.write(line + "\n")
    print(line)


def _num(v):
    # a metric that does not apply to this workload reads 0
    return 0.0 if v is None or v != v else float(v)


if __name__ == "__main__":
    main()
