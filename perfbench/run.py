#!/usr/bin/env python3
"""Benchmark of the change pipeline and the read-side query suites.

Run from the repository root:

    python3 perfbench/run.py --workload minute_diff --seed 1 --seconds 10 --trace 0

`--workload all` runs every workload in turn. The first run compiles
src/main/scala together with perfbench/scala into .bench_build/ with the
Scala compiler that ships in the Spark distribution ($SPARK_HOME/jars, or
pyspark's bundled jars); later runs reuse the classes while the sources are
unchanged.

Each run generates its inputs from the seed (perfbench/gen.py), starts one
JVM with a local[nproc] Spark session and drives the workload closed-loop
with a single client (perfbench/scala/Harness.scala). The last stdout line
is one JSON object {correct, attempted, failed, metrics}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it holds the full detail: sample counts, the tail percentile, input
sizes, host readings and every output check. perfbench/NOTES.md explains
the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
from metrics import median  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
DEADLINE_S = 170  # a run must end within 180 s
SETUP_REPS = 3  # input generation is repeated; setup_s uses the median

SPATIAL = ["pip_join", "knn_join", "dist_join", "tile_histogram", "geo_cluster", "cell_index"]
# curate_corpus runs Dedup.minhashLshPairs and Corpus.connectedComponents
# inside it, so dedup_minhash_lsh and dedup_clusters are left out of the pass
CURATION = ["curate_corpus", "contamination", "ann_topk"]
QUERY_DATA = {"full": dict(orders=20000, parts=5000, docs=5000, vectors=2000),
              "smoke": dict(orders=300, parts=100, docs=120, vectors=80)}

# Why each workload exists is in NOTES.md and BENCHMARK.json. min_ops fixes
# the operation count of a short run: with a time limit alone, a seq just
# over or under it flipped between one and two samples.
WORKLOADS = {
    "minute_diff": dict(kind="update", warmup=1, min_ops=3,
                        full=dict(nodes=200_000, changes=2_000, seqs=60),
                        smoke=dict(nodes=3_000, changes=100, seqs=6)),
    "bulk_catchup": dict(kind="update", warmup=1, min_ops=2,
                         full=dict(nodes=20_000, changes=40_000, seqs=12),
                         smoke=dict(nodes=300, changes=2_000, seqs=4)),
    "queries": dict(kind="query", warmup=1, min_ops=1, queries=SPATIAL + CURATION),
}

END_TO_END = [("setup_s", "s"), ("latency_p50_s", "s"), ("cpu_p50_s", "s")]

UPDATE_SPANS = {  # per-layer metric -> span name in the traced replay
    "lineage.read_snapshot_ms": "SnapshotStore.readTable",
    "lineage.watermark_ms": "SnapshotStore.watermark",
    "lineage.write_node_geoms_ms": "SnapshotStore.writeTable.node_geoms",
    "lineage.write_dirty_ways_ms": "SnapshotStore.writeTable.dirty_way_geoms",
    "lineage.commit_ms": "SnapshotStore.commit",
    "ops.ChangeBatch.compact_ms": "ChangeBatch.compact",
    "ops.ChangeBatch.closure_ms": "ChangeBatch.dependencyClosure",
    "ops.DeltaApply.merge_ms": "DeltaApply.applyChangeBatch",
    "ops.DeltaApply.merge_expect_ms": "DeltaApply.mergeMetrics",
    "ops.GeometryBuild.way_rebuild_ms": "GeometryBuild.buildWayGeoms",
}
STORE_TABLES = ["node_geoms", "dirty_way_geoms", "lineage", "stats"]
PHASES = ["init", "classify", "closure", "merge_expect", "merge"]
LAYERS = ["lineage", "lineage.UpdateJob", "ops.ChangeBatch", "ops.DeltaApply",
          "ops.GeometryBuild", "ops.SpatialJoins", "functions", "text", "ann", "perfbench"]
QUERY_LAYER = {q: "ops.SpatialJoins" for q in SPATIAL[:5]}
QUERY_LAYER.update(cell_index="functions", curate_corpus="text", contamination="text",
                   ann_topk="ann")

PER_LAYER = (
    [(m, "ms") for m in UPDATE_SPANS]
    + [("lineage.rows_rewritten_per_change", "ratio"), ("lineage.store_mb_per_seq", "MB")]
    + [(f"lineage.bytes_written_mb.{t}", "MB") for t in STORE_TABLES]
    + [(f"lineage.UpdateJob.stats_phase_ms.{p}", "ms") for p in PHASES]
    + [("lineage.UpdateJob.unrecorded_ms", "ms"), ("lineage.UpdateJob.spark_jobs", "count"),
       ("lineage.UpdateJob.shuffle_write_mb", "MB"), ("lineage.UpdateJob.spill_mb", "MB"),
       ("lineage.UpdateJob.task_busy_frac", "frac"), ("lineage.UpdateJob.gc_ms", "ms"),
       ("ops.ChangeBatch.dirty_ways", "count"), ("ops.ChangeBatch.dirty_ways_per_change", "ratio")]
    + [m for q in SPATIAL[:5] for m in ((f"ops.SpatialJoins.{q}.s", "s"),
                                        (f"ops.SpatialJoins.{q}.rows", "count"),
                                        (f"ops.SpatialJoins.{q}.shuffle_mb", "MB"))]
    + [("functions.cell_index.s", "s")]
    + [("text.curate_corpus.s", "s"), ("text.contamination.s", "s")]
    + [("ann.ann_topk.s", "s")]
    + [(f"self_ms.{layer}", "ms") for layer in LAYERS]
    + [("tracing.overhead_ms", "ms"), ("host.steal_frac", "frac"), ("host.loadavg", "count")]
)


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    candidates = [Path(home) / "jars"] if home else []
    try:
        import pyspark
        candidates.append(Path(pyspark.__file__).parent / "jars")
    except ImportError:
        pass
    for c in candidates:
        if list(c.glob("scala-compiler-*.jar")):
            return c
    raise BenchError("no Spark jars with a Scala compiler: set SPARK_HOME")


def build():
    """Compile the program and the harness once per source state."""
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BenchError(f"program sources not found under {program}")
    sources = sorted(program.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    digest = hashlib.sha256()
    for src in sources:
        digest.update(str(src.relative_to(ROOT)).encode())
        digest.update(src.read_bytes())
    out = BUILD / "classes" / digest.hexdigest()[:16]
    if (out / "OK").exists():
        return out
    shutil.rmtree(BUILD / "classes", ignore_errors=True)
    out.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out), f"@{argfile}"]
    # cwd: scalac puts "." on its classpath, where perfbench/scala would
    # otherwise shadow the scala package
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          cwd=out)
    if proc.returncode != 0:
        raise BenchError("compile failed:\n" + proc.stdout[-4000:])
    (out / "OK").write_text("ok")
    return out


JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classes, work, conf, deadline):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = dict(conf, work=str(work), out=str(work / "result.json"))
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + JVM_OPENS
           + ["-cp", f"{classes}:{spark_jars()}/*", "perfbench.Harness"]
           + [f"{k}={v}" for k, v in conf.items()])
    log_path = work / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("harness JVM exceeded the run deadline")
    if rc != 0 or not (work / "result.json").exists():
        lines = log_path.read_text().splitlines()
        first = [ln for ln in lines if "Exception" in ln or "Error" in ln][:5]
        raise BenchError(f"harness JVM failed (rc={rc}):\n" + "\n".join(first + lines[-15:]))
    return json.loads((work / "result.json").read_text())


# ------------------------------------------------------------- workloads

def gen_inputs(work, make):
    """Generate inputs SETUP_REPS times into fresh dirs; keep the last."""
    times, result = [], None
    for i in range(SETUP_REPS):
        d = work / f"data{i}"
        t0 = time.perf_counter()
        result = make(d)
        times.append(time.perf_counter() - t0)
        if i + 1 < SETUP_REPS:
            shutil.rmtree(d)
    return d, result, times


def op_cpu_s(op):
    """CPU time of one operation: the client thread plus its Spark tasks.
    JIT compiler and GC threads are left out."""
    return (op["client_cpu_ms"] + op["task_cpu_ms"]) / 1000


def run_update(spec, sizes, seed, seconds, trace, classes, work, deadline):
    def make(d):
        data = gen.gen_update(seed, sizes["nodes"], sizes["changes"], sizes["seqs"])
        gen.write_update(data, d)
        return data

    data_dir, data, gen_times = gen_inputs(work, make)
    t_launch = time.time()
    res = run_jvm(classes, work, dict(
        mode="update", data=data_dir, cores=os.cpu_count(), seconds=seconds, trace=trace,
        warmup=spec["warmup"], min_ops=spec["min_ops"], seqs=sizes["seqs"],
        spans=work / "spans.jsonl"), deadline)
    applied = res["watermark"] or 0
    state, expected_sizes = gen.replay(data, upto=applied)
    checks = [{"name": f"lineage_rows seq={q['seq']}",
               "ok": q["lineage_rows"] == expected_sizes[q["seq"] - 1],
               "got": q["lineage_rows"], "want": expected_sizes[q["seq"] - 1]}
              for q in res["seqs"]]
    checks += [{"name": "warmup", "ok": False, "got": e} for e in res["warmup_errors"]]
    want_sum = gen.state_checksum(state)
    checks.append({"name": "final_snapshot",
                   "ok": res["final_rows"] == len(state) and res["final_checksum"] == want_sum,
                   "got": [res["final_rows"], res["final_checksum"]],
                   "want": [len(state), want_sum]})
    ops = res["ops"]
    ok_ops = [o for o in ops if o["error"] is None]
    lat = [o["wall_ms"] / 1000 for o in ok_ops]
    cpu = [op_cpu_s(o) for o in ok_ops]
    measured = {o["seq"] for o in ops}
    seq_rows = [q for q in res["seqs"] if q["seq"] in measured]
    changes = sizes["changes"]
    store_mb = median([q["bytes_total"] / 1e6 for q in seq_rows])
    t = metrics.tail(lat)
    summary = {
        "seq_latency_p50_s": dict(value=median(lat), unit="s", n=len(lat)),
        "seq_latency_tail_s": dict(value=t and t[0], unit="s", n=len(lat),
                                   percentile=t and t[1]),
        "seq_cpu_p50_s": dict(value=median(cpu), unit="s", n=len(cpu)),
        "changes_per_s": dict(value=changes * len(ok_ops) / sum(lat) if lat else None,
                              unit="1/s", n=len(ok_ops)),
        "store_mb_per_seq": dict(value=store_mb, unit="MB", n=len(seq_rows)),
    }
    inputs = {"nodes": sizes["nodes"], "ways": int(data["members"][0].max()),
              "way_members": len(data["members"][0]), "changes_per_seq": changes,
              "seqs_generated": sizes["seqs"], "seqs_applied": applied,
              "warmup_seqs": spec["warmup"],
              "snapshot_bytes": os.path.getsize(data_dir / "node_geoms.parquet")}
    layer = update_layers(res, ops, seq_rows, changes, work) if trace else {}
    failed_ops = [o for o in ops if o["error"]]
    return dict(res=res, ops=len(ops), failed_ops=failed_ops, checks=checks,
                summary=summary, latency_p50_s=median(lat), cpu_p50_s=median(cpu),
                inputs=inputs, layer=layer, gen_times=gen_times, t_launch=t_launch)


def update_layers(res, ops, seq_rows, changes, work):
    spans = read_spans(work)
    traced = [o for o in ops if o["traced"] and o["error"] is None]
    out = {}
    for metric, name in UPDATE_SPANS.items():
        out[metric] = median([s["ms"] for s in spans if s["name"] == name]) or 0.0
    out["lineage.rows_rewritten_per_change"] = median(
        [q["lineage_rows"] / changes for q in seq_rows])
    out["lineage.store_mb_per_seq"] = median([q["bytes_total"] / 1e6 for q in seq_rows])
    for t in STORE_TABLES:
        out[f"lineage.bytes_written_mb.{t}"] = median([q["bytes"][t] / 1e6 for q in seq_rows])
    walls = {o["seq"]: o["wall_ms"] for o in ops if o["error"] is None}
    for p in PHASES:
        out[f"lineage.UpdateJob.stats_phase_ms.{p}"] = median(
            [q["phase_ms"].get(p, 0) for q in seq_rows])
    out["lineage.UpdateJob.unrecorded_ms"] = median(
        [walls[q["seq"]] - sum(q["phase_ms"].values()) for q in seq_rows if q["seq"] in walls])
    cores = res["cores"]

    def counter(key, scale=1.0):
        return median([o["counters"][key] * scale for o in traced if o["counters"]]) or 0.0

    out["lineage.UpdateJob.spark_jobs"] = counter("jobs")
    out["lineage.UpdateJob.shuffle_write_mb"] = counter("shuffle_write_bytes", 1e-6)
    out["lineage.UpdateJob.spill_mb"] = counter("spill_bytes", 1e-6)
    out["lineage.UpdateJob.task_busy_frac"] = median(
        [o["counters"]["task_run_ms"] / (o["wall_ms"] * cores) for o in traced if o["counters"]]) or 0.0
    out["lineage.UpdateJob.gc_ms"] = median([o["gc_ms"] for o in traced]) or 0.0
    dirty = [o["dirty_ways"] for o in traced if "dirty_ways" in o]
    out["ops.ChangeBatch.dirty_ways"] = median(dirty) or 0.0
    out["ops.ChangeBatch.dirty_ways_per_change"] = (median(dirty) or 0.0) / changes
    out.update(self_times(spans))
    out["tracing.overhead_ms"] = overhead_ms(ops)
    return out


def run_query(spec, size_key, seed, seconds, trace, classes, work, deadline):
    order = list(spec["queries"])
    random.Random(seed).shuffle(order)
    data_dir, _, gen_times = gen_inputs(work, lambda d: gen.write_query(d, **QUERY_DATA[size_key]))
    t_launch = time.time()
    res = run_jvm(classes, work, dict(
        mode="query", data=data_dir, cores=os.cpu_count(), seconds=seconds, trace=trace,
        warmup=spec["warmup"], min_ops=spec["min_ops"],
        queries=",".join(f"{q}:{QUERY_LAYER[q]}" for q in order),
        spans=work / "spans.jsonl"), deadline)
    pins = json.loads((HERE / "pinned.json").read_text())[size_key]
    checks, failed_ops, n_ops, rows = [], [], 0, 0
    for p in res["ops"]:
        for q in p["queries"]:
            n_ops += 1
            want = pins.get(q["q"])
            got = {"rows": q["rows"], "checksum": q["checksum"]}
            if q["error"] or got != want:
                failed_ops.append({"pass": p["i"], "q": q["q"], "error": q["error"],
                                   "got": got, "want": want})
            else:
                rows += q["rows"]
    lat = [p["wall_ms"] / 1000 for p in res["ops"]]
    cpu = [op_cpu_s(p) for p in res["ops"]]
    t = metrics.tail(lat)
    summary = {
        "pass_p50_s": dict(value=median(lat), unit="s", n=len(lat)),
        "pass_cpu_p50_s": dict(value=median(cpu), unit="s", n=len(cpu)),
        "pass_tail_s": dict(value=t and t[0], unit="s", n=len(lat), percentile=t and t[1]),
        "result_rows_per_s": dict(value=rows / sum(lat) if lat else None, unit="1/s"),
        "query_order": order,
    }
    inputs = dict(QUERY_DATA[size_key], queries=len(order),
                  input_bytes=sum(f.stat().st_size for f in data_dir.glob("*.parquet")))
    layer = query_layers(res, work) if trace else {}
    return dict(res=res, ops=n_ops, failed_ops=failed_ops, checks=checks, summary=summary,
                latency_p50_s=median(lat), cpu_p50_s=median(cpu), inputs=inputs, layer=layer,
                gen_times=gen_times, t_launch=t_launch)


def query_layers(res, work):
    spans = read_spans(work)
    by_span = {c["span"]: c["counters"] for c in res["span_counters"]}
    rows = {}
    for p in res["ops"]:
        if p["traced"]:
            for q in p["queries"]:
                rows.setdefault(q["q"], []).append(q["rows"] or 0)
    out = {}
    for q, layer in QUERY_LAYER.items():
        mine = [s for s in spans if s["name"] == q]
        secs = median([s["ms"] / 1000 for s in mine])
        key = f"{layer}.{q}"
        out[f"{key}.s"] = secs or 0.0
        if layer == "ops.SpatialJoins":
            out[f"{key}.rows"] = median(rows.get(q, [])) or 0
            out[f"{key}.shuffle_mb"] = median(
                [by_span[s["id"]]["shuffle_write_bytes"] / 1e6 for s in mine]) or 0.0
    out.update(self_times(spans))
    out["tracing.overhead_ms"] = overhead_ms(res["ops"])
    return out


def read_spans(work):
    spans = [json.loads(line) for line in (work / "spans.jsonl").read_text().splitlines() if line]
    for s in spans:
        s["ms"] = (s["end_ns"] - s["start_ns"]) / 1e6
    return spans


def self_times(spans):
    """Median per traced op of each layer's self time: span duration minus
    the part its child spans cover."""
    child_ms = {}
    for s in spans:
        child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + s["ms"]
    per_op = {}
    for s in spans:
        own = s["ms"] - child_ms.get(s["id"], 0.0)
        layers = per_op.setdefault(s["op"], {})
        layers[s["layer"]] = layers.get(s["layer"], 0.0) + own
    return {f"self_ms.{layer}": median([v.get(layer, 0.0) for v in per_op.values()]) or 0.0
            for layer in LAYERS}


def overhead_ms(ops):
    """Traced minus untraced median op wall time within the traced run
    (ops alternate; replays run outside the timed op)."""
    ok = [o for o in ops if o.get("error") is None]
    traced = median([o["wall_ms"] for o in ok if o["traced"]])
    plain = median([o["wall_ms"] for o in ok if not o["traced"]])
    return traced - plain if traced is not None and plain is not None else 0.0


# ------------------------------------------------------------------- main

def run_workload(name, seed, seconds, trace, smoke, classes):
    spec = WORKLOADS[name]
    size_key = "smoke" if smoke else "full"
    work = BUILD / f"run-{os.getpid()}-{name}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    deadline = time.time() + DEADLINE_S
    cpu0 = metrics.cpu_times()
    try:
        if spec["kind"] == "update":
            r = run_update(spec, spec[size_key], seed, seconds, trace, classes, work, deadline)
        else:
            r = run_query(spec, size_key, seed, seconds, trace, classes, work, deadline)
        if trace:  # keep the spans of the last traced run of each workload
            (BUILD / "spans").mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", BUILD / "spans" / f"{name}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host = {"steal_frac": metrics.steal_frac(cpu0, metrics.cpu_times()),
            "loadavg": metrics.loadavg(), "cores": os.cpu_count()}
    res = r["res"]
    setup_s = median(r["gen_times"]) + (res["first_op_ms"] / 1000 - r["t_launch"])
    peak_rss_mb = res["vm_hwm_kb"] / 1024
    attempted = r["ops"] + len(r["checks"])
    failed = len(r["failed_ops"]) + sum(1 for c in r["checks"] if not c["ok"])
    failed_frac = failed / attempted
    summary = dict(r["summary"],
                   setup_s=dict(value=setup_s, unit="s", n=SETUP_REPS,
                                gen_s=r["gen_times"],
                                session_s=res["session_ready_ms"] / 1000 - r["t_launch"],
                                warmup_s=(res["first_op_ms"] - res["session_ready_ms"]) / 1000),
                   failed_frac=dict(value=failed_frac, unit="frac", n=attempted),
                   peak_rss_mb=dict(value=peak_rss_mb, unit="MB", n=1))
    if trace:
        layer = dict(r["layer"], **{"host.steal_frac": host["steal_frac"],
                                    "host.loadavg": host["loadavg"]})
        values = {m: layer.get(m, 0.0) for m, _ in PER_LAYER}
        units = dict(PER_LAYER)
    else:
        values = {"setup_s": setup_s, "latency_p50_s": r["latency_p50_s"],
                  "cpu_p50_s": r["cpu_p50_s"]}
        units = dict(END_TO_END)
    detail = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
              "smoke": smoke, "metrics": summary, "inputs": r["inputs"], "host": host,
              "measured_s": res["measured_s"],
              "failed_ops": r["failed_ops"][:20],
              "failed_checks": [c for c in r["checks"] if not c["ok"]][:20],
              "checks": len(r["checks"])}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {m: {"value": values[m], "unit": units[m]} for m in values}}
    return detail, result


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    args = ap.parse_args(argv)
    try:
        classes = build()
        names = list(WORKLOADS) if args.workload == "all" else [args.workload]
        results = []
        for name in names:
            detail, result = run_workload(name, args.seed, args.seconds, args.trace,
                                          args.smoke, classes)
            print(json.dumps(detail), flush=True)
            results.append((name, result))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if len(results) == 1:
        print(json.dumps(results[0][1]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for _, r in results),
            "attempted": sum(r["attempted"] for _, r in results),
            "failed": sum(r["failed"] for _, r in results),
            "metrics": {f"{n}.{m}": v for n, r in results for m, v in r["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
