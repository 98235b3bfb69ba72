#!/usr/bin/env python3
"""The kaer benchmark: one run of one workload.

    python3 kaerbench/run.py --workload search|ann --seed N \\
        --seconds S --trace 0|1

Builds the program from source (see build.py), then runs the workload
in one JVM: Spark at local[nproc], one client thread in a closed loop,
inputs generated from the seed, every answer checked against the
benchmark's own reference. Everything the run writes lives in its own
directory under .bench_runs/, deleted when the run ends.

The last line of standard output is the result: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced
run. The line before it carries the details behind them (sample counts,
percentiles, external load). A wrong answer or a failed build exits
non-zero without a result.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import time
from pathlib import Path

import build

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())

# Per workload, the operation whose latency and throughput are its
# end-to-end numbers.
OPS = {"search": "query", "ann": "ann"}
LAYERS = ["api", "embed", "filter", "plan", "exec", "operators", "core"]
RUN_TIMEOUT_S = 170


def percentile(xs, q):
    """Nearest-rank percentile q (0-100) of xs."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def tail(xs):
    """The highest percentile with at least ten samples beyond it, and
    its value; the median when there are too few samples for any."""
    for q in (99.9, 99, 95, 90, 75):
        if len(xs) * (1 - q / 100) >= 10:
            return q, percentile(xs, q)
    return 50, statistics.median(xs)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def timed(res, kind, phase="plain"):
    """(ms, docs) of every `kind` operation of a timed phase."""
    return [(ms, d) for k, p, ms, d in res["ops"] if k == kind and p == phase]


def end_to_end(res, workload, details):
    kind = OPS[workload]
    ops = timed(res, kind)
    if not ops:
        raise RuntimeError(f"no {kind} operation completed in the timed phase")
    ms = [m for m, _ in ops]
    q, t = tail(ms)
    details.update(op=kind, op_ms=[round(x) for x in ms], op_tail_percentile=q, op_tail_ms=t)
    return {
        "setup_s": (res["setup_s"], "s"),
        "op_p50_ms": (statistics.median(ms), "ms"),
        "docs_per_s": (1000 * sum(d for _, d in ops) / sum(ms), "docs/s"),
    }


def per_layer(res, spans, workload, details):
    """Layer metrics from the traced run's spans: the set-up steps
    (the write path), the traced steps of the timed loop, and the
    dedup shard that follows it."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["ms"] = (s["t1"] - s["t0"]) / 1e6
        s["child_ms"] = 0.0
    for s in spans:
        if s["parent"] in by_id:
            by_id[s["parent"]]["child_ms"] += s["ms"]
    for s in spans:
        r = s
        while r["parent"] in by_id:
            r = by_id[r["parent"]]
        s["root"] = r["name"].split(".")[0]

    def named(name, kind=None):
        return [s for s in spans if s["name"] == name and kind in (None, s["kind"])]

    def dur(name, kind=None):
        return med([s["ms"] for s in named(name, kind)])

    def cnt(name, key, kind=None):
        return med([s["counts"].get(key, 0.0) for s in named(name, kind)])

    timed_spans = [s for s in spans if s["root"] in ("op", "probe")]
    roots = [s for s in timed_spans if s["name"].startswith("op.")]
    m = {}
    for layer in LAYERS:
        self_ms = sum(s["ms"] - s["child_ms"] for s in timed_spans
                      if s["name"].split(".")[0] == layer)
        m[f"{layer}.self_ms"] = (self_ms / max(1, len(roots)), "ms")
    m["filter.translate_ms"] = (dur("filter.translate"), "ms")
    m["filter.scan_filter_ms"] = (dur("filter.scan_filter"), "ms")
    m["filter.bare_scan_ms"] = (dur("filter.bare_scan"), "ms")
    for k, root in (("query", "op.query"), ("ann", "op.ann"), ("dedup", "dedup.shard")):
        m[f"plan.plan_ms.{k}"] = (dur("plan.plan", k), "ms")
        m[f"exec.exec_ms.{k}"] = (dur("exec.exec", k), "ms")
        m[f"exec.jobs.{k}"] = (cnt(root, "jobs"), "count")
        m[f"exec.tasks.{k}"] = (cnt(root, "tasks"), "count")
    for k in ("append", "reopen"):
        m[f"exec.jobs.{k}"] = (cnt(f"setup.{k}", "jobs"), "count")
    for k in ("query", "ann"):
        r = named(f"op.{k}")
        out = sum(s["counts"].get("rows_out", 0) for s in r)
        m[f"exec.rows_per_result.{k}"] = (
            sum(s["counts"].get("rows_in", 0) for s in r) / out if out else 0.0, "ratio")
    m["exec.shuffle_bytes.dedup"] = (cnt("dedup.shard", "shuffle_bytes"), "bytes")
    m["exec.shuffle_bytes.mutate"] = (
        med([s["counts"]["shuffle_bytes"] for s in named("setup.update") + named("setup.delete")]),
        "bytes")
    m["exec.gc_ms"] = (med([s["counts"]["gc_ms"] for s in roots]), "ms")
    m["exec.spill_bytes"] = (med([s["counts"]["spill_bytes"] for s in roots]), "bytes")
    m["exec.peak_exec_mem_mb"] = (
        max([s["counts"]["peak_exec_mem_mb"] for s in roots], default=0.0), "MB")
    m["exec.live_heap_peak_mb"] = (res["extra"]["live_heap_peak_mb"], "MB")
    m["operators.ivf.probe_ms"] = (dur("operators.ivf.probe"), "ms")
    m["operators.ivf.candidates"] = (cnt("operators.ivf.probe", "candidates"), "count")
    m["operators.ivf.recall_at_10"] = (res["extra"].get("ann_recall_at_10", 0.0), "ratio")
    m["operators.dedup.pairs_ms"] = (dur("operators.dedup.pairs"), "ms")
    m["operators.dedup.cluster_ms"] = (dur("operators.dedup.cluster"), "ms")
    m["operators.dedup.verified_pairs"] = (
        cnt("operators.dedup.pairs", "verified_pairs"), "count")
    m["embed.embed_one_ms"] = (dur("embed.embed_one"), "ms")
    m["embed.embed_batch_ms"] = (dur("embed.embed_batch"), "ms")
    m["api.bulk_insert_ms"] = (dur("api.insert", "insert"), "ms")
    m["api.compact_ms"] = (dur("api.compact"), "ms")
    m["api.build_index_ms"] = (dur("api.ensure_index", "index"), "ms")
    m["api.insert_ms"] = (dur("api.insert", "append"), "ms")
    m["api.ensure_index_ms"] = (dur("api.ensure_index", "append"), "ms")
    m["api.index_appends"] = (cnt("setup.append", "index_appends"), "count")
    m["api.index_rebuilds"] = (cnt("setup.append", "index_rebuilds"), "count")
    m["api.mutate_ms"] = (dur("api.mutate"), "ms")
    m["api.reopen_ms"] = (dur("setup.reopen"), "ms")
    m["core.meta_read_ms"] = (dur("core.meta_read"), "ms")
    m["core.scratch_dirs_left"] = (res["extra"].get("scratch_dirs_left", 0.0), "count")
    m["core.space_amp"] = (res["extra"].get("space_amp", 0.0), "ratio")
    kind = OPS[workload]
    plain = [ms for ms, _ in timed(res, kind)]
    traced = [ms for ms, _ in timed(res, kind, "traced")]
    m["trace.overhead_ms"] = (med(traced) - med(plain), "ms")
    details.update(traced_ops=len(roots), spans=len(spans), op=kind,
                   plain_op_ms=[round(x) for x in plain],
                   traced_op_ms=[round(x) for x in traced])
    return m


def run(args):
    archive_flag = build.ensure()
    run_dir = ROOT / ".bench_runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        cmd = build.java_cmd(run_dir / "tmp", archive_flag) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", str(run_dir), "--cores", str(os.cpu_count() or 1),
            "--launched-ms", str(int(time.time() * 1000))]
        done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=RUN_TIMEOUT_S)
        if done.returncode != 0:
            raise RuntimeError(f"benchmark JVM exited with {done.returncode}")
        res = json.loads((run_dir / "result.json").read_text())
        details = {"workload": args.workload, "seed": args.seed, "cores": res["cores"],
                   "attempted": res["attempted"], "failed": res["failed"]}
        details.update(res["extra"])
        if args.trace:
            spans = [json.loads(line) for line in (run_dir / "spans.jsonl").open()]
            metrics = per_layer(res, spans, args.workload, details)
        else:
            metrics = end_to_end(res, args.workload, details)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass
    wanted = [m["name"] for m in BENCHMARK["per_layer" if args.trace else "end_to_end"]]
    if sorted(wanted) != sorted(metrics):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json")
    print(json.dumps(details))
    print(json.dumps({
        "correct": True,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("kaerbench: terminated"))
    try:
        run(args)
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        sys.exit(f"kaerbench: {e}")


if __name__ == "__main__":
    main()
