"""One benchmark run inside the Spark process (started by ``run.py``).

    python -m perfbench.bench --workload W --seed N --seconds S --trace 0|1 --out FILE

Writes the run's result (metrics, sample counts, environment) to FILE.
"""

from __future__ import annotations

import argparse
import json
import statistics
import time
from typing import Dict, List

from . import gen, stats
from .trace import Tracer, clock_offset, op_summary, ops, self_times
from .workloads import WORKLOADS, Ctx

# name -> (unit, better); the order is the order printed. Op costs are
# CPU time of the process tree, not wall time: on a shared host, wall time
# swings with other tenants' load (30-70% between runs while this was
# written), CPU time much less. Wall latencies are printed in the report.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "primary_cpu_ms": ("ms", "lower"),
    "secondary_cpu_ms": ("ms", "lower"),
}

OP_KINDS = ("get", "multi_get", "scan", "json_scan", "update_all", "resolve",
            "process_batch", "poll_ack", "cluster")
LAYERS = ("bench", "language", "compiler", "datastore", "writer", "resolve_ops",
          "databus", "dedup")

PER_LAYER = {
    "proc.peak_rss_mb": ("MB", "lower"),
    "driver.empty_job_ms": ("ms", "lower"),
    **{f"driver.jobs_per_op.{k}": ("count", "lower") for k in OP_KINDS},
    "driver.idle_s": ("s", "lower"),
    "driver.idle_share": ("ratio", "lower"),
    "language.parse_delta.ms": ("ms", "lower"),
    "language.parse_condition.ms": ("ms", "lower"),
    "compiler.compile.ms": ("ms", "lower"),
    "compiler.json.ms": ("ms", "lower"),
    "datastore.get.ms": ("ms", "lower"),
    "datastore.multi_get.ms": ("ms", "lower"),
    "datastore.scan.ms": ("ms", "lower"),
    "datastore.json_scan.ms": ("ms", "lower"),
    "datastore.scan.rows_examined_per_row": ("ratio", "lower"),
    "writer.update_all.ms": ("ms", "lower"),
    "writer.files_per_call": ("count", "lower"),
    "writer.log_files": ("count", "lower"),
    "resolve_ops.resolve.s": ("s", "lower"),
    "resolve_ops.python_total_s": ("s", "lower"),
    "resolve_ops.python_boot_s": ("s", "lower"),
    "resolve_ops.shuffle_write_bytes": ("bytes", "lower"),
    "resolve_ops.tasks": ("count", "lower"),
    "core.resolver.deltas_per_python_s": ("1/s", "higher"),
    "databus.process_batch.s": ("s", "lower"),
    "databus.merge_batch.s": ("s", "lower"),
    "databus.read_buckets.ms": ("ms", "lower"),
    "databus.write_buckets.s": ("s", "lower"),
    "databus.buckets_touched": ("count", "lower"),
    "databus.state_bytes_rewritten_per_input_byte": ("ratio", "lower"),
    "databus.fold.python_total_s": ("s", "lower"),
    "databus.redundant_ratio": ("ratio", "lower"),
    "databus.poll.ms": ("ms", "lower"),
    "databus.acknowledge.ms": ("ms", "lower"),
    "queues.claims_files": ("count", "lower"),
    "queues.acks_files": ("count", "lower"),
    "dedup.star.rounds": ("count", "lower"),
    "dedup.star.jobs_per_round": ("count", "lower"),
    "dedup.star.s": ("s", "lower"),
    "dedup.minlabel.rounds": ("count", "lower"),
    "dedup.minlabel.jobs_per_round": ("count", "lower"),
    "dedup.minlabel.s": ("s", "lower"),
    **{f"self.{layer}.s": ("s", "lower") for layer in LAYERS},
    "trace.op_wall_s": ("s", "lower"),
    "trace.self_coverage": ("ratio", "higher"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "trace.bookkeeping_ratio": ("ratio", "lower"),
    "trace.collect_ms": ("ms", "lower"),
    "trace.ops_traced": ("count", "higher"),
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def empty_job_ms(spark, n: int = 12) -> float:
    """Median latency of a one-task job from the session (plan + schedule
    + collect): the fixed floor every Spark-backed op pays per job."""
    for _ in range(3):
        spark.range(0, 1, 1, 1).collect()
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).collect()
        out.append((time.perf_counter() - t0) * 1e3)
    return _median(out)


def layer_metrics(ctx: Ctx, tracer: Tracer, empty_ms: float) -> Dict[str, float]:
    m = {k: 0.0 for k in PER_LAYER}
    m["driver.empty_job_ms"] = empty_ms
    spans = tracer.spans
    if not spans:
        return m
    off = clock_offset()
    selfs = self_times(spans)
    by_op = ops(spans)
    summaries = [op_summary(spans, idxs, off) for idxs in by_op.values()]

    def named(name):
        return [s for s in spans if s.name == name]

    def med_ms(name):
        return _median(s.dur * 1e3 for s in named(name))

    def med_s(name):
        return _median(s.dur for s in named(name))

    for k in OP_KINDS:
        m[f"driver.jobs_per_op.{k}"] = _median(o["jobs"] for o in summaries if o["kind"] == k)
    wall = sum(o["wall_s"] for o in summaries)
    m["driver.idle_s"] = sum(o["idle_s"] for o in summaries)
    m["driver.idle_share"] = m["driver.idle_s"] / wall if wall else 0.0

    # per-op sums of an inner span
    def per_op(name, kind):
        tot = {}
        for s in spans:
            if s.name == name:
                tot[s.op] = tot.get(s.op, 0.0) + s.dur
        return [tot.get(op, 0.0) for op, idxs in by_op.items() if spans[idxs[0]].name == kind]

    m["language.parse_delta.ms"] = _median(x * 1e3 for x in per_op("language.parse_delta",
                                                                 "update_all"))
    m["language.parse_condition.ms"] = med_ms("language.parse_condition")
    m["compiler.compile.ms"] = med_ms("compiler.compile")
    m["compiler.json.ms"] = med_ms("compiler.json")
    for k in ("get", "multi_get", "scan", "json_scan"):
        m[f"datastore.{k}.ms"] = med_ms(f"datastore.{k}")
    scans = named("datastore.scan") + named("datastore.json_scan")
    returned = sum(s.metrics.get("rows_returned", 0) for s in scans)
    examined = sum(st["input_records"] for s in scans for st in s.stages)
    m["datastore.scan.rows_examined_per_row"] = examined / returned if returned else 0.0

    m["writer.update_all.ms"] = med_ms("writer.update_all")
    m["writer.files_per_call"] = _median(ctx.layer.get("writer.files_per_call", []))
    m["writer.log_files"] = max(ctx.layer.get("writer.log_files", [0]))

    res = named("resolve_ops.resolve")
    m["resolve_ops.resolve.s"] = med_s("resolve_ops.resolve")
    m["resolve_ops.python_total_s"] = _median(s.metrics.get("python_total_s", 0) for s in res)
    m["resolve_ops.python_boot_s"] = _median(s.metrics.get("python_boot_s", 0) for s in res)
    m["resolve_ops.shuffle_write_bytes"] = _median(
        sum(st["shuffle_write_bytes"] for st in s.stages) for s in res)
    m["resolve_ops.tasks"] = _median(sum(st["tasks"] for st in s.stages) for s in res)
    rates = [d / s.metrics["python_total_s"]
             for s, d in zip(res, ctx.layer.get("resolve.deltas", []))
             if s.metrics.get("python_total_s")]
    m["core.resolver.deltas_per_python_s"] = _median(rates)

    m["databus.process_batch.s"] = med_s("databus.process_batch")
    m["databus.merge_batch.s"] = med_s("databus.merge_batch")
    m["databus.read_buckets.ms"] = med_ms("databus.read_buckets")
    m["databus.write_buckets.s"] = med_s("databus.write_buckets")
    for k in ("databus.buckets_touched", "databus.state_bytes_rewritten_per_input_byte",
              "databus.redundant_ratio"):
        m[k] = _median(ctx.layer.get(k, []))
    m["databus.fold.python_total_s"] = _median(
        s.metrics.get("python_total_s", 0) for s in named("databus.merge_batch"))
    m["databus.poll.ms"] = med_ms("databus.poll")
    m["databus.acknowledge.ms"] = med_ms("databus.acknowledge")
    m["queues.claims_files"] = max(ctx.layer.get("queues.claims_files", [0]))
    m["queues.acks_files"] = max(ctx.layer.get("queues.acks_files", [0]))

    # a kernel's jobs include those of the pins nested under its span
    def subtree_jobs(i):
        return spans[i].jobs + sum(subtree_jobs(j) for j in children.get(i, ()))

    children = {}
    for j, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(j)
    star = [i for i, s in enumerate(spans) if s.name == "dedup.star"]
    star_rounds = ctx.layer.get("dedup.star.rounds", [])
    m["dedup.star.rounds"] = _median(star_rounds)
    m["dedup.star.jobs_per_round"] = _median(
        subtree_jobs(i) / r for i, r in zip(star, star_rounds) if r)
    m["dedup.star.s"] = med_s("dedup.star")
    # min-label pins the directed pairs and the edge set, then once per
    # iteration of two propagation rounds
    ml = [i for i, s in enumerate(spans) if s.name == "dedup.minlabel"]
    ml_rounds = [2 * (sum(spans[j].name == "dedup.pin" for j in children.get(i, ())) - 2)
                 for i in ml]
    m["dedup.minlabel.rounds"] = _median(ml_rounds)
    m["dedup.minlabel.jobs_per_round"] = _median(
        subtree_jobs(i) / r for i, r in zip(ml, ml_rounds) if r > 0)
    m["dedup.minlabel.s"] = med_s("dedup.minlabel")

    for layer in LAYERS:
        m[f"self.{layer}.s"] = sum(t for s, t in zip(spans, selfs) if s.layer == layer)
    m["trace.op_wall_s"] = wall
    m["trace.self_coverage"] = sum(selfs) / wall if wall else 0.0
    return m


def overhead_ratio(samples: Dict[str, list]) -> float:
    """Median over op kinds of traced/untraced median latency, minus 1."""
    ratios = []
    for v in samples.values():
        on = [d for d, t in v if t]
        off = [d for d, t in v if not t]
        if on and off:
            ratios.append(_median(on) / _median(off))
    return _median(ratios) - 1.0 if ratios else 0.0


def group_ms(samples: Dict[str, list], mix: Dict[str, float]) -> float:
    """Mix-weighted median of a group of op kinds (untraced ops, seconds
    in, ms out): the expected cost of an op drawn from the mix, each kind
    at its median. Unlike one median over the pooled ops, it does not jump
    between modes when the kinds' counts shift by one."""
    return sum(w * _median(d for d, t in samples.get(k, []) if not t)
               for k, w in mix.items()) * 1e3


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool,
        work: str) -> dict:
    from emodb_spark.spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload}")
    session_s = time.perf_counter() - t0
    try:
        params = gen.params_for(workload, tiny)
        tracer = Tracer(spark)
        ctx = Ctx(spark, work, seed, params, tracer, trace)
        wl = WORKLOADS[workload](ctx)
        t1 = time.perf_counter()
        wl.stage()
        stage_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t2
        empty_ms = empty_job_ms(spark) if trace else 0.0
        if trace:
            wl.wrap(tracer)
        start = time.perf_counter()
        wl.loop(start + seconds)
        loop_s = time.perf_counter() - start
        tracer.unwrap_all()
        loop_ops = ctx.attempted
        t3 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t3

        e2e = {
            "setup_s": session_s + stage_s + warm_s,
            "primary_cpu_ms": group_ms(ctx.cpu, wl.PRIMARY),
            "secondary_cpu_ms": group_ms(ctx.cpu, wl.SECONDARY),
        }
        wall = {"primary_ms": group_ms(ctx.samples, wl.PRIMARY),
                "secondary_ms": group_ms(ctx.samples, wl.SECONDARY)}
        layers = {}
        if trace:
            layers = layer_metrics(ctx, tracer, empty_ms)
            layers["trace.overhead_ratio"] = overhead_ratio(ctx.samples)
            traced_wall = layers["trace.op_wall_s"]
            layers["trace.bookkeeping_ratio"] = (tracer.bookkeeping_s / traced_wall
                                                 if traced_wall else 0.0)
            layers["trace.collect_ms"] = _median(tracer.collect_s) * 1e3
            layers["trace.ops_traced"] = len(tracer.collect_s)
        return {
            "workload": workload,
            "seed": seed,
            "trace": trace,
            "tiny": tiny,
            "params": params.record(),
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "failures": ctx.failures,
            "e2e": e2e,
            "layers": layers,
            "groups": {"primary": wl.PRIMARY, "secondary": wl.SECONDARY},
            "ops_per_s": loop_ops / loop_s,
            "wall": wall,
            "samples": {g: stats.summarize([d * 1e3 for d, _ in v])
                        for g, v in ctx.samples.items()},
            "sequence": ctx.sequence,
            "timing": {"session_s": session_s, "stage_s": stage_s, "warm_s": warm_s,
                       "loop_s": loop_s, "check_s": check_s},
            "pyspark": __import__("pyspark").__version__,
        }
    finally:
        spark.stop()


def main(argv: List[str] = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    result = run(a.workload, a.seed, a.seconds, bool(a.trace), a.tiny, a.work)
    with open(a.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
