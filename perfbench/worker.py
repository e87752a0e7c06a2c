"""One benchmark run, executed by run.py in a child process.

Order of a run: generate the seeded inputs (untimed; this also launches
the JVM), set up SETUPS times (session start + engine open + base
tables loaded; ``setup_s`` is the median), run the workload's fixed
untimed warm-up, then timed passes until ``--seconds`` have elapsed,
then the untimed output checks. With ``--trace 1`` the timed passes
alternate between untraced and traced, and the result holds the
per-layer metrics of the traced ones; otherwise it holds the
end-to-end metrics.
"""
from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

from patterns_devkit_spark.session import get_spark

from . import measure
from .trace import SPARK_FIELDS, SparkGroups, Tracer, self_times
from .workloads import parquet_inodes

SETUPS = 3
MIN_PASSES = 3  # timed passes at least; a traced run makes 2 of each kind

END_TO_END = {  # name -> unit; every one is reported by every workload
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "op_p50_gm_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {  # name -> unit; a layer a workload never calls reads 0
    "session.start_s": "s",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    **{f: ("count" if f in ("spark.jobs", "spark.stages", "spark.tasks") else
           "MB" if f.endswith("_mb") else "s") for f in SPARK_FIELDS},
    "plans.exchanges": "count",
    "node.append_s": "s",
    "node.upsert_s": "s",
    "node.flush_s": "s",
    "node.delete_where_s": "s",
    "node.compact_s": "s",
    "node.consume_s": "s",
    "node.read_pruned_s": "s",
    "node.change_feed_s": "s",
    "node.files_written": "count",
    "node.versions_created": "count",
    "skipping.files_kept": "count",
    "skipping.files_total": "count",
    "matview.refresh_s": "s",
    "matview.rows_applied": "count",
    "catalog.txns": "count",
    "catalog.txn_s": "s",
    "catalog.doc_kb": "KB",
    "graph.run_all_s": "s",
    "graph.nodes_run": "count",
    "queries.self_s": "s",
    "node.self_s": "s",
    "matview.self_s": "s",
    "catalog.self_s": "s",
    "graph.self_s": "s",
    "client.self_s": "s",
    "jvm.jit_cpu_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.traced_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.self_sum_s": "s",
}


class Run:
    """The handle a workload's passes use: ``op`` runs and times one
    client operation in its own Spark job group; ``check`` records an
    output mismatch against the current op."""

    def __init__(self, spark, tracer: Tracer, groups: SparkGroups, warehouse=None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.groups = groups
        self.warehouse = warehouse  # () -> warehouse dir, for files-written counts
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.pass_index = -1

    def op(self, kind: str, fn, cls: str = "op"):
        group = self.groups.start(kind)
        self.tracer.op = f"{self.pass_index}.{len(self.ops)}.{kind}"
        rec = {"kind": kind, "cls": cls, "pass": self.pass_index, "ok": True}
        out = None
        files = parquet_inodes(self.warehouse()) if self.tracer.enabled and self.warehouse else None
        t0 = time.perf_counter()
        with self.tracer.span(f"client.{kind}") as counts:
            try:
                out = fn()
            except Exception as e:  # one failed op is counted, the run goes on
                rec["ok"] = False
                self.failures.append(f"pass {self.pass_index} {kind}: {e!r}")
                traceback.print_exc(file=sys.stderr)
        rec["s"] = time.perf_counter() - t0
        if self.tracer.enabled:
            counts.update(self.groups.read(group))
            if files is not None:
                # new inodes only: a hardlinked carry is not a write
                counts["node.files_written"] = float(len(parquet_inodes(self.warehouse()) - files))
        self.ops.append(rec)
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(f"pass {self.pass_index}: {what}")
            if self.ops:
                self.ops[-1]["ok"] = False


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one traced pass, from the spans inside it."""
    own = self_times(spans)
    out = dict.fromkeys(PER_LAYER, 0.0)
    for s, self_s in zip(spans, own):
        name = s["name"]
        layer = name.split(".", 1)[0]
        if f"{layer}.self_s" in out:
            out[f"{layer}.self_s"] += self_s
        if f"{name}_s" in out:
            out[f"{name}_s"] += s["end"] - s["start"]
        if name == "catalog.txn":
            out["catalog.txns"] += 1
        for k, v in s["counts"].items():
            if k in out:
                out[k] += v
    out["trace.self_sum_s"] = sum(own)
    return out


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--shuffle-partitions", type=int, required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    mod = importlib.import_module(f".workloads.{args.workload}", __package__)
    workload = mod.Workload(args.seed, args.work)

    def session():
        spark = get_spark("perfbench", shuffle_partitions=args.shuffle_partitions)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # inputs first, before any clock: this launches the JVM
    spark = session()
    phase("jvm")
    workload.generate(spark)
    spark.stop()
    phase("generate")

    setup_s, session_s = [], []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = session()
        session_s.append(time.perf_counter() - t0)
        workload.setup(spark, i)
        setup_s.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            spark.stop()
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    phase("setup")

    jit = measure.JitCpu(jvm_pid)

    def cpu_now() -> tuple[float, float]:
        """(CPU of the JVM tree and this process, of it the JIT's share)"""
        return measure.process_tree_cpu_s(jvm_pid) + time.process_time(), jit.read()

    tracer = Tracer()
    if args.trace:
        workload.instrument(tracer)
    run = Run(spark, tracer, SparkGroups(spark), getattr(workload, "warehouse_dir", None))

    run.pass_index = -1
    workload.warmup(run)
    warm_ops = len(run.ops)
    phase("warmup")

    passes: list[dict] = []
    t_start = time.perf_counter()
    i = 0
    while True:
        traced = bool(args.trace) and i % 2 == 1
        tracer.enabled = traced
        run.pass_index = i
        first_span = len(tracer.spans)
        c0, t0 = cpu_now(), time.perf_counter()
        with tracer.span("pass"):
            workload.run_pass(run, i)
        wall = time.perf_counter() - t0
        c1 = cpu_now()
        passes.append({
            "traced": traced,
            "s": wall,
            "cpu_s": (c1[0] - c0[0]) - (c1[1] - c0[1]),
            "jit_cpu_s": c1[1] - c0[1],
            "span0": first_span,
            "span1": len(tracer.spans),
            "doc_kb": workload.catalog_kb(),
        })
        tracer.enabled = False
        i += 1
        if time.perf_counter() - t_start >= args.seconds and i >= (4 if args.trace else MIN_PASSES):
            break

    phase("timed")
    final = workload.check(run)
    run.failures.extend(final)
    phase("check")
    tracer.unwrap_all()

    timed_ops = run.ops[warm_ops:]
    untraced = [p for p in passes if not p["traced"]]
    untraced_idx = {j for j, p in enumerate(passes) if not p["traced"]}
    untraced_ops = [o for o in timed_ops if o["pass"] in untraced_idx]
    attempted = len(run.ops) + 1  # every op, and the final output check
    failed = sum(1 for o in run.ops if not o["ok"]) + (1 if final else 0)

    e2e = {
        "setup_s": measure.median(setup_s),
        "pass_s": measure.median([p["s"] for p in untraced]),
        "pass_cpu_s": measure.median([p["cpu_s"] for p in untraced]),
        "op_p50_gm_s": measure.kind_p50_gm(untraced_ops),
        "peak_rss_mb": measure.vm_hwm_mb(jvm_pid) + measure.self_maxrss_mb(),
    }
    # the printed report: every JSON metric, and the ones only some workloads have
    n_ops = len(untraced_ops)
    report = {name: (value, END_TO_END[name], n) for name, value, n in (
        ("setup_s", e2e["setup_s"], len(setup_s)),
        ("pass_s", e2e["pass_s"], len(untraced)),
        ("pass_cpu_s", e2e["pass_cpu_s"], len(untraced)),
        ("op_p50_gm_s", e2e["op_p50_gm_s"], n_ops),
        ("peak_rss_mb", e2e["peak_rss_mb"], 1),
    )}
    report["fail_ratio"] = (failed / attempted, "ratio", attempted)
    report["op_p50_s"] = (measure.median([o["s"] for o in untraced_ops]), "s", n_ops)
    p90 = measure.p90([o["s"] for o in untraced_ops])
    if p90 is not None:
        report["op_p90_s"] = (p90, "s", n_ops)
    report.update(workload.extra_metrics(untraced_ops))

    if args.trace:
        traced = [p for p in passes if p["traced"]]
        rows = []  # per traced pass
        for p in traced:
            spans = tracer.spans[p["span0"]:p["span1"]]
            base = p["span0"]
            local = [dict(s, parent=None if s["parent"] is None else s["parent"] - base) for s in spans]
            rows.append(dict(layer_metrics(local), **{"catalog.doc_kb": p["doc_kb"]}))
        metrics = {k: measure.median([r[k] for r in rows]) for k in PER_LAYER}
        metrics["session.start_s"] = measure.median(session_s)
        metrics["jvm.jit_cpu_s"] = measure.median([p["jit_cpu_s"] for p in traced])
        metrics["trace.traced_pass_s"] = measure.median([p["s"] for p in traced])
        metrics["trace.untraced_pass_s"] = e2e["pass_s"]
        metrics["trace.overhead_s"] = metrics["trace.traced_pass_s"] - e2e["pass_s"]
        trace_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"))
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END

    print(f"# workload {args.workload} seed {args.seed}: {len(passes)} timed passes "
          f"({len(untraced)} untraced), {len(timed_ops)} timed ops, {warm_ops} warm-up ops", flush=True)
    for name, (value, unit, n) in report.items():
        print(f"#   {name:<14} {value:12.4f} {unit:<6} n={n}", flush=True)
    print("# phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()), flush=True)
    print("# warm-up ops (s): " + " ".join(f"{o['s']:.2f}" for o in run.ops[:warm_ops]), flush=True)
    print("# timed passes, wall/cpu+jit cpu (s; * traced): " + " ".join(
        f"{p['s']:.2f}/{p['cpu_s']:.1f}+{p['jit_cpu_s']:.1f}{'*' if p['traced'] else ''}" for p in passes), flush=True)
    kinds = sorted({o["kind"] for o in untraced_ops})
    print("# op medians (s): " + " ".join(
        f"{k} {measure.median([o['s'] for o in untraced_ops if o['kind'] == k]):.3f}" for k in kinds), flush=True)
    for msg in run.failures[:20]:
        print(f"# FAILED {msg}", flush=True)
    result = {
        "correct": not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
