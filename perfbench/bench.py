"""The benchmark proper: one session, the warm-up, the timed closed loop and,
in traced runs, the replays and per-layer metrics. ``perfbench/run.py`` sets
the launch environment before importing this module."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from perfbench import counters, gen
from perfbench.spans import Tracer
from perfbench.workloads import STEP_SPANS, CorpusBatch, JsonRouter, ShardGate

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")

SIZES = {
    # corpus rows, JSON docs, shards x rows, evaluator sample, probe sizes
    "full": {
        "corpus_rows": 50_000, "json_docs": 4_000, "shards": 8, "shard_rows": 5_000,
        "eval_docs": 20_000, "probe_rows": 20_000, "probe_docs": 2_000,
    },
    "smoke": {
        "corpus_rows": 20_000, "json_docs": 2_000, "shards": 5, "shard_rows": 1_000,
        "eval_docs": 2_000, "probe_rows": 20_000, "probe_docs": 2_000,
    },
}

MIN_TRACED_OPS = 3

END_TO_END = {
    "setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s", "peak_rss_mb": "MB",
}

# per-layer metric -> span name timed around the call into that layer
LAYER_SPANS = {
    "sources.scan_s": "sources.scan",
    "spec.compile_s": "spec.compile",
    "plans.compile_table_spec_s": "plans.compile_table_spec",
    "plans.annotate_agg_s": "plans.annotate_agg",
    "plans.lineage_write_s": "plans.lineage_write",
    "plans.violations_write_s": "plans.violations_write",
    "plans.quarantine_write_s": "plans.quarantine_write",
    "compiler.kernel_s": "compiler.kernel",
    "operators.domain_flag_s": "operators.domain_flag",
    "operators.uniqueness_s": "operators.uniqueness",
    "operators.orphans_s": "operators.orphans",
    "operators.profile_s": "operators.profile",
}

PER_LAYER_UNITS = {
    "sources.session_s": "s",
    **{name: "s" for name in LAYER_SPANS},
    "spec.evaluate_docs_per_s": "docs/s",
    "compiler.python_cpu_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.input_reads_per_row": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "jvm.cpu_s": "s",
    "jvm.gc_s": "s",
    "trace.step_gap_s": "s",
    "trace.rows_per_s_ratio": "ratio",
}


def make_workload(name: str, sizes: dict, work: str):
    if name == "corpus_batch":
        return CorpusBatch(work, sizes["corpus_rows"])
    if name == "json_router":
        return JsonRouter(work, sizes["json_docs"])
    return ShardGate(work, sizes["shards"], sizes["shard_rows"])


def median(values):
    return statistics.median(values) if values else 0.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.sizes = SIZES["smoke" if args.smoke else "full"]
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0

    # ---- one op, measured ------------------------------------------------------

    def run_op(self, wl, i: int, group: str) -> dict:
        """Run op ``i`` under job group ``group``; its check runs outside the
        timed region and outside the group."""
        sc = self.spark.sparkContext
        self.attempted += 1
        sc.setJobGroup(group, group)
        before = self.proc.sample()
        t0 = time.perf_counter()
        ok = True
        try:
            with self.tracer.span("op", group):
                wl.op(i)
        except Exception:  # an op that raises is a failed op, not a crashed run
            traceback.print_exc()
            ok = False
        wall = time.perf_counter() - t0
        rec = {"op": group, "wall_s": wall, "rows": wl.rows_per_op}
        rec.update(counters.delta(before, self.proc.sample()))
        rec.update(counters.job_counts(self.spark, group))
        sc.setJobGroup(f"check-{group}", "verdict check")
        ok = ok and wl.check(i)
        rec["ok"] = ok
        if not ok:
            self.failed += 1
            print(f"verdict mismatch in {wl.name} {group}", file=sys.stderr)
        return rec

    def replay(self, wl, i: int, op_id: str) -> dict:
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, op_id)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("replay", op_id):
                ok = wl.replay(i, self.tracer, op_id)
        except Exception:  # counted as a failed op, like run_op
            traceback.print_exc()
            ok = False
        wall = time.perf_counter() - t0
        if not ok:
            self.failed += 1
            print(f"verdict mismatch in {wl.name} {op_id}", file=sys.stderr)
        return {"op": op_id, "wall_s": wall, "rows": wl.rows_per_op, "ok": ok}

    # ---- the run -----------------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        cache = gen.Cache(os.path.join(WORK, "cache"))
        self.tracer = Tracer(self.trace)
        wl = make_workload(args.workload, self.sizes, WORK)

        conf = {"spark.ui.showConsoleProgress": "false"}
        log_dir = os.path.join(WORK, "eventlog")
        if self.trace:
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
            conf.update(counters.EVENT_LOG_CONF, **{"spark.eventLog.dir": log_dir})

        t_setup = time.perf_counter()
        from jsonschema_spark.sources.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
        session_s = time.perf_counter() - t_setup
        self.proc = counters.Process(self.spark)
        try:
            t_gen = time.perf_counter()
            gen_meta = wl.prepare(self.spark, cache, args.seed)
            gen_wall = time.perf_counter() - t_gen
            wl.setup(self.spark)
            warmup = [self.run_op(wl, -1 - k, f"warmup-{k}") for k in range(wl.warmup_ops)]
            setup_s = time.perf_counter() - t_setup - gen_wall

            ops, replays = [], []
            t0 = time.perf_counter()
            i = 0
            # a traced run times at least MIN_TRACED_OPS op/replay pairs
            min_ops = MIN_TRACED_OPS if self.trace else 1
            while i < min_ops or time.perf_counter() - t0 < args.seconds:
                ops.append(self.run_op(wl, i, f"op-{i}"))
                if self.trace:
                    replays.append(self.replay(wl, i, f"replay-{i}"))
                i += 1
            # GC seconds since session start, per op run so far (warm-up
            # included): short timed loops often see no collection at all
            gc_per_op = self.proc.gc_s() / (len(warmup) + len(ops))
            layer = self.layer_metrics(wl, cache, session_s, ops, replays) if self.trace else {}
            layer["jvm.gc_s"] = gc_per_op
            peak_rss_mb = self.proc.peak_rss_mb()
        finally:
            stop_spark(self.spark, self.proc.jvm_pid)

        if self.trace:
            layer.update(spark_layer_metrics(counters.event_log_totals(log_dir), ops))

        op_walls = [r["wall_s"] for r in ops]
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": sum(r["rows"] for r in ops) / sum(op_walls),
            "op_p50_s": median(op_walls),
            "peak_rss_mb": peak_rss_mb,
        }
        detail = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "sizes": self.sizes, "session_s": session_s, "gen": gen_meta,
            "gen_wall_s": gen_wall, "end_to_end": e2e, "per_layer": layer,
            "warmup": warmup, "ops": ops, "replays": replays,
        }
        stem = os.path.join(results, f"{wl.name}_seed{args.seed}_trace{args.trace}")
        with open(stem + ".json", "w") as fh:
            json.dump(detail, fh, indent=1)
        if self.trace:
            self.tracer.write(stem + "_spans.json", {"workload": wl.name, "seed": args.seed})

        chosen = layer if self.trace else e2e
        units = PER_LAYER_UNITS if self.trace else END_TO_END
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
        }

    # ---- traced-run metrics ------------------------------------------------------

    def layer_metrics(self, wl, cache, session_s, ops, replays) -> dict:
        """Per-layer numbers from the replays of this workload's ops. Layers
        this workload's op never calls are timed by replaying, twice, the ops
        of the two workloads that call them (corpus_batch and json_router) on
        small inputs; the second replay counts."""
        own = [self.tracer.durations(r["op"]) for r in replays]
        durations = {name: [d[span] for d in own if span in d]
                     for name, span in LAYER_SPANS.items()}
        probes = [
            CorpusBatch(WORK, self.sizes["probe_rows"]),
            JsonRouter(WORK, self.sizes["probe_docs"]),
        ]
        probe_source = {}
        for p in probes:
            if p.name == wl.name:
                continue
            p.prepare(self.spark, cache, self.args.seed)
            p.setup(self.spark)
            for k in range(2):
                rec = self.replay(p, k, f"probe-{p.name}-{k}")
            last = self.tracer.durations(rec["op"])
            for name, span in LAYER_SPANS.items():
                if not durations[name] and span in last:
                    durations[name] = [last[span]]
                    probe_source[name] = p.name

        out = {"sources.session_s": session_s}
        out.update({name: median(v) for name, v in durations.items()})
        out["spec.evaluate_docs_per_s"] = evaluate_docs_per_s(self.sizes["eval_docs"], self.args.seed)
        out["compiler.python_cpu_s"] = median([r["python_cpu_s"] for r in ops])
        out["jvm.cpu_s"] = median([r["jvm_cpu_s"] for r in ops])
        out["spark.jobs_per_op"] = median([r["jobs"] for r in ops])
        out["spark.stages_per_op"] = median([r["stages"] for r in ops])
        out["spark.tasks_per_op"] = median([r["tasks"] for r in ops])
        gaps = []
        for op_rec, rp in zip(ops, replays):
            steps = self.tracer.durations(rp["op"])
            gaps.append(op_rec["wall_s"] - sum(v for k, v in steps.items() if k in STEP_SPANS))
        out["trace.step_gap_s"] = median(gaps)
        plain = sum(r["rows"] for r in ops) / sum(r["wall_s"] for r in ops)
        traced = sum(r["rows"] for r in replays) / sum(r["wall_s"] for r in replays)
        out["trace.rows_per_s_ratio"] = traced / plain
        out["probe_source"] = probe_source
        return out


def spark_layer_metrics(totals: dict, ops: list) -> dict:
    """Event-log counters per timed op: medians over the ops, except spill,
    a rare event, which is a mean."""
    empty = {"input_records": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    per_op = [(totals.get(r["op"], empty), r["rows"]) for r in ops]
    mb = 1024.0 * 1024.0
    return {
        "spark.input_reads_per_row": median([t["input_records"] / rows for t, rows in per_op]),
        "spark.shuffle_write_mb": median([t["shuffle_write_bytes"] / mb for t, _ in per_op]),
        "spark.spill_mb": sum(t["spill_bytes"] for t, _ in per_op) / mb / len(per_op),
    }


def evaluate_docs_per_s(n_docs: int, seed: int) -> float:
    """Single-thread ``validate_json`` over a fixed seeded sample, no Spark."""
    from jsonschema_spark.spec.compile import compile_spec
    from jsonschema_spark.spec.evaluate import validate_json

    docs, _ = gen.json_docs(n_docs, seed)
    schema = compile_spec(gen.JSON_SCHEMA)
    t0 = time.perf_counter()
    for doc in docs:
        validate_json(schema, doc)
    return n_docs / (time.perf_counter() - t0)


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, then the JVM pyspark launched and the Python workers
    below it, and wait until each has exited."""
    from pyspark import SparkContext

    workers = counters.descendants(jvm_pid)
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
