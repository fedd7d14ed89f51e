"""Per-layer metrics from a traced run's spans.

Every traced operation has a root span ``op``; the layer spans below it are
named after the calls they time (see README.md for the table of layer metric
→ end-to-end metric → workload).  Times are medians over traced operations;
counts are means per operation (or per call, for ``sources.load_table``).
Layers a workload does not exercise report 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import Span, self_time

QUERY_SPANS = ("op", "plans.build", "sources.load_table", "catalyst.plan", "exec")
PIPELINE_SPANS = (
    "op", "pipeline.validate", "pipeline.transform", "pipeline.crossval",
    "crossval.merge_flags", "pipeline.macro", "sinks.append", "sinks.append_macro",
    "sinks.export_csv", "sinks.report", "sinks.ledger",
)
SELF_SPANS = tuple(dict.fromkeys(QUERY_SPANS + PIPELINE_SPANS))


def metric_names(query_mix) -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    names = {
        "session.start_s": "s",
        "sources.load_table_s": "s",
        "sources.load_table_jobs": "count",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "plans.build_share": "ratio",
        "catalyst.plan_s": "s",
        "exec.s": "s",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.skipped_stage_ratio": "ratio",
        "exec.shuffle_read_bytes": "B",
        "exec.shuffle_write_bytes": "B",
        "exec.spill_bytes": "B",
        "exec.input_bytes": "B",
        "exec.busy_share": "ratio",
        "streaming.drain_s": "s",
        "pipeline.validate_s": "s",
        "pipeline.validate_jobs": "count",
        "pipeline.transform_s": "s",
        "pipeline.crossval_s": "s",
        "pipeline.crossval_jobs": "count",
        "pipeline.macro_s": "s",
        "pipeline.macro_jobs": "count",
        "pipeline.jobs_per_request": "count",
        "sinks.append_s": "s",
        "sinks.append_jobs": "count",
        "sinks.rows_saved_ratio": "ratio",
        "sinks.export_csv_s": "s",
        "sinks.report_s": "s",
        "sinks.bytes_written": "B",
        "trace.overhead_s": "s",
        "trace.overhead_share": "ratio",
        "trace.orphan_jobs": "count",
    }
    names.update({f"{s}.self_s": "s" for s in SELF_SPANS})
    names.update({f"plans.build_jobs.{q}": "count" for q in query_mix})
    return names


class OpTree:
    """The spans of one traced operation."""

    def __init__(self, label: str, spans: list[Span]):
        self.label = label
        self.spans = spans
        self.root = next(s for s in spans if s.name == "op")
        self._kids: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self._kids[s.parent].append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self._kids[s.id])
        return out

    def jobs(self, span: Span) -> int:
        return sum(len(s.jobs) for s in self.subtree(span))

    def counts(self, name: str, key: str) -> float:
        return sum(sum(x.counts.get(key, 0) for x in self.subtree(s)) for s in self.named(name))

    def seconds(self, name: str) -> float:
        return sum(s.duration for s in self.named(name))

    def jobs_named(self, name: str) -> int:
        return sum(self.jobs(s) for s in self.named(name))


def op_trees(spans: list[Span], labels: dict[int, str]) -> list[OpTree]:
    by_op: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.op is not None:
            by_op[s.op].append(s)
    return [OpTree(labels[op], ss) for op, ss in sorted(by_op.items())]


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def compute(trees: list[OpTree], query_mix, stream_queries, cores: int) -> dict[str, float]:
    m: dict[str, float] = {}
    loads = [s for t in trees for s in t.named("sources.load_table")]
    load_tree = {s.id: t for t in trees for s in t.named("sources.load_table")}
    m["sources.load_table_s"] = _med(s.duration for s in loads)
    m["sources.load_table_jobs"] = _mean(load_tree[s.id].jobs(s) for s in loads)

    queries = [t for t in trees if t.named("plans.build")]
    build_total = sum(t.seconds("plans.build") for t in queries)
    op_total = sum(t.root.duration for t in queries)
    m["plans.build_s"] = _med(t.seconds("plans.build") for t in queries)
    m["plans.build_jobs"] = _mean(t.jobs_named("plans.build") for t in queries)
    m["plans.build_share"] = build_total / op_total if op_total else 0.0
    for q in query_mix:
        per_op = [t.jobs_named("plans.build") for t in queries if t.label == q]
        m[f"plans.build_jobs.{q}"] = statistics.median_low(per_op) if per_op else 0
    m["catalyst.plan_s"] = _med(t.seconds("catalyst.plan") for t in queries)

    m["exec.s"] = _med(t.seconds("exec") for t in queries)
    for key in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "input_bytes"):
        m[f"exec.{key}"] = _mean(t.counts("exec", key) for t in queries)
    ran = sum(t.counts("exec", "stages") for t in queries)
    skipped = sum(t.counts("exec", "skipped_stages") for t in queries)
    m["exec.skipped_stage_ratio"] = skipped / (ran + skipped) if ran + skipped else 0.0
    exec_wall = sum(t.seconds("exec") for t in queries)
    run_s = sum(t.counts("exec", "run_ms") for t in queries) / 1000.0
    m["exec.busy_share"] = run_s / (exec_wall * cores) if exec_wall else 0.0
    m["streaming.drain_s"] = _med(
        t.seconds("plans.build") for t in queries if t.label in stream_queries
    )

    reqs = [t for t in trees if t.named("pipeline.validate")]
    for stage in ("validate", "crossval", "macro"):
        m[f"pipeline.{stage}_s"] = _med(t.seconds(f"pipeline.{stage}") for t in reqs)
        m[f"pipeline.{stage}_jobs"] = _mean(t.jobs_named(f"pipeline.{stage}") for t in reqs)
    m["pipeline.transform_s"] = _med(t.seconds("pipeline.transform") for t in reqs)
    m["pipeline.jobs_per_request"] = _mean(t.jobs(t.root) for t in reqs)
    m["sinks.append_s"] = _med(t.seconds("sinks.append") for t in reqs)
    m["sinks.append_jobs"] = _mean(t.jobs_named("sinks.append") for t in reqs)
    m["sinks.export_csv_s"] = _med(t.seconds("sinks.export_csv") for t in reqs)
    m["sinks.report_s"] = _med(t.seconds("sinks.report") for t in reqs)

    for name in SELF_SPANS:
        m[f"{name}.self_s"] = _med(
            sum(self_time(s, t.spans) for s in t.named(name)) for t in trees
        )
    return m
