"""Per-layer trace: spans around the engine's public calls, joined with the
task and SQL-operator metrics Spark writes to its event log.

Spans are recorded from the benchmark's side only. ``Tracer.patch`` wraps
module functions and methods in place; each span sets the Spark job
description to its id, so every job, stage, task and SQL execution in the
event log is attributed to the innermost open span. One Spark action can run
several layers (the minute tier's write runs the pages scan, signal
extraction, the FIR and the parquet write); Spark's own per-operator SQL
metrics split that work, with operators recognised by their plan
signature: the FIR groups on ``_k``, the hour/day averages on a
``pmod(t_us, period)`` anchor and the month rollup on ``date_trunc``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field
from typing import Any

TAG = "perfbench-span:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: tuple | None  # the timed unit the span belongs to
    t0: float
    t1: float = 0.0
    result: Any = None
    error: str | None = None

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    """Records nested spans while ``active``; does nothing otherwise."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[Any, str, Any]] = []
        self.active = False
        self.group: tuple | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1].id if self._stack else None,
            group=self.group,
            t0=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(f"{TAG}{s.id}")
        try:
            yield s
        except BaseException as e:
            s.error = type(e).__name__
            raise
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{TAG}{self._stack[-1].id}" if self._stack else None
            )

    def patch(self, owner, attr: str, name: str, result=None):
        """Wrap ``owner.attr`` in a span; ``result`` maps the return value
        to what the span keeps."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if result is not None:
                    s.result = result(out)
                return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def patch_engine(tracer: Tracer) -> None:
    """Wrap the engine's public layer boundaries that the layer metrics
    read: lazy plan builders show driver time, actions show execution."""
    from pyspark.sql.classic.dataframe import DataFrame

    from usgs_geomag_algorithms_spark.plans import pipeline, refresh, serve
    from usgs_geomag_algorithms_spark.sources.store import TierStore

    p = tracer.patch
    p(pipeline, "build_tiers", "pipeline.build_tiers")
    p(pipeline, "run_tiers", "cascade.run_tiers")
    for method in ("write", "upsert", "write_packed", "read", "read_packed", "append_lineage"):
        p(TierStore, method, f"store.{method}")
    p(refresh, "save_checkpoint", "refresh.save_checkpoint")
    p(refresh, "find_output_gaps", "refresh.find_output_gaps", result=len)
    p(refresh, "refresh_month", "refresh.refresh_month")
    p(pipeline, "sync_changed", "pipeline.sync_changed")
    p(serve, "get_timeseries", "serve.get_timeseries")
    # build_tiers re-counts each tier it wrote: the readback layer
    p(DataFrame, "count", "df.count")


# ---------------------------------------------------------------- event log


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


@dataclass
class Node:
    kind: str
    metric: str
    scale: float  # to ms for timings, 1 otherwise


@dataclass
class Stage:
    job: int
    run_ms: float = 0.0
    accs: dict[int, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    accs: dict[int, Node] = field(default_factory=dict)
    exec_span: dict[int, int] = field(default_factory=dict)
    driver_accs: list[tuple[int, int, float]] = field(default_factory=list)


_WRAPPERS = ("WholeStageCodegen", "InputAdapter", "AQEShuffleRead", "ShuffleQueryStage")


def _groupings(node: dict, out: dict[str, str]) -> dict[str, str]:
    """Rollup family of each aliased grouping expression in a plan: the
    hour/day averages anchor on ``pmod(t_us, period)``, the month rollup on
    ``date_trunc(MONTH, ...)``."""
    parts = node.get("simpleString", "").split(" AS ")
    for expr, rest in zip(parts, parts[1:]):
        m = re.match(r"(_groupingexpression#\d+)", rest)
        if m:
            if "date_trunc" in expr:
                out[m.group(1)] = "month"
            elif "pmod(t_us" in expr:
                out[m.group(1)] = "avg"
    for c in node.get("children", []):
        _groupings(c, out)
    return out


def _kind(node: dict, pages_marker: str, groupings: dict[str, str]) -> str:
    name = node["nodeName"]
    s = node.get("simpleString", "")
    if name.startswith("Scan"):
        loc = str(node.get("metadata", {}).get("Location", ""))
        return "scan_pages" if pages_marker in loc else "scan_store"
    if name.startswith("HashAggregate"):
        keys = s.split("functions=")[0]
        phase = "partial" if "functions=[partial_" in s else "final"
        if "_k#" in keys:
            return f"agg_fir_{phase}"
        m = re.search(r"_groupingexpression#\d+", keys)
        if m and m.group(0) in groupings:
            return f"agg_{groupings[m.group(0)]}_{phase}"
        return "agg_other"
    if name == "Exchange":
        child = node
        while child.get("children"):
            child = child["children"][0]
            if not child["nodeName"].startswith(_WRAPPERS):
                break
        kind = _kind(child, pages_marker, groupings)
        if kind.startswith("agg_") and kind.endswith("_partial"):
            return "exchange_" + kind.split("_")[1]
        return "exchange_other"
    if name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
        return "write"
    if name.startswith("FlatMapGroupsInPandas"):
        return "python_pack"
    if name.startswith("MapInPandas"):
        return "python_unpack"
    if "Join" in name and "LeftOuter" in s:
        return "join_outer"
    return "other"


def _walk(node: dict, pages_marker: str, accs: dict[int, "Node"], groupings=None) -> None:
    if groupings is None:
        groupings = _groupings(node, {})
    kind = _kind(node, pages_marker, groupings)
    for m in node.get("metrics", []):
        aid = int(m["accumulatorId"])
        # a node re-planned by AQE keeps its accumulators; never let a
        # less specific reading of it replace a specific one
        if aid in accs and kind in ("other", "agg_other", "exchange_other"):
            continue
        scale = 1e-6 if m.get("metricType") == "nsTiming" else 1.0
        accs[aid] = Node(kind, m["name"], scale)
    for c in node.get("children", []):
        _walk(c, pages_marker, accs, groupings)


def _span_of(desc) -> int | None:
    if isinstance(desc, str) and desc.startswith(TAG):
        return int(desc[len(TAG) :])
    return None


def read_eventlog(log_dir: str, pages_marker: str) -> EventLog:
    """Parse every event file under ``log_dir`` (rolling or single-file)."""
    ev = EventLog()
    paths = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(log_dir)
        for f in files
        if not f.startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ev.jobs[e["Job ID"]] = {
                        "span": _span_of(props.get("spark.job.description")),
                        "t0": e["Submission Time"] / 1000.0,
                        "t1": None,
                    }
                    for sid in e["Stage IDs"]:
                        ev.stages[sid] = Stage(job=e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    ev.jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = ev.stages.get(e["Stage ID"])
                    if st is None:
                        continue
                    tm = e.get("Task Metrics") or {}
                    st.run_ms += _num(tm.get("Executor Run Time"))
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("Metadata") == "sql":
                            aid = int(a["ID"])
                            st.accs[aid] = st.accs.get(aid, 0.0) + _num(a.get("Update"))
                elif kind.endswith("SQLExecutionStart"):
                    sid = _span_of(e.get("description"))
                    if sid is not None:
                        ev.exec_span[e["executionId"]] = sid
                    _walk(e["sparkPlanInfo"], pages_marker, ev.accs)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _walk(e["sparkPlanInfo"], pages_marker, ev.accs)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for aid, val in e["accumUpdates"]:
                        ev.driver_accs.append((e["executionId"], int(aid), _num(val)))
    return ev


# ------------------------------------------------------------ layer metrics

#: per-layer metric name -> unit, in report order
LAYER_UNITS = {
    "session.start_ms": "ms",
    "session.peak_rss_mb": "MB",
    "signals.scan_ms": "ms",
    "signals.rows_in": "count",
    "signals.bytes_read": "B",
    "rollup.fir_ms": "ms",
    "rollup.fir_shuffle_bytes": "B",
    "rollup.fir_rows_out": "count",
    "rollup.avg_ms": "ms",
    "rollup.avg_rows_out": "count",
    "month.ms": "ms",
    "cascade.plan_ms": "ms",
    "store.write_ms": "ms",
    "store.commit_driver_ms": "ms",
    "store.files_written": "count",
    "store.bytes_written": "B",
    "store.readback_ms": "ms",
    "store.upsert_ms": "ms",
    "store.upsert_rows_rewritten_per_new_row": "ratio",
    "store.upsert_retries": "count",
    "store.read_plan_ms": "ms",
    "store.files_planned_per_read": "count",
    "store.rows_scanned_per_row_returned": "ratio",
    "store.lineage_ms": "ms",
    "segments.pack_ms": "ms",
    "segments.pack_points": "count",
    "segments.pack_python_ms": "ms",
    "segments.unpack_ms": "ms",
    "segments.unpack_points": "count",
    "refresh.gap_scan_ms": "ms",
    "refresh.gaps_found": "count",
    "refresh.month_ms": "ms",
    "refresh.sync_ms": "ms",
    "serve.pad_ms": "ms",
    "serve.collect_ms": "ms",
    "pipeline.driver_idle_ms": "ms",
    "pipeline.jobs_per_op": "count",
    "pipeline.executor_busy_share": "ratio",
    "trace_overhead_ms": "ms",
}

#: operator kinds whose own timing metric is charged to their layer, not
#: to the stage that happens to run them
_TIMED_KINDS = {
    "scan_pages": "scan time",
    "scan_store": "scan time",
    "agg_fir_partial": "time in aggregation build",
    "agg_fir_final": "time in aggregation build",
    "agg_avg_partial": "time in aggregation build",
    "agg_avg_final": "time in aggregation build",
    "agg_month_partial": "time in aggregation build",
    "agg_month_final": "time in aggregation build",
    "python_pack": "time to run Python workers",
    "python_unpack": "time to run Python workers",
}


class _Group:
    """Spans, jobs, stages and SQL metric values of one traced unit (an
    op, or a round of reads)."""

    def __init__(self, gid: tuple, spans: list[Span], ev: EventLog):
        self.by_id = {s.id: s for s in spans}
        self.spans = [s for s in spans if s.group == gid]
        ids = {s.id for s in self.spans}
        self.roots = [s for s in self.spans if s.parent is None]
        self.jobs = {j: d for j, d in ev.jobs.items() if d["span"] in ids}
        self.stages = {
            sid: st for sid, st in ev.stages.items() if st.job in self.jobs
        }
        self.ev = ev
        # (span id, accumulator id, value): task-side SQL metric updates
        # by the span of the stage's job, driver-side ones by the span of
        # the SQL execution
        self.values: list[tuple[int, int, float]] = [
            (self.jobs[st.job]["span"], aid, v)
            for st in self.stages.values()
            for aid, v in st.accs.items()
        ]
        for exec_id, aid, v in ev.driver_accs:
            span = ev.exec_span.get(exec_id)
            if span in ids:
                self.values.append((span, aid, v))

    def chain(self, span_id: int | None) -> list[str]:
        names = []
        while span_id is not None:
            s = self.by_id[span_id]
            names.append(s.name)
            span_id = s.parent
        return names

    def under(self, span_id, name: str) -> bool:
        return name in self.chain(span_id)

    def sql(self, kinds, metric: str, where=None) -> float:
        total = 0.0
        for span, aid, v in self.values:
            node = self.ev.accs.get(aid)
            if node is None or node.metric != metric:
                continue
            if not any(node.kind.startswith(k) for k in kinds):
                continue
            if where is not None and not where(span):
                continue
            total += v * node.scale
        return total

    def span_ms(self, name: str, where=None) -> float:
        return sum(
            s.ms for s in self.spans if s.name == name and (where is None or where(s))
        )

    def job_cover_ms(self, span: Span, own_only: bool) -> float:
        """Milliseconds of ``span`` during which a Spark job of it (or of
        its descendants) was running."""
        ivs = sorted(
            (max(d["t0"], span.t0), min(d["t1"] or span.t1, span.t1))
            for d in self.jobs.values()
            if (
                d["span"] == span.id
                if own_only
                else self._desc(d["span"], span.id)
            )
        )
        covered, end = 0.0, None
        for a, b in ivs:
            if b <= a:
                continue
            if end is None or a > end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        return covered * 1000.0

    def _desc(self, span_id, ancestor_id) -> bool:
        while span_id is not None:
            if span_id == ancestor_id:
                return True
            span_id = self.by_id[span_id].parent
        return False

    def stage_self_ms(self, stage_filter) -> float:
        """Executor time of the matching stages not charged to an operator
        with its own timing metric (scan, aggregate, Python)."""
        total = 0.0
        for st in self.stages.values():
            if not stage_filter(st):
                continue
            charged = 0.0
            for aid, v in st.accs.items():
                node = self.ev.accs.get(aid)
                if node and _TIMED_KINDS.get(node.kind) == node.metric:
                    charged += v * node.scale
            total += max(st.run_ms - charged, 0.0)
        return total

    def stage_has(self, st: Stage, kind: str) -> bool:
        return any(
            (n := self.ev.accs.get(aid)) is not None and n.kind == kind
            for aid in st.accs
        )


def group_layers(gid: tuple, spans: list[Span], ev: EventLog, cores: int) -> dict:
    g = _Group(gid, spans, ev)
    in_collect = lambda sp: g.under(sp, "serve.collect")  # noqa: E731
    in_write = lambda sp: g.under(sp, "store.write")  # noqa: E731
    in_upsert = lambda sp: g.under(sp, "store.upsert")  # noqa: E731
    in_pack = lambda sp: g.under(sp, "store.write_packed")  # noqa: E731
    reads = [s for s in g.spans if s.name == "serve.collect"]
    rows_returned = sum(s.result or 0 for s in reads)
    wall_ms = sum(s.ms for s in g.roots)
    upsert_written = g.sql(["write"], "number of output rows", in_upsert)
    upsert_old = g.sql(["scan_store"], "number of output rows", in_upsert)
    net_new = upsert_written - upsert_old
    run_ms = sum(st.run_ms for st in g.stages.values())
    return {
        "signals.scan_ms": g.sql(["scan_pages"], "scan time"),
        "signals.rows_in": g.sql(["scan_pages"], "number of output rows"),
        "signals.bytes_read": g.sql(["scan_pages"], "size of files read"),
        "rollup.fir_ms": g.sql(["agg_fir"], "time in aggregation build"),
        "rollup.fir_shuffle_bytes": g.sql(["exchange_fir"], "shuffle bytes written"),
        "rollup.fir_rows_out": g.sql(["agg_fir_final"], "number of output rows"),
        "rollup.avg_ms": g.sql(["agg_avg"], "time in aggregation build"),
        "rollup.avg_rows_out": g.sql(["agg_avg_final"], "number of output rows"),
        "month.ms": g.sql(["agg_month"], "time in aggregation build"),
        "cascade.plan_ms": g.span_ms("cascade.run_tiers"),
        "store.write_ms": g.stage_self_ms(
            lambda st: g.stage_has(st, "write")
            and not g.under(g.jobs[st.job]["span"], "store.write_packed")
        ),
        "store.commit_driver_ms": sum(
            s.ms - g.job_cover_ms(s, own_only=True)
            for s in g.spans
            if s.name == "store.write"
        ),
        "store.files_written": g.sql(
            ["write"], "number of written files", lambda sp: in_write(sp) and not in_pack(sp)
        ),
        "store.bytes_written": g.sql(
            ["write"], "written output", lambda sp: in_write(sp) and not in_pack(sp)
        ),
        "store.readback_ms": g.span_ms(
            "df.count",
            lambda s: s.parent is not None
            and g.by_id[s.parent].name == "pipeline.build_tiers",
        ),
        "store.upsert_ms": g.span_ms("store.upsert"),
        "store.upsert_rows_rewritten_per_new_row": (
            upsert_written / net_new if net_new > 0 else 0.0
        ),
        "store.upsert_retries": float(
            sum(
                1
                for s in g.spans
                if s.name == "store.write"
                and s.error == "StaleSnapshotError"
                and g.under(s.id, "store.upsert")
            )
        ),
        "store.read_plan_ms": g.span_ms(
            "store.read", lambda s: g.under(s.id, "serve.get_timeseries")
        )
        + g.span_ms("store.read_packed", lambda s: g.under(s.id, "serve.get_timeseries")),
        "store.files_planned_per_read": (
            g.sql(["scan_store"], "number of files read", in_collect) / len(reads)
            if reads
            else 0.0
        ),
        "store.rows_scanned_per_row_returned": (
            g.sql(["scan_store"], "number of output rows", in_collect) / rows_returned
            if rows_returned
            else 0.0
        ),
        "store.lineage_ms": g.span_ms("store.append_lineage")
        + g.span_ms("refresh.save_checkpoint"),
        "segments.pack_ms": g.span_ms("store.write_packed"),
        "segments.pack_points": g.sql(["scan_store"], "number of output rows", in_pack),
        "segments.pack_python_ms": g.sql(["python_pack"], "time to run Python workers"),
        "segments.unpack_ms": g.sql(["python_unpack"], "time to run Python workers"),
        "segments.unpack_points": g.sql(["python_unpack"], "number of output rows"),
        "refresh.gap_scan_ms": g.span_ms("refresh.find_output_gaps"),
        "refresh.gaps_found": float(
            sum(s.result or 0 for s in g.spans if s.name == "refresh.find_output_gaps")
        ),
        "refresh.month_ms": g.span_ms("refresh.refresh_month"),
        "refresh.sync_ms": g.span_ms("pipeline.sync_changed"),
        "serve.pad_ms": g.stage_self_ms(
            lambda st: g.stage_has(st, "join_outer")
            and in_collect(g.jobs[st.job]["span"])
        ),
        "serve.collect_ms": sum(s.ms for s in reads),
        "pipeline.driver_idle_ms": sum(
            s.ms - g.job_cover_ms(s, own_only=False) for s in g.roots
        ),
        "pipeline.jobs_per_op": float(len(g.jobs)),
        "pipeline.executor_busy_share": run_ms / (wall_ms * cores) if wall_ms else 0.0,
    }


#: metrics of the serving reads; every other metric is per op
READ_SIDE = {
    "store.read_plan_ms",
    "store.files_planned_per_read",
    "store.rows_scanned_per_row_returned",
    "segments.unpack_ms",
    "segments.unpack_points",
    "serve.pad_ms",
    "serve.collect_ms",
}


def layer_report(spans: list[Span], ev: EventLog, cores: int) -> dict:
    """Median of every layer metric over the traced units it belongs to:
    op-side metrics over traced ops, read-side metrics over traced read
    rounds."""
    gids = sorted({s.group for s in spans if s.group is not None})
    per = {gid: group_layers(gid, spans, ev, cores) for gid in gids}
    out = {}
    for k in per[gids[0]]:
        vals = [
            v[k]
            for gid, v in per.items()
            if gid[0] == ("reads" if k in READ_SIDE else "op")
        ]
        out[k] = statistics.median(vals) if vals else 0.0
    return out
