"""Per-layer tracing for the dedup benchmark, installed from outside the
program.

`Tracer.install` wraps each layer's public functions where their callers
look them up (``dedup_stream`` binds ``verify_pairs`` at import, so the
name is patched there as well as in ``operators.verify``). A wrapper opens
a span, tags the Spark jobs it submits with a job group named after the
span, and, for functions that return a lazy frame, materializes the result
inside the span so the lazy work is charged to the layer that planned it.
Batch runs go through `dedup_stages` with a stage callback that does the
same for every stage.

Spans stay in memory; `per_layer` turns them, the deferred row counts and
the Spark event log (parsed after the session stops) into
``<layer>.<metric>`` figures. A layer's self time is its spans' duration
minus that of the spans nested directly inside them. Checkpoint writes
(`StageCheckpointer.write`, which `materialize` goes through) are counted
as their own layer but do not subtract from the layer around them: a write
is the action that runs the lazy plan, so its time is that layer's work.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

# (module, attribute, layer, materialize the returned frame in the span)
TARGETS = (
    ("fuzzycat_spark.operators.verify", "prepare_pages", "prepare", False),
    ("fuzzycat_spark.operators.dedup", "prepare_pages", "prepare", False),
    ("fuzzycat_spark.streaming.dedup_stream", "prepare_pages", "prepare", False),
    ("fuzzycat_spark.operators.dedup", "candidate_pairs", "candidates", True),
    ("fuzzycat_spark.operators.dedup", "strategy_band_table", "candidates", True),
    ("fuzzycat_spark.streaming.dedup_stream", "strategy_band_table", "candidates", True),
    ("fuzzycat_spark.operators.dedup", "lsh_candidate_pairs", "candidates", True),
    ("fuzzycat_spark.streaming.dedup_stream", "lsh_candidate_pairs", "candidates", True),
    ("fuzzycat_spark.operators.dedup", "star_edges", "stars", True),
    ("fuzzycat_spark.operators.verify", "verify_pairs", "verify", True),
    ("fuzzycat_spark.operators.dedup", "verify_pairs", "verify", True),
    ("fuzzycat_spark.streaming.dedup_stream", "verify_pairs", "verify", True),
    ("fuzzycat_spark.operators.components", "connected_components", "components", False),
    ("fuzzycat_spark.operators.dedup", "connected_components", "components", False),
    ("fuzzycat_spark.streaming.dedup_stream", "incremental_dedup_batch", "stream", False),
    ("fuzzycat_spark.streaming.assignments", "update_assignments", "stream_assign", False),
    ("fuzzycat_spark.streaming.compaction", "compact_state", "compact", False),
)
# dedup_stages stage name -> layer; "prepared" is prepare_pages' own output
STAGE_LAYERS = {"candidates": "candidates", "emb_pairs": "verify", "verified": "verify",
                "assignments": "assign"}
LAYERS = ("prepare", "candidates", "stars", "verify", "components", "assign",
          "checkpoint", "stream", "stream_assign", "compact")


@dataclass
class Span:
    sid: int
    layer: str
    parent: "Span | None"
    overlay: bool
    start: float = 0.0
    end: float = 0.0
    children_s: float = 0.0
    info: dict = field(default_factory=dict)


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under `path`."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.deferred: list[tuple[str, object]] = []
        self.counts: dict[str, float] = {}
        self._saved: list[tuple[object, str, object]] = []
        self._idle_group: str | None = None  # jobs outside spans while installed

    # -- spans --------------------------------------------------------------

    def _group(self, span: Span | None) -> None:
        if span is not None:
            self.sc.setJobGroup(f"span{span.sid}", span.layer)
        elif self._idle_group is not None:
            self.sc.setJobGroup(self._idle_group, self._idle_group)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _owner(self) -> Span | None:
        """Innermost span that owns jobs (checkpoint spans overlay it)."""
        return next((s for s in reversed(self.stack) if not s.overlay), None)

    def _open(self, layer: str, overlay: bool = False) -> Span | None:
        """A new span, or None when `layer` is already the innermost layer
        (a layer function calling another of the same layer)."""
        if self.stack and self.stack[-1].layer == layer:
            return None
        span = Span(len(self.spans), layer, self.stack[-1] if self.stack else None, overlay)
        self.spans.append(span)
        self.stack.append(span)
        if not overlay:
            self._group(span)
        span.start = time.perf_counter()
        return span

    def _close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self.stack.pop()
        if span.parent is not None and not span.overlay:
            span.parent.children_s += span.end - span.start
        if not span.overlay:
            self._group(self._owner())

    def _force(self, df, name: str):
        """Materialize a lazy frame inside the current span. The "trace_"
        name keeps the write out of the checkpoint layer's counts."""
        return self._orig_materialize(df, f"trace_{name}") if df is not None else df

    # -- wrappers -----------------------------------------------------------

    def _wrap(self, fn, layer: str, force: bool):
        tracer = self

        def wrapper(*args, **kwargs):
            span = tracer._open(layer)
            try:
                out = fn(*args, **kwargs)
                if span is not None and force:
                    out = tracer._force(out, fn.__name__)
            finally:
                tracer._close(span)
            # band rows are counted even when strategy_band_table runs
            # inside candidate_pairs; everything else at the outermost call
            if span is not None or fn.__name__ == "strategy_band_table":
                tracer._note(fn.__name__, args, kwargs, out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_compact(self, fn):
        """compact_state, plus the state tree's file counts around it."""
        tracer = self
        inner = self._wrap(fn, "compact", False)

        def compact(spark, index_path, *args, **kwargs):
            state = os.path.dirname(index_path)
            before = _dir_stats(state)
            out = inner(spark, index_path, *args, **kwargs)
            tracer.counts["compact.files_before"] = before[1]
            tracer.counts["compact.files_after"] = _dir_stats(state)[1]
            tracer.counts["compact.bytes_rewritten"] = sum(
                _dir_stats(d)[0] for d in glob.glob(f"{state}/*/_base")
            )
            return out

        compact.__wrapped__ = fn
        return compact

    def _wrap_write(self, fn):
        tracer = self

        def write(ck, df, name):
            if name.startswith("trace_"):  # the tracer's own _force writes
                return fn(ck, df, name)
            span = tracer._open("checkpoint", overlay=True)
            try:
                out = fn(ck, df, name)
            finally:
                tracer._close(span)
            if span is not None:
                span.info["bytes"] = _dir_stats(os.path.join(ck.base_dir, name))[0]
                span.info["name"] = name
            return out

        write.__wrapped__ = fn
        return write

    def _note(self, fname: str, args, kwargs, out) -> None:
        """Row counts for the layer, taken after the rep, outside spans."""
        if fname == "prepare_pages":
            self.deferred.append(("prepare.rows_out", out))
        elif fname == "strategy_band_table":
            self.deferred.append(("candidates.band_rows", out))
        elif fname in ("candidate_pairs", "lsh_candidate_pairs"):
            self.deferred.append(("candidates.pairs_out", out))
        elif fname == "star_edges":
            self.deferred.append(("stars.edges_out", out))
        elif fname == "verify_pairs":
            self.deferred.append(("verify.pairs_in", args[0]))
            self.deferred.append(("verify.statuses", out))
        elif fname == "connected_components":
            edges = args[0] if args else kwargs["edges"]
            self.deferred.append(("components.edges_in", edges))
            self.deferred.append(("components.clusters", out))
        elif fname == "incremental_dedup_batch":
            self.deferred.append(("stream.docs_per_epoch", args[0]))

    def install(self) -> None:
        import importlib

        from fuzzycat_spark.plans import checkpoint

        self._orig_materialize = checkpoint.materialize
        # import every target first: a module imported after a patch would
        # bind the wrapper at import and get wrapped twice
        mods = {m: importlib.import_module(m) for m, *_ in TARGETS}
        for mod_name, attr, layer, force in TARGETS:
            mod = mods[mod_name]
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            wrap = self._wrap_compact(fn) if layer == "compact" else self._wrap(fn, layer, force)
            setattr(mod, attr, wrap)
        cls = checkpoint.StageCheckpointer
        self._saved.append((cls, "write", cls.write))
        cls.write = self._wrap_write(cls.write)
        self._idle_group = "timed"
        self._group(None)

    def uninstall(self) -> None:
        for obj, attr, fn in reversed(self._saved):
            setattr(obj, attr, fn)
        self._saved.clear()
        self._idle_group = None
        self._group(None)

    # -- entry points the workloads call -------------------------------------

    def traced_dedup(self, pages, cfg):
        """dedup_pages' plan with every stage materialized in its layer's
        span; returns the assignments frame."""
        from fuzzycat_spark.operators.dedup import dedup_stages

        def stage(name: str, build):
            layer = STAGE_LAYERS.get(name)
            if layer is None:
                return build()
            span = self._open(layer)
            try:
                out = build()
                if span is not None:
                    out = self._force(out, name)
            finally:
                self._close(span)
            if name == "candidates":
                self.deferred.append(("candidates.pairs_out", out))
            return out

        return dedup_stages(pages, cfg, stage)["assignments"]

    def stream_state(self, state: str, pairs: str) -> None:
        """State-size counters of a finished stream pass."""
        import pyarrow.parquet as pq

        self.counts["stream.state_bytes"], self.counts["stream.state_files"] = _dir_stats(state)
        self.counts["stream.pairs_out"] = sum(
            pq.read_metadata(os.path.join(d, f)).num_rows
            for d, _, files in os.walk(pairs)
            for f in files
            if f.endswith(".parquet")
        )

    def count_deferred(self) -> None:
        """Run the deferred row counts (untraced Spark jobs)."""
        from pyspark.sql import functions as F

        from fuzzycat_spark.operators.dedup import EDGE_STATUSES

        for key, df in self.deferred:
            if df is None:
                continue
            if key == "verify.statuses":
                by = {r["status"]: r["n"] for r in
                      df.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
                self._add("verify.edges_out", sum(by.get(s, 0) for s in EDGE_STATUSES))
                self._add("verify.ambiguous", by.get("ambiguous", 0))
            elif key == "components.clusters":
                self._add(key, df.select("cluster_id").distinct().count())
            else:
                self._add(key, df.count())
        self.deferred.clear()

    def _add(self, key: str, v: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + v

    # -- report -------------------------------------------------------------

    def per_layer(self, res, event_log: str, session_s: float) -> dict:
        m: dict[str, tuple[float, str]] = {}
        self_s = dict.fromkeys(LAYERS, 0.0)
        ck_writes = ck_bytes = rounds = 0
        prep_bytes = 0
        for s in self.spans:
            dur = s.end - s.start
            if s.overlay:
                owner = next((p for p in self._ancestors(s) if not p.overlay), None)
                if owner is not None and owner.layer == "prepare":
                    prep_bytes += s.info.get("bytes", 0)
                if any(p.layer == "components" for p in self._ancestors(s)) and \
                        s.info.get("name", "").startswith("cc_labels"):
                    rounds += 1
                self_s["checkpoint"] += dur  # checkpoint spans never nest
                ck_writes += 1
                ck_bytes += s.info.get("bytes", 0)
            else:
                self_s[s.layer] += dur - s.children_s
        c = self.counts
        groups = {f"span{s.sid}": s.layer for s in self.spans}
        groups["timed"] = ""  # timed-run jobs outside any layer: totals only
        jobs = _parse_event_log(event_log, groups)
        docs = res.docs
        for layer in LAYERS:
            key = "stream.epoch_self_s" if layer == "stream" else f"{layer}.self_s"
            m[key] = (self_s[layer], "s")
        m["prepare.rows_out"] = (c.get("prepare.rows_out", 0), "count")
        m["prepare.bytes_written"] = (prep_bytes, "bytes")
        m["candidates.band_rows"] = (c.get("candidates.band_rows", 0), "count")
        m["candidates.pairs_out"] = (c.get("candidates.pairs_out", 0), "count")
        m["candidates.pairs_per_doc"] = (c.get("candidates.pairs_out", 0) / docs, "ratio")
        m["stars.edges_out"] = (c.get("stars.edges_out", 0), "count")
        pairs_in = c.get("verify.pairs_in", 0)
        m["verify.pairs_in"] = (pairs_in, "count")
        m["verify.edges_out"] = (c.get("verify.edges_out", 0), "count")
        m["verify.useful_ratio"] = (c.get("verify.edges_out", 0) / pairs_in if pairs_in else 0, "ratio")
        m["verify.ambiguous_share"] = (c.get("verify.ambiguous", 0) / pairs_in if pairs_in else 0, "ratio")
        m["components.edges_in"] = (c.get("components.edges_in", 0), "count")
        m["components.rounds"] = (rounds, "count")
        m["components.clusters"] = (c.get("components.clusters", 0), "count")
        m["checkpoint.writes"] = (ck_writes, "count")
        m["checkpoint.bytes"] = (ck_bytes, "bytes")
        m["stream.docs_per_epoch"] = (c.get("stream.docs_per_epoch", 0) / len(res.epochs), "count")
        m["stream.pairs_out"] = (c.get("stream.pairs_out", 0), "count")
        m["stream.state_bytes"] = (c.get("stream.state_bytes", 0), "bytes")
        m["stream.state_files"] = (c.get("stream.state_files", 0), "count")
        for k in ("bytes_rewritten", "files_before", "files_after"):
            m[f"compact.{k}"] = (c.get(f"compact.{k}", 0), "bytes" if k.startswith("bytes") else "count")
        def job(layer: str, key: str) -> float:
            return jobs.get(layer, {}).get(key, 0)

        m["prepare.executor_s"] = (job("prepare", "executor_s"), "s")
        m["prepare.gc_s"] = (job("prepare", "gc_s"), "s")
        for layer in ("candidates", "verify", "components"):
            m[f"{layer}.shuffle_bytes"] = (job(layer, "shuffle_bytes"), "bytes")
        for layer in ("candidates", "verify"):
            m[f"{layer}.sched_wait_s"] = (job(layer, "sched_wait_s"), "s")
        m["candidates.spill_bytes"] = (job("candidates", "spill_bytes"), "bytes")
        m["candidates.task_skew"] = (job("candidates", "task_skew"), "ratio")
        total = jobs.get("*", {})
        m["spark.tasks_failed"] = (total.get("tasks_failed", 0), "count")
        m["spark.gc_s"] = (total.get("gc_s", 0), "s")
        m["setup.session_s"] = (session_s, "s")
        m["trace.wall_s"] = (statistics.median(res.walls), "s")
        return m

    def span_records(self) -> list[dict]:
        """Every span of the run, times relative to the first span's start."""
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"id": s.sid, "layer": s.layer, "parent": s.parent.sid if s.parent else None,
             "start_s": s.start - t0, "end_s": s.end - t0, **s.info}
            for s in self.spans
        ]

    def _ancestors(self, s: Span):
        p = s.parent
        while p is not None:
            yield p
            p = p.parent


def _parse_event_log(event_log: str, group_layer: dict[str, str]) -> dict[str, dict]:
    """Per-layer Spark task metrics from the event log, keyed by the job
    group each span set; layer "*" totals every job of the timed run (the
    groups in `group_layer`), not the untraced counts and checks after it."""
    files = [f for f in glob.glob(os.path.join(event_log, "*")) if os.path.isfile(f)]
    stage_layer: dict[int, str] = {}
    tasks: dict[str, dict[int, list]] = {}
    out: dict[str, dict] = {}

    def acc(layer: str, key: str, v: float) -> None:
        d = out.setdefault(layer, {})
        d[key] = d.get(key, 0) + v

    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    layer = group_layer.get(group)
                    if layer is not None:
                        for sid in e.get("Stage IDs", []):
                            stage_layer[sid] = layer
                elif ev == "SparkListenerTaskEnd":
                    info = e.get("Task Info") or {}
                    m = e.get("Task Metrics") or {}
                    failed = (e.get("Task End Reason") or {}).get("Reason") != "Success"
                    own = stage_layer.get(e.get("Stage ID"))
                    if own is None:
                        continue
                    for layer in ("*", own) if own else ("*",):
                        acc(layer, "tasks_failed", int(failed))
                        acc(layer, "gc_s", m.get("JVM GC Time", 0) / 1e3)
                        run_ms = m.get("Executor Run Time", 0)
                        acc(layer, "executor_s", run_ms / 1e3)
                        sw = m.get("Shuffle Write Metrics") or {}
                        acc(layer, "shuffle_bytes", sw.get("Shuffle Bytes Written", 0))
                        acc(layer, "spill_bytes", m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0))
                        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                        delay = dur - run_ms - m.get("Executor Deserialize Time", 0) \
                            - m.get("Result Serialization Time", 0) \
                            - (info.get("Finish Time", 0) - info.get("Getting Result Time", 0)
                               if info.get("Getting Result Time") else 0)
                        acc(layer, "sched_wait_s", max(delay, 0) / 1e3)
                        if layer != "*":
                            tasks.setdefault(layer, {}).setdefault(e["Stage ID"], []).append(dur)
    for layer, stages in tasks.items():
        # skew of the layer's busiest multi-task stage: max / median task time
        multi = [d for d in stages.values() if len(d) > 1]
        if multi:
            busiest = max(multi, key=sum)
            med = statistics.median(busiest)
            out.setdefault(layer, {})["task_skew"] = max(busiest) / med if med else 0
    return out
