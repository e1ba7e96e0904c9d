"""The benchmark's workloads: inputs, the timed loop and the per-run
correctness checks. Every call into the program goes through its public
entry points (`dedup_pages`, `incremental_dedup_batch`, `compact_state`,
`read_assignments`); nothing here reaches into private state.

Closed loop: one driver process submits one job at a time and waits for it.
Inputs are written to parquet during set-up, so every timed run starts at a
parquet scan. Set-up also runs the unit once over a small warm-up corpus
(`Workload.warm_up`), so JVM class loading, code generation and Python
worker start-up happen there and not inside the timing.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from gen import Shape, generate

ALL_TEXT_STRATEGIES = ("exact", "slug", "minhash", "simhash", "substring", "winnow")

SHAPES = {
    # 4-doc families plus hot-key spam, default strategies
    "web_crawl": Shape(n_families=500),
    # the web_crawl shape arriving as a stream segment
    "stream_ingest": Shape(n_families=250, n_segments=1),
    # chained near-dup families on top of the families and spam, all six
    # text strategies (not in BENCHMARK.json: see README.md)
    "deep_overlap": Shape(n_families=300, n_chains=40),
}
# a few dozen docs of the same shape: enough to run every code path once
WARMUP_SHAPES = {
    "web_crawl": Shape(n_families=25),
    "stream_ingest": Shape(n_families=25, n_segments=1),
    "deep_overlap": Shape(n_families=25, n_chains=2),
}
SETUP_REPEATS = 3


def dedup_config(workload: str):
    from fuzzycat_spark.operators.dedup import DedupConfig

    if workload == "deep_overlap":
        return DedupConfig(strategies=ALL_TEXT_STRATEGIES)
    return DedupConfig()


@dataclass
class RunResult:
    """Everything one workload run measured, before it is reported."""

    setup_s: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    walls: list[float] = field(default_factory=list)
    epochs: list[float] = field(default_factory=list)
    docs: int = 0
    recall: list[float] = field(default_factory=list)
    precision: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


class CheckFailed(Exception):
    """An output of the program under test is wrong."""


def read_table(path: str):
    """A parquet directory written by Spark as a pandas frame."""
    return pq.read_table(path).to_pandas()


def pair_scores(assign, golden) -> tuple[float, float]:
    """(pair_recall, pair_precision) from cluster-size counts.

    A pair is two docs in one cluster; the golden pairs are those of the
    true clusters. Counting C(n, 2) per cell of the (cluster_id,
    true_cluster_id) contingency table gives the shared pairs without
    enumerating any pair.
    """
    m = assign.merge(golden, on="id")

    def pairs(sizes) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    shared = pairs(m.groupby(["cluster_id", "true_cluster_id"]).size())
    predicted = pairs(m.groupby("cluster_id").size())
    true = pairs(m.groupby("true_cluster_id").size())
    return shared / true, shared / predicted


def check_assignments(assign, golden) -> tuple[float, float]:
    """Coverage (every input id exactly once) plus pair scores."""
    if assign["id"].duplicated().any():
        dup = assign.loc[assign["id"].duplicated(), "id"].iloc[0]
        raise CheckFailed(f"id {dup!r} assigned more than once")
    missing = set(golden["id"]) - set(assign["id"])
    extra = set(assign["id"]) - set(golden["id"])
    if missing or extra:
        raise CheckFailed(f"{len(missing)} input ids unassigned, {len(extra)} unknown ids")
    if assign["cluster_id"].isna().any():
        raise CheckFailed("null cluster_id")
    return pair_scores(assign, golden)


class Workload:
    """One workload in one checkout: inputs, timed loop and checks."""

    def __init__(self, name: str, seed: int, work: str, tracer=None):
        self.name = name
        self.seed = seed
        self.work = work
        self.cfg = dedup_config(name)
        self.tracer = tracer
        self.shape = SHAPES[name]
        self.inputs = f"{work}/inputs"
        self.warmup_inputs = f"{work}/warmup"
        self.golden = None
        self.reference = None  # stream_ingest: dedup_pages' (id, cluster_id) set

    def generate_inputs(self, res: RunResult) -> None:
        """Write the inputs SETUP_REPEATS times; the repeats give the
        median generation time, the last copy is the one the run reads.
        The warm-up corpus comes from the same seed."""
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            res.docs = generate(self.seed, self.shape, self.inputs)
            res.setup_s.append(time.perf_counter() - t0)
        generate(self.seed, WARMUP_SHAPES[self.name], self.warmup_inputs)
        self.golden = read_table(f"{self.inputs}/golden.parquet")

    def warm_up(self, spark, res: RunResult) -> None:
        """Untimed set-up work: the unit once over the warm-up corpus, which
        takes the session's start-up costs; for stream_ingest also the
        batch reference (`dedup_pages` over the stream's docs) that every
        timed pass is compared with."""
        t0 = time.perf_counter()
        scratch, tracer, self.tracer = RunResult(), self.tracer, None
        if self.shape.n_segments:
            from fuzzycat_spark.operators.dedup import dedup_pages

            self._stream_pass(spark, f"{self.work}/warmup", scratch, self.warmup_inputs)
            pages = spark.read.parquet(f"{self.inputs}/segments").drop("seg")
            _, ref = dedup_pages(pages, self.cfg)
            self.reference = {(r["id"], r["cluster_id"]) for r in ref.collect()}
        else:
            self._batch_run(spark, f"{self.work}/warmup", scratch, self.warmup_inputs)
        self.tracer = tracer
        res.warmup_s = time.perf_counter() - t0

    def run(self, spark, seconds: float, res: RunResult, max_reps: int = 0) -> None:
        """Repeat the workload's unit of work until `seconds` have passed
        (at least once, at most `max_reps` times when that is set), and
        check each unit's output."""
        unit = self._stream_pass if self.shape.n_segments else self._batch_run
        deadline = time.perf_counter() + seconds
        i = 0
        while True:
            res.attempted += 1
            try:
                self._check(unit(spark, f"{self.work}/run{i}", res, self.inputs), res)
            except CheckFailed as exc:
                res.failed += 1
                res.errors.append(f"check: {exc}")
            except Exception as exc:  # a failed run is counted, not fatal
                res.failed += 1
                res.errors.append(f"run: {type(exc).__name__}: {exc}")
            i += 1
            if time.perf_counter() >= deadline or i == max_reps:
                break

    def _check(self, assign, res: RunResult) -> None:
        """Coverage and pair scores; for stream_ingest, equality with the
        batch reference."""
        r, p = check_assignments(assign, self.golden)
        res.recall.append(r)
        res.precision.append(p)
        if self.reference is not None and \
                set(zip(assign["id"], assign["cluster_id"])) != self.reference:
            raise CheckFailed("incremental assignments differ from dedup_pages")

    def _batch_run(self, spark, out: str, res: RunResult, inputs: str):
        """dedup_pages over the corpus, assignments committed to parquet;
        returns them."""
        from fuzzycat_spark.operators.dedup import dedup_pages

        t0 = time.perf_counter()
        pages = spark.read.parquet(f"{inputs}/pages")
        if self.tracer is not None:
            assign = self.tracer.traced_dedup(pages, self.cfg)
        else:
            _, assign = dedup_pages(pages, self.cfg)
        assign.write.parquet(f"{out}/assignments")
        res.walls.append(time.perf_counter() - t0)
        res.epochs.append(res.walls[-1])
        return read_table(f"{out}/assignments")

    def _stream_pass(self, spark, state: str, res: RunResult, inputs: str):
        """Each segment through incremental_dedup_batch(assign=True) into
        fresh state, then one compact_state; returns the committed
        assignments."""
        from fuzzycat_spark.streaming.assignments import read_assignments
        from fuzzycat_spark.streaming.compaction import compact_state
        from fuzzycat_spark.streaming.dedup_stream import incremental_dedup_batch

        index, pairs = f"{state}/index", f"{state}/pairs"
        t0 = time.perf_counter()
        for k in range(self.shape.n_segments):
            te = time.perf_counter()
            segment = spark.read.parquet(f"{inputs}/segments/seg={k}")
            incremental_dedup_batch(segment, index, pairs, self.cfg, assign=True)
            res.epochs.append(time.perf_counter() - te)
        compact_state(spark, index, pairs)
        res.walls.append(time.perf_counter() - t0)
        if self.tracer is not None:
            self.tracer.stream_state(state, pairs)
        return read_assignments(spark, index).toPandas()


def median(xs: list[float]) -> float:
    return statistics.median(xs)
