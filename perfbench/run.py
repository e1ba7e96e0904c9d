"""Dedup benchmark runner.

    python3 perfbench/run.py --workload web_crawl --seed 1 --seconds 1 --trace 0

Run from the root of a checkout of the repository. The runner pins the
environment (local[<cores>], shuffle partitions = cores, a 3 GiB driver
heap, every scratch, checkpoint and temp directory inside the checkout),
writes the workload's seeded inputs, warms up on a small corpus, repeats
the workload's timed unit until ``--seconds`` have passed (at least once;
exactly once in a traced run), checks every output, and prints one JSON
object as the last line of standard output, its end-to-end times scaled
to a reference host speed by a program-independent probe (`host_probe`;
see README.md):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run is traced (see tracing.py) and the metrics are the per-layer ones.
Progress goes to standard error. See README.md in this directory for the
metric definitions and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"
RSS_PERIOD_S = 0.2
# median host_probe() on the idle 4-vCPU machine the bounds were set on
PROBE_REF_S = 0.12
PROBES = 5


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(work: str, cores: int) -> None:
    """Everything the program and Spark write goes under `work`."""
    for d in ("tmp", "spark-local", "ckpt"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.update(
        TMPDIR=f"{work}/tmp",
        SPARK_GRAFT_LOCAL_DIR=f"{work}/spark-local",
        SPARK_LOCAL_DIRS=f"{work}/spark-local",  # overrides spark.local.dir when set
        FUZZYCAT_CKPT_DIR=f"{work}/ckpt",
        # every JVM (the spark-submit launcher too): temp files in the work
        # dir, no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(cores),
        # Python workers import the program from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(c) for c in f.read().split()]
    except OSError:
        return []


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of a process tree (the driver JVM and the Python
    workers it forks), sampled on a background thread."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            total += _rss_bytes(pid)
            todo.extend(_children(pid))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def host_probe(threads: int, n: int = 1 << 21, reps: int = 3) -> float:
    """Seconds for `threads` threads to each sort a fixed array `reps`
    times (numpy releases the GIL while it sorts): a fixed piece of work,
    independent of the program, that slows as the host gets busier."""
    import numpy as np

    base = np.random.default_rng(0).random(n)

    def work() -> None:
        for _ in range(reps):
            np.sort(base)

    ts = [threading.Thread(target=work) for _ in range(threads)]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return time.perf_counter() - t0


def start_spark(cores: int, work: str, event_log: str | None):
    from fuzzycat_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it is gone
    (the Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(res, session_s: float, scale: float) -> dict:
    """The user-visible metrics of one run, times scaled to the reference
    host speed by `scale`. A batch run is one epoch over the whole
    corpus."""
    from workloads import median

    wall = median(res.walls) * scale
    return {
        "setup_s": ((session_s + median(res.setup_s) + res.warmup_s) * scale, "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (res.docs / wall, "1/s"),
        "pair_recall": (median(res.recall), "ratio"),
        "pair_precision": (median(res.precision), "ratio"),
        "epoch_p50_s": (median(res.epochs) * scale, "s"),
    }


def main() -> int:
    from workloads import SHAPES

    ap = argparse.ArgumentParser(description="Dedup benchmark runner")
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work, cores)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


def _run(args, cores: int, work: str) -> int:
    import fuzzycat_spark  # noqa: F401 — fail before any Spark start if absent

    from workloads import RunResult, Workload

    res = RunResult()
    tracer = None
    event_log = f"{work}/eventlog" if args.trace else None
    t0 = time.perf_counter()
    spark = start_spark(cores, work, event_log)
    session_s = time.perf_counter() - t0
    # the host's speed around set-up and the timed loop, three times
    probes = [host_probe(cores) for _ in range(PROBES)]
    try:
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        wl = Workload(args.workload, args.seed, work, tracer)
        wl.generate_inputs(res)
        wl.warm_up(spark, res)
        log(f"{args.workload} seed={args.seed}: {res.docs} docs, "
            f"session {session_s:.1f}s, warm-up {res.warmup_s:.1f}s")
        from pyspark import SparkContext

        probes += [host_probe(cores) for _ in range(PROBES)]
        with RssSampler(SparkContext._gateway.proc.pid) as rss:
            if tracer is not None:
                tracer.install()
            try:
                # per-layer figures are those of one timed unit
                wl.run(spark, args.seconds, res, max_reps=1 if tracer else 0)
            finally:
                if tracer is not None:
                    tracer.uninstall()
        probes += [host_probe(cores) for _ in range(PROBES)]
        if tracer is not None:
            tracer.count_deferred()
    finally:
        stop_spark(spark)
    for e in res.errors:
        log(f"FAILED {e}")
    probe = statistics.median(probes)
    scale = PROBE_REF_S / probe
    log(f"walls {[round(w, 2) for w in res.walls]} epochs {[round(e, 2) for e in res.epochs]} "
        f"(as timed); host probe {probe:.4f}s, scale {scale:.3f}")
    if not res.walls:
        metrics = {}
    elif tracer is not None:
        metrics = tracer.per_layer(res, event_log, session_s)
        log("spans " + json.dumps(tracer.span_records()))
        # peak RSS spread ~18 % across seeds: a layer figure, not a bound
        metrics["spark.peak_rss_mb"] = (rss.peak / 2**20, "MB")
        metrics["host.probe_s"] = (probe, "s")
        # scaled like wall_s, so the difference is the tracing overhead
        metrics["trace.wall_s"] = (metrics["trace.wall_s"][0] * scale, "s")
    else:
        metrics = end_to_end(res, session_s, scale)
    out = {
        "correct": res.failed == 0 and bool(res.walls),
        "attempted": max(res.attempted, 1),
        "failed": res.failed if res.attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
