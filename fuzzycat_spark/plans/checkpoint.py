"""Stage checkpointing: materialize pipeline stages to parquet tables so
(a) iterative algorithms get a REAL lineage cut, and (b) runs are resumable
mid-pipeline (north rule: "resumable from checkpoint with per-partition
lineage + metrics").

The reference rebuilds everything from scratch per run
(`/root/reference/notes/2021_09_review.md:97-101`); we add the incremental
story it never had. On a cluster the base_dir is an object-store/Iceberg
path; locally it's a directory.

Why parquet instead of `DataFrame.localCheckpoint` for loops: measured on
Spark 4.1.2, a chain of localCheckpoints does NOT reliably cut the
physical recompute chain — per-iteration wall time triples per iteration
(3 refs/iteration -> 3^n) once ~15 checkpoints accumulate, turning a
25-iteration CC loop from seconds into minutes. A parquet round-trip is a
hard plan boundary: constant ~1s/iteration, and doubles as the resume
point.
"""

from __future__ import annotations

import atexit
import json
import os
import re
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


_EPHEMERAL: dict[str, "StageCheckpointer"] = {}
_MAT_COUNTER = 0


# a URI scheme, with or without `//`: Hadoop writes `file:/a/b` and
# `hdfs:/a/b`, and pyarrow's `from_uri` reads both
_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def resolve_fs(path: str):
    """(filesystem, fs_path) via pyarrow.fs — local paths AND object-store
    URIs (hadoop s3a:///s3n:// map to pyarrow's s3://). Shared by stage
    lineage here and the streaming pointer/lineage I/O. A path without a
    scheme is made absolute against the process's working directory first
    (`from_uri` rejects a relative one). Spark resolves the same relative
    path against fs.defaultFS, so the two agree only when that is the
    local filesystem; a job passes its root through `qualify_path` once
    so both sides see one URI."""
    from pyarrow import fs as pafs

    uri = path if _URI_SCHEME.match(path) else os.path.abspath(path)
    for hadoop_scheme in ("s3a://", "s3n://"):
        if uri.startswith(hadoop_scheme):
            uri = "s3://" + uri[len(hadoop_scheme) :]
            break
    return pafs.FileSystem.from_uri(uri)


def qualify_path(spark: SparkSession, path: str) -> str:
    """`path` as the fully-qualified URI Spark reads and writes it at
    (Hadoop's `FileSystem.makeQualified`): a relative or scheme-less path
    is resolved against fs.defaultFS and its working directory, e.g.
    `state` -> `file:/home/u/state` or `hdfs://nn:8020/user/u/state`."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs.makeQualified(hpath).toString()


def atomic_put(path: str, payload: str) -> None:
    """Write one small control file with atomic VISIBILITY — readers see
    the old content or the new, never a partial write. On a local
    filesystem: write-then-rename (atomic on POSIX). On an object store:
    one single-key PUT, which has atomic visibility per S3/GCS semantics
    (a rename there would be copy+delete, i.e. WORSE than the direct
    PUT). Shared by the streaming commit pointer and the compaction base
    pointer — every "swap the pointer LAST" protocol in the repo routes
    through this one writer."""
    import os

    from pyarrow import fs as pafs

    fs, p = resolve_fs(path)
    if isinstance(fs, pafs.LocalFileSystem):
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, p)
        return
    with fs.open_output_stream(p) as f:
        f.write(payload.encode("utf-8"))


def read_control(path: str) -> str | None:
    """The content of one small control file written by `atomic_put`, or
    None if the path does not exist. Every other failure (an unreachable
    filesystem, a denied read) raises: a pointer that cannot be read is
    not the same as no pointer."""
    from pyarrow import fs as pafs

    fs, p = resolve_fs(path)
    if fs.get_file_info(p).type == pafs.FileType.NotFound:
        return None
    with fs.open_input_stream(p) as f:
        return f.read().decode("utf-8")


def partition_lineage(path: str) -> dict:
    """Per-partition lineage + counters for a completed parquet stage,
    from file FOOTERS only: each writer task emits one file, so per-file
    row counts ARE the per-partition counters, and reading them costs one
    small metadata fetch per file — no data scan, no extra Spark job. The
    max/min spread is the per-stage skew evidence you want recorded on a
    100 TB run (a stage whose max_file_rows is 100x its median is the
    shuffle to fix). A filesystem pyarrow cannot reach degrades to an
    {"error": ...} record instead of failing the job — lineage is
    telemetry, not a correctness dependency."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    try:
        fs, root = resolve_fs(path)
        infos = fs.get_file_info(pafs.FileSelector(root))
        parts = []
        for fi in sorted(infos, key=lambda i: i.path):
            if fi.is_file and fi.path.endswith(".parquet"):
                md = pq.read_metadata(fi.path, filesystem=fs)
                parts.append(
                    {
                        "file": fi.path.rsplit("/", 1)[-1],
                        "rows": md.num_rows,
                        "bytes": fi.size,
                    }
                )
    except Exception as exc:  # unreachable fs -> telemetry gap, not a crash
        return {"error": f"lineage unavailable for {path}: {exc}"}
    rows = [p["rows"] for p in parts]
    return {
        "files": len(parts),
        "rows": sum(rows),
        "bytes": sum(p["bytes"] for p in parts),
        "max_file_rows": max(rows, default=0),
        "min_file_rows": min(rows, default=0),
        "partitions": parts,
    }


# the footer key under which Spark's parquet writer stores the written
# frame's schema as JSON
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _first_data_file(fs, root: str) -> tuple[str, list[str]] | None:
    """(path, partition keys above it) of the first data file under `root`,
    descending `key=value` directories in name order; hidden files and
    directories (`_SUCCESS`, `.crc`, `_temporary`) are skipped as Spark
    skips them. None when `root` is absent or holds no data file."""
    from pyarrow import fs as pafs

    infos = sorted(
        fs.get_file_info(pafs.FileSelector(root, allow_not_found=True)),
        key=lambda i: i.base_name,
    )
    visible = [i for i in infos if not i.base_name.startswith(("_", "."))]
    for i in visible:
        if i.is_file and i.base_name.endswith(".parquet"):
            return i.path, []
    for i in visible:
        if i.type == pafs.FileType.Directory and "=" in i.base_name:
            found = _first_data_file(fs, i.path)
            if found is not None:
                return found[0], [i.base_name.split("=", 1)[0], *found[1]]
    return None


def footer_schema(path: str) -> StructType | None:
    """The schema a Spark read of the parquet table at `path` infers, taken
    without that inference job: the frame schema Spark's writer stored in
    the footer of one data file (read on the driver through pyarrow, one
    metadata fetch), followed by the `key=value` directories above that
    file as string columns. None when `path` holds no data file.

    Partition columns are strings whatever their values look like: an
    all-digit band id stays the string the plan wrote, where inference
    would turn it into an int."""
    import pyarrow.parquet as pq

    fs, root = resolve_fs(path)
    found = _first_data_file(fs, root)
    if found is None:
        return None
    file, keys = found
    raw = (pq.read_metadata(file, filesystem=fs).metadata or {}).get(SPARK_ROW_METADATA)
    if raw is None:
        raise RuntimeError(f"{file} was not written by Spark: its footer has no schema")
    schema = StructType.fromJson(json.loads(raw))
    for k in keys:
        if k not in schema.fieldNames():
            schema = schema.add(StructField(k, StringType()))
    return schema


def _ephemeral_root() -> str | None:
    """Root for EPHEMERAL checkpoint dirs (auto-created, removed at exit).

    tmpfs (/dev/shm) when available: on this single-VM stand-in the virtio
    disk's writeback stalls add 2-6x run-to-run noise to every parquet
    round-trip. Durable/resumable checkpoints (StageCheckpointer with an
    explicit base_dir — on a cluster, the Iceberg/object-store path) are
    unaffected. Override with FUZZYCAT_CKPT_DIR; None falls back to the
    system tempdir.
    """
    override = os.environ.get("FUZZYCAT_CKPT_DIR")
    if override:
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        _sweep_stale(shm, "fuzzycat_ckpt_")
        return shm
    return None


HEARTBEAT = "_fuzzycat_heartbeat"


def _touch_heartbeat(base_dir: str) -> None:
    """Mark `base_dir` as owned by a live session. _sweep_stale ages a dir
    by the newest of (dir mtime, heartbeat mtime, direct-children mtimes),
    so a long-running session that touches this on every materialize/load
    is never reaped mid-flight even if its last WRITE was hours ago."""
    try:
        with open(os.path.join(base_dir, HEARTBEAT), "w") as f:
            f.write(str(time.time()))
    except OSError:
        pass


def _newest_mtime(path: str) -> float:
    """Newest mtime among the dir, its heartbeat, and its direct children
    (Spark's own spark-<uuid> scratch dirs get no heartbeat, but their
    blockmgr/tmp subdirs are touched while the JVM is alive)."""
    try:
        newest = os.path.getmtime(path)
    except OSError:
        return float("inf")  # racing a concurrent delete — leave it alone
    try:
        for child in os.listdir(path):
            try:
                newest = max(newest, os.path.getmtime(os.path.join(path, child)))
            except OSError:
                continue
    except OSError:
        pass
    return newest


def _sweep_stale(root: str, prefix: str, max_age_sec: int = 3 * 3600) -> None:
    """Remove stale ephemeral dirs left by KILLED processes (atexit never
    runs on SIGKILL/timeout). Age-gated on the NEWEST activity inside the
    dir (heartbeat/children, not just the top-level mtime) so concurrent
    live sessions in a long compute phase are never touched; tmpfs roots
    otherwise grow RAM-resident garbage across runs."""
    now = time.time()
    try:
        names = os.listdir(root)
    except OSError:
        return
    for n in names:
        if not n.startswith(prefix):
            continue
        p = os.path.join(root, n)
        if now - _newest_mtime(p) > max_age_sec:
            shutil.rmtree(p, ignore_errors=True)


def _session_checkpointer(spark: SparkSession) -> "StageCheckpointer":
    """The per-session ephemeral checkpointer, its dir removed at exit."""
    key = spark.sparkContext.applicationId
    ck = _EPHEMERAL.get(key)
    if ck is None:
        ck = _EPHEMERAL.setdefault(key, StageCheckpointer(spark))
        atexit.register(shutil.rmtree, ck.base_dir, ignore_errors=True)
    return ck


def scratch_checkpointer(spark: SparkSession, prefix: str) -> "StageCheckpointer":
    """An ephemeral checkpointer with its own namespace: a fresh subdir of
    the session's ephemeral dir, so fixed stage names (the `cc_*` rounds)
    never overwrite files an earlier caller's lazy frame still reads, and
    the session's exit-time removal takes the subdir with it."""
    root = _session_checkpointer(spark)
    ck = StageCheckpointer(
        spark, tempfile.mkdtemp(prefix=prefix, dir=root.base_dir), lineage=False
    )
    ck.codec = root.codec
    return ck


def materialize(
    df: DataFrame, name: str | None = None, keep_last: int | None = None
) -> DataFrame:
    """Parquet round-trip a DataFrame through a per-session ephemeral
    checkpoint dir — the general replacement for `localCheckpoint` in this
    codebase. Besides the unreliable lineage cut (module docstring),
    localCheckpoint stores DESERIALIZED JVM objects in the block manager:
    materializing token/shingle string arrays that way costs ~100 B/string
    of heap and made 290k-doc runs superlinearly slower from GC churn.
    Parquet blocks are compact Tungsten pages served through the OS page
    cache instead.

    Every materialization gets a fresh path (an overwrite of a shared name
    would delete files still lazily referenced by earlier frames); the whole
    ephemeral dir is removed at interpreter exit. Long-lived loops (e.g.
    streaming foreachBatch) pass `keep_last=N` to also drop all but the N
    most recent materializations of the same `name` — the caller asserts
    older frames under that name are no longer referenced.
    """
    global _MAT_COUNTER
    ck = _session_checkpointer(df.sparkSession)
    _MAT_COUNTER += 1
    out = ck.write(df, f"{name or 'mat'}_{_MAT_COUNTER}")
    if keep_last is not None and name:
        ck.prune(f"{name}_", keep_last)
    return out


class StageCheckpointer:
    """Named-stage parquet checkpoints with a resume manifest.

    >>> ck = StageCheckpointer(spark, "/ckpt/run42")
    >>> verified = ck.stage("verified", lambda: verify_pairs(...))
    On re-run, completed stages load instead of recomputing.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str | None = None,
        lineage: bool | None = None,
    ):
        # per-partition lineage is for DURABLE run checkpoints (explicit
        # base_dir); ephemeral materialize() barriers skip the footer reads
        self.lineage = lineage if lineage is not None else base_dir is not None
        self.spark = spark
        self.base_dir = base_dir or tempfile.mkdtemp(
            prefix="fuzzycat_ckpt_", dir=_ephemeral_root()
        )
        # EPHEMERAL checkpoints living on tmpfs skip parquet compression:
        # the pages are RAM-resident either way, so the codec is pure CPU
        # in the write+read round trip (measured ~1s/query on the CC-heavy
        # paths at sf0.1). Durable checkpoints (explicit base_dir — disk or
        # object store at production scale) keep the session codec, where
        # compression buys real IO. FUZZYCAT_CKPT_CODEC overrides both ways.
        self.codec: str | None = os.environ.get("FUZZYCAT_CKPT_CODEC")
        if self.codec is None and base_dir is None and self.base_dir.startswith(
            "/dev/shm"
        ):
            self.codec = "uncompressed"
        self._manifest_path = os.path.join(self.base_dir, "_manifest.json")
        self._manifest: dict[str, dict] = {}
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                self._manifest = json.load(f)

    # -- core ---------------------------------------------------------------

    def write(self, df: DataFrame, name: str) -> DataFrame:
        """Materialize `df` under `name` and return the re-read frame
        (a hard plan/lineage boundary)."""
        path = self.stage_path(name)
        t0 = time.time()
        _touch_heartbeat(self.base_dir)
        w = df.write.mode("overwrite")
        if self.codec:
            w = w.option("compression", self.codec)
        w.parquet(path)
        # passing the schema skips the Spark job that infers it from the
        # footers; a file source reads every field as nullable either way
        # (pinned per stage by tests/test_checkpoint_reread.py)
        out = self.spark.read.schema(df.schema).parquet(path)
        self._record(name, df.schema, t0)
        return out

    def _record(self, name: str, schema: StructType, t0: float) -> None:
        """Enter the table written at `stage_path(name)` since `t0` in the
        manifest."""
        path = self.stage_path(name)
        # kept for `load`, which re-reads a stage without its frame
        entry = {"path": path, "schema": schema.json()}
        if self.lineage:
            lineage = partition_lineage(path)
            parts = lineage.pop("partitions", None)
            if parts is not None:
                # full per-partition list rides in a sidecar INSIDE the
                # stage dir (it scales with file count); the manifest
                # keeps the aggregates
                with open(os.path.join(path, "_lineage.json"), "w") as f:
                    json.dump(parts, f)
            entry.update(lineage)
        entry["wall_sec"] = round(time.time() - t0, 3)
        entry["ts"] = time.time()
        self._manifest[name] = entry
        self._flush()

    def path(self, name: str) -> str:
        return self._manifest[name]["path"]

    def stage_path(self, name: str) -> str:
        """Where stage `name` is written."""
        return os.path.join(self.base_dir, name)

    def done(self, name: str) -> bool:
        return name in self._manifest and os.path.exists(
            os.path.join(self._manifest[name]["path"], "_SUCCESS")
        )

    def load(self, name: str) -> DataFrame:
        """Re-read a completed stage with the schema its write recorded (a
        manifest written before stages recorded one infers it)."""
        _touch_heartbeat(self.base_dir)
        entry = self._manifest[name]
        reader = self.spark.read
        if "schema" in entry:
            reader = reader.schema(StructType.fromJson(json.loads(entry["schema"])))
        return reader.parquet(entry["path"])

    def stage(self, name: str, build, writes_itself: bool = False) -> DataFrame:
        """Resume-aware stage: load if complete, else build + checkpoint.
        With `writes_itself`, `build()` has written the table at
        `stage_path(name)` and returns its re-read, which is recorded
        without a second write."""
        if self.done(name):
            return self.load(name)
        if not writes_itself:
            return self.write(build(), name)
        t0 = time.time()
        _touch_heartbeat(self.base_dir)
        out = build()
        self._record(name, out.schema, t0)
        return out

    def prune(self, prefix: str, keep_last: int) -> None:
        """Delete all but the `keep_last` most recent checkpoints whose name
        starts with `prefix`. Only for names the caller KNOWS are no longer
        lazily referenced (e.g. superseded per-batch materializations)."""
        named = sorted(
            (n for n in self._manifest if n.startswith(prefix)),
            key=lambda n: self._manifest[n].get("ts", 0),
        )
        for n in named[: max(0, len(named) - keep_last)]:
            shutil.rmtree(self._manifest[n]["path"], ignore_errors=True)
            del self._manifest[n]
        self._flush()

    def record_counters(self, name: str, counters: dict) -> None:
        """Attach stage metrics (the reference's key_ok/key_empty-style
        counters, `notes/old_pipeline.md:106-112`) to the manifest."""
        self._manifest.setdefault(name, {})["counters"] = counters
        self._flush()

    def _flush(self) -> None:
        os.makedirs(self.base_dir, exist_ok=True)
        with open(self._manifest_path, "w") as f:
            json.dump(self._manifest, f, indent=1, default=str)
