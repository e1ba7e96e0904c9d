"""Incremental cluster assignments (streaming/assignments.py): the
streaming path's assignment state must equal batch `dedup_pages`
assignments after any sequence of micro-batches — including cross-epoch
family growth, a LATE BRIDGE doc merging two already-committed clusters,
and a later arrival that takes over as the component's min-id canonical
(exercising remap composition / re-pointing)."""

from __future__ import annotations

import tempfile

import pytest

from fuzzycat_spark.operators.dedup import DedupConfig, dedup_pages
from fuzzycat_spark.streaming.assignments import read_assignments
from fuzzycat_spark.streaming.dedup_stream import incremental_dedup_batch

# 59-word alphabetic pool (digits would trip the cascade's NUM_DIFF
# rule); T1/T2 overlap too little to pair directly (jaccard ~0.54), the
# bridge Z overlaps each at ~0.74 — the merge of the two committed
# clusters can only happen through Z's epoch.
_ABC = "abcdefghij"
_POOL = [f"term{_ABC[i // 10]}{_ABC[i % 10]}" for i in range(1, 60)]
_T1 = " ".join(_POOL[0:40])
_T2 = " ".join(_POOL[12:52])
_Z = " ".join(_POOL[6:46])

_EPOCHS = (
    # epoch 0: family A (exact dups) + a singleton
    [("d1", _T1), ("d2", _T1), ("s1", "lone document about nothing shared")],
    # epoch 1: family B (exact dups), unrelated to A at direct-pair level
    [("e1", _T2), ("e2", _T2)],
    # epoch 2: the bridge — near-dup of BOTH families' texts
    [("z1", _Z)],
    # epoch 3: new min-id doc joins family B exactly: the merged
    # component's canonical must move to a000 (remap re-pointing)
    [("a000", _T2), ("s2", "another isolated page talking to itself only")],
)

_CFG = DedupConfig(strategies=("exact", "slug", "minhash"))


def _assignment_set(df):
    return {(r.id, r.cluster_id) for r in df.collect()}


@pytest.fixture(scope="module")
def drained(spark):
    tmp = tempfile.mkdtemp(prefix="inc_assign_")
    index, pairs = f"{tmp}/index", f"{tmp}/pairs"
    for chunk in _EPOCHS:
        b = spark.createDataFrame(chunk, "url string, text string")
        incremental_dedup_batch(b, index, pairs, _CFG)
    return index, pairs


def test_incremental_assignments_equal_batch(spark, drained):
    index, _ = drained
    all_rows = [r for chunk in _EPOCHS for r in chunk]
    df = spark.createDataFrame(all_rows, "url string, text string")
    batch = _assignment_set(dedup_pages(df, _CFG)[1])
    inc = _assignment_set(read_assignments(spark, index))
    assert inc == batch
    # the scenario actually exercised what it claims: one merged cluster
    # holding both families plus the bridge, canonical = the late a000
    clusters = {}
    for doc, c in inc:
        clusters.setdefault(c, set()).add(doc)
    assert clusters["a000"] == {"d1", "d2", "e1", "e2", "z1", "a000"}
    assert ("s1", "s1") in inc and ("s2", "s2") in inc


def test_label_state_is_append_only(spark, drained):
    """Each id's base-label row is written in the epoch it FIRST arrived —
    later merges never rewrite old epochs (O(new docs) writes per epoch
    at any corpus size); merges land in the composed remap snapshot."""
    index, _ = drained
    labels = spark.read.parquet(f"{index}_labels")
    by_epoch = {
        r.epoch: r.n
        for r in labels.groupBy("epoch").count().withColumnRenamed("count", "n").collect()
    }
    assert by_epoch == {i: len(chunk) for i, chunk in enumerate(_EPOCHS)}
    # epoch-3 snapshot must re-point family B's old canonical (e1) AND
    # the epoch-2 merged canonical (d1) directly at a000 — composed,
    # never chained
    remap = {
        r.old_label: r.cur_label
        for r in spark.read.parquet(f"{index}_remap/epoch=3").collect()
    }
    assert remap["d1"] == "a000" and remap["e1"] == "a000"
    assert all(old != cur for old, cur in remap.items())


def test_crash_before_pointer_keeps_previous_assignments(spark, monkeypatch, tmp_path):
    """A kill AFTER the label/remap writes but BEFORE the pointer swap
    must leave the previous epoch's assignments authoritative, and the
    replay of the failed epoch must converge to the correct state."""
    from fuzzycat_spark.streaming import dedup_stream

    index, pairs = f"{tmp_path}/index", f"{tmp_path}/pairs"
    b0 = spark.createDataFrame(_EPOCHS[0], "url string, text string")
    incremental_dedup_batch(b0, index, pairs, _CFG)
    before = _assignment_set(read_assignments(spark, index))

    real_commit = dedup_stream._commit_pointer

    def boom(index_path, epoch):
        raise RuntimeError("simulated crash before pointer swap")

    monkeypatch.setattr(dedup_stream, "_commit_pointer", boom)
    b1 = spark.createDataFrame(_EPOCHS[1], "url string, text string")
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_dedup_batch(b1, index, pairs, _CFG)
    # uncommitted epoch invisible to readers
    assert _assignment_set(read_assignments(spark, index)) == before

    monkeypatch.setattr(dedup_stream, "_commit_pointer", real_commit)
    incremental_dedup_batch(b1, index, pairs, _CFG)
    df = spark.createDataFrame(
        _EPOCHS[0] + _EPOCHS[1], "url string, text string"
    )
    assert _assignment_set(read_assignments(spark, index)) == _assignment_set(
        dedup_pages(df, _CFG)[1]
    )


def test_bucket_over_its_cap_only_cumulatively_matches_batch(spark, tmp_path):
    """One name bucket holds four docs, two per epoch, against a cap of
    three: each epoch alone fits under the cap, the union does not, so
    batch drops the bucket and the stream must too — the epoch-1 pair
    (d3, d4) may not link through it. d1/d2 still link through their
    content-hash star. Checked with the corpus as one segment and as two."""
    rows = [
        ("d1", "alpha smith", _T1),
        ("d2", "alpha smith", _T1),
        ("d3", "alpha smith", _T2),
        ("d4", "alpha smith", _T2 + " termzz termzy"),
    ]
    schema = "url string, name string, text string"
    cfg = DedupConfig(
        strategies=("exact", "nysiis"), name_col="name", max_bucket_size=3
    )
    batch = _assignment_set(dedup_pages(spark.createDataFrame(rows, schema), cfg)[1])
    assert batch == {("d1", "d1"), ("d2", "d1"), ("d3", "d3"), ("d4", "d4")}
    for splits in (((0, 4),), ((0, 2), (2, 4))):
        state = f"{tmp_path}/{len(splits)}"
        index, pairs = f"{state}/index", f"{state}/pairs"
        for lo, hi in splits:
            b = spark.createDataFrame(rows[lo:hi], schema)
            incremental_dedup_batch(b, index, pairs, cfg)
        assert _assignment_set(read_assignments(spark, index)) == batch, splits
