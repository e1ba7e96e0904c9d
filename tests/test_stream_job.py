"""jobs/stream_dedup_job.py — the online-dedup deployment entrypoint."""

from __future__ import annotations

import gzip
import sys

import pyarrow.parquet as pq

from _paths import TOOLS


def _segments(tmp_path, pages_by_seg):
    sys.path.insert(0, TOOLS)
    from make_warc_fixture import http_block, warc_record

    seg_dir = tmp_path / "segments"
    seg_dir.mkdir()
    for i, recs in pages_by_seg.items():
        blob = b"".join(
            warc_record(
                "response", f"s{i}{slug}", "2026-01-01T00:00:00Z",
                http_block(b"HTTP/1.1 200 OK",
                           [b"Content-Type: text/html"], html.encode()),
                url=f"https://ex.org/{slug}",
            )
            for slug, html in recs
        )
        (seg_dir / f"seg{i}.warc.gz").write_bytes(gzip.compress(blob))
    return str(seg_dir)


def test_stream_job_links_cross_segment_dup(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    body = (
        "<p>the quick brown fox jumps over the lazy dog and keeps going "
        "through one long unique paragraph of filler words</p>"
    )
    seg_dir = _segments(tmp_path, {
        0: [("dup-a", body), ("solo-0", "<p>maritime beacons treatise</p>")],
        1: [("dup-b", body)],
    })
    state = str(tmp_path / "state")

    from jobs import stream_dedup_job

    monkeypatch.setattr(
        sys, "argv",
        ["stream_dedup_job.py", "--input", seg_dir, "--state", state,
         "--max-files-per-trigger", "1", "--strategies", "exact,minhash"],
    )
    stream_dedup_job.main()

    pairs = {(r["id_a"], r["id_b"]) for r in pq.read_table(f"{state}/pairs").to_pylist()}
    assert ("https://ex.org/dup-a", "https://ex.org/dup-b") in pairs

    # second invocation: nothing new to process, state unchanged
    stream_dedup_job.main()
    pairs2 = {(r["id_a"], r["id_b"]) for r in pq.read_table(f"{state}/pairs").to_pylist()}
    assert pairs2 == pairs
