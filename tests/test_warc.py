"""WARC ingestion (sources/warc.py): pure-byte parser units + the
distributed read path.

The parser is exercised against the committed Common-Crawl-style fixture
(per-record gzip members) AND its plain twin; the trap arms come from
tools/make_warc_fixture.py (a body embedding a fake record header, bare-LF
HTTP heads, binary payloads, a truncated archive)."""

from __future__ import annotations

import gzip
import hashlib
import io

import pandas as pd
import pytest

from fuzzycat_spark.sources.warc import (
    iter_warc_records,
    parse_warc_file,
    read_warc,
    split_http_response,
    warc_pages,
)

from _paths import FIXTURES, TOOLS

GZ = f"{FIXTURES}/sample.warc.gz"
PLAIN = f"{FIXTURES}/sample_plain.warc"
EXPECTED = f"{FIXTURES}/warc_expected.parquet"


def _rows(path, types=("response",)):
    with open(path, "rb") as f:
        return list(parse_warc_file(f, path, types))


class TestParser:
    def test_gz_and_plain_parse_identically(self):
        a, b = _rows(GZ), _rows(PLAIN)
        assert len(a) == len(b) == 7
        for ra, rb in zip(a, b):
            assert ra["url"] == rb["url"] and ra["html"] == rb["html"]

    def test_payloads_match_golden_shas(self):
        exp = pd.read_parquet(EXPECTED)
        rows = _rows(GZ)
        assert [r["url"] for r in rows] == list(exp["url"])
        for r, sha in zip(rows, exp["payload_sha"]):
            assert hashlib.sha256(r["html"]).hexdigest() == sha

    def test_content_length_beats_embedded_fake_header(self):
        # body of r1 contains "\r\n\r\nWARC/1.0\r\n"; delimiter-split
        # parsing would cut the record short and desync the archive
        first = _rows(GZ)[0]
        assert b"\r\n\r\nWARC/1.0\r\n" in first["html"]

    def test_non_response_records_filtered(self):
        with open(PLAIN, "rb") as f:
            all_types = [
                r["headers"].get("warc-type")
                for r in iter_warc_records(f)
            ]
        assert all_types.count("warcinfo") == 1
        assert all_types.count("request") == 1
        assert all_types.count("revisit") == 1
        assert _rows(PLAIN, types=()) and len(_rows(PLAIN, types=())) == 10

    def test_missing_content_type_is_null(self):
        rows = {r["url"]: r for r in _rows(GZ)}
        assert rows["https://example.com/noct"]["content_type"] is None

    def test_bare_lf_head_with_crlf_blank_line_in_body(self):
        """The head terminator is the EARLIEST blank line of either
        flavor: a bare-LF head followed by a body containing \\r\\n\\r\\n
        must split at the \\n\\n, keeping the whole body intact."""
        from fuzzycat_spark.sources.warc import split_http_response

        body = b"bodystart\r\n\r\nbodyend"
        block = b"HTTP/1.1 200 OK\nContent-Type: text/plain\n\n" + body
        status, ctype, got = split_http_response(block)
        assert (status, ctype) == (200, "text/plain")
        assert got == body

    def test_bare_lf_http_head(self):
        status, ctype, body = split_http_response(
            b"HTTP/1.1 200 OK\nContent-Type: text/plain\n\nhello"
        )
        assert (status, ctype, body) == (200, "text/plain", b"hello")

    def test_non_http_block_returned_whole(self):
        status, ctype, body = split_http_response(b"raw payload bytes")
        assert status is None and ctype is None and body == b"raw payload bytes"

    def test_truncated_archive_yields_loud_invalid_row(self):
        with open(PLAIN, "rb") as f:
            data = f.read()
        rows = list(
            parse_warc_file(io.BytesIO(data[: len(data) // 2]), "x", ("response",))
        )
        assert rows[-1]["record_type"] == "invalid"
        assert "truncated" in rows[-1]["parse_error"]

    def test_garbage_start_is_invalid_not_crash(self):
        rows = list(parse_warc_file(io.BytesIO(b"not a warc at all"), "x", ()))
        assert rows == [] or rows[-1]["record_type"] == "invalid"

    def test_multi_member_gzip_boundaries(self):
        # two members, the second starting exactly at a member boundary
        rec = (
            b"WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: 3\r\n\r\nabc\r\n\r\n"
        )
        data = gzip.compress(rec, mtime=0) * 2
        out = list(parse_warc_file(io.BytesIO(data), "two.warc.gz", ()))
        assert len(out) == 2 and all(r["html"] == b"abc" for r in out)


class TestSparkPath:
    def test_read_warc_matches_golden(self, spark):
        from pyspark.sql import functions as F

        got = (
            read_warc(spark, GZ)
            .select(
                "url",
                F.sha2("html", 256).alias("sha"),
                "n_bytes",
                "http_status",
            )
            .orderBy("url")
            .collect()
        )
        exp = pd.read_parquet(EXPECTED).sort_values("url")
        assert [r["url"] for r in got] == list(exp["url"])
        assert [r["sha"] for r in got] == list(exp["payload_sha"])
        assert [r["n_bytes"] for r in got] == list(exp["n_bytes"])

    def test_listing_prunes_content_column(self, spark):
        # the scan must read paths only — file bytes stream through
        # pyarrow.fs per task, never through the binaryFile row
        plan = read_warc(spark, GZ)._jdf.queryExecution().toString()
        assert "ReadSchema" in plan
        schema_part = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "content" not in schema_part
        assert "path" in schema_part

    def test_warc_pages_shape(self, spark):
        df = warc_pages(spark, GZ)
        assert df.columns == ["url", "warc_ts", "html", "content_type", "warc_path"]
        rows = df.collect()
        # 200s with a url only (404 excluded)
        assert {r["url"] for r in rows} == {
            "https://example.com/a",
            "https://example.com/ja",
            "https://cdn.example.com/blob",
            "https://example.com/noct",
            "https://example.com/lf",
            "https://example.org/cs",
        }

    def test_stream_warc_incremental_segments(self, spark, tmp_path):
        """Two segments drained at maxFilesPerTrigger=1 → two batches,
        union == batch read; a restart with the same checkpoint re-parses
        nothing (file-source exactly-once)."""
        import gzip as _gz
        import sys

        sys.path.insert(0, TOOLS)
        from make_warc_fixture import http_block, warc_record

        from fuzzycat_spark.sources.warc import read_warc, stream_warc

        seg_dir = tmp_path / "segments"
        seg_dir.mkdir()
        for i in range(2):
            recs = b"".join(
                warc_record(
                    "response", f"s{i}r{j}", "2026-01-01T00:00:00Z",
                    http_block(
                        b"HTTP/1.1 200 OK", [b"Content-Type: text/html"],
                        f"<p>seg{i} page{j}</p>".encode(),
                    ),
                    url=f"https://ex.org/{i}/{j}",
                )
                for j in range(3)
            )
            (seg_dir / f"seg{i}.warc.gz").write_bytes(_gz.compress(recs))

        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        def drain():
            q = (
                stream_warc(spark, str(seg_dir), max_files_per_trigger=1)
                .select("url", "record_id", "warc_path")
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()
        got = spark.read.parquet(out_dir)
        assert got.count() == 6
        assert got.select("warc_path").distinct().count() == 2
        batch_urls = {
            r["url"] for r in read_warc(spark, str(seg_dir)).select("url").collect()
        }
        assert {r["url"] for r in got.select("url").collect()} == batch_urls

        drain()  # nothing new: exactly-once per checkpoint
        assert spark.read.parquet(out_dir).count() == 6

    def test_stream_warc_feeds_incremental_dedup(self, spark, tmp_path):
        """The full online story: crawl segments stream in, html is
        extracted in-flight, and the incremental dedup state links a
        cross-SEGMENT duplicate (seg1 repeats a seg0 page body)."""
        import gzip as _gz
        import sys

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        sys.path.insert(0, TOOLS)
        from make_warc_fixture import http_block, warc_record

        from fuzzycat_spark.operators.dedup import DedupConfig
        from fuzzycat_spark.sources.html_extract import extract_text_udf
        from fuzzycat_spark.sources.warc import stream_warc
        from fuzzycat_spark.streaming.dedup_stream import run_incremental_dedup

        body = (
            "<html><body><p>the quick brown fox jumps over the lazy dog "
            "and keeps going through the long boilerplate paragraph of "
            "unique words here</p></body></html>"
        )
        seg_dir = tmp_path / "segments"
        seg_dir.mkdir()
        pages = {
            0: [("dup-a", body), ("solo-0", "<p>completely different words "
                                            "about maritime navigation beacons</p>")],
            1: [("dup-b", body), ("solo-1", "<p>unrelated treatise on alpine "
                                            "soil chemistry and lichens</p>")],
        }
        for i, recs in pages.items():
            blob = b"".join(
                warc_record(
                    "response", f"s{i}{slug}", "2026-01-01T00:00:00Z",
                    http_block(b"HTTP/1.1 200 OK",
                               [b"Content-Type: text/html"], html.encode()),
                    url=f"https://ex.org/{slug}",
                )
                for slug, html in recs
            )
            (seg_dir / f"seg{i}.warc.gz").write_bytes(_gz.compress(blob))

        idx, pairs, ckpt = (
            str(tmp_path / "idx"), str(tmp_path / "pairs"), str(tmp_path / "ck")
        )
        stream = (
            stream_warc(spark, str(seg_dir), max_files_per_trigger=1)
            .filter(F.col("http_status") == 200)
            .select(
                "url", extract_text_udf(F.col("html")).alias("text")
            )
        )
        q = run_incremental_dedup(
            stream, idx, pairs, ckpt, DedupConfig(strategies=("exact", "minhash"))
        )
        q.awaitTermination(180)

        got = pq.read_table(pairs).to_pylist()
        linked = {(r["id_a"], r["id_b"]) for r in got}
        assert ("https://ex.org/dup-a", "https://ex.org/dup-b") in linked
        solos = {a for ab in linked for a in ab}
        assert "https://ex.org/solo-0" not in solos
        assert "https://ex.org/solo-1" not in solos

    def test_plain_warc_through_spark(self, spark):
        assert read_warc(spark, PLAIN).count() == 7
