"""Property-based tests (hypothesis) over the pure-byte kernels — the
parsers whose input space is too adversarial for example tests alone.
No Spark session: every property checks the scalar path the executors
run inside mapInPandas.
"""

from __future__ import annotations

import io
import sys

from hypothesis import given, settings
from hypothesis import strategies as st

from _paths import TOOLS

sys.path.insert(0, TOOLS)


# ---------------------------------------------------------------- WARC


@settings(max_examples=60, deadline=None)
@given(
    payloads=st.lists(
        # adversarial bodies: CRLFCRLF, fake record starts, NULs, high bytes
        st.binary(min_size=0, max_size=300).map(
            lambda b: b + b"\r\n\r\nWARC/1.0\r\n" if len(b) % 7 == 0 else b
        ),
        min_size=1,
        max_size=6,
    )
)
def test_warc_content_length_discipline_recovers_exact_payloads(payloads):
    """Whatever bytes a body holds — including blank lines and embedded
    'WARC/1.0' — Content-Length-driven parsing returns them exactly."""
    from make_warc_fixture import warc_record

    from fuzzycat_spark.sources.warc import iter_warc_records

    archive = b"".join(
        warc_record("response", f"r{i}", "2026-01-01T00:00:00Z", body,
                    url=f"https://x.org/{i}")
        for i, body in enumerate(payloads)
    )
    got = list(iter_warc_records(io.BytesIO(archive)))
    assert [r["block"] for r in got] == payloads
    assert [r["headers"]["warc-target-uri"] for r in got] == [
        f"https://x.org/{i}" for i in range(len(payloads))
    ]


# ------------------------------------------------------------- mojibake


@settings(max_examples=100, deadline=None)
@given(
    st.text(
        alphabet=st.sampled_from(
            list("abc XYZ09.,!?’‘“”„–—…·€éèêëàáâäåçíìîïñòóôöùúûüýßÉÈÀÁÇÑÖÜ\xa0")
        ),
        max_size=80,
    )
)
def test_mojibake_repair_inverts_mangle(text):
    """fix(mangle(x)) == x for any text over ascii + the repaired set."""
    from fuzzycat_spark.functions.encoding import (
        fix_mojibake_py,
        mangle_utf8_as_cp1252,
    )

    assert fix_mojibake_py(mangle_utf8_as_cp1252(text)) == text


# ------------------------------------------------------------- html text


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["p", "div", "nav", "script", "li"]),
            st.text(
                alphabet=st.characters(
                    blacklist_characters="<>&", blacklist_categories=("Cs",)
                ),
                min_size=0,
                max_size=30,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_extractor_never_leaks_markup_or_dropped_content(parts):
    """For any nesting-free tag soup: the extraction contains no tags and
    no text from inside script/nav subtrees."""
    from fuzzycat_spark.sources.html_extract import extract_text

    html = "".join(f"<{t}>{body}</{t}>" for t, body in parts)
    out = extract_text(f"<html><body>{html}</body></html>") or ""
    assert "<" not in out and ">" not in out
    for tag, body in parts:
        token = body.strip()
        if tag in ("script", "nav") and len(token) >= 8:
            # long-enough unique-ish runs from dropped subtrees must not
            # surface (short strings can legitimately recur elsewhere)
            others = [b for t2, b in parts if t2 not in ("script", "nav")]
            if not any(token in b for b in others):
                assert token not in out


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), max_size=12).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=2, max_value=3),
)
def test_strip_dup_spans_matches_bruteforce(spark, texts, k):
    """strip_dup_spans == the O(corpus * k) brute-force coverage model on
    arbitrary tiny corpora (single-char tokens force heavy gram
    collisions, self-repeats, and all-removed documents). The session
    fixture is shared state hypothesis never mutates, so the
    function-scoped-fixture caveat does not apply."""
    from collections import Counter

    from fuzzycat_spark.operators.spans import strip_dup_spans
    docs = {f"d{i}": t for i, t in enumerate(texts)}
    toks = {d: [t for t in t_.split(" ") if t] for d, t_ in docs.items()}
    counts = Counter(
        " ".join(ts[i : i + k])
        for ts in toks.values()
        for i in range(len(ts) - k + 1)
    )
    want = {}
    for d, ts in toks.items():
        cov = [False] * len(ts)
        for i in range(len(ts) - k + 1):
            if counts[" ".join(ts[i : i + k])] >= 2:
                cov[i : i + k] = [True] * k
        want[d] = (
            " ".join(t for t, c in zip(ts, cov) if not c),
            len(ts),
            sum(cov),
        )
    df = spark.createDataFrame(
        list(docs.items()), "doc_id string, text string"
    )
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
        for r in strip_dup_spans(df, k=k).collect()
    }
    assert got == want


@settings(max_examples=200, deadline=None)
@given(st.one_of(st.binary(max_size=4096), st.text(max_size=4096)))
def test_page_directives_total_on_arbitrary_bytes(blob):
    """The directive scanner is TOTAL: any byte soup (truncated WARC
    records, binary masquerading as html, hostile attribute shapes)
    yields (bool, bool, str-or-None) without raising — a single raising
    row would kill its whole Arrow batch and task at ingest."""
    from fuzzycat_spark.sources.html_extract import page_directives

    ni, nf, canon = page_directives(blob)
    assert isinstance(ni, bool) and isinstance(nf, bool)
    assert canon is None or (isinstance(canon, str) and canon != "")


@settings(max_examples=120, deadline=None)
@given(
    st.text(alphabet=st.characters(codec="utf-8"), max_size=120),
    st.sampled_from(["noindex", "nofollow", "none", "all", "index"]),
)
def test_page_directives_detects_planted_robots_meta(junk, directive):
    """A well-formed robots meta planted inside arbitrary surrounding
    text is always honored (unless the junk opens an unclosed comment
    before it, which legitimately comments the tag out)."""
    from fuzzycat_spark.sources.html_extract import page_directives

    page = junk + f'<meta name="robots" content="{directive}">' + junk
    # The meta is (legitimately) commented out iff the PREFIX junk leaves
    # a comment/CDATA region open at the point the tag appears. Simulate
    # with the scanner's own span regex: non-greedy leftmost matching
    # removes exactly the spans wholly inside the prefix, so a surviving
    # opener means the full-page scan would swallow the tag (closing at
    # the suffix junk's closer, or via the unclosed-comment rule).
    from fuzzycat_spark.sources.html_extract import _COMMENT_RE

    stripped_prefix = _COMMENT_RE.sub("", junk)
    dangling_open = "<!--" in stripped_prefix or "<![CDATA[" in stripped_prefix
    ni, nf, _ = page_directives(page)
    if not dangling_open:
        assert ni == (directive in ("noindex", "none"))
        assert nf == (directive in ("nofollow", "none"))
