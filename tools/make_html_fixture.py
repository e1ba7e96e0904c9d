"""Generate fixtures/html_docs.parquet: (doc_id, html binary, etext) —
realistic messy web pages plus the text the SCALAR extractor produces for
each, computed at generation time. The driver gate (`extract_text` query)
then runs the distributed Arrow-batched UDF over `html` and the DuckDB
oracle reads the precomputed `etext` column — the same scalar-golden
pattern as the unicode_slug fixture, proving UDF == scalar row-for-row
through a real distributed plan. Pure pyarrow, no Spark needed."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)

sys.path.insert(0, ROOT)

import pyarrow as pa
import pyarrow.parquet as pq

from fuzzycat_spark.sources.html_extract import extract_text, page_directives

PAGES: list[str] = [
    # plain article
    "<html><head><title>t</title></head><body><main><h1>Simple Article</h1>"
    "<p>One paragraph of text.</p></main></body></html>",
    # nested drop elements + chrome
    '<html><head><script>var x="<p>fake</p>";</script></head><body>'
    '<nav><ul><li>Home</li></ul><nav>deep</nav></nav>'
    "<article><p>Real content survives.</p>"
    "<aside>related junk</aside><p>Second block.</p></article>"
    "<footer>footer junk</footer></body></html>",
    # entities of every kind
    "<p>caf&#233; &amp; bar &lt;tag&gt; snow&#x2603; &quot;q&quot; &apos;a&apos; a&nbsp;b</p>",
    # comments with markup, CDATA, style
    "<!-- <p>ghost</p> --><style>p{}</style><p>after comment</p>"
    "<![CDATA[ <div>cdata ghost</div> ]]><p>after cdata</p>",
    # tables and lists segment into blocks
    "<table><tr><td>a1</td><td>a2</td></tr><tr><td>b1</td></tr></table>"
    "<ul><li>first</li><li>second</li></ul>",
    # soft-wrapped source: newlines inside a paragraph are NOT block breaks
    "<p>line one\n   continues here\n   and here</p><p>next block</p>",
    # unterminated script (malformed page)
    "<p>before</p><script>var broken = 1;",
    # non-ascii content + attributes with angle-ish junk
    '<div data-x="1"><p>東京は日本の首都です。</p><p>Ünïcödé tëxt.</p></div>',
    # empty and whitespace-only
    "",
    "   \n\t  ",
    # no markup at all
    "just plain text with no tags whatsoever",
    # inline tags vanish without spacing damage
    "<p>mid<b>dle</b> and <i>ital</i>ic</p>",
    # nested DIFFERENT drop tags: the outer nav subtree (including the
    # tail after the inner footer) is removed entirely
    "<p>keep</p><nav>menu<footer>legal</footer>trailing junk</nav><p>end</p>",
    # robots meta, attributes reversed, uppercase directive tokens
    '<html><head><meta content="NOINDEX, nofollow" name=ROBOTS>'
    "<title>t</title></head><body><p>opted out</p></body></html>",
    # 'none' means noindex + nofollow; canonical with single quotes
    "<head><meta name='robots' content='none'>"
    "<link rel='canonical' href='https://example.org/canon'></head>"
    "<p>body</p>",
    # multiple robots tags union; unquoted attributes; index/follow no-op
    "<meta name=robots content=nofollow><meta name=robots content=noindex>"
    "<meta name=robots content=\"index, follow\"><p>x</p>",
    # commented-out directives are ignored; near-miss meta names too
    '<!-- <meta name="robots" content="noindex"> -->'
    '<meta name="robotsx" content="noindex">'
    '<link rel="canonicalx" href="/no"><p>indexable</p>',
    # first canonical wins over a later conflicting one
    "<link href=/first rel=canonical><link rel=canonical href=/second>"
    "<p>c</p>",
    # --- page_meta rows (title / meta description / charset / h1) ---
    # full head: attributed title, name-first description, charset meta
    '<html><head><meta charset="utf-8">'
    '<title id="t">Deep Sea Mining — an Overview</title>'
    '<meta name="description" content="Impacts of deep sea mining '
    'on benthic fauna.">'
    '</head><body><h1 class="hero">Deep Sea Mining</h1>'
    "<p>body text</p></body></html>",
    # reversed attr order on the description; unquoted charset value
    "<head><meta content='Reversed attr order still found' "
    "name='description'><meta charset=iso-8859-1>"
    "<title>Reversed</title></head><body><h1>Plain H1</h1></body>",
    # legacy http-equiv charset declaration; no h1
    '<head><meta http-equiv="Content-Type" '
    'content="text/html; charset=Windows-1252">'
    "<title>Legacy charset page</title></head><p>x</p>",
    # commented-out title must NOT win over the real one after it
    "<!-- <title>ghost title</title> --><title>Real Title</title>"
    "<p>y</p>",
    # no head metadata at all -> every meta field empty
    "<body><p>no head here</p></body>",
    # uppercase tags + attrs, whitespace soup inside the title
    "<HTML><HEAD><TITLE>\n  Spaced   Title  \n</TITLE>"
    '<META NAME="DESCRIPTION" CONTENT="Upper case attrs">'
    "</HEAD><BODY><H1>UPPER</H1></BODY></HTML>",
]


def main() -> None:
    doc_ids = list(range(len(PAGES)))
    htmls = [p.encode("utf-8") for p in PAGES]
    etexts = [extract_text(p) for p in PAGES]
    directives = [page_directives(p) for p in PAGES]
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "html": pa.array(htmls, pa.binary()),
            "etext": pa.array(etexts, pa.string()),
            "noindex": pa.array([d[0] for d in directives], pa.bool_()),
            "nofollow": pa.array([d[1] for d in directives], pa.bool_()),
            "canonical": pa.array([d[2] for d in directives], pa.string()),
        }
    )
    pq.write_table(table, f"{ROOT}/fixtures/html_docs.parquet")
    for i, t in zip(doc_ids, etexts):
        print(f"--- {i} ---\n{t!r}")


if __name__ == "__main__":
    main()
