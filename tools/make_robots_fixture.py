"""Generate fixtures/robots_docs.parquet (host, robots_txt) and
fixtures/robots_pages.parquet (url) — a planted robots.txt corpus where
every branch of operators/robots.py is non-vacuous:

- prefix Disallow + more-specific Allow carve-out + short-prefix match
  ('/tmp' blocks '/tmpfile');
- UA stacking (`User-agent: foo` + `User-agent: *` share one group) and
  a named-bot-only group that must NOT apply;
- equal-length Allow/Disallow tie on the same path -> Allow wins;
- wildcard rules (`/*.pdf$`) excluded -> the page they'd block stays
  allowed, while a literal sibling rule still blocks;
- CRLF line endings, uppercase directive names, comment lines;
- rules BEFORE any User-agent line are invalid and ignored;
- empty `Disallow:` emits no rule;
- a page on a host with no robots.txt at all -> default allow;
- Sitemap: declarations (group-independent): pre-UA, inside a named-bot
  group, duplicated (-> one row), uppercase+CRLF+comment, and a relative
  value that must be dropped;
- Crawl-delay (group-DEPENDENT): in the * group (applies), in a
  named-bot group only (must NOT apply), several *-group values (min
  wins), uppercase+CRLF+comment, and a non-numeric value (dropped).

Pure pyarrow; the committed parquet, not this script, is the gate input.
Run: python tools/make_robots_fixture.py
"""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = str(Path(__file__).resolve().parent.parent)

ROBOTS: list[tuple[str, str]] = [
    (
        "example.com",
        # Sitemap BEFORE any User-agent line: group-independent, counts
        "Sitemap: https://example.com/sitemap.xml\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/public/\n"
        "Disallow: /tmp\n"
        # group-dependent: inside the * group -> applies
        "Crawl-delay: 2\n",
    ),
    (
        "bots.example.net",
        "User-agent: googlebot\n"
        "Disallow: /\n"
        # inside a named-bot group: STILL counts (group-independent)
        "Sitemap: https://bots.example.net/sm-main.xml\n"
        # named-bot Crawl-delay must NOT apply to * (group-DEPENDENT)
        "Crawl-delay: 10\n"
        "\n"
        "User-agent: foo\n"
        "User-agent: *\n"
        "Disallow: /blocked/\n"
        "Crawl-delay: 1.5\n"
        # several *-group values -> MIN wins
        "Crawl-delay: 3\n"
        "# a comment line\n"
        "Disallow:\n"
        # duplicate declaration -> one row
        "Sitemap: https://bots.example.net/sm-main.xml\n",
    ),
    (
        "tie.example.org",
        "User-agent: *\n"
        "Allow: /p\n"
        "Disallow: /p\n",
    ),
    (
        "wild.example.com",
        "User-agent: *\n"
        "Disallow: /*.pdf$\n"
        "Disallow: /real/\n"
        # relative value: the protocol requires absolute URLs -> dropped
        "Sitemap: /relative-sitemap.xml\n",
    ),
    (
        "crlf.example.com",
        "User-Agent: *\r\n"
        "DISALLOW: /UP/  # trailing comment\r\n"
        "ALLOW: /UP/ok\r\n"
        # uppercase name + CRLF + trailing comment all normalize away
        "SITEMAP: https://crlf.example.com/s.xml  # weekly\r\n"
        "CRAWL-DELAY: 5  # polite\r\n",
    ),
    (
        "norules.example.com",
        "Disallow: /everything\n"
        "User-agent: *\n"
        "Allow: /\n"
        # non-numeric value drops via try-cast -> host absent
        "Crawl-delay: fast\n",
    ),
]

PAGES: list[str] = [
    "https://example.com/private/x",          # deny  (/private/)
    "https://example.com/private/public/y",   # allow (longer carve-out)
    "https://example.com/tmpfile",            # deny  (/tmp prefix)
    "https://example.com/",                   # allow (no rule matches)
    "https://www.example.com/private/z",      # deny  (www. strips to same host)
    "https://bots.example.net/",              # allow (googlebot group ignored)
    "https://bots.example.net/blocked/a",     # deny  (stacked * group)
    "https://tie.example.org/p",              # allow (tie breaks to Allow)
    "https://wild.example.com/doc.pdf",       # allow (wildcard rule excluded)
    "https://wild.example.com/real/x",        # deny  (literal sibling rule)
    "https://crlf.example.com/UP/a",          # deny  (CRLF + case-insensitive names)
    "https://crlf.example.com/UP/ok/b",       # allow (longer ALLOW)
    "https://crlf.example.com/up/a",          # allow (paths stay case-sensitive)
    "https://norules.example.com/everything", # allow (pre-UA rule invalid)
    "https://unlisted.example.io/anything",   # allow (no robots.txt at all)
    "https://example.com",                    # allow (empty path -> '/')
]


def main() -> None:
    pq.write_table(
        pa.table(
            {
                "host": pa.array([h for h, _ in ROBOTS], pa.string()),
                "robots_txt": pa.array([t for _, t in ROBOTS], pa.string()),
            }
        ),
        f"{ROOT}/fixtures/robots_docs.parquet",
    )
    pq.write_table(
        pa.table({"url": pa.array(PAGES, pa.string())}),
        f"{ROOT}/fixtures/robots_pages.parquet",
    )
    print(f"wrote {len(ROBOTS)} robots docs, {len(PAGES)} pages")


if __name__ == "__main__":
    main()
