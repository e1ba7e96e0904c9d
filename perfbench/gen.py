"""Seeded input generator for the dedup benchmark.

Writes a workload's pages as multi-file parquet plus the golden labels the
benchmark scores against. The program under test only ever reads the
pages parquet; the labels stay on the benchmark side.

    python3 perfbench/gen.py --workload web_crawl --seed 7 --out /tmp/in

Output layout under ``--out``:

- ``pages/part-NNNNN.parquet``            (url, warc_ts, text, lang) — batch
  workloads
- ``segments/seg=K/part-NNNNN.parquet``   the same schema, one directory per
  stream segment (``stream_ingest``)
- ``golden.parquet``                      (id, true_cluster_id) for every doc

Corpus shape (pure Python, ``random.Random(seed)``; the same seed gives
byte-identical files):

- duplicate families of 4 docs — an original plus three variants drawn from
  the ``sources/synth.py`` kind mix (exact copy, boilerplate wrap, 60–90 %
  truncation, rotation, ~5 % token churn, diacritic vowels share the
  family's label; numeric edits and unrelated docs are their own clusters);
- hot-key spam: ~9 % of docs are one of three near-empty boilerplate pages;
- chain families (``deep_overlap`` only): a sliding window over one long
  token stream. Neighbours share 7/8 of their tokens and verify as strong
  near-dups, docs two steps apart do not, so each chain is a path of
  tens of hops that only connected components can close. The whole chain
  is one golden cluster.
"""

from __future__ import annotations

import argparse
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

PER_FAMILY = 4
SPAM_SHARE = 0.09
CHAIN_WINDOW = 64
CHAIN_STEP = 8
CHAIN_LEN = (16, 32)

# 12,800 pronounceable alphabetic words: enough that unrelated docs
# share few tokens, no digits (digit tokens are the NUM_DIFF rule's input).
_ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r", "s", "t", "v"]
_VOWELS = ["a", "e", "i", "o", "u"]
_CODAS = ["", "l", "m", "n", "r", "s", "t", "x"]
_SYLL = [o + v + c for o in _ONSETS for v in _VOWELS for c in _CODAS]
VOCAB = [a + b for a in _SYLL[::4] for b in _SYLL[1::8]]

_HEADERS = ["home about contact news", "menu search login register", "skip to main content"]
_FOOTERS = ["privacy terms copyright", "all rights reserved sitemap", "follow us newsletter"]
_SPAM = [f"welcome to the home page {f}" for f in _FOOTERS]
_LANGS = ["en"] * 7 + ["de", "fr", "es"]
KINDS = ["exact", "exact", "boilerplate", "boilerplate", "truncate", "reorder",
         "edit", "unicode", "numedit", "unique"]
_OWN_CLUSTER = {"numedit", "unique"}
_DIACRITIC = str.maketrans("aeiou", "àéîöü")


@dataclass(frozen=True)
class Shape:
    """Corpus size for one workload."""

    n_families: int
    n_chains: int = 0
    n_segments: int = 0


def _words(rng: random.Random, n: int) -> list[str]:
    return [VOCAB[rng.randrange(len(VOCAB))] for _ in range(n)]


def _variant(rng: random.Random, kind: str, base: list[str], doc_no: int) -> str:
    n = len(base)
    if kind == "exact":
        return " ".join(base)
    if kind == "boilerplate":
        return " ".join([rng.choice(_HEADERS), *base, rng.choice(_FOOTERS)])
    if kind == "truncate":
        return " ".join(base[: max(5, n * rng.randint(60, 90) // 100)])
    if kind == "reorder":
        k = rng.randint(1, 5)
        return " ".join(base[k:] + base[:k])
    if kind == "edit":
        return " ".join(
            VOCAB[rng.randrange(len(VOCAB))] if rng.random() < 0.05 else w for w in base
        )
    if kind == "unicode":
        return " ".join(base).translate(_DIACRITIC)
    if kind == "numedit":
        # every 4th word becomes a doc-unique number: same skeleton as the
        # family, but the digit projection differs (NUM_DIFF, not a dup)
        return " ".join(
            str((doc_no * 7 + j) % 1000) if j % 4 == 3 else w for j, w in enumerate(base)
        )
    if kind == "unique":
        return " ".join(_words(rng, rng.randint(30, 169)))
    raise ValueError(f"unknown kind {kind!r}")


def make_docs(seed: int, shape: Shape) -> list[tuple[str, str]]:
    """(text, true_cluster_id) for every doc, in generation order."""
    rng = random.Random(seed)
    docs: list[tuple[str, str]] = []
    for fid in range(shape.n_families):
        base = _words(rng, rng.randint(30, 169))
        label = f"f{fid}"
        docs.append((" ".join(base), label))
        for _ in range(PER_FAMILY - 1):
            kind = rng.choice(KINDS)
            text = _variant(rng, kind, base, len(docs))
            docs.append((text, f"u{len(docs)}" if kind in _OWN_CLUSTER else label))
    for cid in range(shape.n_chains):
        length = rng.randint(*CHAIN_LEN)
        stream = _words(rng, CHAIN_WINDOW + CHAIN_STEP * (length - 1))
        for k in range(length):
            window = stream[k * CHAIN_STEP : k * CHAIN_STEP + CHAIN_WINDOW]
            docs.append((" ".join(window), f"c{cid}"))
    n_spam = round(len(docs) * SPAM_SHARE / (1 - SPAM_SHARE))
    for i in range(n_spam):
        s = rng.randrange(len(_SPAM))
        docs.append((_SPAM[s], f"s{s}"))
    return docs


def _table(rows: list[tuple[str, str, str, int]]) -> pa.Table:
    url, text, lang, ts = zip(*rows) if rows else ((), (), (), ())
    return pa.table(
        {
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array([t * 1_000_000 for t in ts], pa.timestamp("us", tz="UTC")),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
        }
    )


def _write_parts(rows: list, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        pq.write_table(_table(rows[i * per : (i + 1) * per]), f"{out_dir}/part-{i:05d}.parquet")


def generate(seed: int, shape: Shape, out: str, n_files: int = 8) -> int:
    """Write one workload's inputs under `out`; returns the doc count."""
    docs = make_docs(seed, shape)
    rng = random.Random(seed ^ 0x5EED)
    order = list(range(len(docs)))
    rng.shuffle(order)  # families scatter across files and segments
    rows = []
    for n, i in enumerate(order):
        text, _ = docs[i]
        url = f"https://site{rng.randrange(100)}.example/p/{seed}-{i:07d}"
        rows.append((url, text, rng.choice(_LANGS), 1_700_000_000 + n))
    golden = pa.table(
        {
            "id": [r[0] for r in rows],
            "true_cluster_id": [docs[i][1] for i in order],
        }
    )
    os.makedirs(out, exist_ok=True)
    pq.write_table(golden, f"{out}/golden.parquet")
    if shape.n_segments:
        per = -(-len(rows) // shape.n_segments)
        for k in range(shape.n_segments):
            _write_parts(rows[k * per : (k + 1) * per], f"{out}/segments/seg={k}", 2)
    else:
        _write_parts(rows, f"{out}/pages", n_files)
    return len(rows)


def main() -> None:
    from workloads import SHAPES  # sibling module; imported here to avoid a cycle

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    n = generate(args.seed, SHAPES[args.workload], args.out)
    print(f"{n} docs -> {args.out}")


if __name__ == "__main__":
    main()
