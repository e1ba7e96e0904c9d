"""Generate fixtures/classifier_docs.parquet + classifier_weights.parquet:
the labeled corpus and PINNED Naive-Bayes log-odds vocabulary for the
model-based quality classifier gate (`classifier_scores`).

The corpus is 40 "pos" documents (plain descriptive English prose built
from seeded word banks) and 40 "neg" documents (SEO keyword stuffing,
token-soup spam, repeated-anchor boilerplate — the page classes a learned
quality filter exists to catch). Weights are fitted HERE, at generation
time, with `operators/classify.fit_nb_weights` quantized to int64 — so
the gate compares two engines evaluating the same frozen model rather
than refitting per run, and the weight table carries BOTH the feature
string (what the DuckDB oracle joins on) and its md5_h64 hash (what the
Spark scorer joins on): if Spark-side hashing ever drifted from the
pinned keys, the gate would diverge instead of silently agreeing.

Self-asserts before writing:
- the fitted scorer separates the classes perfectly on its own corpus
  (every pos score > 0 > every neg score, min margin printed);
- a held-out clean sentence scores positive, held-out spam negative;
- re-generation over an existing fixture must reproduce the previous
  bytes' doc_ids/texts exactly (same guard as the media fixture).
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)

sys.path.insert(0, ROOT)

import pyarrow as pa
import pyarrow.parquet as pq

DOCS_OUT = f"{ROOT}/fixtures/classifier_docs.parquet"
WEIGHTS_OUT = f"{ROOT}/fixtures/classifier_weights.parquet"

_SUBJECTS = [
    "the river valley", "a small coastal town", "the national archive",
    "an old stone bridge", "the research station", "a community garden",
    "the mountain railway", "a public library", "the weather observatory",
    "an island ferry",
]
_VERBS = [
    "was documented by", "has been maintained by", "was surveyed by",
    "is operated by", "was restored by", "has been studied by",
]
_AGENTS = [
    "local historians", "volunteer engineers", "visiting students",
    "the regional council", "retired teachers", "field biologists",
]
_TAILS = [
    "over several decades with careful attention to seasonal records",
    "and the findings were published in an annual community report",
    "despite limited funding and frequently difficult winter conditions",
    "while preserving the original materials wherever this was possible",
    "and detailed measurements were archived for future comparison",
]

_SPAM_KEYWORDS = [
    "cheap", "discount", "casino", "bonus", "viagra", "pills", "loans",
    "winner", "jackpot", "crypto", "forex", "followers", "seo",
]
_SPAM_CALLS = [
    "click here", "buy now", "act fast", "limited offer", "free shipping",
    "best price", "no deposit", "sign up",
]


def _pos_docs(rng: random.Random, n: int) -> list[str]:
    out = []
    for _ in range(n):
        sents = []
        for _ in range(rng.randint(2, 4)):
            sents.append(
                f"{rng.choice(_SUBJECTS)} {rng.choice(_VERBS)} "
                f"{rng.choice(_AGENTS)} {rng.choice(_TAILS)}"
            )
        out.append(". ".join(s.capitalize() for s in sents) + ".")
    return out


def _neg_docs(rng: random.Random, n: int) -> list[str]:
    out = []
    for i in range(n):
        kind = i % 3
        if kind == 0:  # keyword stuffing
            words = [rng.choice(_SPAM_KEYWORDS) for _ in range(rng.randint(18, 30))]
        elif kind == 1:  # repeated call-to-action boilerplate
            unit = rng.choice(_SPAM_CALLS) + " " + rng.choice(_SPAM_KEYWORDS)
            words = (unit + " ").strip().split() * rng.randint(6, 10)
        else:  # keyword + call soup
            words = []
            for _ in range(rng.randint(14, 22)):
                words.append(rng.choice(_SPAM_KEYWORDS))
                words.append(rng.choice(_SPAM_CALLS))
        out.append(" ".join(words))
    return out


def main() -> None:
    from fuzzycat_spark import get_spark
    from fuzzycat_spark.operators.classify import fit_nb_weights, linear_score_fp

    rng = random.Random(20260818)
    rows = [(f"pos{i:02d}", t, "pos") for i, t in enumerate(_pos_docs(rng, 40))]
    rows += [(f"neg{i:02d}", t, "neg") for i, t in enumerate(_neg_docs(rng, 40))]

    import os

    if os.path.exists(DOCS_OUT):
        old = pq.read_table(DOCS_OUT).to_pylist()
        new_by_id = {r[0]: r for r in rows}
        for o in old:
            r = new_by_id.get(o["doc_id"])
            assert r is not None and r[1] == o["text"] and r[2] == o["label"], (
                f"regeneration would alter committed doc {o['doc_id']!r}"
            )

    spark = get_spark(cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.createDataFrame(rows, "doc_id string, text string, label string")
    wrows, bias_fp = fit_nb_weights(docs)
    print(f"vocab={len(wrows)} bias_fp={bias_fp}")
    assert bias_fp == 0, "balanced classes must give zero bias"

    weights = spark.createDataFrame(wrows, "feat string, h long, w_fp long")
    scored = {
        r["id"]: r["score_fp"]
        for r in linear_score_fp(docs, weights).collect()
    }
    pos_scores = [v for k, v in scored.items() if k.startswith("pos")]
    neg_scores = [v for k, v in scored.items() if k.startswith("neg")]
    assert len(pos_scores) == len(neg_scores) == 40
    margin = min(pos_scores) - max(neg_scores)
    assert min(pos_scores) > 0 > max(neg_scores), (min(pos_scores), max(neg_scores))
    print(f"train separation: min pos {min(pos_scores)} > 0 > "
          f"max neg {max(neg_scores)} (margin {margin})")

    held = spark.createDataFrame(
        [
            ("h_pos", "The village museum was restored by local historians "
                      "and the findings were published in a community report."),
            ("h_neg", "casino bonus click here buy now cheap pills jackpot "
                      "winner free shipping casino bonus click here"),
        ],
        "doc_id string, text string",
    )
    hs = {r["id"]: r["score_fp"] for r in linear_score_fp(held, weights).collect()}
    assert hs["h_pos"] > 0 > hs["h_neg"], hs
    print(f"held-out: pos {hs['h_pos']}, neg {hs['h_neg']}")

    pq.write_table(
        pa.table({
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "label": [r[2] for r in rows],
        }),
        DOCS_OUT,
    )
    pq.write_table(
        pa.table({
            "feat": [w[0] for w in wrows],
            "h": pa.array([w[1] for w in wrows], pa.int64()),
            "w_fp": pa.array([w[2] for w in wrows], pa.int64()),
        }),
        WEIGHTS_OUT,
    )
    print(f"wrote {DOCS_OUT} ({len(rows)} docs), {WEIGHTS_OUT} ({len(wrows)} feats)")
    spark.stop()


if __name__ == "__main__":
    main()
