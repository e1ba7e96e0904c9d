"""Generate fixtures/lev_docs.parquet: (doc_id, text, lang) — the
typo-noise corpus for the tier-4 edit-distance verify rules
(LEVENSHTEIN / TOKEN_SORT_RATIO; reference analog: fuzzycat's
token-ratio/Levenshtein checks on normalized fields, verify.py:480-520).

The corpus is built so the NEW rules fire non-vacuously AND every earlier
cascade arm still appears (an all-reasons regression corpus for the
verify cascade itself):

- lev family: base + two copies with a substituted char in every other
  word. Alternating typos destroy every 3-shingle (jac_sh = 0, so no
  weak match) and most tokens (jac_tok ~ 0.33 < 0.7), but the slug
  prefix differs by ~1 edit per ~13 chars -> lev ratio ~ 0.93 >= 0.9.
- tsort family: base + a word-REVERSED copy with a last-char typo on 40%
  of words. The raw prefix is scrambled (lev ratio low) but the
  sorted-distinct-token join realigns -> token-sort ratio >= 0.9.
- language family: two unrelated texts with lang 'en' vs 'de' ->
  LANGUAGE (falls through every similarity rule first).
- exact / slug / shingle / short / unknown controls for the older arms.

The generator ASSERTS the intended reason set by running the `lev_pairs`
DuckDB oracle of tests/test_oracles.py over the freshly written parquet —
if a content tweak ever shifts a ratio across a threshold, generation
fails instead of committing a vacuous fixture.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

_LEV_BASE = (
    "the ancient observatory on the northern ridge recorded planetary "
    "transits and cometary returns for seven generations of patient "
    "astronomers who kept meticulous nightly journals"
)

_TSORT_BASE = (
    "migrating cranes gather beside the shallow estuary every autumn "
    "while local volunteers count juveniles and record wingspan "
    "measurements in weathered field notebooks"
)

_LANG_EN = (
    "the committee published its annual review of harbor maintenance "
    "costs and proposed a modest increase in docking fees for larger "
    "commercial vessels next season"
)
_LANG_DE = (
    "der gemeinderat veroeffentlichte seinen jahresbericht ueber die "
    "instandhaltung des hafens und schlug eine moderate erhoehung der "
    "liegegebuehren fuer grosse frachtschiffe vor"
)

_SHINGLE_BASE = (
    "volunteers restored the old water mill beside the village green "
    "and replaced the broken oak wheel with seasoned timber from the "
    "county stores last spring"
)

_UNREL_A = (
    "quarterly steel output rose sharply after the new furnace line "
    "entered service and export orders from coastal shipyards doubled "
    "within a single fiscal year"
)
_UNREL_B = (
    "amateur beekeepers reported unusually early swarming this spring "
    "and attributed the shift to mild winter temperatures across the "
    "southern valleys and foothills"
)


def _alt_typo(text: str) -> str:
    """Substitute the middle char of every other word (length kept)."""
    out = []
    for i, w in enumerate(text.split()):
        if i % 2 == 1 and len(w) >= 3:
            m = len(w) // 2
            c = "x" if w[m] != "x" else "q"
            w = w[:m] + c + w[m + 1 :]
        out.append(w)
    return " ".join(out)


def _alt_typo2(text: str) -> str:
    """Second independent typo pattern (offset words, different char)."""
    out = []
    for i, w in enumerate(text.split()):
        if i % 2 == 0 and len(w) >= 3:
            m = len(w) // 2
            c = "z" if w[m] != "z" else "k"
            w = w[:m] + c + w[m + 1 :]
        out.append(w)
    return " ".join(out)


def _reorder_typo(text: str) -> str:
    """Reverse word order and put a last-char typo on every 5th word
    (indices 0 and 2 mod 5 -> 40%), length kept."""
    words = list(reversed(text.split()))
    out = []
    for i, w in enumerate(words):
        if i % 5 in (0, 2) and len(w) >= 3:
            c = "x" if w[-1] != "x" else "q"
            w = w[:-1] + c
        out.append(w)
    return " ".join(out)


_WEAK_BASE = (
    "the restoration society met on thursday evening to review progress "
    "on the tithe barn roof where volunteers replaced rotten purlins and "
    "treated the remaining oak frame against beetle damage before "
    "winter while the fundraising committee reported that the recent "
    "concert series covered the cost of reclaimed clay tiles and the "
    "mason agreed to repoint the gable wall in early spring"
)

_FILLER = (
    "harbor pilots logged unusually dense fog banks drifting past the "
    "breakwater lighthouse during tuesday morning tide cycles"
).split()


def _swap_pairs(text: str) -> str:
    """Swap each adjacent word pair: token set unchanged, shingles gone."""
    w = text.split()
    for i in range(0, len(w) - 1, 2):
        w[i], w[i + 1] = w[i + 1], w[i]
    return " ".join(w)


def _block_replace(text: str, lo: int, hi: int) -> str:
    """Replace words [lo, hi) with unrelated filler (length preserved)."""
    w = text.split()
    fill = (_FILLER * ((hi - lo) // len(_FILLER) + 1))[: hi - lo]
    return " ".join(w[:lo] + fill + w[hi:])


def main() -> None:
    rows: list[tuple[str, str, str | None]] = [
        # lev family: LEVENSHTEIN edges base<->t1, base<->t2
        ("lev-base", _LEV_BASE, None),
        ("lev-t1", _alt_typo(_LEV_BASE), None),
        ("lev-t2", _alt_typo2(_LEV_BASE), None),
        # tsort family: TOKEN_SORT_RATIO edge
        ("ts-base", _TSORT_BASE, None),
        ("ts-perm", _reorder_typo(_TSORT_BASE), None),
        # language screen: unrelated texts, declared different langs
        ("lang-en", _LANG_EN, "en"),
        ("lang-de", _LANG_DE, "de"),
        # exact dup (CONTENT_HASH)
        ("ex-a", _UNREL_A, None),
        ("ex-b", _UNREL_A, None),
        # slug dup (same normalized form, different bytes)
        ("slug-a", _SHINGLE_BASE, None),
        ("slug-b", _SHINGLE_BASE.upper() + "!", None),
        # strong shingle pair: 8-token docs (min_tok < 10 skips the
        # CONTAINMENT arm — with equal sizes jac >= 0.7 forces
        # containment >= 0.82, so only short docs can reach this rule),
        # one tail word changed -> shingle jaccard 5/7 ~ 0.71
        ("sh-a", "granite quarry reopened after safety review last month", None),
        ("sh-b", "granite quarry reopened after safety review last week", None),
        # short texts (SHORT_TEXT)
        ("short-a", "tiny page stub", None),
        ("short-b", "tiny page stub", None),
        # containment: B extends A with an unrelated tail (jac ~ 0.45
        # < 0.7 but containment 1.0, both >= 10 tokens)
        (
            "cont-a",
            "the village council approved the restoration budget for the "
            "medieval bridge yesterday",
            None,
        ),
        (
            "cont-b",
            "the village council approved the restoration budget for the "
            "medieval bridge yesterday and separately deferred a decision "
            "on widening the towpath until the autumn session",
            None,
        ),
        # NUM_DIFF: identical up to digits -> equal nproj, unequal slug
        (
            "num-a",
            "chapter 12 covers the western approach trail in detail with "
            "marked elevation profiles",
            None,
        ),
        (
            "num-b",
            "chapter 47 covers the western approach trail in detail with "
            "marked elevation profiles",
            None,
        ),
        # TOKEN_JACCARD: adjacent word swaps keep the token SET identical
        # (jac_tok = 1.0) while killing every 3-shingle
        ("tok-a", _UNREL_A + " " + _TSORT_BASE, None),
        ("tok-b", _swap_pairs(_UNREL_A + " " + _TSORT_BASE), None),
        # SHINGLE_JACCARD_WEAK: one contiguous ~35% block replaced ->
        # jac_tok ~ 0.48 (< 0.7), jac_sh ~ 0.43 (weak band), containment
        # ~ 0.60 (< 0.8)
        ("weak-a", _WEAK_BASE, None),
        ("weak-b", _block_replace(_WEAK_BASE, 20, 41), None),
        # EMPTY_TEXT arm
        ("empty-a", "", None),
        # unrelated controls (UNKNOWN with no lang)
        ("un-a", _UNREL_B, None),
    ]
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.string()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
        }
    )
    out = "/root/repo/fixtures/lev_docs.parquet"
    pq.write_table(table, out)

    # self-check: run the lev_pairs oracle and assert the reason coverage
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))
    from test_oracles import lev_pairs_sql

    got = duckdb.sql(lev_pairs_sql()).df()
    by_reason = got.groupby("reason").size().to_dict()
    print(f"wrote {out}: {table.num_rows} docs, {len(got)} pairs")
    print(by_reason)
    want = {
        "LEVENSHTEIN",
        "TOKEN_SORT_RATIO",
        "LANGUAGE",
        "CONTENT_HASH",
        "SLUG_MATCH",
        "SHINGLE_JACCARD",
        "TOKEN_JACCARD",
        "SHINGLE_JACCARD_WEAK",
        "CONTAINMENT",
        "NUM_DIFF",
        "EMPTY_TEXT",
        "SHORT_TEXT",
        "UNKNOWN",
    }
    missing = want - set(by_reason)
    assert not missing, f"fixture does not exercise: {missing}"
    # the lev family must link base to BOTH typo copies via LEVENSHTEIN
    lev = got[got.reason == "LEVENSHTEIN"]
    assert {("lev-base", "lev-t1"), ("lev-base", "lev-t2")} <= set(
        zip(lev.id_a, lev.id_b)
    ), f"lev family incomplete: {list(zip(lev.id_a, lev.id_b))}"
    ts = got[got.reason == "TOKEN_SORT_RATIO"]
    assert ("ts-base", "ts-perm") in set(zip(ts.id_a, ts.id_b)), (
        f"tsort edge missing: {list(zip(ts.id_a, ts.id_b))}"
    )
    print("reason coverage OK")


if __name__ == "__main__":
    main()
