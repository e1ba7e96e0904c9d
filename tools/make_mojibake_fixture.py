"""Generate fixtures/mojibake_docs.parquet for the fix_mojibake gate.

Arms (self-asserted non-vacuous):
- mangled French/German/Spanish sentences (round-trip: fix(mangle(x)) == x)
- mangled curly punctuation (’ “ ” – — …) and the Â+NBSP artifact
- ALREADY-CLEAN accented text that must pass through byte-identical
- an intentional bare Ã before whitespace that must NOT be rewritten
- pure-ASCII controls with zero markers
Run: python tools/make_mojibake_fixture.py
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)

import pandas as pd

sys.path.insert(0, ROOT)

from fuzzycat_spark.functions.encoding import (  # noqa: E402
    fix_mojibake_py as _fix,
    mangle_utf8_as_cp1252,
)

CLEAN = [
    ("m00", "Le café était déjà fermé — quelle journée…"),
    ("m01", "Über die Brücke: schöne Grüße für müde Väter"),
    ("m02", "La niña señaló “sí” — organización española"),
    ("m03", "“Smart quotes” and ‘apostrophes’ aren’t plain"),
    ("m04", "price\xa0list: 10\xa0€ per item — été"),
]


def main() -> None:
    rows = []
    for mid, clean in CLEAN:
        mangled = mangle_utf8_as_cp1252(clean)
        assert mangled != clean, mid
        fixed = _fix(mangled)
        # full round trip: every non-ascii char in CLEAN is in the
        # repaired set, so fix(mangle(x)) == x exactly
        assert fixed == clean, (mid, fixed)
        rows.append((f"{mid}_raw", mangled))
        rows.append((f"{mid}_clean", clean))
    rows += [
        ("c00", "plain ascii text with no damage at all"),
        ("c01", "math: 3 < 5 and A + B = C (nothing fancy)"),
        # bare mangle lead char with whitespace after: untouched by design
        ("c02", "the symbol Ã stands alone here"),
    ]
    df = pd.DataFrame(rows, columns=["doc_id", "text"])
    # non-vacuity: some texts change under repair, controls do not
    changed = [(i, t) for i, t in rows if _fix(t) != t]
    unchanged = [(i, t) for i, t in rows if _fix(t) == t]
    assert len(changed) >= 5, len(changed)
    assert {"c00", "c01", "c02"} <= {i for i, _ in unchanged}
    assert all(i.endswith("_clean") or i.startswith("c") for i, _ in unchanged)
    df.to_parquet(f"{ROOT}/fixtures/mojibake_docs.parquet", index=False)
    print(f"wrote {len(rows)} docs, {len(changed)} repair under fix_mojibake")


if __name__ == "__main__":
    main()
