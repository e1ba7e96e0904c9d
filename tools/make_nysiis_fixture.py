"""Generate fixtures/nysiis_docs.parquet: (doc_id, text, author, nkey) —
the homophone-author corpus for the end-to-end nysiis blocking gate.

`nkey` is the scalar `nysiis_name(author)` precomputed at generation time
— the uslug-column trick: the NYSIIS state machine has no SQL form, so
the DuckDB oracle blocks on the committed column while the Spark pipeline
recomputes the key with the Arrow-batched UDF. If the UDF ever drifted
from the scalar, the candidate sets would diverge and the gate would
hash-mismatch, so the gate pins UDF == scalar THROUGH the whole pipeline.

Families:
- docs 0-2: Smith homophones, near-dup texts (append-only edits keep
  shingle jaccard >= 0.7) -> one strong cluster of three
- docs 3-4: Knight/Night homophones, byte-identical text -> CONTENT_HASH
- docs 5-6: Johnson homophones but UNRELATED texts -> candidate pair the
  cascade rejects (ambiguous) -> stay singletons
- docs 7-8: similar texts but NON-homophone authors -> no candidate at
  all under nysiis-only blocking -> singletons (blocking choice matters)
- doc 9: NULL author; doc 10: digits-only author (empty key) -> filtered
  out of the band table entirely
- docs 11-12: MacDonald homophones, near-dup texts -> strong cluster
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)

sys.path.insert(0, ROOT)

import pyarrow as pa
import pyarrow.parquet as pq

from fuzzycat_spark.functions.phonetic import nysiis_name

_BASE_A = (
    "the ancient library of the city holds many rare manuscripts and "
    "early printed books from distant lands"
)
_BASE_B = (
    "a careful survey of coastal birds recorded their nesting habits "
    "across the long northern summer season"
)
_SAME = (
    "identical boilerplate paragraph about terms of service and privacy "
    "obligations for every visitor of this site"
)

DOCS: list[tuple[str | None, str]] = [
    ("John Smith", _BASE_A),
    ("Jon Smithe", _BASE_A + " today"),
    ("Jhon Smith", _BASE_A + " today again"),
    ("Knight Phillips", _SAME),
    ("Night Philips", _SAME),
    ("Mary Johnson", "completely unrelated discussion about mountain weather patterns in remote regions"),
    ("Marie Jonson", "a treatise on deep sea creatures and their luminous adaptations below the surface"),
    ("Walter Brown", _BASE_B),
    ("Peter Quincy", _BASE_B + " indeed"),
    (None, "a document with an unknown author that can never join a phonetic block"),
    ("12345", "an author field holding only digits produces an empty phonetic key"),
    ("Peter MacDonald", _BASE_B + " tomorrow"),
    ("Petar McDonald", _BASE_B + " tomorrow also"),
]


def main() -> None:
    table = pa.table(
        {
            "doc_id": pa.array(range(len(DOCS)), pa.int64()),
            "text": pa.array([t for _, t in DOCS], pa.string()),
            "author": pa.array([a for a, _ in DOCS], pa.string()),
            "nkey": pa.array(
                [nysiis_name(a) for a, _ in DOCS], pa.string()
            ),
        }
    )
    pq.write_table(table, f"{ROOT}/fixtures/nysiis_docs.parquet")
    for i, (a, _) in enumerate(DOCS):
        print(i, repr(a), "->", repr(nysiis_name(a)))


if __name__ == "__main__":
    main()
