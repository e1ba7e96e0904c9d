"""NYSIIS phonetic key — one of the reference's five named blocking-key
algorithms (`/root/reference/notes/matching_metrics.md:13-14`; the
reference pulls it from the jellyfish package, `setup.py:35`).

Reimplemented from the published NYSIIS description (Taft 1970, as
standardized in the common reference tables): first/last digraph
transcodes, left-to-right scan with vowel folding and the H/W neighbor
rules, run-length suppression, suffix cleanup. No truncation (matches the
modern library behavior the reference depended on).

Use as a blocking key for author/person names: short strings, evaluated
once per record — a scalar cascade like this is a legitimate Python UDF
surface (Arrow-batched; the per-name state machine has no vectorizable
form, and the key feeds the same single-shuffle band machinery as every
other strategy).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_VOWELS = frozenset("AEIOU")


def nysiis(name: str | None) -> str | None:
    """Scalar NYSIIS code; empty input -> '', None -> None."""
    if name is None:
        return None
    s = "".join(ch for ch in name.upper() if ch.isalpha())
    if not s:
        return ""
    # first-character transcodes (longest match wins)
    if s.startswith("MAC"):
        s = "MCC" + s[3:]
    elif s.startswith("KN"):
        s = "NN" + s[2:]
    elif s.startswith("K"):
        s = "C" + s[1:]
    elif s.startswith(("PH", "PF")):
        s = "FF" + s[2:]
    elif s.startswith("SCH"):
        s = "SSS" + s[3:]
    # last-character transcodes
    if s.endswith(("EE", "IE")):
        s = s[:-2] + "Y"
    elif s.endswith(("DT", "RT", "RD", "NT", "ND")):
        s = s[:-2] + "D"

    key = s[0]
    chars = list(s)
    i = 1
    while i < len(chars):
        c = chars[i]
        nxt = chars[i + 1] if i + 1 < len(chars) else ""
        if c == "E" and nxt == "V":
            chars[i : i + 2] = ["A", "F"]
            c = "A"
        elif c in _VOWELS:
            chars[i] = "A"
            c = "A"
        elif c == "Q":
            chars[i] = "G"
            c = "G"
        elif c == "Z":
            chars[i] = "S"
            c = "S"
        elif c == "M":
            chars[i] = "N"
            c = "N"
        elif c == "K":
            if nxt == "N":
                chars[i : i + 2] = ["N"]
            else:
                chars[i] = "C"
            c = chars[i]
        elif c == "S" and chars[i : i + 3] == ["S", "C", "H"]:
            chars[i : i + 3] = ["S", "S", "S"]
            c = "S"
        elif c == "P" and nxt == "H":
            chars[i : i + 2] = ["F", "F"]
            c = "F"
        elif c == "H" and (
            chars[i - 1] not in _VOWELS
            or (i + 1 < len(chars) and chars[i + 1] not in _VOWELS)
        ):
            chars[i] = chars[i - 1]
            c = chars[i - 1]
        elif c == "W" and chars[i - 1] in _VOWELS:
            chars[i] = chars[i - 1]
            c = chars[i - 1]
        if c != key[-1]:
            key += c
        i += 1

    if len(key) > 1 and key.endswith("S"):
        key = key[:-1]
    if key.endswith("AY"):
        key = key[:-2] + "Y"
    if len(key) > 1 and key.endswith("A"):
        key = key[:-1]
    return key


def nysiis_name(full_name: str | None) -> str | None:
    """Multi-token form for full person names: the space-joined NYSIIS
    codes of each alphabetic token ('Jon Smyth' and 'John Smith' both key
    to 'JAN SNAT'). None -> None; no alphabetic tokens -> ''."""
    if full_name is None:
        return None
    import re

    toks = re.findall(r"[A-Za-z]+", full_name)
    return " ".join(nysiis(t) for t in toks)


@pandas_udf(StringType())
def nysiis_name_udf(s: pd.Series) -> pd.Series:
    return s.map(nysiis_name, na_action="ignore")


def nysiis_name_key(col: Column) -> Column:
    """Blocking key for FULL names (per-token codes, space-joined) — the
    band generator the `nysiis` DedupConfig strategy feeds into the shared
    single-shuffle bucket machinery."""
    return nysiis_name_udf(col)
