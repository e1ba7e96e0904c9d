"""Byte-pair-encoding tokenizer training over the corpus — the
"learn a subword vocabulary from the kept data" step of a training-data
pipeline (Sennrich et al. 2016), run where the reference pipeline would
hand its corpus to an external tokenizer trainer. The reference has no
analog (fuzzycat tokenizes per-record for similarity only,
`/root/reference/fuzzycat/utils.py:166-170`); this is the graft's
corpus-level vocabulary-LEARNING operator, completing the counting pass
in `operators/vocab.py`.

Scale shape — the whole point of doing BPE in Spark:
- The corpus is touched ONCE: one partial-aggregated shuffle builds the
  word-frequency table (a stopword in 10^8 documents arrives at its
  reducer pre-combined per upstream partition). Everything after runs
  on the WORD table — vocab-sized (~10^6-10^7 rows even at 10^12
  documents), so training cost is corpus-size-INDEPENDENT past the
  first count.
- Each merge round is one partial-aggregated shuffle of (left, right,
  freq) rows over the word table, an argmax planned as
  TakeOrderedAndProject(1) (per-partition 1-heaps + driver merge — no
  global sort), and a single-row broadcast join that rewrites the
  symbol strings in codegen. Nothing document-shaped ever re-enters.
- Frequencies and pair counts are int64 throughout — exact under any
  reduction order, so the learned merge sequence is deterministic and
  cross-engine hash-matchable (the same policy as `operators/lm.py`;
  float-scored tokenizer trainers cannot be gated this way).
- Rounds chain lazily; pass a `StageCheckpointer` (`checkpointer=`) to
  cut lineage per round on big runs (without it, round t's argmax
  re-derives rounds 1..t-1 inside one DAG — fine for tens of merges,
  quadratic for thousands).

Merge-application semantics (the one documented deviation from
canonical BPE): applying merge (a, b) rewrites each word's
space-joined symbol string with ONE literal space-padded replace —
`' '||syms||' '` has `' a b '` replaced by `' ab '` — which is
single-pass, leftmost, non-overlapping in Spark, DuckDB, and Python
alike, so the gate can mirror it exactly. For a run of the SAME pair
inside one word (`'aaaa'` merging `(a, a)`) the consumed separator
means one merge per round instead of canonical BPE's greedy rescan
(`[aa, a, a]` after round 1, not `[aa, aa]`); the pair remains and is
eligible for the next round, so the vocabulary converges to the same
place over more rounds. Pair COUNTS are the naive adjacent count
(overlaps included), as in Sennrich's reference implementation.

Unicode caveat: symbolization splits per UTF-16 code unit JVM-side
(supplementary-plane characters split into surrogate halves —
deterministic, but not codepoints); the DuckDB oracle splits per
codepoint, so gated corpora filter to ASCII words via `word_pattern`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["bpe_word_table", "bpe_train", "bpe_token_counts", "bpe_apply"]

_PAIR_T = "array<struct<left:string,right:string>>"


def bpe_word_table(
    docs: DataFrame,
    text_col: str = "text",
    word_pattern: str | None = None,
) -> DataFrame:
    """(word, freq, syms) over the raw whitespace token stream
    (`spans.raw_tokens` — the same tokens vocab/span-dedup see). `syms`
    is the word's symbol sequence joined by single spaces, initially one
    symbol per character. `word_pattern` (rlike) restricts the trained
    vocabulary — gated runs pass `'^[!-~]+$'` (printable ASCII) so the
    per-character split is engine-independent."""
    from fuzzycat_spark.operators.spans import raw_tokens

    w = docs.select(F.explode(raw_tokens(text_col)).alias("word"))
    if word_pattern is not None:
        w = w.filter(F.col("word").rlike(word_pattern))
    return (
        w.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "syms", F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 "))
        )
    )


def _adjacent_pairs(words: DataFrame) -> DataFrame:
    """(left, right, freq) — one row per adjacent symbol pair occurrence
    per word (overlaps included: 'a a a' yields (a,a) twice)."""
    arr = words.withColumn("_a", F.split(F.col("syms"), " "))
    prs = F.when(
        F.size("_a") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("_a") - 2),
            lambda i: F.struct(
                F.get("_a", i).alias("left"),
                F.get("_a", i + 1).alias("right"),
            ),
        ),
    ).otherwise(F.array().cast(_PAIR_T))
    return arr.select("freq", F.explode(prs).alias("p")).select(
        "freq", "p.left", "p.right"
    )


def _round_argmax(words: DataFrame) -> DataFrame:
    """One round's best pair: (left, right, pair_count) with the
    deterministic tiebreak, planned as TakeOrderedAndProject(1) — a
    per-partition 1-heap + driver merge, never a global sort (pinned by
    tests/test_bpe.py on THIS frame; bpe_train materializes it, so the
    terminal merges plan only shows the materialized read)."""
    return (
        _adjacent_pairs(words)
        .groupBy("left", "right")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
        .limit(1)
    )


def bpe_train(
    words: DataFrame,
    n_merges: int,
    checkpointer=None,
    stage_prefix: str = "bpe",
) -> tuple[DataFrame, DataFrame]:
    """Learn `n_merges` BPE merges from a `bpe_word_table` frame.

    Returns (merges, words_final): merges is (step, left, right, merged,
    pair_count) in learning order with the deterministic argmax tiebreak
    (pair_count DESC, left ASC, right ASC); words_final is the word
    table with `syms` rewritten by every learned merge — ready for
    `bpe_token_counts` (no re-application pass needed). If the corpus
    exhausts its pairs early, later rounds contribute no merge row and
    leave `syms` unchanged (the no-op rides a LEFT join on the empty
    argmax, so an exhausted round cannot wipe the word table)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    # materialize the INITIAL word table: `words` is usually a lazy
    # bpe_word_table plan over the raw corpus, and every round's pair
    # aggregation (plus every rewrite consumer) would re-scan and
    # re-tokenize the documents — the module docstring's "corpus touched
    # ONCE" shape only held with a checkpointer. One vocab-sized write
    # makes it true for the ephemeral path too.
    if checkpointer is not None:
        words = checkpointer.write(words, f"{stage_prefix}_words_0")
    else:
        from fuzzycat_spark.plans.checkpoint import materialize

        words = materialize(words, f"{stage_prefix}_words_0")
    merge_steps: list[DataFrame] = []
    for step in range(1, n_merges + 1):
        best = _round_argmax(words)
        if checkpointer is not None:
            best = checkpointer.write(best, f"{stage_prefix}_best_{step}")
        else:
            # ephemeral ONE-ROW materialization per round: the argmax row
            # is consumed twice (the merges output and the rewrite
            # broadcast), and lazily each later round's pair count
            # re-derives every earlier round's argmax inside its own
            # broadcasts — quadratic re-aggregation of the word table.
            # A 1-row parquet write per round caps that at one evaluation
            # (measured at sf0.01: bpe_merges/bpe_encode spark walls
            # dropped ~3x; values bit-identical — exact strings/longs).
            from fuzzycat_spark.plans.checkpoint import materialize

            best = materialize(best, f"{stage_prefix}_best_{step}")
        merge_steps.append(
            best.select(
                F.lit(step).alias("step"),
                "left",
                "right",
                F.concat("left", "right").alias("merged"),
                "pair_count",
            )
        )
        pad = lambda c: F.concat(F.lit(" "), c, F.lit(" "))  # noqa: E731
        words = (
            words.withColumn("_k", F.lit(1))
            .join(
                F.broadcast(
                    best.select(F.lit(1).alias("_k"), "left", "right")
                ),
                "_k",
                "left",
            )
            .withColumn(
                "syms",
                F.when(F.col("left").isNull(), F.col("syms")).otherwise(
                    F.trim(
                        F.replace(
                            pad(F.col("syms")),
                            pad(F.concat_ws(" ", "left", "right")),
                            pad(F.concat("left", "right")),
                        )
                    )
                ),
            )
            .select("word", "freq", "syms")
        )
        if checkpointer is not None:
            words = checkpointer.write(words, f"{stage_prefix}_words_{step}")
    merges = merge_steps[0]
    for m in merge_steps[1:]:
        merges = merges.unionByName(m)
    return merges, words


def bpe_token_counts(
    docs: DataFrame,
    words_final: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens_bpe) — per-document BPE token counts under the
    learned vocabulary, read straight off `words_final`'s rewritten
    symbol strings (training already applied every merge to every
    word — no re-encoding pass). The join is the only shuffle; words
    outside the trained table (e.g. filtered by `word_pattern`)
    contribute nothing, and documents with no trained words report 0."""
    from fuzzycat_spark.operators.spans import raw_tokens

    toks = docs.select(
        F.col(id_col), F.explode(raw_tokens(text_col)).alias("word")
    )
    wt = words_final.select(
        "word", F.size(F.split(F.col("syms"), " ")).alias("_nt")
    )
    counts = (
        toks.join(wt, "word")
        .groupBy(id_col)
        .agg(F.sum("_nt").alias("n_tokens_bpe"))
    )
    return docs.select(F.col(id_col)).join(counts, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_tokens_bpe"), F.lit(0)).cast("long").alias(
            "n_tokens_bpe"
        ),
    )


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "id",
    text_col: str = "text",
    word_pattern: str | None = None,
) -> DataFrame:
    """(id, n_tokens_bpe) for ARBITRARY text under a trained merge
    list — the deployment encode path, where the corpus being tokenized
    is NOT the training corpus (new crawls, held-out splits), so words
    the trainer never saw must still segment. `merges` is the persisted
    model artifact in learning order ((left, right) pairs — a tokenizer
    model is driver-sized by definition, ~30k rows, same footing as
    broadcast classifier weights).

    Each word symbolizes per character and folds the merge list as ONE
    codegen chain of literal space-padded replaces — identical
    single-pass semantics to training, so training-corpus words segment
    exactly as `words_final` has them. Applied per token occurrence:
    zero shuffles beyond the per-doc count (the distinct-words-first
    variant would trade that recompute for two extra shuffles; at very
    large merge lists, fold the chain in chunks through a
    `StageCheckpointer` over the distinct-word table instead —
    expression trees have practical depth limits around a few thousand
    nodes). `word_pattern` excludes non-matching words from the count
    (gated runs pass ASCII-only, matching the trained vocabulary's
    engine-independence domain)."""
    from fuzzycat_spark.operators.spans import raw_tokens

    toks = docs.select(
        F.col(id_col), F.explode(raw_tokens(text_col)).alias("word")
    )
    if word_pattern is not None:
        toks = toks.filter(F.col("word").rlike(word_pattern))
    s = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 ")),
        F.lit(" "),
    )
    for left, right in merges:
        s = F.replace(s, F.lit(f" {left} {right} "), F.lit(f" {left}{right} "))
    counts = (
        toks.withColumn("_nt", F.size(F.split(F.trim(s), " ")))
        .groupBy(id_col)
        .agg(F.sum("_nt").alias("n_tokens_bpe"))
    )
    return docs.select(F.col(id_col)).join(counts, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_tokens_bpe"), F.lit(0)).cast("long").alias(
            "n_tokens_bpe"
        ),
    )
