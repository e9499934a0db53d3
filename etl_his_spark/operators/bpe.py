"""Distributed BPE (byte-pair-encoding) merge induction.

The tokenizer-training step of an LLM data pipeline, in its scalable
form (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
with Subword Units" — public paper): operate on the DISTINCT-WORD
frequency table, not the corpus. The word table is Heaps-law-sized
(≪ corpus bytes), so each merge iteration shuffles a pair table of
roughly |vocab| · avg_word_len rows — the same shape Spark-based
tokenizer trainers use at 100 TB, where a corpus-wide scan per merge
would be ruinous.

Representation: each word is a symbol STRING — its characters joined
by single spaces, wrapped in sentinel spaces, with an atomic ``</w>``
end-of-word marker (`` h i </w> ``). Symbols never contain spaces, so
adjacent pairs come from zipping the split array with itself, and a
merge (l, r) is applied by a GREEDY LEFT-TO-RIGHT STATE-MACHINE FOLD
over the symbol array: carry (output, pending); when pending == l and
the next symbol == r, emit the merged symbol and clear pending, else
flush pending. This is exactly Sennrich greedy merging — including
SELF-pairs (l == r), where a naive string replacement mis-groups runs
(`` a a a a a `` must become ``aa aa a``, but a left-to-right string
replace yields ``aa a aa`` because the first match consumes the
shared separator — the round-6 review finding this fold fixes). The
oracle runs the IDENTICAL fold via DuckDB ``list_reduce`` with the
(output, pending) state packed into one string on a \x01 separator.

Determinism: the winning pair each step is ordered by (weighted count
DESC, pair string ASC) — a total order, identical in the SQL oracle.

Caveat (documented, not guarded): a word whose raw characters could
merge into the literal string ``</w>`` would collide with the sentinel
after ≥3 merges; real tokenizers use a byte vocabulary where the
marker is out-of-band. At the default k=3 on word-character input the
collision is unreachable.

Driver traffic: ONE collected row per merge step (the argmax pair) —
bounded at k rows total regardless of corpus size (the
``packing.running_total`` ≤-64-row discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from .pin import pin

END_WORD = "</w>"


def word_symbol_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(word, n, sym) — distinct-word counts with initial symbol strings.

    Words are :func:`word_tokens` tokens; characters come from
    ``regexp_extract_all('(?s).')`` so the oracle's RE2 and Spark's
    Java regex agree on every character including newlines.
    """
    words = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(word_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    chars = F.regexp_extract_all("word", F.lit(r"(?s)."), 0)
    sym = F.concat(
        F.lit(" "),
        F.array_join(chars, " "),
        F.lit(f" {END_WORD} "),
    )
    return words.select("word", "n", sym.alias("sym"))


def _pair_counts(words: DataFrame) -> DataFrame:
    """(pair, cnt): adjacent symbol pairs weighted by word frequency.

    ``pair`` is ``left || ' ' || right`` — unambiguous because symbols
    are space-free by construction.
    """
    ts = F.filter(F.split("sym", " "), lambda x: x != F.lit(""))
    pairs = F.zip_with(
        F.slice(ts, 1, F.size(ts) - 1),
        F.slice(ts, 2, F.size(ts) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        words.select("n", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("n").cast("long").alias("cnt"))
    )


def apply_merge(words: DataFrame, pair: str) -> DataFrame:
    """Apply the winning merge with the greedy left-to-right
    state-machine fold (module docstring): accumulator = (out, pend);
    pend==left and x==right → emit merged, clear pend; else flush
    pend. Equals Sennrich greedy for every pair INCLUDING self-pairs,
    which string replacement mis-groups on runs ≥ 5."""
    left, right = pair.split(" ")
    merged_sym = left + right
    ts = F.filter(F.split("sym", " "), lambda x: x != F.lit(""))

    def step(acc, x):
        return F.when(
            (acc["pend"] == F.lit(left)) & (x == F.lit(right)),
            F.struct(
                F.concat(acc["out"], F.lit(" "), F.lit(merged_sym)).alias(
                    "out"
                ),
                F.lit("").alias("pend"),
            ),
        ).otherwise(
            F.struct(
                F.when(
                    acc["pend"] != F.lit(""),
                    F.concat(acc["out"], F.lit(" "), acc["pend"]),
                )
                .otherwise(acc["out"])
                .alias("out"),
                x.alias("pend"),
            )
        )

    def fin(acc):
        full = F.when(
            acc["pend"] != F.lit(""),
            F.concat(acc["out"], F.lit(" "), acc["pend"]),
        ).otherwise(acc["out"])
        return F.concat(full, F.lit(" "))

    merged = F.aggregate(
        ts,
        F.struct(F.lit("").alias("out"), F.lit("").alias("pend")),
        step,
        fin,
    )
    return words.select("word", "n", merged.alias("sym"))


def _train(
    docs: DataFrame, k: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Shared k-iteration training loop: returns (merge list, word
    table with all k merges applied — lazily; a merges-only caller
    never executes the final apply_merge)."""
    words = pin(word_symbol_table(docs), eager=True)
    out: list[tuple[int, str, str, int]] = []
    for step in range(1, k + 1):
        best = (
            _pair_counts(words)
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt = best[0]["pair"], best[0]["cnt"]
        out.append((step, pair, pair.replace(" ", ""), cnt))
        words = apply_merge(words, pair)
    return out, words


def bpe_merge_steps(docs: DataFrame, k: int = 3) -> DataFrame:
    """Run ``k`` BPE merge iterations; return the merge table.

    Output: (step, pair, new_symbol, pair_count) — k rows, the
    trained merge list in order. The word table is eager-checkpointed
    ONCE (it feeds every iteration's agg); per-step symbol updates are
    narrow map ops stacked on that one materialization, so no shuffle
    is ever recomputed.
    """
    spark = docs.sparkSession
    out, _ = _train(docs, k)
    return spark.createDataFrame(
        out, "step long, pair string, new_symbol string, pair_count long"
    )


def bpe_encode_words(docs: DataFrame, k: int = 3) -> DataFrame:
    """(word, n, sym) AFTER the first ``k`` trained merges — the
    ENCODE-side artifact: the word → subword-sequence mapping a
    tokenizer applies to the corpus. Same distinct-word scaling as
    training (the mapping is Heaps-law-sized, never corpus-sized);
    encoding the corpus is then one equi-join on ``word``."""
    return _train(docs, k)[1]
