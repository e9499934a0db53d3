"""Scalar text functions — composed builtins only, no Python UDFs.

The reference's scalar surface (SURVEY.md §2.7) is two private PHP
methods plus inline SQL expressions; each is re-expressed here as a
Column expression so it runs JVM-side inside whole-stage codegen. The
training-data text-analysis functions (token counting, quality scoring,
language ID, fingerprinting) follow the same rule: pure
``pyspark.sql.functions`` compositions, vectorized, no Python in the
hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def limpiar_nombres(col: Column | str) -> Column:
    """Name normalization — F1.

    Semantics (src/Command/EtlHisTurnosCommand.php:339-349): NULL stays
    NULL; trim both ends; collapse internal whitespace runs to one
    space; Unicode-aware uppercase (PHP ``mb_strtoupper`` ≈ Spark
    ``upper``, both Unicode-aware). Idempotent.

    Order matters: collapse FIRST, then trim. Spark/DuckDB ``trim``
    strips only spaces (PHP's strips ``\\r\\n\\t`` too), so
    ``trim``-then-collapse turns a lone ``'\\r'`` into ``' '`` —
    non-idempotent and unfaithful; collapse-then-trim yields ``''``
    exactly like PHP (found by the hypothesis idempotence property).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.trim(F.regexp_replace(c, r"\s+", " ")))


def primer_nombre(col: Column | str) -> Column:
    """First token of a cleaned name — F3.

    Mirrors ``explode(' ', $nombreLimpio)[0]``
    (src/Command/EtlHisTurnosCommand.php:137): substring before the
    first space. ``substring_index`` returns the whole string when no
    space exists, exactly like PHP's explode()[0].
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.substring_index(c, " ", 1)


def nonempty(col: Column | str) -> Column:
    """Non-empty predicate — P3/F6.

    The reference uses PHP ``!empty()`` (Command.php:175) which also
    treats the string ``'0'`` as empty; that PHP-ism is deliberately not
    reproduced (SURVEY.md §7.3). Contract here: NOT NULL and not blank
    after trim.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & (F.trim(c) != F.lit(""))


def usuario_nombre_concat(first: Column | str, last: Column | str) -> Column:
    """NULL-propagating concat with a space — P2.

    SQL Server ``a + ' ' + b`` yields NULL if either side is NULL
    (Command.php:278). Spark's ``concat`` is NULL-propagating, matching;
    ``concat_ws`` would skip NULLs and is wrong here (SURVEY.md §2.2 P2).
    """
    f = F.col(first) if isinstance(first, str) else first
    l = F.col(last) if isinstance(last, str) else last
    return F.concat(f, F.lit(" "), l)


# ---------------------------------------------------------------------------
# Training-data text analysis (engine extensions; SURVEY.md §7.2 step 6)
# ---------------------------------------------------------------------------


def word_tokens(col: Column | str) -> Column:
    """The corpus-wide single-space token array: ``split(trim(text),
    ' ')`` with empties dropped — the one definition for every operator
    whose DuckDB oracle mirrors it with ``list_filter(string_split(
    trim(text), ' '), t -> t <> '')``. Its row helpers are
    :func:`token_rows` (``(keys..., token)``) and
    :func:`token_positions` (``(doc_id, pos, token)``, 1-based). A
    divergent re-implementation at any call site would silently break
    that site's oracle, so ``tests/test_cache_hygiene.py`` fails on any
    copy of the expression outside this function.

    Spark and DuckDB agree on every input, NULL, ``''`` and tabs
    included (``tests/test_functions.py``): ``trim`` strips spaces
    only, so a tab stays inside its token on both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), " "), lambda x: x != F.lit(""))


def token_rows(
    docs: DataFrame, keys: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """(keys..., token): one row per :func:`word_tokens` token of each
    non-NULL ``text``; ``keys`` carries per-doc or per-source columns
    along the explode."""
    return docs.filter(F.col("text").isNotNull()).select(
        *keys, F.explode(word_tokens("text")).alias("token")
    )


def token_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, token): :func:`word_tokens` tokens with 1-based
    positions, the oracles' ``unnest(range(1, len(ts) + 1))``."""
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.posexplode(word_tokens("text")).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")


def token_count(col: Column | str) -> Column:
    """Whitespace token count; 0 for NULL/blank text.

    Split on whitespace runs after trimming — stable across engines
    (DuckDB oracle uses the same regex), no tokenizer dependency.
    """
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed.isNull() | (trimmed == ""), F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def word_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: count word/number/punctuation-run matches.

    A cheap proxy for subword tokenizers: words and digit runs count
    once each, plus each punctuation run. Implemented by stripping
    everything that is not a token boundary and counting regex matches
    via split (JVM regex, codegen-friendly).
    """
    c = F.col(col) if isinstance(col, str) else col
    # Count of alphanumeric runs + count of non-space/non-alnum chars.
    # Splitting on non-alnum runs yields empty head/tail elements when
    # the text starts/ends with punctuation (and [""] for empty text),
    # so count only NON-EMPTY elements — uniform, no edge arithmetic.
    alnum_runs = F.size(
        F.filter(F.split(F.trim(c), r"[^A-Za-z0-9]+"), lambda x: x != "")
    )
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return F.when(c.isNull(), F.lit(0)).otherwise(alnum_runs + punct)


_STOPWORDS_EN = [
    "the", "and", "of", "to", "in", "is", "that", "it", "for", "was",
    "with", "as", "on", "are", "this", "at", "be", "by", "from", "or",
]


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1].

    Components (equal thirds, each clamped to [0,1]):
    - length score: min(1, n_chars / 500)
    - alpha ratio: alphabetic+space chars / total chars
    - mean-word-length sanity: 1 if mean token length in [3, 12] else 0.5
    Deterministic arithmetic only → exactly reproducible in the DuckDB
    oracle. Rounded to 6 decimals to keep float comparison stable.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("double")
    len_score = F.least(F.lit(1.0), n_chars / F.lit(500.0))
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z ]", "")).cast("double")
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    toks = token_count(c).cast("double")
    mean_wl = F.when(toks > 0, (n_chars - (toks - 1)) / toks).otherwise(F.lit(0.0))
    wl_score = F.when((mean_wl >= 3.0) & (mean_wl <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return F.round((len_score + alpha_ratio + wl_score) / F.lit(3.0), 6)


def langid_heuristic(col: Column | str) -> Column:
    """Tiny deterministic language ID: en/es/unknown.

    Counts language-marker stopwords with word-boundary regexes; the
    higher count wins (ties/zero → 'unknown'). Same regexes run in the
    DuckDB oracle. Heuristic by design — contract is the deterministic
    rule, not linguistic accuracy.
    """
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(c)

    def _count(words: list[str]) -> Column:
        pat = r"\b(" + "|".join(words) + r")\b"
        # size(split) - 1 == number of matches of the separator pattern
        return F.size(F.split(lowered, pat)) - F.lit(1)

    en = _count(["the", "and", "with", "for", "that", "this", "from"])
    es = _count(["el", "la", "los", "las", "que", "para", "con", "una"])
    return (
        F.when(c.isNull(), F.lit("unknown"))
        .when((en > es) & (en > 0), F.lit("en"))
        .when((es > en) & (es > 0), F.lit("es"))
        .otherwise(F.lit("unknown"))
    )


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of normalized text.

    Normalization: lowercase, collapse whitespace, trim — so
    near-identical formatting variants collide. md5 hex is identical in
    Spark and DuckDB, giving an exact oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    norm = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    return F.md5(norm)


def normalized_text(col: Column | str) -> Column:
    """Shared normalization used by fingerprint + exact dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def winnow_hashes(col: Column | str, k: int = 8) -> Column:
    """Rolling k-gram 60-bit md5 hashes of the normalized text — stage
    1 of winnowing fingerprints (Schleimer et al., MOSS). MUST be
    bound to its own projection (``.select(...).alias("hs")``) before
    ``winnow_select`` consumes it: feeding this expression INLINE into
    the window-min transform would re-evaluate the whole hash array
    once per window position (O(len²) md5 calls per document — Spark
    does not common-subexpression-eliminate inside nested lambda
    functions, and CollapseProject keeps the two projections apart
    precisely because the array is referenced more than once).
    """
    c = F.col(col) if isinstance(col, str) else col
    norm = normalized_text(c)
    n = F.length(norm)
    # WHEN guard, not greatest(...): Spark's sequence(1, 0) walks
    # BACKWARDS ([1, 0]) for too-short docs, which would fabricate
    # sub-k grams (and a NULL text would yield a NULL fingerprint row)
    # where the oracle's empty range yields no rows — same guard
    # pattern as word_shingles.
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.substring(norm, i, k),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )


def winnow_select(hashes_col: Column | str, w: int = 4) -> Column:
    """Stage 2 of winnowing: distinct per-window minima of the rolling
    hashes — the fingerprint set. Any shared substring of length ≥
    k + w − 1 contributes at least one IDENTICAL fingerprint to both
    documents, so partial overlaps (a plagiarized paragraph, a quoted
    passage) are detectable where whole-document hashing fails; the
    fingerprint density is ~2/(w+1) of the k-gram count. Returns a
    sorted array<long>; explode it to build the inverted match index.
    """
    hashes = (
        F.col(hashes_col) if isinstance(hashes_col, str) else hashes_col
    )
    nh = F.size(hashes)
    mins = F.when(
        nh >= w,
        F.transform(
            F.sequence(F.lit(1), nh - w + 1),
            # least over w direct element_at lookups, NOT
            # array_min(slice(...)): slice allocates a fresh array per
            # window position, which measured ~2× slower over the
            # corpus
            lambda j: F.least(
                *[F.element_at(hashes, j + i) for i in range(w)]
            ),
        ),
    ).otherwise(
        # shorter than one window: the whole doc is the window
        F.when(nh > 0, F.array(F.array_min(hashes))).otherwise(
            F.array().cast("array<long>")
        )
    )
    return F.array_sort(F.array_distinct(mins))
