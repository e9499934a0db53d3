"""Training-layout gate queries: sequence packing + mixture sampling.

The last mile of a pre-training pipeline: curated docs → fixed-budget
training sequences (concat-and-chunk in a deterministic shuffle order)
and per-source mixture rebalancing. Both all-integer → exact oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import token_count, word_token_count
from ..operators.packing import mixture_sample, pack_sequences
from ..registry import register
from ..sources.readers import read_table

SEQ_BUDGET = 1024


@register(
    "training_pack_sequences",
    rf"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END
                   AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS end_offset
        FROM t WHERE n_tokens > 0
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
           CAST((end_offset - n_tokens) // {SEQ_BUDGET} AS BIGINT) AS seq_id,
           CAST((end_offset - n_tokens) % {SEQ_BUDGET} AS BIGINT) AS seq_pos,
           CAST((end_offset - 1) // {SEQ_BUDGET}
                - (end_offset - n_tokens) // {SEQ_BUDGET} + 1 AS BIGINT)
               AS n_seqs
    FROM c
    """,
)
def training_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing: each doc's span in 1024-token
    training sequences, offsets assigned by a distributed prefix sum
    over the md5 shuffle order (the oracle's single-partition window
    cumsum is output-identical — see operators/packing.running_total).
    Training-data extension; no reference twin."""
    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, token_count("text"), budget=SEQ_BUDGET
    )


@register(
    "training_mixture_sample",
    """
    WITH ranked AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS sample_rank,
               count(*) OVER (PARTITION BY source) AS n,
               CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                    THEN 100 ELSE 40 END AS pct
        FROM documents
    )
    SELECT doc_id, source, sample_rank,
           CAST((pct * n + 99) // 100 AS BIGINT) AS n_kept
    FROM ranked
    WHERE sample_rank <= (pct * n + 99) // 100
    """,
)
def training_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: even-numbered sources kept whole, odd ones
    downsampled to 40%, deterministically by md5 rank. Integer-ceiling
    keep counts (no float). Training-data extension."""
    docs = read_table(spark, sf_dir, "documents")
    pct = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(100)
    ).otherwise(F.lit(40))
    return mixture_sample(docs, pct)


@register(
    "inference_length_batches",
    """
    WITH toked AS (
        SELECT doc_id,
               len(list_filter(string_split(trim(text), ' '),
                               t -> t <> '')) AS n_tokens
        FROM documents WHERE text IS NOT NULL
    ),
    sized AS (
        SELECT doc_id, n_tokens, n_tokens // 32 AS len_bucket
        FROM toked WHERE n_tokens > 0
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY len_bucket
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ) - 1 AS rn
        FROM sized
    ),
    batched AS (
        SELECT len_bucket, rn // 16 AS batch_id, n_tokens FROM ranked
    )
    SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
           CAST(batch_id AS BIGINT) AS batch_id,
           count(*) AS n_docs,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(count(*) * max(n_tokens) - SUM(n_tokens) AS BIGINT)
               AS padding_waste
    FROM batched
    GROUP BY 1, 2
    """,
)
def inference_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment for inference/training: docs
    are bucketed by token count (width 32), deterministically ordered
    inside each bucket (md5 — reproducible across runs/engines), and
    cut into 16-doc batches; each batch reports its padded size and
    PADDING WASTE (docs·max − Σlen — the tokens burned on pad). This
    is why serving stacks length-sort before batching: batching
    uniformly at random pads every sequence to the batch max. The
    per-bucket window parallelizes by bucket; nothing global."""
    from ..functions.text import word_tokens

    docs = read_table(spark, sf_dir, "documents")
    sized = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.size(word_tokens("text")).alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
        .withColumn("len_bucket", F.expr("n_tokens div 32"))
    )
    w = Window.partitionBy("len_bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        sized.withColumn("rn", F.row_number().over(w) - 1)
        .withColumn("batch_id", F.expr("rn div 16"))
        .groupBy(
            F.col("len_bucket").cast("long").alias("len_bucket"),
            F.col("batch_id").cast("long").alias("batch_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            (
                F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens")
            ).cast("long").alias("padding_waste"),
        )
    )


@register(
    "contrastive_triplets",
    r"""
    WITH words AS (
        SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
    ),
    shs AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle_s
        FROM words WHERE len(w) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || substr(md5(shingle_s), 1, 15) AS BIGINT) AS shingle
        FROM shs
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a_id, b_id FROM inter
        JOIN sizes sa ON a_id = sa.doc_id
        JOIN sizes sb ON b_id = sb.doc_id
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    ),
    slotted AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 8 AS slot
        FROM documents
    ),
    cands AS (
        SELECT slot, list_sort(list(doc_id)) AS cand
        FROM (
            SELECT slot, doc_id,
                   row_number() OVER (PARTITION BY slot ORDER BY doc_id) AS rk
            FROM slotted
        ) WHERE rk <= 3
        GROUP BY slot
    )
    SELECT p.a_id AS anchor_id, p.b_id AS positive_id,
           list_filter(c.cand, x -> x <> p.a_id AND x <> p.b_id)[1]
               AS negative_id
    FROM pairs p
    JOIN cands c
      ON c.slot = CAST('0x' || substr(
             md5(CAST(p.a_id AS VARCHAR) || ':' || CAST(p.b_id AS VARCHAR)),
             1, 15) AS BIGINT) % 8
    WHERE len(list_filter(c.cand, x -> x <> p.a_id AND x <> p.b_id)) > 0
    """,
)
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) training triplets for contrastive
    embedding fine-tuning: positives are the corpus's own Jaccard-0.8
    near-dup pairs (the prefix-filtered scale path), negatives are
    drawn DETERMINISTICALLY by hashing the pair into one of 8 doc
    slots and taking the first of that slot's three smallest doc ids
    that collides with neither pair member — reproducible across runs
    and engines, where a rand() negative would re-sample every epoch.
    The slot-candidates table is ≤ 3·slots rows (broadcast); the
    per-slot window parallelizes by slot."""
    from ..operators.dedup_approx import jaccard_pairs_prefix, seeded_hash60

    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_prefix(docs, 0.8).select("a_id", "b_id")
    slots = docs.select(
        "doc_id",
        (seeded_hash60(F.col("doc_id").cast("string")) % 8).alias("slot"),
    )
    w = Window.partitionBy("slot").orderBy("doc_id")
    cands = (
        slots.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .groupBy("slot")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("cand"))
    )
    pair_slot = (
        seeded_hash60(
            F.concat_ws(":", F.col("a_id").cast("string"),
                        F.col("b_id").cast("string"))
        ) % 8
    ).alias("slot")
    picked = F.filter(
        F.col("cand"),
        lambda x: (x != F.col("a_id")) & (x != F.col("b_id")),
    )
    return (
        pairs.select("a_id", "b_id", pair_slot)
        .join(F.broadcast(cands), "slot")
        .filter(F.size(picked) > 0)
        .select(
            F.col("a_id").alias("anchor_id"),
            F.col("b_id").alias("positive_id"),
            F.element_at(picked, 1).alias("negative_id"),
        )
    )


@register(
    "training_temperature_mixture",
    """
    WITH counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_s,
               CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS isq
        FROM documents GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(isq) AS BIGINT) AS sum_isq,
               CAST(sum(n_s) AS BIGINT) AS total_docs
        FROM counts
    ),
    ranked AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS sample_rank
        FROM documents
    )
    SELECT r.doc_id, r.source, r.sample_rank,
           CAST(((tot.total_docs // 2) * c.isq) // tot.sum_isq AS BIGINT)
               AS n_kept
    FROM ranked r JOIN counts c USING (source) CROSS JOIN tot
    WHERE r.sample_rank <= ((tot.total_docs // 2) * c.isq) // tot.sum_isq
    """,
)
def training_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixture (α = 0.5): per-source keep
    counts proportional to √n_s — the up-weight-the-tail sampling
    multilingual/multi-source training runs use, targeting half the
    corpus in total.

    Exactness device: √n on an integer count is one IEEE sqrt
    (correctly rounded) immediately floored to a BIGINT, so every
    weight, the weight sum, and the keep quota ``(T·⌊√n_s⌋) div Σ⌊√n⌋``
    are integers — no float normalization whose sum order could drift.
    Doc selection is the md5-rank rule (mixture_sample discipline);
    one source-keyed window shuffle + a per-source-row count dim join
    + a 1-row totals broadcast."""
    docs = read_table(spark, sf_dir, "documents")
    counts = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_s"))
        .withColumn(
            "isq",
            F.floor(F.sqrt(F.col("n_s").cast("double"))).cast("long"),
        )
    )
    tot = counts.agg(
        F.sum("isq").cast("long").alias("sum_isq"),
        F.sum("n_s").cast("long").alias("total_docs"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(w).cast("long").alias("sample_rank")
    )
    keep = F.expr("((total_docs div 2) * isq) div sum_isq").cast("long")
    return (
        ranked.join(counts.select("source", "isq"), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn("n_kept", keep)
        .filter(F.col("sample_rank") <= F.col("n_kept"))
        .select("doc_id", "source", "sample_rank", "n_kept")
    )


N_EPOCHS = 2


@register(
    "training_epoch_shuffle",
    f"""
    WITH docs_n AS (SELECT doc_id FROM documents WHERE text IS NOT NULL),
    epochs AS (SELECT unnest(range({N_EPOCHS})) AS epoch),
    keyed AS (
        SELECT e.epoch, d.doc_id,
               md5(CAST(e.epoch AS VARCHAR) || ':'
                   || CAST(d.doc_id AS VARCHAR)) AS k
        FROM docs_n d CROSS JOIN epochs e
    )
    SELECT epoch, doc_id,
           CAST(row_number() OVER (
               PARTITION BY epoch ORDER BY k, doc_id
           ) AS BIGINT) AS pos
    FROM keyed
    """,
)
def training_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible multi-epoch corpus shuffle: each epoch orders
    documents by md5(epoch:doc_id) — a different, deterministic
    permutation per epoch with NO RNG state to checkpoint or
    distribute (re-running epoch 7 after a crash reproduces the exact
    order; a seeded rand() depends on partition layout).

    Positions are minted per epoch with the PARALLEL dense-id scheme
    (``surrogate.dense_ids`` keyed on the hash — range repartition +
    per-partition window + partition start offsets), so no epoch ever
    routes the corpus through one task; the epoch fan-out is a 2-row
    explode on the driver-sized epoch list."""
    from ..operators.surrogate import dense_ids

    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id")
    )
    out = []
    for ep in range(N_EPOCHS):
        keyed = docs.select(
            F.lit(ep).cast("long").alias("epoch"),
            "doc_id",
            F.md5(
                F.concat(
                    F.lit(str(ep)), F.lit(":"), F.col("doc_id").cast("string")
                )
            ).alias("k"),
        )
        ranked = dense_ids(keyed, [F.col("k"), F.col("doc_id")], id_col="pos")
        out.append(ranked.select("epoch", "doc_id", "pos"))
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


@register(
    "training_skipgram_pairs",
    """
    WITH toked AS (
        SELECT list_filter(string_split(trim(text), ' '),
                           t -> t <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    d1x AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM toked WHERE len(w) >= 2),
    d2x AS (SELECT w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM toked WHERE len(w) >= 3),
    pairs AS (
        SELECT w[i] AS w_center, w[i + 1] AS w_context, 1 AS dist FROM d1x
        UNION ALL SELECT w[i + 1], w[i], 1 FROM d1x
        UNION ALL SELECT w[i], w[i + 2], 2 FROM d2x
        UNION ALL SELECT w[i + 2], w[i], 2 FROM d2x
    )
    SELECT w_center, w_context, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
           CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2
    FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5
    """,
)
def training_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts, window ±2 —
    the count table a word2vec/GloVe embedding-pretraining pass feeds
    on, with per-distance splits for distance-weighted variants.

    Scale: all four directed pair streams are built MAP-SIDE from the
    token array (zip_with over two slices — the bigram idiom, never a
    positional self-join), so the only shuffle is the grouped count
    whose key domain is vocab² (Heaps-law bounded) and whose partial
    aggregation collapses each partition to distinct pairs before the
    exchange. min-support 5 keeps the gate output report-sized."""
    from ..functions.text import word_tokens

    d = read_table(spark, sf_dir, "documents")
    ts = F.col("ts")
    n = F.size("ts")

    def pair_arr(offset: int, flip: bool):
        a = F.slice(ts, 1, n - offset)
        b = F.slice(ts, 1 + offset, n - offset)
        if flip:
            a, b = b, a
        return F.zip_with(
            a, b,
            lambda x, y: F.struct(
                x.alias("w_center"),
                y.alias("w_context"),
                F.lit(offset).alias("dist"),
            ),
        )

    pairs = (
        d.filter(F.col("text").isNotNull())
        .select(word_tokens("text").alias("ts"))
        .filter(n >= 2)
        .select(
            F.explode(
                F.concat(
                    pair_arr(1, False), pair_arr(1, True),
                    pair_arr(2, False), pair_arr(2, True),
                )
            ).alias("p")
        )
        .select("p.w_center", "p.w_context", "p.dist")
    )
    return (
        pairs.groupBy("w_center", "w_context")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("dist") == 1, 1).otherwise(0))
            .cast("long").alias("n_d1"),
            F.sum(F.when(F.col("dist") == 2, 1).otherwise(0))
            .cast("long").alias("n_d2"),
        )
        .filter(F.col("n_pairs") >= 5)
    )


@register(
    "training_negative_sampling",
    """
    WITH toked AS (
        SELECT list_filter(string_split(trim(text), ' '),
                           t -> t <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    uni AS (SELECT unnest(w) AS tok FROM toked),
    ucnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    wq AS (
        SELECT tok, c,
               CAST(round(sqrt(sqrt(CAST(c AS DOUBLE) * c * c)) * 1000000)
                    AS BIGINT) AS w_micro
        FROM ucnt
    ),
    tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS t FROM wq)
    SELECT tok, c, w_micro,
           CAST(sum(w_micro) OVER (ORDER BY tok) - w_micro AS BIGINT)
               AS cum_lo,
           CAST(sum(w_micro) OVER (ORDER BY tok) AS BIGINT) AS cum_hi,
           CAST(w_micro AS DOUBLE) / t AS share
    FROM wq, tot
    """,
)
def training_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table: unigram counts raised to the
    3/4 power (Mikolov et al. 2013), fixed-point micro-unit weights,
    and cumulative [cum_lo, cum_hi) ranges so a sampler can binary-
    search a uniform draw into a token without any RNG state here.

    Exactness without libm pow(): c^0.75 = sqrt(sqrt(c³)) — two
    correctly-rounded IEEE sqrts over one fixed multiply chain, then
    rounded once to integer micro-units so the cumulative sum and the
    final share division are exact-integer cross-engine. Scale: the
    count shuffle is the only corpus-sized stage; the weight table and
    its cumulative window are vocab-bounded (the stats_ks_drift
    bounded-global-window argument — ≤ |V| rows at any corpus size)
    and the 1-row total rides the documented broadcast allowlist."""
    from ..functions.text import word_tokens

    d = read_table(spark, sf_dir, "documents")
    uni = (
        d.filter(F.col("text").isNotNull())
        .select(F.explode(word_tokens("text")).alias("tok"))
    )
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    c = F.col("c")
    # wq feeds both the 1-row total and the output projection; the lazy
    # checkpoint pins the vocab-bounded frame so the corpus-sized count
    # aggregation runs once, not once per branch.
    wq = ucnt.select(
        "tok", "c",
        F.round(F.sqrt(F.sqrt(c.cast("double") * c * c)) * 1000000)
        .cast("long").alias("w_micro"),
    ).localCheckpoint(eager=False)
    tot = wq.agg(F.sum("w_micro").cast("long").alias("t"))
    w = Window.orderBy("tok")
    return (
        wq.crossJoin(F.broadcast(tot))
        .select(
            "tok", "c", "w_micro",
            (F.sum("w_micro").over(w) - F.col("w_micro"))
            .cast("long").alias("cum_lo"),
            F.sum("w_micro").over(w).cast("long").alias("cum_hi"),
            (F.col("w_micro").cast("double") / F.col("t")).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Round-9 additions: mixture upsampling-by-repetition and T5-style span
# corruption specs.
# ---------------------------------------------------------------------------


@register(
    "training_upsample_repeat",
    """
    WITH weighted AS (
        SELECT doc_id, source,
               600000 + 400000 * (CAST(substr(source, 4) AS BIGINT) % 5)
                   AS w_micro,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 1000000 AS u
        FROM documents
    ),
    reps AS (
        SELECT doc_id, source, w_micro,
               CAST(w_micro // 1000000
                    + CASE WHEN u < w_micro % 1000000 THEN 1 ELSE 0 END
                   AS BIGINT) AS n_repeats
        FROM weighted
    )
    -- DuckDB 1.0 can't lateral-join generate_series on a column;
    -- weights cap at 2.2 so repeats <= 3 and a static unnest works
    SELECT doc_id, source, n_repeats, CAST(r.rep AS BIGINT) AS rep_idx
    FROM reps JOIN (SELECT unnest([1, 2, 3]) AS rep) r
      ON r.rep <= n_repeats
    WHERE n_repeats >= 1
    """,
)
def training_upsample_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted epoch materialization by repetition: each
    source carries a mixture weight w (here 0.6–2.2 derived from the
    source index; production passes a weight table), and every doc is
    emitted floor(w) times plus one more with probability frac(w),
    decided by a deterministic per-doc hash — the standard
    integerization of fractional mixture weights (the repeat-and-
    bernoulli device of LM data recipes: upsample high-quality
    sources ~2×, downsample the rest, reproducible across runs).

    Plan: map-only weight derivation, then ``explode(sequence())`` —
    output size Σ repeats with no shuffle at all; the decision hash
    is the corpus-wide md5 discipline, so both engines agree
    bit-for-bit on who gets the extra epoch."""
    from ..operators.dedup_approx import seeded_hash60

    w_micro = (
        F.lit(600000)
        + F.lit(400000)
        * (F.expr("CAST(substring(source, 4) AS BIGINT)") % 5)
    ).cast("long")
    u = seeded_hash60(F.col("doc_id").cast("string")) % 1000000
    reps = (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            w_micro.alias("w_micro"),
            u.alias("u"),
        )
        .select(
            "doc_id",
            "source",
            (
                F.expr("CAST(w_micro div 1000000 AS BIGINT)")
                + F.when(
                    F.col("u") < F.col("w_micro") % 1000000, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_repeats"),
        )
        .filter(F.col("n_repeats") >= 1)
    )
    return reps.select(
        "doc_id",
        "source",
        "n_repeats",
        F.explode(
            F.sequence(F.lit(1).cast("long"), F.col("n_repeats"))
        ).alias("rep_idx"),
    )


@register(
    "training_span_mask_spec",
    """
    WITH toks AS (
        SELECT doc_id, u.pos, u.token
        FROM documents d,
        LATERAL (SELECT unnest(list_filter(string_split(trim(d.text), ' '),
                                           x -> x <> '')) AS token,
                        generate_subscripts(
                            list_filter(string_split(trim(d.text), ' '),
                                        x -> x <> ''), 1) AS pos) u
        WHERE d.text IS NOT NULL
    ),
    sized AS (
        SELECT doc_id, CAST(max(pos) AS BIGINT) AS n_tokens
        FROM toks GROUP BY 1
    ),
    hashed AS (
        SELECT t.doc_id, t.pos,
               CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR) || ':'
                    || CAST(t.pos AS VARCHAR)), 1, 15) AS BIGINT) AS h,
               s.n_tokens
        FROM toks t JOIN sized s USING (doc_id)
    ),
    spans AS (
        SELECT doc_id, n_tokens, pos AS span_start,
               least(pos + 1 + (h // 20) % 5 - 1, n_tokens) AS span_end
        FROM hashed WHERE h % 20 = 0
    ),
    flagged AS (
        SELECT *,
               CASE WHEN max(span_end) OVER (
                        PARTITION BY doc_id ORDER BY span_start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                 OR span_start > max(span_end) OVER (
                        PARTITION BY doc_id ORDER BY span_start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS is_new
        FROM spans
    ),
    islands AS (
        SELECT *, sum(is_new) OVER (
                   PARTITION BY doc_id ORDER BY span_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM flagged
    ),
    merged AS (
        SELECT doc_id, max(n_tokens) AS n_tokens, island,
               min(span_start) AS m_start, max(span_end) AS m_end
        FROM islands GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(max(n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(m_end - m_start + 1) AS BIGINT) AS n_masked,
           CAST(CAST(sum(m_end - m_start + 1) AS BIGINT) * 1000000
                // max(n_tokens) AS BIGINT) AS mask_ratio_micro
    FROM merged GROUP BY doc_id
    """,
)
def training_span_mask_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic T5-style span-corruption SPEC: ~5% of token
    positions trigger a mask span of hash-chosen length 1–5 (clipped
    at doc end), overlapping spans merge via the islands device, and
    the per-doc summary reports span count, masked-token count, and
    the realized mask ratio — the reproducible plan a denoising
    pretraining job hands its tokenizer workers (spans must be
    decided identically on every re-run and every engine, hence the
    md5 position hash, not an RNG).

    Plan: token positions from one posexplode, the trigger/length
    hash is map-side, span merging is the islands-and-gaps pattern
    (``events_interval_coverage``) in ONE doc-keyed window sort, then
    two doc-keyed aggs. Integer micro-units; no doubles."""
    from ..operators.dedup_approx import seeded_hash60

    toks = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.posexplode(
                F.filter(
                    F.split(F.trim("text"), " "), lambda x: x != F.lit("")
                )
            ).alias("pos0", "token"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"))
    )
    wdoc = Window.partitionBy("doc_id")
    sized = toks.withColumn(
        "n_tokens", F.max("pos").over(wdoc).cast("long")
    )
    h = seeded_hash60(
        F.col("pos").cast("string"), seed=F.col("doc_id")
    )
    spans = (
        sized.withColumn("h", h)
        .filter(F.col("h") % 20 == 0)
        .select(
            "doc_id",
            "n_tokens",
            F.col("pos").alias("span_start"),
            F.least(
                F.col("pos") + F.expr("CAST((h div 20) % 5 AS BIGINT)"),
                F.col("n_tokens"),
            ).alias("span_end"),
        )
    )
    worder = Window.partitionBy("doc_id").orderBy("span_start")
    prev_max = F.max("span_end").over(
        worder.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.withColumn(
        "is_new",
        F.when(
            prev_max.isNull() | (F.col("span_start") > prev_max), 1
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("is_new").over(
            worder.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    merged = flagged.groupBy("doc_id", "island").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.min("span_start").alias("m_start"),
        F.max("span_end").alias("m_end"),
    )
    return merged.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("m_end") - F.col("m_start") + 1)
        .cast("long")
        .alias("n_masked"),
        F.expr(
            "CAST(sum(m_end - m_start + 1) * 1000000"
            "     div max(n_tokens) AS BIGINT)"
        ).alias("mask_ratio_micro"),
    )


# ---------------------------------------------------------------------------
# training_tokenizer_fertility — regex-vs-whitespace token fertility
# ---------------------------------------------------------------------------
FERTILITY_ORACLE = r"""
    WITH d AS (
        SELECT lang, source,
               CAST(length(text) AS BIGINT) AS nc,
               CAST(len(string_split_regex(trim(text), '\s+'))
                    AS BIGINT) AS ws,
               CAST(len(list_filter(
                        string_split_regex(trim(text), '[^A-Za-z0-9]+'),
                        x -> x <> ''))
                    + length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                    AS BIGINT) AS re_t
        FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(re_t) AS BIGINT) AS re_tokens,
           CAST((1000000 * sum(re_t)) // sum(ws) AS BIGINT)
               AS fertility_micro,
           CAST((1000000 * sum(nc)) // greatest(sum(re_t), 1) AS BIGINT)
               AS chars_per_token_micro
    FROM d GROUP BY 1, 2
"""


@register("training_tokenizer_fertility", FERTILITY_ORACLE)
def training_tokenizer_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility per (lang, source): the repo's BPE-ish
    regex token count (functions.text.word_token_count — alphanumeric
    runs + punctuation characters, the cheap subword proxy) against
    the whitespace-word baseline (token_count), with chars-per-token.
    Fertility (tokens per word) is THE corpus-balance signal a
    multilingual tokenizer decision reads: a language whose fertility
    runs high gets fewer effective tokens per byte budget.

    Map-only scoring + one hash-agg; sums cross the engine boundary
    and the two ratios are integer div over positive sums — linear at
    any corpus size.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    d = docs.select(
        "lang",
        "source",
        F.length("text").cast("long").alias("nc"),
        token_count("text").cast("long").alias("ws"),
        word_token_count("text").cast("long").alias("re_t"),
    )
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("re_t").cast("long").alias("re_tokens"),
        F.expr("CAST((1000000 * sum(re_t)) div sum(ws) AS BIGINT)").alias(
            "fertility_micro"
        ),
        F.expr(
            "CAST((1000000 * sum(nc)) div greatest(sum(re_t), 1)"
            " AS BIGINT)"
        ).alias("chars_per_token_micro"),
    )
