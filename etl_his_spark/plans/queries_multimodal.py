"""Multimodal queries — rows-only checks (binary + Pandas-UDF stages
are not SQL-expressible, per the driver contract's escape hatch)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import attach_fake_media, decode_media, frame_sample
from ..operators.pin import pin
from ..registry import register
from ..sources.readers import read_table


# Analytic oracle (r10, upgrading the r3-era rows-only row — r9 verdict
# item 7): the fake decoder is a normalized byte%16 histogram over the
# UTF-8 payload, which SQL can state directly — bytes via hex(encode())
# split into 2-char chunks, 16 conditional sums. The encoding is
# integer micro-units via floor(x*1e6 + 0.5) computed in DOUBLE on
# both sides: divide/multiply/add/floor are single IEEE ops, so the
# bits match engine-to-engine. (%.6f formatting was tried and fails:
# a doc of 128 bytes yields exact doubles like 25/128 = 0.1953125,
# whose 6-decimal rounding is HALF_UP in Java but half-even in the
# C++ formatter — 0.195313 vs 0.195312.)
_FEATURE_COLS = ", ".join(
    f"SUM(CASE WHEN bin = {i} THEN 1 ELSE 0 END) AS c{i}" for i in range(16)
)
_FEATURE_ENC = " || ',' || ".join(
    f"CAST(CAST(floor(CAST(c{i} AS DOUBLE) / n * 1000000.0 + 0.5)"
    " AS BIGINT) AS VARCHAR)"
    for i in range(16)
)

MULTIMODAL_FEATURES_ORACLE = f"""
    WITH b AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE text IS NOT NULL AND text <> ''
    ),
    bytes AS (
        SELECT doc_id, n,
               CAST(('0x' || unnest(regexp_extract_all(hx, '..'))) AS BIGINT)
                   % 16 AS bin
        FROM b
    ),
    hist AS (
        SELECT doc_id, max(n) AS n, {_FEATURE_COLS}
        FROM bytes GROUP BY doc_id
    )
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(n AS BIGINT) AS n_bytes,
           {_FEATURE_ENC} AS features_enc
    FROM hist
"""


@register("multimodal_features", MULTIMODAL_FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → Arrow-batched feature extraction
    (deterministic stub decoder; real plumbing under a HASH oracle
    since r10 — the byte-histogram fake lane is analytically stated in
    SQL, so the mapInPandas plumbing, Arrow batching, and the %.6f
    scalar encoding are all hash-verified, the netpbm-lane technique).

    The ``features array<double>`` column is projected to a stable
    scalar encoding (comma-joined integer micro-units, floor(x·1e6 +
    0.5) in double — IEEE-bit-identical cross-engine, unlike %.6f
    formatting whose halfway rule differs) because the driver's
    canonicalizer sorts/hashes cell values and cannot hash Python
    lists. The operator itself still returns the real array; only
    this contract query flattens it.
    """
    media = attach_fake_media(read_table(spark, sf_dir, "documents"))
    # decoder="fake" pinned explicitly: the gate's output must be
    # environment-independent (decoder="auto" would switch to the real
    # Pillow path wherever Pillow happens to be installed, and the fake
    # text-payload media isn't decodable imagery).
    decoded = decode_media(media, allow_fake=True, decoder="fake")
    return decoded.select(
        "media_id",
        "kind",
        "n_bytes",
        F.concat_ws(
            ",",
            F.transform(
                "features",
                lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5))
                .cast("long")
                .cast("string"),
            ),
        ).alias("features_enc"),
    )


@register(
    "multimodal_netpbm_decode",
    """
    SELECT doc_id AS media_id,
           CAST(75 AS BIGINT) AS n_bytes,
           array_to_string(
               list_transform(range(0, 16), i -> CASE
                   WHEN i = (doc_id % 256) // 16 THEN '1.000000'
                   ELSE '0.000000' END),
               ',') AS features_enc
    FROM documents
    """,
)
def multimodal_netpbm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under a hard oracle — no codec library.

    Spark-side: each doc becomes a valid binary PGM (P5) built with
    pure column expressions — header + an 8x8 raster of the constant
    byte ``doc_id % 256`` via ``unhex`` — then decoded by the
    dependency-free netpbm lane (mapInPandas → numpy parse → BT.601
    luminance → 16-bin histogram). Because the image content is known
    analytically, DuckDB can state the expected histogram exactly
    (single 1.0 in bin ``(doc_id % 256) // 16``) WITHOUT doing any
    image work — a hash-verified end-to-end check of the real decode
    path: encoder, header parser, raster reshape, histogram, and the
    scalar encoding all have to be right for the hash to match.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    v = F.pmod(F.col("doc_id"), F.lit(256)).cast("int")
    hexbyte = F.lpad(F.lower(F.hex(v)), 2, "0")
    raster = F.unhex(F.concat_ws("", F.array_repeat(hexbyte, 64)))
    media_bytes = F.concat(F.lit(b"P5\n8 8\n255\n"), raster)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        media_bytes.alias("media_bytes"),
        F.length(media_bytes).cast("long").alias("n_bytes"),
        F.lit(8).alias("declared_width"),
        F.lit(8).alias("declared_height"),
    )
    decoded = decode_media(media, decoder="netpbm")
    return decoded.select(
        "media_id",
        "n_bytes",
        F.concat_ws(
            ",", F.transform("features", lambda x: F.format_string("%.6f", x))
        ).alias("features_enc"),
    )


@register(
    "multimodal_y4m_frames",
    """
    SELECT doc_id AS media_id, fi AS frame_index,
           CAST(75 AS BIGINT) AS n_bytes,
           array_to_string(
               list_transform(range(0, 16), i -> CASE
                   WHEN i = ((doc_id * 7 + fi * 11) % 256) // 16
                   THEN '1.000000' ELSE '0.000000' END),
               ',') AS features_enc
    FROM documents CROSS JOIN (SELECT unnest([0, 2]) AS fi)
    """,
)
def multimodal_y4m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode under a hard oracle — no codec library.

    Spark-side: each doc becomes a valid 4-frame uncompressed
    YUV4MPEG2 (Cmono) video built with pure column expressions —
    header + per-frame ``FRAME\\n`` markers + an 8x8 luma plane of the
    constant byte ``(doc_id*7 + frame*11) % 256`` — then run through
    the COMPLETE real multimodal pipeline: ``frame_sample`` (y4m
    parse, every 2nd frame, luma re-encoded as binary PGM) feeding
    ``decode_media(decoder="netpbm")`` (PGM parse → luminance
    histogram) with frame_index passed through. The oracle states the
    expected histogram analytically (one-hot at
    ``((doc_id*7 + frame*11) % 256) // 16`` for frames 0 and 2) —
    a hash-verified end-to-end check of y4m header parse, frame
    walking, plane extraction, PGM re-encode, image decode, and the
    1:N fan-out row contract.
    """
    from ..operators.multimodal import decode_media as _decode

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    header = F.lit(b"YUV4MPEG2 W8 H8 F25:1 Ip A1:1 Cmono\n")
    parts = [header]
    for fi in range(4):
        v = F.pmod(F.col("doc_id") * 7 + F.lit(fi * 11), F.lit(256)).cast("int")
        hexbyte = F.lpad(F.lower(F.hex(v)), 2, "0")
        plane = F.unhex(F.concat_ws("", F.array_repeat(hexbyte, 64)))
        parts.append(F.lit(b"FRAME\n"))
        parts.append(plane)
    media_bytes = F.concat(*parts)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        media_bytes.alias("media_bytes"),
        F.length(media_bytes).cast("long").alias("n_bytes"),
        F.lit(None).cast("int").alias("declared_width"),
        F.lit(None).cast("int").alias("declared_height"),
    )
    frames = frame_sample(media, every_n=2, decoder="y4m")
    fmedia = frames.select(
        "media_id",
        F.lit("image").alias("kind"),
        F.col("frame_bytes").alias("media_bytes"),
        F.length("frame_bytes").cast("long").alias("n_bytes"),
        F.lit(None).cast("int").alias("declared_width"),
        F.lit(None).cast("int").alias("declared_height"),
        "frame_index",
    )
    decoded = _decode(fmedia, decoder="netpbm", passthrough=("frame_index",))
    return decoded.select(
        "media_id",
        "frame_index",
        "n_bytes",
        F.concat_ws(
            ",", F.transform("features", lambda x: F.format_string("%.6f", x))
        ).alias("features_enc"),
    )


@register(
    "multimodal_frame_sample",
    """
    WITH sized AS (
        SELECT doc_id, octet_length(encode(text)) AS nb
        FROM documents WHERE text IS NOT NULL
    ),
    frames AS (
        SELECT doc_id, nb,
               unnest(list_filter(range(0, CAST(ceil(nb / 64.0) AS BIGINT)),
                                  x -> x % 2 = 0)) AS fi
        FROM sized
    )
    SELECT doc_id AS media_id, CAST(fi AS INTEGER) AS frame_index,
           CAST(least(64, nb - fi * 64) AS INTEGER) AS frame_len
    FROM frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: one media row → N frame rows via
    mapInPandas (stub splitter; real 1:N batch contract — the y4m lane
    covers true decoding). The splitter is deterministic (every 2nd
    FRAME_BYTES slice of the UTF-8 payload), so the fan-out and frame
    lengths have an exact analytic oracle — upgraded from rows-only in
    round 5."""
    media = attach_fake_media(read_table(spark, sf_dir, "documents"), kind="video")
    frames = frame_sample(media, every_n=2, allow_fake=True)
    return frames.select(
        "media_id", "frame_index", F.length("frame_bytes").alias("frame_len")
    )


def _wav_header(n_samples: int, rate: int = 8000) -> bytes:
    """Fixed RIFF/WAVE PCM-16 mono header for the analytic fixture."""
    data_size = n_samples * 2
    return (
        b"RIFF" + (36 + data_size).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + rate.to_bytes(4, "little") + (rate * 2).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + data_size.to_bytes(4, "little")
    )


@register(
    "multimodal_wav_decode",
    """
    SELECT doc_id AS media_id,
           CAST(172 AS BIGINT) AS n_bytes,
           array_to_string(
               list_transform(range(0, 16), i -> CASE
                   WHEN i = ((doc_id % 65536 + 32768) % 65536) // 4096
                   THEN '1.000000' ELSE '0.000000' END),
               ',') AS features_enc
    FROM documents
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under a hard oracle — no codec library.

    Spark-side: each doc becomes a valid RIFF/WAVE PCM-16 mono file
    built with pure column expressions — fixed header + 64
    little-endian samples of the constant value ``doc_id % 65536``
    (interpreted signed) — then decoded by the dependency-free WAV
    lane (mapInPandas → chunk walk → int16 samples → 16-bin amplitude
    histogram). The oracle states the histogram analytically (one-hot
    at ``((doc_id%65536 + 32768) % 65536) // 4096``) WITHOUT doing
    audio work — hash-verifying header/chunk parsing, PCM decode,
    signed binning, and the scalar encoding end to end. Completes the
    real-decode modality triple: netpbm (image), y4m (video), wav
    (audio)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    u = F.pmod(F.col("doc_id"), F.lit(65536)).cast("int")
    lo = F.lpad(F.lower(F.hex(F.pmod(u, F.lit(256)))), 2, "0")
    hi = F.lpad(F.lower(F.hex((u / 256).cast("int"))), 2, "0")
    sample_hex = F.concat(lo, hi)  # little-endian int16
    data = F.unhex(F.concat_ws("", F.array_repeat(sample_hex, 64)))
    media_bytes = F.concat(F.lit(_wav_header(64)), data)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        media_bytes.alias("media_bytes"),
        F.length(media_bytes).cast("long").alias("n_bytes"),
        F.lit(None).cast("int").alias("declared_width"),
        F.lit(None).cast("int").alias("declared_height"),
    )
    decoded = decode_media(media, decoder="wav")
    return decoded.select(
        "media_id",
        "n_bytes",
        F.concat_ws(
            ",", F.transform("features", lambda x: F.format_string("%.6f", x))
        ).alias("features_enc"),
    )


@register(
    "multimodal_wav_stats",
    """
    SELECT doc_id AS media_id,
           CAST(64 AS BIGINT) AS n_samples,
           CAST((doc_id % 128) * 2016 AS BIGINT) AS sum_samples,
           CAST((doc_id % 128) * (doc_id % 128) * 85344 AS BIGINT)
               AS sum_squares
    FROM documents
    """,
)
def multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audio sample statistics from a REAL WAV decode, under an
    analytic oracle with NON-CONSTANT samples: each doc becomes a
    PCM-16 mono file whose 64 samples are the ramp ``v·i`` (v =
    doc_id mod 128, i = 0..63 — every sample different, so a decoder
    that misreads offsets or endianness cannot luck into the answer).
    The wav_stats lane decodes and returns [n, Σs, Σs²] as exact
    integers; the oracle states them in closed form (Σi = 2016,
    Σi² = 85344 for i<64) without touching audio bytes. The loudness
    statistics an audio-curation pass feeds into its quality rules."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    v = F.pmod(F.col("doc_id"), F.lit(128)).cast("int")
    # per-sample little-endian int16 hex; v·i ≤ 127·63 stays positive
    hexes = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.concat(
            F.lpad(F.lower(F.hex(F.pmod(v * i, F.lit(256)))), 2, "0"),
            F.lpad(F.lower(F.hex(((v * i) / 256).cast("int"))), 2, "0"),
        ),
    )
    data = F.unhex(F.concat_ws("", hexes))
    media_bytes = F.concat(F.lit(_wav_header(64)), data)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        media_bytes.alias("media_bytes"),
        F.length(media_bytes).cast("long").alias("n_bytes"),
        F.lit(None).cast("int").alias("declared_width"),
        F.lit(None).cast("int").alias("declared_height"),
    )
    decoded = decode_media(media, decoder="wav_stats")
    return decoded.select(
        "media_id",
        F.element_at("features", 1).cast("long").alias("n_samples"),
        F.element_at("features", 2).cast("long").alias("sum_samples"),
        F.element_at("features", 3).cast("long").alias("sum_squares"),
    )


@register(
    "multimodal_image_dedup",
    """
    WITH k AS (SELECT doc_id, CAST(doc_id % 48 AS BIGINT) AS k
               FROM documents),
    kc AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM k GROUP BY 1),
    nn AS (
        SELECT a.k, CAST(SUM(b.c) AS BIGINT) - 1 AS n_near
        FROM (SELECT DISTINCT k FROM k) a
        JOIN kc b ON abs(a.k - b.k) <= 1
        GROUP BY 1
    )
    SELECT d.doc_id AS media_id,
           CAST((1::BIGINT << d.k) - 1 AS BIGINT) AS ahash,
           nn.n_near
    FROM k d JOIN nn ON nn.k = d.k
    """,
)
def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL perceptual-hash image dedup under a hard oracle (r7) — the
    multimodal analog of SimHash text dedup, end to end: Spark builds
    a valid binary PGM per doc (first ``doc_id % 48`` pixels of an 8x8
    raster white, the rest black), the dependency-free netpbm lane
    DECODES it for real, ``perceptual_ahash`` computes the 64-bit
    average hash (luminance → 8x8 downsample → mean threshold → bit
    pack), and ``hamming_pairs_blocked`` pairs hashes within Hamming
    ≤ 1 by lossless pigeonhole chunking. Output: per image, its hash
    and its near-duplicate degree.

    The oracle does no image work: a prefix raster's aHash is
    analytically ``2^k - 1`` (k white pixels above the mean, which
    sits strictly between 0 and 255 for 0 < k < 64) and the Hamming
    distance between prefix hashes is ``|ka - kb|``, so the expected
    degree is pure arithmetic over ``doc_id % 48`` — yet the Spark
    side's hash only matches if the PGM encoder, netpbm parser,
    downsample grid, mean threshold, bit order, AND the chunked
    Hamming join are all right.

    Scale: hashing is a map-only Arrow-batched stage emitting 8 bytes
    per image; pairing is the same keyed pigeonhole equi-join that
    carries SimHash at corpus scale; the degree roll-up is one
    id-keyed aggregation."""
    from ..operators.dedup_approx import hamming_pairs_blocked
    from ..operators.multimodal import perceptual_ahash

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    k = F.pmod(F.col("doc_id"), F.lit(48)).cast("int")
    with_k = docs.withColumn("k", k)
    raster = F.unhex(
        F.concat(
            F.expr("repeat('ff', k)"), F.expr("repeat('00', 64 - k)")
        )
    )
    media = with_k.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit(b"P5\n8 8\n255\n"), raster).alias("media_bytes"),
    )
    # the hash table feeds both sides of the pigeonhole self-join and
    # the final degree join — materialize the decode once
    ah = pin(perceptual_ahash(media))
    pairs = hamming_pairs_blocked(
        ah, max_hamming=1, bits=64, id_col="media_id", sig_col="ahash"
    )
    deg = (
        pairs.select(F.col("a_id").alias("media_id"))
        .unionByName(pairs.select(F.col("b_id").alias("media_id")))
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_near"))
    )
    return ah.join(deg, "media_id", "left").select(
        "media_id",
        "ahash",
        F.coalesce(F.col("n_near"), F.lit(0).cast("long")).alias("n_near"),
    )


# ---------------------------------------------------------------------------
# multimodal_riff_walk — RIFF container chunk-index walk, analytic oracle
# ---------------------------------------------------------------------------
RIFF_ORACLE = """
    SELECT doc_id AS media_id, 'WAVE' AS form, 'fmt ' AS chunk_id,
           CAST(12 AS BIGINT) AS chunk_offset,
           CAST(16 AS BIGINT) AS chunk_size
    FROM documents
    UNION ALL
    SELECT doc_id, 'WAVE', 'note', CAST(36 AS BIGINT),
           CAST(doc_id % 5 AS BIGINT)
    FROM documents
    UNION ALL
    SELECT doc_id, 'WAVE', 'data',
           CAST(44 + (doc_id % 5) + ((doc_id % 5) % 2) AS BIGINT),
           CAST((doc_id % 64) + 1 AS BIGINT)
    FROM documents
"""


@register("multimodal_riff_walk", RIFF_ORACLE)
def multimodal_riff_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container-metadata walk under a hard oracle — no codec
    library (the netpbm/y4m/wav discipline, applied to the container
    INDEX rather than the payload).

    Spark-side: each doc becomes a VALID RIFF/WAVE container built
    with pure column expressions — 'RIFF' + LE32 size + 'WAVE', a
    16-byte fmt chunk, a 'note' chunk of doc-varying size doc_id % 5
    (sizes 1 and 3 exercise the word-alignment pad byte), and a data
    chunk of doc_id % 64 + 1 bytes — then walked by the real
    ``riff_chunks`` operator (mapInPandas byte arithmetic: magic
    check, LE32 sizes, aligned stepping; payloads never decoded).
    Because the container layout is known analytically, DuckDB states
    the expected chunk table exactly — a hash-verified end-to-end
    check of the encoder, the chunk walker, the alignment rule, and
    the 1:N fan-out contract. Per-asset work is O(#chunks), so the
    lane is metadata-priced at any corpus size.
    """
    from ..operators.multimodal import riff_chunks

    def le32(v_sql: str) -> str:
        return (
            f"concat(lpad(hex(({v_sql}) % 256), 2, '0'),"
            f" lpad(hex((({v_sql}) div 256) % 256), 2, '0'),"
            f" lpad(hex((({v_sql}) div 65536) % 256), 2, '0'),"
            f" lpad(hex((({v_sql}) div 16777216) % 256), 2, '0'))"
        )

    s2 = "(doc_id % 5)"
    dl = "((doc_id % 64) + 1)"
    riff_size = f"(44 + {s2} + ({s2} % 2) + {dl} + ({dl} % 2))"
    media_hex = (
        "concat('52494646', "  # RIFF
        + le32(riff_size)
        + ", '57415645'"  # WAVE
        + ", '666D7420', "  # 'fmt '
        + le32("16")
        + ", '0100010044AC00008858010002001000'"  # 16-byte fmt payload
        + f", '6E6F7465', {le32(s2)}, repeat('AB', {s2})"  # 'note'
        + f", CASE WHEN {s2} % 2 = 1 THEN '00' ELSE '' END"
        + f", '64617461', {le32(dl)},"  # 'data'
        + f" repeat(lpad(hex(doc_id % 256), 2, '0'), {dl})"
        + f", CASE WHEN {dl} % 2 = 1 THEN '00' ELSE '' END)"
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.expr(media_hex)).alias("media_bytes"),
    )
    return riff_chunks(media)


# ---------------------------------------------------------------------------
# multimodal_png_walk — PNG chunk walk with real CRC-32 validation
# ---------------------------------------------------------------------------
PNG_ORACLE = """
    SELECT doc_id AS media_id, 'IHDR' AS chunk_type,
           CAST(8 AS BIGINT) AS chunk_offset,
           CAST(13 AS BIGINT) AS chunk_length,
           TRUE AS crc_ok
    FROM documents
    UNION ALL
    SELECT doc_id, 'IDAT', CAST(33 AS BIGINT),
           CAST((doc_id % 32) + 1 AS BIGINT),
           doc_id % 7 <> 0
    FROM documents
    UNION ALL
    SELECT doc_id, 'IEND', CAST(46 + (doc_id % 32) AS BIGINT),
           CAST(0 AS BIGINT), TRUE
    FROM documents
"""


@register("multimodal_png_walk", PNG_ORACLE)
def multimodal_png_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container-integrity walk under a hard oracle — the PNG
    complement of the RIFF lane: big-endian lengths and per-chunk
    CRC-32 validation (crc32 over type+payload, the PNG spec rule).

    Spark-side: each doc becomes a valid PNG built with column
    expressions — signature, an 8×8 grayscale IHDR, an IDAT of
    doc-varying length whose CRC is computed by Spark's own crc32()
    builtin, and IEND. Docs with doc_id % 7 == 0 get a deliberately
    corrupted IDAT CRC (+1 mod 2³²), so the oracle can assert
    crc_ok = false exactly there — proving the walker's validation
    path runs rather than rubber-stamping. The oracle states chunk
    types, offsets, lengths and CRC outcomes analytically WITHOUT
    computing any CRC itself. Per-asset work is the byte walk + one
    CRC pass — metadata-priced at any corpus size.
    """
    from ..operators.multimodal import png_chunks

    L = "((doc_id % 32) + 1)"
    ihdr_payload = "0000000800000008" + "08" + "00000000"  # 13 bytes
    idat_payload = f"repeat(lpad(hex(doc_id % 256), 2, '0'), {L})"
    # crc32 over type+payload; the % 7 == 0 corruption adds 1 mod 2^32
    idat_crc = (
        f"(crc32(unhex(concat('49444154', {idat_payload})))"
        f" + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) % 4294967296"
    )
    media_hex = (
        "concat('89504E470D0A1A0A',"  # signature
        f" '0000000D', '49484452', '{ihdr_payload}',"
        f" lpad(hex(crc32(unhex(concat('49484452', '{ihdr_payload}')))), 8, '0'),"
        f" lpad(hex({L}), 8, '0'), '49444154', {idat_payload},"
        f" lpad(hex({idat_crc}), 8, '0'),"
        " '00000000', '49454E44',"
        " lpad(hex(crc32(unhex('49454E44'))), 8, '0'))"
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.expr(media_hex)).alias("media_bytes"),
    )
    return png_chunks(media)
