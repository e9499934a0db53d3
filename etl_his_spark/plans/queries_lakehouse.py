"""Row-level maintenance gate queries: MERGE upsert/delete and SCD2.

The update/delete batches are derived deterministically from the
orders table itself, so both engines construct identical inputs and
the merged outputs hash-compare exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents
from ..operators.dedup_approx import bucket_pairs
from ..operators.merge import merge_delete, merge_upsert, scd2_from_events
from ..operators.pin import pin
from ..registry import register
from ..sources.readers import read_table

# Update batch: every 7th order gets a 10% price bump (exact cents);
# plus synthetic NEW orders (key shifted past the key space) from every
# 1000th order. Whole-row schema: (key, status, totalprice).
_UPDATES_CTE = """
    updates AS (
        SELECT o_orderkey,
               'X' AS o_orderstatus,
               CAST(CAST(ROUND(o_totalprice * 110) AS BIGINT) AS DOUBLE) / 100
                 AS o_totalprice
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 100000000, 'N', o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 1
    )
"""


@register(
    "merge_upsert_orders",
    f"""
    WITH {_UPDATES_CTE}
    SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
    FROM orders o
    WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM updates
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (update-or-insert by key) as one anti join
    + union — the incremental-load verb the reference's full-reload
    design lacks. The plan is a single hash anti-join keyed on the
    merge key; with a small daily delta the anti join broadcasts."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    bump = (
        F.round(F.col("o_totalprice") * 110).cast("long").cast("double") / 100
    )
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            bump.alias("o_totalprice"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 1000 == 1).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_totalprice"),
            )
        )
    )
    return merge_upsert(o, updates, ["o_orderkey"])


@register(
    "merge_delete_orders",
    """
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE NOT (o_orderkey % 13 = 0 AND o_orderstatus = 'F')
    """,
)
def merge_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-wise DELETE (GDPR-style row retraction) as an anti join:
    drop every 13th finished order."""
    o = read_table(spark, sf_dir, "orders")
    deletes = o.filter(
        (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderstatus") == "F")
    )
    return merge_delete(
        o.select("o_orderkey", "o_custkey"), deletes, ["o_orderkey"]
    ).select("o_orderkey", "o_custkey")


@register(
    "scd2_customer_priority",
    """
    SELECT o_custkey,
           o_orderpriority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS valid_to
    FROM orders
    """,
)
def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD derivation: each order is a version of the
    customer's priority attribute; validity runs until the next
    version (NULL = current). One lead() window per customer —
    parallel across the dimension, the standard warehouse history
    build."""
    o = read_table(spark, sf_dir, "orders")
    return scd2_from_events(
        o, "o_custkey", ["o_orderpriority"], "o_orderdate", "o_orderkey"
    )


# ---------------------------------------------------------------------------
# Z-order layout
# ---------------------------------------------------------------------------

from ..operators.zorder import (  # noqa: E402
    interleave_bits_sql,
    value_bin_sql,
    zorder_keys,
)

_ZX = value_bin_sql("o_totalprice", "xmin", "xmax")
_ZY = value_bin_sql("o_days", "ymin", "ymax")


@register(
    "lakehouse_zorder",
    f"""
    WITH d AS (
        SELECT o_orderkey, o_totalprice,
               datediff('day', DATE '1970-01-01', o_orderdate) AS o_days
        FROM orders
    ),
    ext AS (
        SELECT min(o_totalprice) AS xmin, max(o_totalprice) AS xmax,
               min(o_days) AS ymin, max(o_days) AS ymax
        FROM d
    ),
    b AS (
        SELECT o_orderkey, {_ZX} AS x_bin, {_ZY} AS y_bin FROM d, ext
    )
    SELECT o_orderkey, x_bin, y_bin,
           {interleave_bits_sql("x_bin", "y_bin")} AS zval
    FROM b
    """,
)
def lakehouse_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (price, order-date):
    value-range bins interleaved bitwise. The oracle runs the LITERAL
    same bin/interleave SQL (shared builder), so parity is by
    construction. See operators/zorder.py for the layout rationale;
    ``zorder_file_ids`` + tests/test_zorder.py show the 2-D pruning
    win over row-order layout."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.expr("datediff(o_orderdate, DATE '1970-01-01')").alias("o_days"),
    )
    return zorder_keys(o, "o_totalprice", "o_days").select(
        "o_orderkey", "x_bin", "y_bin", "zval"
    )


@register(
    "table_diff_changelog",
    """
    WITH old AS (
        SELECT o_orderkey AS k, o_orderstatus AS estado,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    new AS (
        -- deterministic next snapshot: %97 keys deleted, %13 keys
        -- repriced (+150 cents), %31 keys cloned as fresh inserts
        SELECT k, estado,
               CASE WHEN k % 13 = 0 THEN cents + 150 ELSE cents END AS cents
        FROM old WHERE k % 97 <> 0
        UNION ALL
        SELECT k + 10000000, estado, cents FROM old WHERE k % 31 = 0
    )
    SELECT CASE WHEN o.k IS NULL THEN 'I'
                WHEN n.k IS NULL THEN 'D'
                ELSE 'U' END AS op,
           COALESCE(n.k, o.k) AS o_orderkey,
           CASE WHEN n.k IS NULL THEN o.estado ELSE n.estado END AS estado,
           CASE WHEN n.k IS NULL THEN o.cents ELSE n.cents END AS cents
    FROM new n FULL OUTER JOIN old o ON n.k = o.k
    WHERE o.k IS NULL OR n.k IS NULL
       OR n.estado IS DISTINCT FROM o.estado
       OR n.cents IS DISTINCT FROM o.cents
    """,
)
def table_diff_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two table snapshots: one co-partitioned full-outer
    join emitting only the |changes|-sized I/U/D feed (inserts/updates
    carry the new payload, deletes the old) — what an incremental
    downstream refresh consumes instead of re-reading the table. The
    "next snapshot" is derived deterministically from orders (keys
    %97 deleted, %13 repriced, %31 cloned as inserts) so the oracle
    reproduces it exactly; the digest-based change probe in
    ``operators/merge.changelog`` must agree with the oracle's direct
    column comparison."""
    from ..operators.merge import changelog

    old = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_orderstatus").alias("estado"),
        cents("o_totalprice").alias("cents"),
    )
    k = F.col("o_orderkey")
    new = old.filter(k % 97 != 0).withColumn(
        "cents",
        F.when(k % 13 == 0, F.col("cents") + 150).otherwise(F.col("cents")),
    ).unionByName(
        old.filter(k % 31 == 0).withColumn("o_orderkey", k + 10000000)
    )
    return changelog(old, new, ["o_orderkey"], ["estado", "cents"])


@register(
    "schema_evolution_read",
    """
    WITH b1 AS (
        SELECT o_orderpriority AS prioridad,
               CAST(NULL AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    b2 AS (
        SELECT o_orderpriority AS prioridad,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 2 = 1
    ),
    unioned AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT prioridad,
           count(*) AS n_rows,
           CAST(count(cents) AS BIGINT) AS n_with_cents,
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS total_cents
    FROM unioned
    GROUP BY 1
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file batches: batch 1 is written
    WITHOUT the cents column, batch 2 (a later pipeline version) adds
    it; a single ``mergeSchema`` read unifies them — old rows surface
    NULL for the new column instead of poisoning the table. This is
    the on-disk reality of any long-lived 100 TB dataset (columns
    arrive mid-life; a rewrite of history is not an option). The gate
    hash-checks the merged read end to end: row counts per group, how
    many rows carry the new column, and its sum.

    mergeSchema is a FOOTER-ONLY operation (schema union across file
    footers at planning time, per-file projection at scan time) — no
    data is rewritten, reading stays embarrassingly parallel.

    WRITE-EFFECTFUL: writes both batches under the managed per-process
    temp root, overwriting per invocation.
    """
    import os

    from .queries_misc import _publish_gate_root

    root = os.path.join(_publish_gate_root(), "evolved")
    orders = read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    v1 = orders.filter(k % 2 == 0).select(
        F.col("o_orderpriority").alias("prioridad")
    )
    v2 = orders.filter(k % 2 == 1).select(
        F.col("o_orderpriority").alias("prioridad"),
        cents("o_totalprice").alias("cents"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "batch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "batch=1"), os.path.join(root, "batch=2")
    )
    return merged.groupBy("prioridad").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("cents").alias("n_with_cents"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("total_cents"),
    )


@register(
    "incremental_agg_refresh",
    """
    WITH old AS (
        SELECT o_orderkey AS k, o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    new AS (
        SELECT k, grp,
               CASE WHEN k % 13 = 0 THEN cents + 150 ELSE cents END AS cents
        FROM old WHERE k % 97 <> 0
        UNION ALL
        SELECT k + 10000000, grp, cents FROM old WHERE k % 31 = 0
    )
    SELECT grp, count(*) AS n, CAST(SUM(cents) AS BIGINT) AS total
    FROM new GROUP BY 1
    """,
)
def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance in O(delta): the old
    per-priority (count, cents) aggregate plus the snapshot changelog
    (same deterministic next-snapshot rule as ``table_diff_changelog``)
    refreshed through ± delta rows — while the ORACLE re-aggregates
    the new snapshot from scratch. Hash-equality of the two is the
    whole point: the incremental path must be indistinguishable from
    recomputation, at |changes| cost instead of |table| cost. Updates
    contribute −old/+new (group moves included), emptied groups
    disappear, new groups appear."""
    from ..operators.merge import changelog, incremental_group_refresh

    old = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_orderpriority").alias("grp"),
        cents("o_totalprice").alias("cents"),
    )
    k = F.col("o_orderkey")
    new = old.filter(k % 97 != 0).withColumn(
        "cents",
        F.when(k % 13 == 0, F.col("cents") + 150).otherwise(F.col("cents")),
    ).unionByName(
        old.filter(k % 31 == 0).withColumn("o_orderkey", k + 10000000)
    )
    old_agg = old.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    )
    changes = changelog(
        old, new, ["o_orderkey"], ["grp", "cents"], include_old=True
    )
    return incremental_group_refresh(old_agg, changes, "grp", "cents")


@register(
    "fact_scd2_asof_join",
    """
    WITH hist AS (
        SELECT o_custkey AS custkey,
               o_orderpriority AS prioridad,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS valid_to
        FROM orders
    )
    SELECT o.o_orderkey, o.o_custkey,
           (o.o_orderdate - INTERVAL 30 DAY)::DATE AS probe_date,
           h.prioridad AS prior_priority
    FROM orders o
    JOIN hist h
      ON h.custkey = o.o_custkey
     AND h.valid_from <= (o.o_orderdate - INTERVAL 30 DAY)::DATE
     AND (h.valid_to IS NULL
          OR (o.o_orderdate - INTERVAL 30 DAY)::DATE < h.valid_to)
    """,
)
def fact_scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (AS OF) join of facts against a type-2 dimension
    history: each order probes the customer's priority AS IT WAS 30
    days earlier, matching the SCD2 validity interval
    ``[valid_from, valid_to)`` (NULL = current). The join is an EQUI
    join on the entity key with an interval residual — fan-out bounded
    by versions-per-entity, so it scales like any keyed join, no
    range-partitioning machinery needed. Probes before an entity's
    first version drop out (inner semantics), matching the oracle.
    The standard point-in-time-correctness device for training-data
    assembly (feature values as of label time, no leakage)."""
    from ..operators.merge import scd2_from_events

    o = read_table(spark, sf_dir, "orders")
    hist = scd2_from_events(
        o, "o_custkey", ["o_orderpriority"], "o_orderdate", "o_orderkey"
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("prior_priority"),
        "valid_from",
        "valid_to",
    )
    probe = F.date_sub(F.col("o_orderdate"), 30)
    return (
        o.select("o_orderkey", "o_custkey", probe.alias("probe_date"))
        .join(
            hist,
            (F.col("o_custkey") == F.col("custkey"))
            & (F.col("valid_from") <= F.col("probe_date"))
            & (
                F.col("valid_to").isNull()
                | (F.col("probe_date") < F.col("valid_to"))
            ),
        )
        .select("o_orderkey", "o_custkey", "probe_date", "prior_priority")
    )


# ---------------------------------------------------------------------------
# lakehouse_compaction_plan — manifest bin-packing into target groups
# ---------------------------------------------------------------------------
COMPACT_TARGET = 8_000_000  # proxy bytes per compaction group


COMPACT_ORACLE = f"""
    WITH manifest AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS part,
               o_orderkey % 16 AS file_id,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT))
                    + 100 * count(*) AS BIGINT) AS file_bytes
        FROM orders GROUP BY 1, 2
    ),
    planned AS (
        SELECT part, file_id, file_bytes,
               (sum(file_bytes) OVER (
                    PARTITION BY part
                    ORDER BY file_bytes DESC, file_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - file_bytes) // {COMPACT_TARGET} AS grp
        FROM manifest
    )
    SELECT part, CAST(grp AS BIGINT) AS grp,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(file_bytes) AS BIGINT) AS group_bytes
    FROM planned GROUP BY 1, 2
"""


@register("lakehouse_compaction_plan", COMPACT_ORACLE)
def lakehouse_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning: simulate a file manifest (one
    "file" per (month partition, write bucket), sized by a byte
    proxy), then bin files into compaction groups by exclusive
    running-size div target — file i starts a new group when the
    bytes before it cross a group boundary (first-fit by cumulative
    sum, largest files first for stable packing).

    The plan's window runs over the MANIFEST — files-per-partition is
    bounded by the writer's bucket count at any data size — so
    planning a 100 TB compaction reads/sorts kilobytes of metadata,
    never data. All integer arithmetic (exclusive cumsum, `div`).
    """
    orders = read_table(spark, sf_dir, "orders")
    manifest = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("part"),
        (F.col("o_orderkey") % 16).alias("file_id"),
    ).agg(
        (
            F.sum(F.round("o_totalprice").cast("long"))
            + 100 * F.count(F.lit(1))
        )
        .cast("long")
        .alias("file_bytes")
    )
    wcum = (
        Window.partitionBy("part")
        .orderBy(F.desc("file_bytes"), F.asc("file_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = manifest.withColumn(
        "cum", F.sum("file_bytes").over(wcum)
    ).withColumn(
        "grp",
        F.expr(f"(cum - file_bytes) div {COMPACT_TARGET}").cast("long"),
    )
    return planned.groupBy("part", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("file_bytes").cast("long").alias("group_bytes"),
    )


# ---------------------------------------------------------------------------
# lakehouse_vacuum_plan — snapshot-retention vacuum over a versioned manifest
# ---------------------------------------------------------------------------
VACUUM_CURRENT_SNAP = 8


VACUUM_RETENTION = 3  # snapshots newer than CUR - R are in grace


VACUUM_ORACLE = f"""
    WITH manifest AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS part,
               o_orderkey % 16 AS file_id,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT))
                    + 100 * count(*) AS BIGINT) AS base_bytes
        FROM orders GROUP BY 1, 2
    ),
    versions AS (
        SELECT part, file_id, v,
               file_id % 3 AS max_v,
               (file_id % 6) + v AS created_snap,
               base_bytes // (v + 1) AS bytes
        FROM manifest, unnest(range(0, (file_id % 3) + 1)) AS t(v)
    ),
    classed AS (
        SELECT part, bytes,
               CASE WHEN v = max_v THEN 'live'
                    WHEN (file_id % 6) + v + 1
                         > {VACUUM_CURRENT_SNAP - VACUUM_RETENTION}
                         THEN 'retain_grace'
                    ELSE 'delete' END AS action
        FROM versions
    )
    SELECT part, action,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes
    FROM classed GROUP BY 1, 2
"""


@register("lakehouse_vacuum_plan", VACUUM_ORACLE)
def lakehouse_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vacuum planning over a VERSIONED file manifest: each simulated
    file (one per month-partition × write bucket, the compaction
    gate's manifest) carries 1-3 versions created at successive
    snapshots; only the latest version is live, and a superseded
    version may be deleted once its SUCCESSOR's snapshot has aged past
    retention (current {VACUUM_CURRENT_SNAP}, retention
    {VACUUM_RETENTION}) — before that it stays in grace so readers
    pinned to an old snapshot keep working. Output: per (partition,
    action) version counts and reclaimable bytes — the report a
    VACUUM dry-run prints.

    Like compaction planning, everything runs on the MANIFEST: the
    window-free version classification is a pure projection and the
    rollup is partition-bounded — planning a 100 TB vacuum reads
    kilobytes of metadata, never data.
    """
    orders = read_table(spark, sf_dir, "orders")
    manifest = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("part"),
        (F.col("o_orderkey") % 16).alias("file_id"),
    ).agg(
        (
            F.sum(F.round("o_totalprice").cast("long"))
            + 100 * F.count(F.lit(1))
        )
        .cast("long")
        .alias("base_bytes")
    )
    versions = manifest.select(
        "part",
        "file_id",
        "base_bytes",
        F.explode(
            F.sequence(F.lit(0), (F.col("file_id") % 3).cast("int"))
        ).alias("v"),
    ).select(
        "part",
        F.expr("base_bytes div (v + 1)").alias("bytes"),
        F.when(F.col("v") == F.col("file_id") % 3, F.lit("live"))
        .when(
            (F.col("file_id") % 6) + F.col("v") + 1
            > VACUUM_CURRENT_SNAP - VACUUM_RETENTION,
            F.lit("retain_grace"),
        )
        .otherwise(F.lit("delete"))
        .alias("action"),
    )
    return versions.groupBy("part", "action").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("total_bytes"),
    )


# ---------------------------------------------------------------------------
# lakehouse_skipping_stats — manifest range-overlap clustering quality
# ---------------------------------------------------------------------------
SKIP_ORACLE = """
    WITH manifest AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(user_id % 16 AS BIGINT) AS bucket,
               CAST(min(event_id) AS BIGINT) AS mn,
               CAST(max(event_id) AS BIGINT) AS mx
        FROM events GROUP BY 1, 2
    ),
    ov AS (
        SELECT a.day,
               CAST(count(*) AS BIGINT) AS n_overlapping
        FROM manifest a JOIN manifest b
          ON a.day = b.day AND a.bucket < b.bucket
         AND a.mn <= b.mx AND b.mn <= a.mx
        GROUP BY 1
    ),
    files AS (
        SELECT day, CAST(count(*) AS BIGINT) AS n_files FROM manifest
        GROUP BY 1
    )
    SELECT f.day, f.n_files,
           CAST(f.n_files * (f.n_files - 1) // 2 AS BIGINT) AS n_pairs,
           CAST(coalesce(o.n_overlapping, 0) AS BIGINT) AS n_overlapping,
           CAST((1000000 * (f.n_files * (f.n_files - 1) // 2
                            - coalesce(o.n_overlapping, 0)))
                // greatest(f.n_files * (f.n_files - 1) // 2, 1)
                AS BIGINT) AS skipping_quality_micro
    FROM files f LEFT JOIN ov o ON o.day = f.day
"""


@register("lakehouse_skipping_stats", SKIP_ORACLE)
def lakehouse_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-clustering quality from the file manifest (the
    streaming_manifest_agree lane's stats, read back for layout
    decisions): per day-partition, how many of the
    files×(files−1)/2 pairs have OVERLAPPING [min, max] event_id
    ranges — an overlapping pair means a range query on event_id
    cannot skip either file. skipping_quality = fraction of
    non-overlapping pairs in micro (user-bucketed layout scores ~0 on
    interleaved ids — exactly the signal that says "z-order this
    table", the lakehouse_zorder gate's before picture).

    The overlap self-join runs WITHIN day over the manifest — ≤ 16
    files per partition by the writer's bucket count at any data
    size — so the audit is manifest-priced.
    """
    ev = read_table(spark, sf_dir, "events")
    manifest = ev.groupBy(
        F.to_date("ts").alias("day"),
        # dividend-sign %, NOT pmod: DuckDB's % takes the dividend's
        # sign, and the oracle buckets with user_id % 16 — the two
        # diverge for negative ids (ADVICE r12 low). Same convention
        # on both sides keeps the gate exact for ANY id domain.
        (F.col("user_id") % F.lit(16)).cast("long").alias("bucket"),
    ).agg(
        F.min("event_id").cast("long").alias("mn"),
        F.max("event_id").cast("long").alias("mx"),
    )
    manifest = pin(manifest)
    ov = (
        bucket_pairs(
            manifest, ("day",), "bucket", payload=("mn", "mx"), ids=("b_a", "b_b")
        )
        .filter(
            (F.col("mn_a") <= F.col("mx_b")) & (F.col("mn_b") <= F.col("mx_a"))
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlapping"))
    )
    files = manifest.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_files")
    )
    return (
        files.join(ov, "day", "left")
        .select(
            "day",
            "n_files",
            F.expr("CAST(n_files * (n_files - 1) div 2 AS BIGINT)").alias(
                "n_pairs"
            ),
            F.coalesce("n_overlapping", F.lit(0))
            .cast("long")
            .alias("n_overlapping"),
        )
        .withColumn(
            "skipping_quality_micro",
            F.expr(
                "CAST((1000000 * (n_pairs - n_overlapping))"
                " div greatest(n_pairs, 1) AS BIGINT)"
            ),
        )
    )
