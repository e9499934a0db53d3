"""Core relational operator queries (SURVEY.md §2.1-2.8) with oracles.

Each query exercises one inventory row on the driver's TPC-H-ish
tables. Column names are aliased identically in the Spark plan and the
DuckDB oracle (the driver's compare sorts columns by name).

Float discipline: any aggregated double goes through exact integer-cent
arithmetic (``CAST(ROUND(x*100) AS BIGINT)`` summed, divided back at
the end) so Spark and DuckDB produce bit-identical results regardless
of summation order. Pass-through doubles are untouched (bit-identical
by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    limpiar_nombres,
    nonempty,
    primer_nombre,
    usuario_nombre_concat,
)
from ..operators.dedup import dedup_first_per_key
from ..operators.surrogate import dense_ids_small, resolve_fk
from ..operators.unpivot import unpivot_slots
from ..registry import register
from ..sources.readers import read_table


def _cents(col: str | F.Column) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


# ---------------------------------------------------------------------------
# P1/P2 — projection with aliasing + NULL-propagating concat
# ---------------------------------------------------------------------------


@register(
    "proj_alias_concat",
    """
    SELECT c.c_custkey AS cliente_key,
           c.c_name AS nombre_raw,
           (n.n_name || ' ' || r.r_name) AS nacion_region,
           c.c_acctbal AS saldo
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def proj_alias_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (aliased projection) + P2 (SQL-Server-`+` NULL-propagating
    concat, Command.php:278) + J-style broadcast dims."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("c_custkey").alias("cliente_key"),
            F.col("c_name").alias("nombre_raw"),
            usuario_nombre_concat("n_name", "r_name").alias("nacion_region"),
            F.col("c_acctbal").alias("saldo"),
        )
    )


# ---------------------------------------------------------------------------
# P3 — non-empty filter
# ---------------------------------------------------------------------------


@register(
    "filter_nonempty",
    """
    SELECT doc_id, text FROM documents
    WHERE text IS NOT NULL AND trim(text) <> ''
    """,
)
def filter_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: NULL-or-blank skip (Command.php:175, minus the PHP '0' falsy
    edge — SURVEY.md §7.3)."""
    d = read_table(spark, sf_dir, "documents")
    return d.filter(nonempty("text")).select("doc_id", "text")


# ---------------------------------------------------------------------------
# J1-J9 — inner equi-joins with broadcast catalogs
# ---------------------------------------------------------------------------


@register(
    "join_inner_broadcast",
    """
    SELECT o.o_orderkey AS orden_id, c.c_custkey AS cliente_key,
           n.n_name AS nacion, r.r_name AS region,
           o.o_orderstatus AS estado
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-J9 shape: fact ⋈ identity ⋈ broadcast catalogs
    (Command.php:293-303)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("o_orderkey").alias("orden_id"),
            F.col("c_custkey").alias("cliente_key"),
            F.col("n_name").alias("nacion"),
            F.col("r_name").alias("region"),
            F.col("o_orderstatus").alias("estado"),
        )
    )


# ---------------------------------------------------------------------------
# J10-J11 — left-outer chain with fan-out hazard
# ---------------------------------------------------------------------------


@register(
    "join_left_fanout",
    """
    SELECT o.o_orderkey AS orden_id, o.o_orderstatus AS estado,
           l.l_linenumber AS linea, l.l_quantity AS cantidad
    FROM orders o
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    """,
)
def join_left_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10-style left join where the right side is NOT unique per key —
    fact rows fan out, exactly the hazard that makes the reference's
    dead left joins non-removable (Command.php:304-305, SURVEY §4.1)."""
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    return o.join(l, l.l_orderkey == o.o_orderkey, "left").select(
        F.col("o_orderkey").alias("orden_id"),
        F.col("o_orderstatus").alias("estado"),
        F.col("l_linenumber").alias("linea"),
        F.col("l_quantity").alias("cantidad"),
    )


# ---------------------------------------------------------------------------
# J8 — same table joined in two roles (Personas self-join analog)
# ---------------------------------------------------------------------------


@register(
    "join_self_roles",
    """
    SELECT l.l_orderkey AS orden_id, l.l_linenumber AS linea,
           n1.n_name AS nacion_cliente, n2.n_name AS nacion_proveedor
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    """,
)
def join_self_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: one dimension table joined twice under different roles
    (Personas as patient AND as user's person, Command.php:298,301) —
    requires alias disambiguation."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n1 = read_table(spark, sf_dir, "nation").alias("n1")
    n2 = read_table(spark, sf_dir, "nation").alias("n2")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2.n_nationkey"))
        .select(
            F.col("l_orderkey").alias("orden_id"),
            F.col("l_linenumber").alias("linea"),
            F.col("n1.n_name").alias("nacion_cliente"),
            F.col("n2.n_name").alias("nacion_proveedor"),
        )
    )


# ---------------------------------------------------------------------------
# P4/P5 — existence probes as anti/semi joins
# ---------------------------------------------------------------------------


@register(
    "join_anti_new_keys",
    """
    SELECT c.c_custkey AS cliente_key, c.c_name AS nombre_raw
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
    """,
)
def join_anti_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4's insert-only-if-absent probe, set-oriented: left-anti join on
    the natural key (Command.php:130-132 → SURVEY §2.2 P4). The probe
    side is filtered (high-value orders) so the anti-join is
    non-degenerate at every scale factor."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("cliente_key"),
        F.col("c_name").alias("nombre_raw"),
    )


@register(
    "join_semi_existing",
    """
    SELECT c.c_custkey AS cliente_key, c.c_name AS nombre_raw
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi_existing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complement of P4: keys already present (semi join)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").alias("cliente_key"),
        F.col("c_name").alias("nombre_raw"),
    )


# ---------------------------------------------------------------------------
# U1 — unpivot wide → long
# ---------------------------------------------------------------------------


@register(
    "unpivot_measures",
    """
    SELECT l_orderkey AS orden_id, l_linenumber AS linea, 0 AS slot,
           l_quantity AS valor FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 1, l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 2, l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 3, l_tax FROM lineitem
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: positional wide columns → (slot, value) rows via ``stack``
    (the reference's 11-slot prestacion loop, Command.php:172-201)."""
    l = read_table(spark, sf_dir, "lineitem")
    out = unpivot_slots(
        l,
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        slot_name="slot",
        value_name="valor",
        drop_null=False,
    )
    return out.select(
        F.col("l_orderkey").alias("orden_id"),
        F.col("l_linenumber").alias("linea"),
        F.col("slot"),
        F.col("valor"),
    )


# ---------------------------------------------------------------------------
# D1 — deterministic first-per-key dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_first_per_key",
    """
    SELECT o_custkey AS cliente_key, o_orderkey AS orden_id,
           o_orderdate AS fecha_alta, o_totalprice AS total
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
        ) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)
def dedup_first_per_key_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: survivor = first row per key in FechaAlta-DESC order
    (Command.php:121-151 + ORDER BY at :321), made deterministic with a
    key tie-break (SURVEY §7.3)."""
    o = read_table(spark, sf_dir, "orders")
    return dedup_first_per_key(
        o, ["o_custkey"], [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    ).select(
        F.col("o_custkey").alias("cliente_key"),
        F.col("o_orderkey").alias("orden_id"),
        F.col("o_orderdate").alias("fecha_alta"),
        F.col("o_totalprice").alias("total"),
    )


# ---------------------------------------------------------------------------
# D2 — distinct on a computed key
# ---------------------------------------------------------------------------


@register(
    "dedup_distinct_name",
    """
    SELECT DISTINCT upper(trim(regexp_replace(p_type, '\\s+', ' ', 'g'))) AS nombre
    FROM part
    """,
)
def dedup_distinct_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: one row per distinct cleaned name (Command.php:176-193)."""
    p = read_table(spark, sf_dir, "part")
    return p.select(limpiar_nombres("p_type").alias("nombre")).distinct()


# ---------------------------------------------------------------------------
# O1 — global sort
# ---------------------------------------------------------------------------


@register(
    "sort_global_desc",
    """
    SELECT o_orderkey AS orden_id, o_orderdate AS fecha_alta
    FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC
    """,
)
def sort_global_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: the extraction's ORDER BY FechaAlta DESC (Command.php:321).
    Range-partitioned sort in Spark (sampled boundaries, no single-node
    sort)."""
    o = read_table(spark, sf_dir, "orders")
    return o.orderBy(F.desc("o_orderdate"), F.desc("o_orderkey")).select(
        F.col("o_orderkey").alias("orden_id"),
        F.col("o_orderdate").alias("fecha_alta"),
    )


# ---------------------------------------------------------------------------
# K1/K2 — surrogate keys + FK resolution
# ---------------------------------------------------------------------------


@register(
    "surrogate_dense_ids",
    """
    SELECT row_number() OVER (ORDER BY c_custkey) AS id,
           c_custkey AS cliente_key, c_name AS nombre_raw
    FROM customer
    """,
)
def surrogate_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: gap-free surrogate ids for a dimension (SERIAL analog,
    Builder.php:62)."""
    c = read_table(spark, sf_dir, "customer")
    return dense_ids_small(c, [F.col("c_custkey")], "id").select(
        "id",
        F.col("c_custkey").alias("cliente_key"),
        F.col("c_name").alias("nombre_raw"),
    )


@register(
    "fk_resolution",
    """
    WITH dim AS (
        SELECT row_number() OVER (ORDER BY c_custkey) AS id, c_custkey
        FROM customer
    )
    SELECT o.o_orderkey AS orden_id, d.id AS cliente_id
    FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey
    """,
)
def fk_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: child rows pick up the dim's minted id via natural-key join
    (Command.php:156,196-199, set-oriented)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    dim = dense_ids_small(c, [F.col("c_custkey")], "id")
    out = resolve_fk(
        o.select("o_orderkey", "o_custkey"),
        dim,
        [("o_custkey", "c_custkey")],
        "cliente_id",
        dim_id_col="id",
    )
    return out.select(F.col("o_orderkey").alias("orden_id"), F.col("cliente_id"))


# ---------------------------------------------------------------------------
# F1/F3 — string cleaning + first token
# ---------------------------------------------------------------------------


@register(
    "string_clean",
    """
    SELECT p_partkey AS parte_key,
           upper(trim(regexp_replace(p_name, '\\s+', ' ', 'g'))) AS nombre_limpio
    FROM part
    """,
)
def string_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 limpiarNombres: trim + collapse whitespace + Unicode upper
    (Command.php:339-349); NULL passthrough preserved."""
    p = read_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("parte_key"),
        limpiar_nombres("p_name").alias("nombre_limpio"),
    )


@register(
    "first_token",
    """
    SELECT p_partkey AS parte_key,
           split_part(upper(trim(regexp_replace(p_name, '\\s+', ' ', 'g'))), ' ', 1)
             AS primer_token
    FROM part
    """,
)
def first_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: substring before first space of the cleaned name
    (Command.php:137)."""
    p = read_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("parte_key"),
        primer_nombre(limpiar_nombres("p_name")).alias("primer_token"),
    )


# ---------------------------------------------------------------------------
# Engine extensions beyond the reference: aggregation + top-k
# (reference has none — SURVEY §2.5/§2.6 — but an analytics engine needs
# them; exact integer-cent arithmetic keeps the oracle bit-identical)
# ---------------------------------------------------------------------------


@register(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_base_price,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped grouped aggregation (map-side partial agg +
    one shuffle on the group keys; AQE coalesces post-shuffle)."""
    l = read_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum(_cents("l_quantity")).cast("double") / 100).alias("sum_qty"),
        (F.sum(_cents("l_extendedprice")).cast("double") / 100).alias(
            "sum_base_price"
        ),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "topk_customers",
    """
    SELECT c.c_custkey AS cliente_key,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_gastado
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    ORDER BY SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) DESC, c.c_custkey
    LIMIT 10
    """,
)
def topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tie-break (exact integer sums → stable
    ranking across engines). TakeOrderedAndProject in Spark — no global
    sort materialization."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    spent = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(F.sum(_cents("o_totalprice")).alias("__cents"))
    )
    return (
        spent.orderBy(F.desc("__cents"), F.asc("c_custkey"))
        .limit(10)
        .select(
            F.col("c_custkey").alias("cliente_key"),
            (F.col("__cents").cast("double") / 100).alias("total_gastado"),
        )
    )


@register(
    "join_full_outer",
    """
    SELECT c.c_custkey AS cliente_key, o.orden_total AS total_cliente
    FROM (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0) c
    FULL OUTER JOIN (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
                 AS orden_total
        FROM orders WHERE o_custkey % 2 = 0 GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with NULLs surviving on BOTH sides (disjoint
    filters guarantee left-only, right-only, and matched rows exist)."""
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 3 == 0
    ).select("c_custkey")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 2 == 0)
        .groupBy("o_custkey")
        .agg((F.sum(_cents("o_totalprice")).cast("double") / 100).alias("orden_total"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.col("c_custkey").alias("cliente_key"),
        F.col("orden_total").alias("total_cliente"),
    )
