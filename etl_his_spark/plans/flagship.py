"""Flagship ETL pipeline — the reference's semantic core on the star schema.

Shape-for-shape analog of the reference pipeline
(src/Command/EtlHisTurnosCommand.php:75-205) on the driver's TPC-H-ish
tables:

| reference                         | here                                |
|-----------------------------------|-------------------------------------|
| turnos (fact observations)        | orders                              |
| Personas (patient identity)       | customer                            |
| small catalogs (servicio, centro) | nation, region (broadcast)          |
| prestaciones via 11 slots + bridge| part via lineitem + bridge          |
| limpiarNombres (F1)               | limpiar_nombres(c_name)             |
| dedup patients, latest-first (D1) | first order per customer by         |
|                                   | o_orderdate DESC (row_number)       |
| SERIAL surrogate ids (K1)         | dense ids over deduped dims         |
| FK resolution (K2)                | join back on natural key            |

Every stage is declarative DataFrame API: Catalyst broadcasts the
dims, prunes columns into the parquet scans, and AQE sizes the two real
shuffles (dedup window on c_custkey; bridge distinct). No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import limpiar_nombres, primer_nombre, usuario_nombre_concat
from ..operators.dedup import dedup_first_per_key
from ..operators.surrogate import dense_ids_small, resolve_fk
from ..registry import register
from ..sources.readers import read_table


def enriched_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction analog: orders ⋈ customer ⋈ nation ⋈ region.

    Mirrors the reference's one big join query (Command.php:254-322):
    fact inner-joined to its identity table and broadcast catalogs, all
    columns aliased (P1). nation/region are broadcast — at 100 TB the
    fact side streams through map-side hash joins with zero shuffle for
    the dims.
    """
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")

    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner")
        .select(
            F.col("o_orderkey").alias("orden_id"),
            F.col("c_custkey").alias("cliente_key"),
            limpiar_nombres("c_name").alias("nombre_limpio"),
            primer_nombre(limpiar_nombres("c_name")).alias("primer_token"),
            usuario_nombre_concat("n_name", "r_name").alias("nacion_region"),
            F.col("n_name").alias("nacion"),
            F.col("r_name").alias("region"),
            F.col("o_orderdate").cast("date").alias("fecha"),
            F.col("o_orderstatus").alias("estado"),
            F.col("o_orderpriority").alias("prioridad"),
            F.col("o_totalprice").alias("total"),
            F.col("o_orderdate").alias("fecha_alta"),
        )
    )


def dim_cliente(enriched: DataFrame) -> DataFrame:
    """D1 + K1: one row per customer, survivor = latest order.

    Exact reproduction of the reference's dedup-while-iterating-DESC
    (Command.php:121-151 with ORDER BY FechaAlta DESC at :321), with the
    orden_id tie-break the reference lacks (SURVEY.md §7.3).
    """
    surviving = dedup_first_per_key(
        enriched,
        ["cliente_key"],
        [F.col("fecha_alta").desc(), F.col("orden_id").desc()],
    ).select("cliente_key", "nombre_limpio", "primer_token", "nacion", "region")
    return dense_ids_small(surviving, [F.col("cliente_key")], "cliente_id")


def fact_ordenes(enriched: DataFrame, dim: DataFrame) -> DataFrame:
    """K2: fact rows pick up the dim surrogate by natural key."""
    return resolve_fk(
        enriched.select(
            "orden_id", "cliente_key", "fecha", "estado", "prioridad", "total"
        ),
        dim,
        ["cliente_key"],
        "cliente_id",
        dim_id_col="cliente_id",
    ).select(
        "orden_id", "cliente_id", "cliente_key", "fecha", "estado", "prioridad", "total"
    )


FLAGSHIP_ORACLE_SQL = """
WITH enriched AS (
    SELECT o.o_orderkey AS orden_id,
           c.c_custkey AS cliente_key,
           upper(trim(regexp_replace(c.c_name, '\\s+', ' ', 'g'))) AS nombre_limpio,
           CAST(o.o_orderdate AS DATE) AS fecha,
           o.o_orderstatus AS estado,
           o.o_orderpriority AS prioridad,
           o.o_totalprice AS total,
           o.o_orderdate AS fecha_alta
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
),
survivors AS (
    SELECT *, row_number() OVER (
        PARTITION BY cliente_key
        ORDER BY fecha_alta DESC, orden_id DESC
    ) AS rn
    FROM enriched
),
dim AS (
    SELECT cliente_key,
           row_number() OVER (ORDER BY cliente_key) AS cliente_id
    FROM survivors WHERE rn = 1
)
SELECT e.orden_id, d.cliente_id, e.cliente_key, e.fecha, e.estado,
       e.prioridad, e.total
FROM enriched e LEFT JOIN dim d ON e.cliente_key = d.cliente_key
"""


@register("flagship_fact", FLAGSHIP_ORACLE_SQL)
def flagship_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end flagship: enriched → dim (dedup+ids) → fact (FK)."""
    enriched = enriched_orders(spark, sf_dir)
    dim = dim_cliente(enriched)
    return fact_ordenes(enriched, dim)
