"""HIS transform + load — the full reference pipeline, set-oriented.

The reference's per-row loop (src/Command/EtlHisTurnosCommand.php:
120-205) becomes four DataFrame derivations and one atomic publish
(SURVEY.md §3.3):

- ``paciente``  — D1 dedup by trimmed document (survivor = latest
  FechaAlta, Command.php:121-151 + ORDER BY :321), F1-cleaned names,
  F3 first token, F4 gender lookup, K1 dense ids.
- ``turno``     — ONE ROW PER EXTRACTION ROW with a fresh sequential id
  (the SERIAL insert at Command.php:154-165). If the dead left joins
  J10-J13 fan out, duplicate extraction rows each get their own turno
  id — exactly like the reference's loop — so multiplicity is
  preserved, not deduped away.
- ``prestacion`` — D2 distinct trimmed names from the U1 unpivot of the
  extraction rows, K1 ids.
- ``prestacion_x_turno`` — bridge rows, one per (extraction row ×
  non-empty slot) (P3 filter, Command.php:172-201), FKs resolved by
  natural-key joins. Derived from the WIDE rows so fan-out multiplies
  bridge rows just as the reference's inner loop does.

Output shapes match the target DDL (PostgresSchemaBuilder.php:60-113);
load is stage-then-publish (S5 atomicity, SURVEY.md §2.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.gender import inferir_sexo
from ..functions.text import limpiar_nombres, primer_nombre
from ..operators.dedup import dedup_first_per_key
from ..operators.pin import pin
from ..operators.surrogate import dense_ids, dense_ids_small, resolve_fk
from ..schemas import PRESTACION_SLOT_COLUMNS
from ..sources.writers import publish_atomic
from .his_extract import extract_unpivoted, extract_wide

_N_SLOTS = len(PRESTACION_SLOT_COLUMNS)


# The row's non-empty prestacion names in slot order: P3, the
# ``functions.text.nonempty`` predicate, as SQL text (one JVM parse;
# the Column-built form costs ~220 py4j commands).
_NONEMPTY_SLOTS = (
    "filter(array("
    + ", ".join(f"prestacion{i}" for i in range(_N_SLOTS))
    + "), s -> s IS NOT NULL AND trim(s) <> '')"
)


def _with_row_ids(wide: DataFrame) -> DataFrame:
    """Mint every SERIAL id of the fact rows in one ordered pass.

    ``turno_uid`` is one sequential id per extraction row, ordered by
    ``turno_id``. Fan-out duplicates are bit-identical rows (the dead
    joins project nothing), so they break ties by ``__mid`` and any
    order among them is equivalent. ``slot_base`` is the number of
    non-empty slots in all earlier rows: the bridge row of the row's
    k-th non-empty slot (k from 0) gets id ``slot_base + k + 1``, which
    is the dense rank over (turno_uid, slot).

    Decide with small rows, move big rows once: the payload is pinned
    once, so ``monotonically_increasing_id`` (partition id << 33 |
    position) is a stable per-row address ``__mid`` across the two
    reads below. The two-phase ``dense_ids`` ranks only the proxy
    ``(turno_id, __mid, __n)``, and the ids come back by one
    SHUFFLE_HASH join on ``__mid``, which moves the payload once and
    sorts neither side. The join is a left join, and a row whose id
    did not come back raises instead of being dropped.
    """
    wide = pin(wide)
    proxy = wide.selectExpr(
        "turno_id",
        "monotonically_increasing_id() AS __mid",
        f"size({_NONEMPTY_SLOTS}) AS __n",
    )
    idmap = dense_ids(
        proxy,
        [F.col("turno_id"), F.col("__mid")],
        "turno_uid",
        sums={"__slot_end": F.col("__n")},
    ).selectExpr("__mid", "turno_uid", "__slot_end - __n AS slot_base")
    return (
        wide.withColumn("__mid", F.monotonically_increasing_id())
        .join(idmap.hint("SHUFFLE_HASH"), "__mid", "left")
        .withColumn(
            "turno_uid",
            F.expr(
                "coalesce(turno_uid, raise_error("
                "'turno id map lost an extraction row (__mid mismatch)'))"
            ),
        )
        .drop("__mid")
    )


def build_paciente(wide: DataFrame) -> DataFrame:
    """Patient dimension: trim-key dedup → clean → infer sex → ids."""
    keyed = wide.withColumn(
        "documento_identidad", F.trim(F.col("paciente_documento"))  # F2
    )
    survivors = dedup_first_per_key(
        keyed,
        ["documento_identidad"],
        [F.col("turnos_fecha_alta").desc(), F.col("turno_id").desc()],
    )
    cleaned = survivors.select(
        "documento_identidad",
        limpiar_nombres("paciente_nombres").alias("nombre"),      # F1
        limpiar_nombres("paciente_apellido").alias("apellido"),   # F1
    ).withColumn("primer_nombre", primer_nombre(F.col("nombre")))  # F3
    sexed = inferir_sexo(cleaned, "primer_nombre")                 # F4
    return dense_ids_small(
        sexed, [F.col("documento_identidad")], "id"
    ).select("id", "nombre", "apellido", "documento_identidad", "sexo_inferido")


def build_turno(wide_ids: DataFrame, paciente: DataFrame) -> DataFrame:
    """Fact table with resolved paciente FK (K2); id = per-row serial."""
    with_key = wide_ids.withColumn(
        "documento_identidad", F.trim(F.col("paciente_documento"))
    )
    resolved = resolve_fk(
        with_key,
        paciente,
        ["documento_identidad"],
        "paciente_id",
        dim_id_col="id",
        broadcast_dim=False,  # patient dim can be large; let AQE decide
    )
    return resolved.select(
        F.col("turno_uid").alias("id"),
        "paciente_id",
        F.col("turno_fecha").alias("fecha"),
        F.col("turno_hora").alias("hora"),
        F.col("turno_duracion").alias("duracion_minutos"),
        F.col("turno_sobreturno").alias("sobreturno"),
        F.col("turno_estado").alias("estado"),
        F.col("turnos_fecha_alta").alias("fecha_alta"),
        # Command.php:164 loads usuario_alta_usuario (the login name),
        # NOT the Nombres+Apellido display concat — which exists only as
        # a projection-parity column in the extraction.
        F.col("usuario_alta_usuario").alias("usuario_alta"),
    )


def unpivot_wide_slots(wide_ids: DataFrame) -> DataFrame:
    """U1 + P3 over the extraction rows: one ``(turno_uid, bridge_id,
    prestacion_nombre)`` row per non-empty slot."""
    return wide_ids.selectExpr(
        "turno_uid",
        "slot_base",
        f"posexplode({_NONEMPTY_SLOTS}) AS (pos, prestacion_nombre)",
    ).selectExpr(
        "turno_uid", "slot_base + pos + 1 AS bridge_id", "prestacion_nombre"
    )


def build_prestacion(slot_rows: DataFrame) -> DataFrame:
    """Procedure dimension: D2 distinct trimmed names + K1 ids."""
    names = slot_rows.select(
        F.trim(F.col("prestacion_nombre")).alias("nombre")
    ).distinct()
    return dense_ids_small(names, [F.col("nombre")], "id").select("id", "nombre")


def build_bridge(slot_rows: DataFrame, prestacion: DataFrame) -> DataFrame:
    """Bridge: one row per (extraction row, non-empty slot).

    Slot position is not persisted — the reference's bridge has no
    position column (PostgresSchemaBuilder.php:103-109) — but it orders
    the bridge's serial id, minted with the turno ids
    (``_with_row_ids``).
    """
    rows = slot_rows.select(
        F.col("bridge_id").alias("id"),
        F.col("turno_uid").alias("turno_id"),
        F.trim(F.col("prestacion_nombre")).alias("nombre"),
    )
    resolved = resolve_fk(
        rows, prestacion, ["nombre"], "prestacion_id", dim_id_col="id"
    )
    return resolved.select("id", "turno_id", "prestacion_id")


def run_pipeline(
    tables: dict[str, DataFrame], output_root: str | None = None
) -> dict[str, DataFrame]:
    """Full E/T/(L): returns the 4 outputs; optionally publishes them
    atomically (stage-then-publish) under ``output_root``."""
    wide_ids = _with_row_ids(extract_wide(tables))
    # Pin the id-assigned rows: all four outputs read them, and each
    # would otherwise recompute the id join. Eager, so the pin is full
    # before the concurrent table writes read it; a lazy pin is filled
    # by whichever writer reaches it first, and writers on different
    # executors would each compute the id join.
    wide_ids = pin(wide_ids, eager=True)
    slot_rows = unpivot_wide_slots(wide_ids)
    paciente = build_paciente(wide_ids)
    turno = build_turno(wide_ids, paciente)
    prestacion = build_prestacion(slot_rows)
    bridge = build_bridge(slot_rows, prestacion)
    outputs = {
        "paciente": paciente,
        "turno": turno,
        "prestacion": prestacion,
        "prestacion_x_turno": bridge,
    }
    if output_root is not None:
        # The turno(fecha) index analog (PostgresSchemaBuilder.php:90):
        # a global sort on fecha. Its range exchange gives files whose
        # fecha ranges are disjoint and each sorted, so a date
        # predicate skips files and row groups on the parquet footer
        # min/max stats; AQE sets the file count from data size. No
        # directory per month or date: a fecha predicate never prunes
        # a derived partition column, so such dirs only add small
        # files. fecha_mes is a stored column of the published turno
        # only (the per-month reports group by it); the returned
        # frames keep the DDL schema.
        publish = dict(outputs)
        publish["turno"] = (
            outputs["turno"]
            .withColumn("fecha_mes", F.date_format("fecha", "yyyy-MM"))
            .orderBy("fecha")
        )
        publish_atomic(publish, output_root)
    return outputs


def incremental_paciente(
    existing: DataFrame, wide_new: DataFrame
) -> DataFrame:
    """Incremental dimension load — the P4 existence probe, set-oriented.

    The reference probes per row (`SELECT id FROM paciente WHERE
    documento_identidad = ?`, Command.php:130-132) and inserts only
    misses. At scale that is one left-anti join: new batch's deduped
    patients minus already-present documents, with fresh surrogate ids
    continuing after the existing maximum. Existing rows are never
    rewritten — the incremental twin of the full-reload pipeline.
    """
    new_dim = build_paciente(wide_new)
    misses = new_dim.join(
        existing.select("documento_identidad"), "documento_identidad", "left_anti"
    )
    start = existing.agg(F.max("id")).first()[0] or 0
    renumbered = dense_ids_small(
        misses.drop("id"), [F.col("documento_identidad")], "id"
    ).withColumn("id", F.col("id") + F.lit(start))
    return renumbered.select(
        "id", "nombre", "apellido", "documento_identidad", "sexo_inferido"
    )


__all__ = [
    "run_pipeline",
    "incremental_paciente",
    "build_paciente",
    "build_turno",
    "build_prestacion",
    "build_bridge",
    "unpivot_wide_slots",
    "extract_wide",
    "extract_unpivoted",
]
