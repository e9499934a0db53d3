"""Full HIS pipeline tests — join inventory J1-J24, transform, load.

Golden checks pin the reference semantics enumerated in FIXTURES.md §B
(fan-out, dedup survivor, P3 skip, trim-dedup, NULL concat, atomic
publish).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_his_spark.functions.text import nonempty
from etl_his_spark.operators.unpivot import unpivot_slots
from etl_his_spark.plans import his_pipeline
from etl_his_spark.plans.his_extract import extract_unpivoted, extract_wide
from etl_his_spark.plans.his_pipeline import run_pipeline
from etl_his_spark.schemas import PRESTACION_SLOT_COLUMNS
from etl_his_spark.sources.his_synth import his_tables_from_testdata
from etl_his_spark.sources.writers import (
    publish_atomic,
    read_published,
    resolve_current,
)

from his_fixtures import his_tables


@pytest.fixture(scope="module")
def tables(spark):
    return his_tables(spark)


@pytest.fixture(scope="module")
def outputs(tables):
    return run_pipeline(tables)


def test_wide_fanout_from_dead_left_joins(spark, tables):
    """J10-J13: duplicate OrdenDeTrabajo.IdTurno=1 must duplicate the
    turno-1 extraction row even though no RIS column is projected
    (SURVEY.md §4.1 — the joins are dead but not removable)."""
    wide = extract_wide(tables)
    counts = {
        r["turno_id"]: r["cnt"]
        for r in wide.groupBy("turno_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert counts[1] == 2  # fan-out
    assert counts[2] == 1  # single orden, single informe-less row
    assert counts[3] == 1  # no orden at all (left-join miss)


def test_wide_has_28_column_shape(tables):
    """Reference SELECT is 28 columns (Command.php:250-290), including
    BOTH the display-name concat and the login name."""
    wide = extract_wide(tables)
    assert len(wide.columns) == 17 + 11  # 17 scalars + 11 prestacion names
    assert "usuario_alta_usuario" in wide.columns
    assert "usuario_alta_nombre" in wide.columns


def test_turno_usuario_alta_is_login_name(tables):
    """Command.php:164: the published usuario_alta is the login name,
    not the Nombres+Apellido concat."""
    from etl_his_spark.plans.his_pipeline import (
        _with_row_ids,
        build_paciente,
        build_turno,
    )

    wide = _with_row_ids(extract_wide(tables))
    turno = build_turno(wide, build_paciente(wide))
    row = (
        turno.join(
            tables["Usuarios"].select(
                F.col("NombreInicioSesion").alias("login")
            ).distinct(),
            F.col("usuario_alta") == F.col("login"),
            "left_semi",
        )
    )
    n_total = turno.filter(F.col("usuario_alta").isNotNull()).count()
    assert row.count() == n_total and n_total > 0


def test_null_propagating_concat(tables):
    """P2: user person with NULL Apellido → NULL usuario_alta_nombre."""
    wide = extract_wide(tables)
    row = wide.filter(F.col("turno_id") == 7).select("usuario_alta_nombre").first()
    assert row[0] is None
    row1 = wide.filter(F.col("turno_id") == 1).select("usuario_alta_nombre").first()
    assert row1[0] == "Admin Uno"


def test_unpivot_equivalence_with_11_joins(tables):
    """The unpivot-then-join form must agree with the reference's
    11-repeated-joins form (SURVEY.md §2.3 J14-J24) on non-NULL slots."""
    wide = extract_wide(tables).dropDuplicates(["turno_id"])  # undo fan-out
    via_joins = []
    for r in wide.collect():
        for i in range(11):
            v = r[f"prestacion{i}"]
            if v is not None:
                via_joins.append((r["turno_id"], i, v))
    unp = extract_unpivoted(tables)
    via_unpivot = [
        (r["turno_id"], r["slot"], r["prestacion_nombre"])
        for r in unp.filter(F.col("prestacion_nombre").isNotNull()).collect()
    ]
    assert sorted(via_joins) == sorted(via_unpivot)


def test_paciente_dedup_survivor(outputs):
    """D1: doc 111 appears twice; survivor = latest FechaAlta (persona 2,
    name 'MARIA JOSE' / ' LÓPEZ ' → cleaned)."""
    pac = {r["documento_identidad"]: r for r in outputs["paciente"].collect()}
    assert set(pac) == {"111", "222", "333", "444", "555"}
    assert pac["111"]["nombre"] == "MARIA JOSE"
    assert pac["111"]["apellido"] == "LÓPEZ"
    # F1 on the non-survivor spelling would have been 'MARÍA JOSÉ'
    assert pac["222"]["nombre"] == "JUAN CARLOS"
    assert pac["333"]["nombre"] is None  # NULL passthrough
    assert pac["444"]["apellido"] is None


def test_paciente_gender_inference(outputs):
    pac = {r["documento_identidad"]: r for r in outputs["paciente"].collect()}
    assert pac["111"]["sexo_inferido"] == "Female"  # MARIA
    assert pac["222"]["sexo_inferido"] == "Male"    # JUAN
    assert pac["555"]["sexo_inferido"] is None      # ZZZUNKNOWN
    assert pac["333"]["sexo_inferido"] is None      # NULL name


def test_paciente_ids_dense(outputs):
    ids = sorted(r["id"] for r in outputs["paciente"].collect())
    assert ids == list(range(1, len(ids) + 1))


def test_turno_multiplicity_and_fk(outputs):
    """One turno output row per extraction row — the fan-out turno gets
    two rows with distinct serial ids (Command.php:154-165 semantics)."""
    turno = outputs["turno"].collect()
    assert len(turno) == 8  # 7 turnos + 1 fan-out duplicate
    ids = sorted(r["id"] for r in turno)
    assert ids == list(range(1, 9))
    assert all(r["paciente_id"] is not None for r in turno)


def test_prestacion_dedup_trimmed(outputs):
    """D2: 'RX TORAX' and '  RX TORAX  ' are ONE row; blank name
    excluded by P3."""
    names = sorted(r["nombre"] for r in outputs["prestacion"].collect())
    assert names == ["ECOGRAFIA", "LABORATORIO", "RX TORAX", "TOMOGRAFIA"]
    ids = sorted(r["id"] for r in outputs["prestacion"].collect())
    assert ids == list(range(1, 5))


def test_bridge_counts_and_fks(outputs, tables):
    """Bridge row count == non-empty slots across EXTRACTION rows
    (fan-out doubles turno 1's slots, blank-name slot skipped)."""
    bridge = outputs["prestacion_x_turno"].collect()
    # turno1: 3 slots ×2 (fan-out) + turno2: 1 + turno4: 2 + turno5: 11
    # + turno6: 1 (blank skipped) + turno7: 1 = 22
    assert len(bridge) == 22
    pres_ids = {r["id"] for r in outputs["prestacion"].collect()}
    turno_ids = {r["id"] for r in outputs["turno"].collect()}
    assert all(r["prestacion_id"] in pres_ids for r in bridge)
    assert all(r["turno_id"] in turno_ids for r in bridge)


@pytest.mark.parametrize("source", ["fixtures", "sf0.001"])
def test_golden_ids(spark, tables, sf_dir, source):
    """Turno ids are row_number() over (turno_id, extraction row) and
    bridge ids are row_number() over (turno id, slot), each checked
    against a plain single-partition window."""
    if source != "fixtures":
        tables = his_tables_from_testdata(spark, sf_dir)
    # an eagerly pinned extraction with its row address: the mint's own
    # address is the same monotonically_increasing_id over these rows
    wide = extract_wide(tables).localCheckpoint().withColumn(
        "__row", F.monotonically_increasing_id()
    )
    wide_ids = his_pipeline._with_row_ids(wide).localCheckpoint()

    turno_w = Window.orderBy("turno_id", "__row")
    got = wide_ids.select("turno_id", "__row", "turno_uid")
    want = wide_ids.select(
        "turno_id", "__row", F.row_number().over(turno_w).cast("long")
    )
    assert sorted(got.collect()) == sorted(want.collect())

    slots = unpivot_slots(
        wide_ids,
        ["turno_uid"],
        [f"prestacion{i}" for i in range(len(PRESTACION_SLOT_COLUMNS))],
        "slot",
        "prestacion_nombre",
    ).filter(nonempty("prestacion_nombre"))
    bridge_w = Window.orderBy("turno_uid", "slot")
    want_b = slots.select(
        "turno_uid",
        F.row_number().over(bridge_w).cast("long"),
        "prestacion_nombre",
    )
    got_b = his_pipeline.unpivot_wide_slots(wide_ids)
    assert sorted(got_b.collect()) == sorted(want_b.collect())
    assert got_b.count() > 0


def test_lost_id_map_row_raises(tables, monkeypatch):
    """The ids re-attach by a left join on the row address; a row whose
    id did not come back fails the job instead of vanishing."""
    real = his_pipeline.dense_ids

    def truncated(*args, **kwargs):
        return real(*args, **kwargs).filter(F.col("turno_id") != 3)

    monkeypatch.setattr(his_pipeline, "dense_ids", truncated)
    wide_ids = his_pipeline._with_row_ids(extract_wide(tables))
    with pytest.raises(Exception, match="lost an extraction row"):
        wide_ids.select("turno_uid").collect()


def test_failed_publish_removes_its_staging_dir(
    spark, outputs, tmp_path_factory
):
    """One table's write raises inside the 2-worker pool: the error
    propagates, the previous publish stays current, and only its
    staging dir is left."""
    root = str(tmp_path_factory.mktemp("failed_publish"))
    first = publish_atomic(outputs, root)
    broken = dict(outputs)
    broken["prestacion"] = spark.range(4).select(
        F.when(
            F.col("id") >= 0, F.raise_error(F.lit("injected write failure"))
        ).otherwise(F.col("id")).alias("id")
    )
    with pytest.raises(Exception, match="injected write failure"):
        publish_atomic(broken, root)
    assert resolve_current(root) == first
    stagings = [d for d in os.listdir(root) if d.startswith("_staging_")]
    assert stagings == [os.path.basename(first)]
    assert read_published(spark, root, "prestacion").count() == 4


def test_atomic_publish_and_read_back(spark, tables, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("publish"))
    run_pipeline(tables, output_root=root)
    first = resolve_current(root)
    assert first is not None
    pac = read_published(spark, root, "paciente")
    assert pac.count() == 5
    # second publish swaps the pointer; reader follows it
    run_pipeline(tables, output_root=root)
    second = resolve_current(root)
    assert second != first
    assert read_published(spark, root, "turno").count() == 8


def test_publish_round_trip_content(spark, tables, tmp_path_factory):
    """Each published table holds exactly its in-memory frame's rows on
    the DDL columns, and the published turno's stored fecha_mes is the
    month of its fecha on every row."""
    root = str(tmp_path_factory.mktemp("round_trip"))
    outs = run_pipeline(tables, output_root=root)
    for name, frame in outs.items():
        published = read_published(spark, root, name).select(*frame.columns)
        assert published.exceptAll(frame).count() == 0, name
        assert frame.exceptAll(published).count() == 0, name
    turno = read_published(spark, root, "turno")
    off = turno.filter(
        ~F.col("fecha_mes").eqNullSafe(F.date_format("fecha", "yyyy-MM"))
    )
    assert off.count() == 0


def test_prune_keeps_current_publish(spark, tables, tmp_path_factory):
    from etl_his_spark.sources.writers import prune_old_publishes

    root = str(tmp_path_factory.mktemp("prune"))
    for _ in range(4):
        run_pipeline(tables, output_root=root)
    current = resolve_current(root)
    removed = prune_old_publishes(root, keep=2)
    assert current not in removed
    assert os.path.isdir(current)
    remaining = [d for d in os.listdir(root) if d.startswith("_staging_")]
    assert len(remaining) == 2
    # current publish still fully readable after pruning
    assert read_published(spark, root, "paciente").count() == 5
