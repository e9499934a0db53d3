"""Scale-shaped HIS inputs (sources.his_synth) through the full
pipeline: schema conformance, non-empty outputs, referential integrity
by construction, and the fecha-ordered turno publish layout.

The hand-written fixtures in his_fixtures.py pin SEMANTICS; this file
pins that the same pipeline runs on testdata-scale derived inputs (the
shape bench.py's his_pipeline_publish number measures at sf0.1)."""

from __future__ import annotations

import glob
import os

import pytest

from etl_his_spark import schemas
from etl_his_spark.plans.his_pipeline import run_pipeline
from etl_his_spark.sources.his_synth import his_tables_from_testdata
from etl_his_spark.sources.writers import read_published, resolve_current


@pytest.fixture(scope="module")
def synth_tables(spark, sf_dir):
    return his_tables_from_testdata(spark, sf_dir)


@pytest.fixture(scope="module")
def outputs(synth_tables):
    return run_pipeline(synth_tables)


def test_source_schemas_conform(synth_tables):
    for name, df in synth_tables.items():
        want = schemas.HIS_SCHEMAS[name]
        got = {f.name: f.dataType for f in df.schema.fields}
        for f in want.fields:
            assert f.name in got, f"{name}: missing column {f.name}"
            assert got[f.name] == f.dataType, (
                f"{name}.{f.name}: {got[f.name]} != {f.dataType}"
            )


def test_outputs_nonempty_and_typed(outputs):
    targets = {
        "paciente": schemas.PACIENTE,
        "turno": schemas.TURNO,
        "prestacion": schemas.PRESTACION,
        "prestacion_x_turno": schemas.PRESTACION_X_TURNO,
    }
    for name, want in targets.items():
        df = outputs[name]
        assert df.count() > 0, f"{name} empty"
        got = {f.name for f in df.schema.fields}
        assert {f.name for f in want.fields} <= got, name


def test_fk_integrity_by_construction(outputs):
    turno = outputs["turno"]
    pac_ids = outputs["paciente"].select("id")
    orphans = (
        turno.select("paciente_id")
        .join(pac_ids, turno.paciente_id == pac_ids.id, "left_anti")
        .count()
    )
    assert orphans == 0
    bridge = outputs["prestacion_x_turno"]
    pres_ids = outputs["prestacion"].select("id")
    orphans = (
        bridge.join(pres_ids, bridge.prestacion_id == pres_ids.id, "left_anti")
        .count()
    )
    assert orphans == 0


# Several range partitions survive AQE coalescing at sf0.001: more
# shuffle partitions than the session default, and a 1 KB advisory size
# (with a minimum partition size below it) so the turno sort's range
# exchange is merged into several partitions, not one.
_SEVERAL_FILES = {
    "spark.sql.shuffle.partitions": "16",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64b",
}


def test_publish_turno_fecha_ordered_files(spark, synth_tables, tmp_path):
    """The published turno is one fecha-ordered file set: no month
    directories, each file sorted on fecha, and the files' fecha
    ranges disjoint and ascending in part order — what lets a date
    predicate skip files and row groups on footer min/max stats."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "pub")
    saved = {k: spark.conf.get(k, None) for k in _SEVERAL_FILES}
    try:
        for k, v in _SEVERAL_FILES.items():
            spark.conf.set(k, v)
        run_pipeline(synth_tables, output_root=root)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    turno_dir = os.path.join(resolve_current(root), "turno")
    assert not glob.glob(os.path.join(turno_dir, "fecha_mes=*"))
    files = sorted(glob.glob(os.path.join(turno_dir, "part-*.parquet")))
    assert len(files) > 1, files
    ranges = []
    for path in files:
        fechas = pq.read_table(path, columns=["fecha"]).column(0).to_pylist()
        assert None not in fechas, path
        assert fechas == sorted(fechas), path
        if fechas:
            ranges.append((fechas[0], fechas[-1]))
    assert len(ranges) > 1, ranges
    for (_, prev_max), (next_min, _) in zip(ranges, ranges[1:]):
        assert prev_max < next_min, ranges
    published = read_published(spark, root, "turno")
    assert published.columns == schemas.TURNO.fieldNames() + ["fecha_mes"]
