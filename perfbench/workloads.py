"""The benchmark's workloads: what one pass runs and how its output is checked.

A pass is timed whole, and split into two phases a user can tell apart:

- ``his_reload``: ``prep`` is the HIS extract -> transform -> atomic
  4-table publish plus retention (``prune_old_publishes(keep=1)``);
  ``final`` is the readback report mix over the new publish.
- ``registry``: ``prep`` is building every query's DataFrame with
  ``fn(spark, data_dir)``, which includes the pins and collects a query
  runs before returning; ``final`` is the noop write that forces each
  returned DataFrame.

Each workload receives only the input tables and parameters drawn from
the seed.
"""

from __future__ import annotations

import functools
import os
import random
import time

from .tracing import files_read

# Queries that spend most of their wall before the final action
# (driver-side plan build, pins, collects; the streaming lane runs its
# whole replay while building).
BUILD_MIX = ["dedup_lsh_eval", "streaming_window_counts_agree"]
# Queries that spend most of their wall in the final action (executor
# operator work): the control on which a build-side change must not move.
EXEC_MIX = ["doc_winnow_fingerprints"]

HIS_TABLES = ["paciente", "turno", "prestacion", "prestacion_x_turno"]


class Op:
    """Counts operations attempted and failed over a run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def run(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failure and yields None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 - a failed operation is reported, not fatal
            self.fail(f"{what}: {type(exc).__name__}: {exc}".splitlines()[0][:300])
            return None

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.fail(f"check failed: {what}")


# -- his_reload --------------------------------------------------------------
def readback_params(seed: int, data_dir: str) -> dict:
    """Date window, patient documento and k, drawn from the seed."""
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    custkeys = pq.read_table(os.path.join(data_dir, "orders.parquet"),
                             columns=["o_custkey"]).column(0).to_pylist()
    year = rng.randint(1995, 2000)
    month = rng.randint(1, 9)
    months = rng.randint(1, 3)
    return {
        "d0": f"{year}-{month:02d}-01",
        "d1": f"{year}-{month + months:02d}-01",
        "documento": str(rng.choice(custkeys)),
        "k": rng.randint(5, 20),
    }


def reports(p: dict) -> dict[str, str]:
    """The readback report mix, one Spark SQL query each, over the
    published ``paciente``/``turno``/``prestacion``/``prestacion_x_turno``."""
    d0, d1, doc, k = p["d0"], p["d1"], p["documento"], p["k"]
    return {
        "month_range_count":
            f"SELECT count(*) AS n FROM turno WHERE fecha >= DATE'{d0}' AND fecha < DATE'{d1}'",
        "patient_lookup":
            f"SELECT id, nombre, apellido, sexo_inferido FROM paciente WHERE documento_identidad = '{doc}'",
        "visits_by_sex":
            "SELECT p.sexo_inferido, count(*) AS n FROM turno t JOIN paciente p ON t.paciente_id = p.id "
            "GROUP BY p.sexo_inferido",
        "top_prestaciones":
            "SELECT pr.nombre, count(*) AS n FROM prestacion_x_turno b JOIN prestacion pr "
            f"ON b.prestacion_id = pr.id GROUP BY pr.nombre ORDER BY n DESC, pr.nombre LIMIT {k}",
        "procedures_per_month":
            "SELECT t.fecha_mes, count(*) AS n FROM prestacion_x_turno b JOIN turno t ON b.turno_id = t.id "
            "GROUP BY t.fecha_mes ORDER BY t.fecha_mes",
        "frequent_patients":
            "SELECT paciente_id, count(*) AS n FROM turno GROUP BY paciente_id "
            f"ORDER BY n DESC, paciente_id LIMIT {k}",
    }


class HisReload:
    def __init__(self, data_dir: str, out_root: str, seed: int) -> None:
        self.data_dir = data_dir
        self.root = out_root
        self.params = readback_params(seed, data_dir)
        self.reports = reports(self.params)
        self.last: dict | None = None

    def run_pass(self, spark, op: Op, pass_id: int, tracer=None) -> dict:
        from etl_his_spark.plans.his_pipeline import run_pipeline
        from etl_his_spark.sources.his_synth import his_tables_from_testdata
        from etl_his_spark.sources.writers import (
            prune_old_publishes, read_published, resolve_current)

        before = resolve_current(self.root)
        t0 = time.time()
        outs = op.run("publish", lambda: run_pipeline(
            his_tables_from_testdata(spark, self.data_dir), output_root=self.root))
        op.run("prune", prune_old_publishes, self.root, 1)
        t1 = time.time()
        report_s, report_exec = {}, {}
        for table in HIS_TABLES:
            op.run(f"read {table}", lambda t=table: read_published(
                spark, self.root, t).createOrReplaceTempView(t))
        for name, sql in self.reports.items():
            r0 = time.time()
            if tracer is None:
                op.run(name, lambda q=sql: spark.sql(q).collect())
            else:
                with tracer.span("bench.readback", label=name, own=True):
                    op.run(name, lambda q=sql: spark.sql(q).collect())
            report_s[name] = time.time() - r0
            report_exec[name] = (r0, r0 + report_s[name])
        t2 = time.time()
        self.last = {"outs": outs, "before": before, "reports": report_exec}
        return {"pass_s": t2 - t0, "prep_s": t1 - t0, "final_s": t2 - t1,
                "reports": report_s}

    def check(self, spark, op: Op) -> None:
        """Invariants of the last publish: row counts, dense ids, FKs, pointer."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from etl_his_spark.sources.writers import read_published, resolve_current

        last = self.last
        if last is None or last["outs"] is None:
            op.check("a publish to check", False)
            return
        pub = {t: read_published(spark, self.root, t) for t in HIS_TABLES}
        # With every id set dense 1..N, a foreign key resolves exactly
        # when it is non-null and within 1..N of its parent.
        fks = {"turno": [("paciente_id", "paciente")],
               "prestacion_x_turno": [("turno_id", "turno"),
                                      ("prestacion_id", "prestacion")]}
        aggs = []
        for t in HIS_TABLES:
            cols = [F.lit(t).alias("t"), F.count("*").alias("n"), F.min("id").alias("lo"),
                    F.max("id").alias("hi"), F.countDistinct("id").alias("d")]
            for col, _ in fks.get(t, []):
                cols += [F.min(col).alias(f"{col}_lo"), F.max(col).alias(f"{col}_hi"),
                         F.count(col).alias(f"{col}_n")]
            aggs.append(pub[t].agg(*cols))
        stats = {r["t"]: r.asDict() for r in functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), aggs).collect()}
        mem = {r["t"]: r["n"] for r in functools.reduce(DataFrame.unionByName, [
            last["outs"][t].groupBy().count().select(F.lit(t).alias("t"), F.col("count").alias("n"))
            for t in HIS_TABLES]).collect()}
        for t in HIS_TABLES:
            row, n_mem = stats[t], mem[t]
            op.check(f"{t}: published rows {row['n']} == in-memory rows {n_mem}",
                     row["n"] == n_mem and n_mem > 0)
            op.check(f"{t}: ids dense 1..{row['n']}",
                     (row["lo"], row["hi"], row["d"]) == (1, row["n"], row["n"]))
            for col, parent in fks.get(t, []):
                op.check(f"{t}.{col} resolves in {parent}",
                         row[f"{col}_n"] == row["n"] and row[f"{col}_lo"] >= 1
                         and row[f"{col}_hi"] <= stats[parent]["n"])
        current = resolve_current(self.root)
        stagings = [d for d in os.listdir(self.root) if d.startswith("_staging_")]
        op.check("pointer names the new staging dir",
                 current is not None and current != last["before"]
                 and os.path.isdir(current) and stagings == [os.path.basename(current)])

    @staticmethod
    def phase_spans(spans: list[dict]):
        """Build intervals (run_pipeline up to its publish), action
        intervals (the publish and the readback reports) and the py4j
        commands sent while building."""
        pipe = [s for s in spans if s["name"] == "plans.his_pipeline.run_pipeline"]
        pub = [s for s in spans if s["name"] == "sources.writers.publish_atomic"]
        reads = [s for s in spans if s["name"] == "bench.readback"]
        build, py4j = [], 0
        for p in pipe:
            inner = [q for q in pub if p["start"] <= q["start"] <= p["end"]]
            build.append((p["start"], inner[0]["start"] if inner else p["end"]))
            py4j += p["py4j"] - sum(q["py4j"] for q in inner)
        action = [(s["start"], s["end"]) for s in pub + reads]
        return build, action, py4j

    @staticmethod
    def shape(layers: dict) -> dict:
        """Driver-only share of the HIS publish."""
        total = layers.get("plans.his_pipeline.run_pipeline_s", 0.0)
        driver = layers.get("plans.his_pipeline.build_driver_s", 0.0)
        return {"shape.his_build_driver_share_of_publish": driver / total if total else 0.0}

    def layer_metrics(self, spark, tracer, execs: list[dict]) -> dict:
        """Per-layer numbers of the traced pass that only this workload has."""
        from .stats import clip, union_length

        spans = [s for s in tracer.spans if s["pass"] == tracer.pass_id]
        out = {}
        build, _, _ = self.phase_spans(spans)
        if build:
            b0, b1 = build[0]
            jobs = union_length(clip([(e["start"], e["end"]) for e in execs], b0, b1))
            out["plans.his_pipeline.build_s"] = b1 - b0
            out["plans.his_pipeline.build_jobs_s"] = jobs
            out["plans.his_pipeline.build_driver_s"] = b1 - b0 - jobs
        out["plans.his_pipeline.run_pipeline_s"] = _outer_total(
            spans, "plans.his_pipeline.run_pipeline")
        out["operators.surrogate.dense_ids_s"] = _outer_total(spans, "operators.surrogate.dense_ids")
        out["sources.writers.publish_s"] = _outer_total(spans, "sources.writers.publish_atomic")
        for s in spans:
            if s["name"] == "sources.writers.write_table" and s["label"] in HIS_TABLES:
                out[f"sources.writers.write_s.{s['label']}"] = s["end"] - s["start"]
        from etl_his_spark.sources.writers import resolve_current

        staging = resolve_current(self.root)
        nbytes = nfiles = 0
        for dirpath, _, files in os.walk(staging):
            for f in files:
                if f.endswith(".parquet"):
                    nfiles += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, f))
        rows = sum(self.last["outs"][t].count() for t in HIS_TABLES)
        out["sources.writers.bytes_written"] = nbytes
        out["sources.writers.files_written"] = nfiles
        out["sources.writers.bytes_per_row"] = nbytes / rows
        out["sources.writers.readback_s"] = sum(
            r1 - r0 for r0, r1 in self.last["reports"].values())
        files = 0
        for name, (r0, r1) in self.last["reports"].items():
            out[f"sources.writers.readback.{name}_s"] = r1 - r0
            files += sum(files_read(spark, e["id"]) for e in execs
                         if r0 <= e["start"] <= r1)
        out["sources.writers.readback_files_read"] = files
        return out


def _outer_total(spans: list[dict], name: str) -> float:
    """Summed duration of the spans called ``name`` that are not nested in another one."""
    ids = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        parent = ids.get(s["parent"])
        while parent is not None and parent["name"] != name:
            parent = ids.get(parent["parent"])
        if parent is None:
            total += s["end"] - s["start"]
    return total


# -- registry ----------------------------------------------------------------
class Registry:
    def __init__(self, data_dir: str, seed: int) -> None:
        self.data_dir = data_dir
        self.seed = seed
        self.queries = BUILD_MIX + EXEC_MIX
        self.last: dict[str, object] = {}

    def order(self, pass_id: int) -> list[str]:
        """This pass's query order: a permutation drawn from (seed, pass)."""
        names = list(self.queries)
        random.Random(f"{self.seed}:{pass_id}").shuffle(names)
        return names

    def run_pass(self, spark, op: Op, pass_id: int, tracer=None) -> dict:
        from etl_his_spark.registry import QUERIES

        build_s = action_s = 0.0
        per_query = {}
        self.last = {}
        t0 = time.time()
        for name in self.order(pass_id):
            b0 = time.time()
            if tracer is None:
                df = op.run(f"{name} build", QUERIES[name], spark, self.data_dir)
            else:
                with tracer.span("bench.build", label=name, own=True):
                    df = op.run(f"{name} build", QUERIES[name], spark, self.data_dir)
            b1 = time.time()
            if df is not None:
                self.last[name] = df
                if tracer is None:
                    op.run(f"{name} action", _noop_write, df)
                else:
                    with tracer.span("bench.action", label=name, own=True):
                        op.run(f"{name} action", _noop_write, df)
            a1 = time.time()
            per_query[name] = (b1 - b0, a1 - b1)
            build_s += b1 - b0
            action_s += a1 - b1
        return {"pass_s": time.time() - t0, "prep_s": build_s, "final_s": action_s,
                "queries": per_query}

    def check(self, op: Op, oracle) -> None:
        """Each DataFrame of the last pass, collected in that pass's
        session, against its DuckDB oracle."""
        for name in self.queries:
            df = self.last.get(name)
            out = None if df is None else op.run(f"{name} collect", df.toPandas)
            if out is None:
                op.check(f"{name}: output collected", False)
                continue
            problem = oracle.compare(name, out, [f.name for f in df.schema.fields])
            op.check(f"{name}: {problem or 'matches oracle'}", problem is None)

    @staticmethod
    def phase_spans(spans: list[dict]):
        """Build intervals (each query's fn call), action intervals (each
        noop write) and the py4j commands sent while building."""
        build = [s for s in spans if s["name"] == "bench.build"]
        action = [s for s in spans if s["name"] == "bench.action"]
        return ([(s["start"], s["end"]) for s in build],
                [(s["start"], s["end"]) for s in action],
                sum(s["py4j"] for s in build))

    def shape(self, layers: dict) -> dict:
        """Pre-action share of BUILD_MIX and final-action share of EXEC_MIX."""
        def part(names, kind):
            b = sum(layers.get(f"plans.q.{n}.build_s", 0.0) for n in names)
            a = sum(layers.get(f"plans.q.{n}.action_s", 0.0) for n in names)
            return (b if kind == "build" else a) / (a + b) if a + b else 0.0

        return {"shape.build_mix_pre_action_share": part(BUILD_MIX, "build"),
                "shape.exec_mix_final_action_share": part(EXEC_MIX, "action")}

    def layer_metrics(self, spark, tracer, execs: list[dict]) -> dict:
        from .stats import clip, union_length

        spans = [s for s in tracer.spans if s["pass"] == tracer.pass_id]
        out = {}
        intervals = [(e["start"], e["end"]) for e in execs]
        for s in spans:
            if s["name"] not in ("bench.build", "bench.action"):
                continue
            kind = s["name"].rsplit(".", 1)[1]
            out[f"plans.q.{s['label']}.{kind}_s"] = s["end"] - s["start"]
            if kind == "build":
                out[f"plans.q.{s['label']}.py4j_calls"] = s["py4j"]
                jobs = union_length(clip(intervals, s["start"], s["end"]))
                out[f"plans.q.{s['label']}.build_jobs_s"] = jobs
        lane = [(s["start"], s["end"]) for s in spans
                if s["name"] in ("bench.build", "bench.action")
                and s["label"].startswith("streaming_")]
        out["streaming.lane_s"] = sum(e - s for s, e in lane)
        out["streaming.executions"] = sum(
            1 for x in execs if any(s <= x["start"] <= e for s, e in lane))
        return out


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()
