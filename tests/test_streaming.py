"""Structured Streaming tests — streaming results must agree with the
batch twins on the same (finite) input."""

from __future__ import annotations

import shutil

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_his_spark.registry import ORACLES, QUERIES
from etl_his_spark.sources.readers import read_events_raw, read_table
from etl_his_spark.streaming.events import (
    dedup_stream,
    run_available_now,
    sessionize_stream,
    stream_events,
    windowed_counts,
)
from tools.check_correctness import TABLES, compare_frames


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # a parquet DIRECTORY (streaming sources need dirs, not single files)
    out = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(out)
    raw = read_events_raw(spark, sf_dir)  # ts stays nanos-long by contract
    raw.repartition(8).write.parquet(out)  # several files → several triggers
    return out


def test_windowed_counts_matches_batch(spark, sf_dir, events_dir):
    stream = windowed_counts(stream_events(spark, events_dir))
    run_available_now(stream, "win_counts")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = read_table(spark, sf_dir, "events")
    expect = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in (
            batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (
                    F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                    / 100
                ).alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
            .collect()
        )
    }
    # Append mode only emits windows the watermark has CLOSED — the
    # final ~2h of windows are correctly withheld at end-of-input.
    assert set(got) <= set(expect)
    assert all(got[k] == expect[k] for k in got)
    max_ts = batch.agg(F.max("ts")).first()[0]
    import datetime as dt

    closed = {
        k
        for k in expect
        if k[0] + dt.timedelta(hours=3) <= max_ts  # window end + watermark
    }
    assert closed <= set(got)


def test_dedup_stream_bounded_state(spark, events_dir):
    stream = dedup_stream(stream_events(spark, events_dir), ["user_id"])
    run_available_now(stream, "dedup_users")
    rows = spark.sql("SELECT user_id FROM dedup_users").collect()
    ids = [r["user_id"] for r in rows]
    # within-watermark dedup on a finite in-order replay: unique users
    assert len(ids) == len(set(ids))
    assert len(ids) >= 1


def test_sessionize_stream_counts(spark, sf_dir, events_dir):
    stream = sessionize_stream(stream_events(spark, events_dir), gap_minutes=30)
    run_available_now(stream, "sessions")
    total = spark.sql("SELECT SUM(n_events) AS n FROM sessions").first()["n"]
    batch = read_table(spark, sf_dir, "events")
    batch_total = batch.count()
    # Sessions still open at end-of-input are withheld (append mode);
    # everything before (max_ts - watermark - gap) must have been
    # emitted in a closed session.
    max_ts = batch.agg(F.max("ts")).first()[0]
    import datetime as dt

    closed_lower_bound = batch.filter(
        F.col("ts") <= F.lit(max_ts - dt.timedelta(hours=3))
    ).count()
    assert closed_lower_bound <= total <= batch_total
    # session invariant: no session shorter than 1 event, starts <= ends
    bad = spark.sql(
        "SELECT count(*) AS c FROM sessions WHERE session_start > session_end OR n_events < 1"
    ).first()["c"]
    assert bad == 0


def test_stateful_running_totals_matches_batch(spark, sf_dir, events_dir):
    from etl_his_spark.streaming.stateful import running_user_totals

    stream = running_user_totals(stream_events(spark, events_dir))
    run_available_now(stream, "running_totals", output_mode="update")
    # memory sink in update mode appends every emission; the LAST row
    # per user is the lifetime total
    last = spark.sql(
        """
        SELECT user_id, n_events, total_cents FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY n_events DESC
            ) AS rn FROM running_totals
        ) WHERE rn = 1
        """
    ).collect()
    got = {r["user_id"]: (r["n_events"], r["total_cents"]) for r in last}
    batch = read_table(spark, sf_dir, "events")
    expect = {
        r["user_id"]: (r["n"], r["cents"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert got == expect


def test_stream_stream_join_matches_batch(spark, sf_dir, events_dir):
    from etl_his_spark.streaming.events import stream_stream_join

    src = stream_events(spark, events_dir)
    purchases = src.filter(F.col("event_type") == "purchase")
    errors = src.filter(F.col("event_type") == "error")
    joined = stream_stream_join(purchases, errors, within="1 hour")
    run_available_now(joined, "ss_join")
    got = spark.sql("SELECT count(*) AS c FROM ss_join").first()["c"]

    batch = read_table(spark, sf_dir, "events")
    bp = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("l_key"), F.col("ts").alias("l_ts")
    )
    be = batch.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("r_key"), F.col("ts").alias("r_ts")
    )
    expect = bp.join(
        be,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 hour")),
    ).count()
    # finite in-order replay: stream join must find every batch pair
    assert got == expect
    assert got > 0


def test_stream_to_published_atomic(spark, sf_dir, events_dir, tmp_path_factory):
    from etl_his_spark.streaming.events import stream_to_published
    from etl_his_spark.sources.writers import read_published

    root = str(tmp_path_factory.mktemp("stream_pub"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    stream = windowed_counts(stream_events(spark, events_dir))
    stream_to_published(stream, root, "hourly_counts", ckpt)
    published = read_published(spark, root, "hourly_counts")
    n1 = published.count()
    assert n1 > 0
    # re-running with the same checkpoint and no new input publishes
    # nothing new (exactly-once)
    stream_to_published(
        windowed_counts(stream_events(spark, events_dir)), root,
        "hourly_counts", ckpt,
    )
    assert read_published(spark, root, "hourly_counts").count() == n1


def test_stream_static_enrich_matches_batch(spark, sf_dir, events_dir):
    from etl_his_spark.streaming.events import enrich_with_dim

    dim = (
        read_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    stream = enrich_with_dim(
        stream_events(spark, events_dir).select("event_id", "user_id"), dim,
        "user_id",
    )
    run_available_now(stream, "enriched")
    got = {
        (r.event_id, r.segment)
        for r in spark.sql("SELECT event_id, segment FROM enriched").collect()
    }
    batch = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    expect = {
        (r.event_id, r.segment)
        for r in batch.join(dim, "user_id", "left").collect()
    }
    assert got == expect
    assert len(got) > 0
    # the left join must keep dim-miss events (NULL segment) if any exist
    assert len({e for e, s in expect}) == batch.count()


def test_publish_append_epoch_idempotent(spark, tmp_path_factory):
    """Replaying an epoch (foreachBatch's at-least-once crash path) must
    not duplicate rows; appends are parts, not table rewrites."""
    from etl_his_spark.sources.writers import (
        publish_append_atomic,
        read_published,
        resolve_manifest,
        resolve_meta,
    )

    root = str(tmp_path_factory.mktemp("pub_idem"))
    b0 = spark.range(5).withColumnRenamed("id", "v")
    b1 = spark.range(5, 8).withColumnRenamed("id", "v")

    assert publish_append_atomic(b0, root, "t", epoch_id=0) is not None
    assert publish_append_atomic(b1, root, "t", epoch_id=1) is not None
    # replay epoch 1 (and a stale epoch 0): both must be skipped
    assert publish_append_atomic(b1, root, "t", epoch_id=1) is None
    assert publish_append_atomic(b0, root, "t", epoch_id=0) is None

    rows = sorted(r["v"] for r in read_published(spark, root, "t").collect())
    assert rows == list(range(8))
    parts = resolve_manifest(root)["t"]
    assert isinstance(parts, list) and len(parts) == 2  # one part per epoch
    assert resolve_meta(root)["epochs"]["t"] == 1


def test_publish_append_then_compact(spark, tmp_path_factory):
    """Appended parts fold back into a single path via compaction,
    preserving content."""
    from etl_his_spark.sources.writers import (
        compact_published,
        publish_append_atomic,
        read_published,
        resolve_manifest,
    )

    root = str(tmp_path_factory.mktemp("pub_compact"))
    for e in range(4):
        publish_append_atomic(
            spark.range(e * 10, e * 10 + 10).withColumnRenamed("id", "v"),
            root, "t", epoch_id=e,
        )
    assert len(resolve_manifest(root)["t"]) == 4
    compact_published(spark, root, "t")
    entry = resolve_manifest(root)["t"]
    assert isinstance(entry, str)  # single path again
    rows = sorted(r["v"] for r in read_published(spark, root, "t").collect())
    assert rows == list(range(40))


def test_streaming_contamination_agrees_with_batch(spark, tmp_path):
    from etl_his_spark.operators.curation import contamination_hits
    from etl_his_spark.operators.dedup_approx import seeded_hash60
    from etl_his_spark.operators.curation import word_ngrams
    from etl_his_spark.streaming.curation import (
        contamination_matches_stream,
        stream_docs,
    )
    from etl_his_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents")
    # static benchmark grams (bounded side), same split rule as batch
    bench = (
        docs.filter((F.col("doc_id") % 97) == 0)
        .select(
            F.explode(word_ngrams(F.col("text"), 3)).alias("gram")
        )
        .select(seeded_hash60(F.col("gram")).alias("gram_h"))
        .distinct()
    )
    # corpus docs as the unbounded side
    corpus_dir = str(tmp_path / "docs_stream")
    docs.filter((F.col("doc_id") % 97) != 0).repartition(4).write.parquet(corpus_dir)
    stream = contamination_matches_stream(
        stream_docs(spark, corpus_dir), bench, n=3
    )
    run_available_now(stream, "contam_matches")
    got = {
        r["doc_id"]: r["n"]
        for r in spark.sql(
            "SELECT doc_id, count(*) AS n FROM contam_matches GROUP BY 1"
        ).collect()
    }
    want = {
        r["doc_id"]: r["n_hits"]
        for r in contamination_hits(docs, n=3, bench_modulus=97).collect()
    }
    assert got == want


def test_attribution_stream_agrees_with_batch(spark, sf_dir, events_dir):
    """Streaming first-touch attribution vs the batch twin: closed
    converted sessions are a subset of the batch result's (user,
    first_touch) multiset, revenue never exceeds batch revenue, and
    everything older than the watermark horizon is emitted."""
    from etl_his_spark.streaming.events import attribution_stream

    stream = attribution_stream(
        stream_events(spark, events_dir), gap_minutes=30
    )
    run_available_now(stream, "attrib")
    got = spark.sql(
        "SELECT first_touch, count(*) AS n, SUM(purchase_cents) AS cents "
        "FROM attrib GROUP BY 1"
    ).collect()
    stream_by_touch = {r["first_touch"]: (r["n"], r["cents"]) for r in got}

    from etl_his_spark.operators.event_time import assign_sessions

    batch = read_table(spark, sf_dir, "events")
    s = assign_sessions(batch, "user_id", "ts", 30, order_tiebreak=["event_id"])
    is_purchase = (F.col("event_type") == "purchase").cast("long")
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(F.lit(0))
    batch_attrib = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.min_by("event_type", F.struct("ts", "event_id")).alias("first_touch"),
            F.sum(is_purchase).alias("n_purchases"),
            F.sum(cents).alias("purchase_cents"),
        )
        .filter(F.col("n_purchases") > 0)
    )
    batch_by_touch = {
        r["first_touch"]: (r["n"], r["cents"])
        for r in batch_attrib.groupBy("first_touch")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("purchase_cents").alias("cents"))
        .collect()
    }
    total_stream = sum(n for n, _ in stream_by_touch.values())
    total_batch = sum(n for n, _ in batch_by_touch.values())
    assert 0 < total_stream <= total_batch
    for touch, (n, c) in stream_by_touch.items():
        assert touch in batch_by_touch
        bn, bc = batch_by_touch[touch]
        assert n <= bn and c <= bc


def test_streaming_attribution_gate_deterministic(spark, sf_dir):
    """The driver-gate query (real streaming execution under the
    hash-exact oracle) is stable across repeated invocations in one
    session — the memory-sink name rotates, the replay dir is reused —
    and every returned session respects the 3-hour emission horizon."""
    from etl_his_spark.plans.queries_streaming import (
        streaming_attribution_agree,
    )

    a = streaming_attribution_agree(spark, sf_dir)
    b = streaming_attribution_agree(spark, sf_dir)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b
    assert len(rows_a) > 0

    max_ts = read_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    from datetime import timedelta

    horizon = max_ts - timedelta(hours=3)
    assert all(r[2] < horizon for r in rows_a)  # session_end column
    assert all(r[4] > 0 for r in rows_a)  # n_purchases


def test_streaming_dedup_drops_exact_duplicates(spark, tmp_path):
    """Crafted duplicates (case/whitespace variants included) collapse
    to one state row per normalized fingerprint across micro-batches."""
    from etl_his_spark.streaming.curation import fingerprint_dedup_stream

    rows = [
        (1, "hello world", "en", "a", 11),
        (2, "HELLO   world", "en", "b", 13),   # normalizes to the same
        (3, "different doc", "en", "a", 13),
        (4, "hello world", "en", "c", 11),     # literal repeat
        (5, None, "en", "a", 0),               # filtered
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    src = str(tmp_path / "docs")
    df.repartition(4).write.parquet(src)

    name = f"dedup_test_{id(df)}"
    docs = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_available_now(fingerprint_dedup_stream(docs), name)
    got = spark.table(name).collect()
    assert len(got) == 2  # {hello world, different doc}
    assert {r["norm_len"] for r in got} == {11, 13}


def test_gate_replay_dir_is_time_sorted(spark, sf_dir):
    """The gate harness's replay must feed micro-batches in event-time
    order: files named chunk-00i with ascending min(ts)
    AND strictly increasing mtimes — FileStreamSource orders unseen
    files by modification time, so both must agree for the
    monotone-watermark determinism argument to hold at any
    maxFilesPerTrigger."""
    import os

    import pyarrow.parquet as pq

    from etl_his_spark.plans.queries_streaming import _replay_dir

    replay = _replay_dir(spark, sf_dir, "events")
    parts = sorted(
        p for p in os.listdir(replay) if p.endswith(".parquet")
    )
    assert parts == [f"chunk-{i:03d}.parquet" for i in range(len(parts))]
    mins, mtimes = [], []
    for p in parts:
        full = os.path.join(replay, p)
        md = pq.ParquetFile(full).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.schema.column(i).name == "ts"
        )
        mins.append(
            min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
        )
        mtimes.append(os.path.getmtime(full))
    assert mins == sorted(mins), "chunk files not in ascending min(ts)"
    assert all(b > a for a, b in zip(mtimes, mtimes[1:])), (
        "mtimes not strictly increasing"
    )


def test_cdc_apply_restart_recovery(spark, sf_dir, tmp_path_factory):
    """CDC apply: a crash AFTER a batch's publish but BEFORE
    its checkpoint commit (the at-least-once window) must recover on
    restart to exactly the batch MERGE of the whole changelog —
    the replayed batch re-upserts identical rows (idempotent MERGE)."""
    from etl_his_spark.plans.queries_streaming import _write_replay
    from etl_his_spark.sources.writers import read_published
    from etl_his_spark.streaming.cdc import (
        STATE_TABLE,
        latest_per_key,
        run_cdc_apply,
    )
    from etl_his_spark.streaming.events import EVENTS_RAW_SCHEMA

    base = tmp_path_factory.mktemp("cdc_restart")
    replay = str(base / "replay")
    _write_replay(spark, sf_dir, "events", replay)
    root, ckpt = str(base / "root"), str(base / "ckpt")

    with pytest.raises(Exception, match="injected crash"):
        run_cdc_apply(
            spark, replay, root, ckpt, fail_after_publish_on_batch=1
        )
    # the crashed run left a live publish (batch 0 committed, batch 1
    # published-but-uncommitted) ...
    partial = read_published(spark, root, STATE_TABLE)
    assert partial.count() > 0

    # ... and the resumed run replays batch 1 and finishes the stream.
    run_cdc_apply(spark, replay, root, ckpt)

    final = {
        tuple(r) for r in read_published(spark, root, STATE_TABLE).collect()
    }
    whole = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(replay).withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    )
    expected = {tuple(r) for r in latest_per_key(whole).collect()}
    assert final == expected


STREAMING_LANES = sorted(
    n for n in QUERIES if n.startswith("streaming_") and n.endswith("_agree")
)


@pytest.fixture(scope="module")
def empty_dir(sf_dir, tmp_path_factory):
    # schema-identical copies of every table, with no rows
    out = tmp_path_factory.mktemp("empty_tables")
    for t in TABLES:
        table = pq.read_table(f"{sf_dir}/{t}.parquet").slice(0, 0)
        pq.write_table(table, out / f"{t}.parquet")
    return str(out)


@pytest.mark.parametrize("name", STREAMING_LANES)
def test_streaming_lane_on_empty_tables_matches_oracle(spark, empty_dir, name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS"
            f" SELECT * FROM read_parquet('{empty_dir}/{t}.parquet')"
        )
    spdf = QUERIES[name](spark, empty_dir).toPandas()
    dpdf = con.execute(ORACLES[name]).fetch_df()
    problems = compare_frames(spdf, dpdf)
    assert not problems, "\n".join(problems)
    assert len(spdf) == 0
