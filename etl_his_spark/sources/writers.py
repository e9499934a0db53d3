"""Sinks: overwrite writers + atomic multi-table publish.

The reference loads 4 tables inside ONE PostgreSQL transaction and rolls
back on any error (src/Command/EtlHisTurnosCommand.php:104,208,213-216);
the schema is dropped and recreated each run
(src/Service/PostgresSchemaBuilder.php:45-58) — i.e. full-reload
overwrite semantics with all-or-nothing visibility.

Spark writes are not multi-table transactional, so atomicity is
reproduced with stage-then-publish (SURVEY.md §2.1 S5): write every
table under ``{root}/_staging_{token}/``, then flip a tiny
``_CURRENT`` pointer file as the single commit point. Readers resolve
the pointer first, so a crash mid-write leaves the previous publish
fully intact. This protocol is object-store friendly (no directory
renames on the data itself) and scales to any table count.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_POINTER = "_CURRENT"


def _swap_pointer(root: str, payload: str, token: str) -> None:
    """The single commit point: write-then-rename of the pointer file.

    Also archives the manifest as ``_manifest_{token}.json`` BEFORE the
    swap — the commit history that powers snapshot reads/time travel.
    An archive with no pointer swap (crash between the two writes) is
    an invisible orphan, never a torn publish.
    """
    os.makedirs(root, exist_ok=True)
    if payload.startswith("{"):
        with open(
            os.path.join(root, f"_manifest_{token}.json"), "w", encoding="utf-8"
        ) as fh:
            fh.write(payload)
    tmp = os.path.join(root, f"._pointer_{token}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(payload)
    os.replace(tmp, os.path.join(root, _POINTER))


def list_publishes(root: str) -> list[dict]:
    """Commit history, oldest→newest: ``{token, staging, tables}`` per
    publish (compactions included — they are commits too)."""
    out = []
    if not os.path.isdir(root):
        return out
    for name in os.listdir(root):
        if name.startswith("_manifest_") and name.endswith(".json"):
            with open(os.path.join(root, name), encoding="utf-8") as fh:
                m = json.load(fh)
            m["token"] = name[len("_manifest_"):-len(".json")]
            out.append(m)
    out.sort(key=lambda m: os.path.getmtime(
        os.path.join(root, f"_manifest_{m['token']}.json")
    ))
    return out


def read_published_at(
    spark: SparkSession, root: str, name: str, token: str
) -> DataFrame:
    """Time travel: read table ``name`` as of publish ``token``.

    Works as long as retention hasn't pruned the staging dirs that
    snapshot references — the same contract as Delta's VACUUM horizon.
    """
    path = os.path.join(root, f"_manifest_{token}.json")
    if not os.path.exists(path):
        raise FileNotFoundError(f"no publish {token!r} under {root}")
    with open(path, encoding="utf-8") as fh:
        tables = json.load(fh)["tables"]
    if name not in tables:
        raise FileNotFoundError(f"table {name!r} not in publish {token!r}")
    return spark.read.parquet(*_as_paths(tables[name]))


def resolve_manifest(root: str) -> dict[str, str] | None:
    """Return the current publish's table→path map, or None.

    The pointer holds a JSON manifest ``{"staging": dir, "tables":
    {name: path}}``. A manifest makes per-table operations (compaction,
    single-table refresh) metadata-only for the untouched tables — the
    new publish references their existing files instead of rewriting
    them, exactly the Delta/Iceberg snapshot idiom. Legacy plain-path
    pointers (a bare staging dir) are still resolved by listing it.
    """
    current = resolve_current(root)
    if current is None:
        return None
    ptr = os.path.join(root, _POINTER)
    with open(ptr, encoding="utf-8") as fh:
        content = fh.read().strip()
    if content.startswith("{"):
        return json.loads(content)["tables"]
    return {
        name: os.path.join(current, name)
        for name in os.listdir(current)
        if not name.startswith("_")
    }


def write_table(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet overwrite write; optional partition columns.

    ``partition_by`` writes one Hive directory per value, pruned only
    by predicates on the partition columns themselves; a predicate on
    any other column (even one the partition column derives from)
    reads every directory. Row ordering is the caller's: a globally
    sorted frame (``orderBy``) writes files with disjoint, sorted
    ranges that parquet footer min/max stats skip — how the HIS
    publish serves the reference's turno(fecha) index
    (PostgresSchemaBuilder.php:88-91).

    Partitioned writes first hash-repartition on the partition columns
    — the standard dynamic-partition write discipline. Without it
    every writing task emits a file into every Hive partition it
    touches: tasks × |partitions| files (the small-files explosion at
    100 TB), and at the other extreme an AQE-coalesced single task
    writes all partitions SERIALLY (measured r8: the sf0.01 turno fact
    — 2399 date dirs — took ~40 s through one task; ~3 s once dates
    spread across the cluster). After the repartition each partition
    value lands in exactly one task: one file per partition, written
    in parallel. A skewed giant partition would need an extra salt
    column to split — not needed for date-grain facts here.

    The repartition width is 8× core count rather than the session's
    shuffle default: a dynamic write's wall time is (partitions per
    task) × (parquet writer open/close, ~70 ms on local disk), so
    when |partition values| ≫ tasks the write serializes per task —
    measured r10 on the sf0.1 turno fact (2,405 date dirs): 10.5 s at
    32 tasks → 5.8 s at 256. More tasks than values costs only empty
    tasks; each value still lands in exactly one task (one file per
    partition either way).
    """
    if partition_by:
        n_tasks = max(
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
            df.sparkSession.sparkContext.defaultParallelism * 8,
        )
        df = df.repartition(n_tasks, *[F.col(c) for c in partition_by])
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int,
    *,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed external table write — the co-located-join layout.

    Bucketing pre-shuffles the data ONCE at write time: every row lands
    in ``hash(bucket_cols) % num_buckets``, recorded in the catalog.
    Two tables bucketed on the same key with the same bucket count then
    join with NO exchange on either side — at 100 TB, where the fact ⋈
    fact shuffle dominates every repeated query, this converts a
    per-query O(data) network step into a one-time layout cost (the
    same trade the reference's secondary indexes make for lookups).
    ``sort_cols`` additionally pre-sorts within buckets (one file per
    bucket, see below) — giving tight parquet min/max stats on the
    sort key, and removing the sort-merge join's per-query sort on
    engines that read bucket order (Spark 3+ needs
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` for
    that; the partition-local sort it otherwise re-runs involves no
    network — the eliminated EXCHANGE is the scale win either way).

    The table is EXTERNAL (explicit ``path``): files live where the
    caller says, only metadata goes to the session catalog — no
    dependence on a warehouse dir or Hive metastore (Spark's native
    in-memory catalog carries bucketing specs).
    """
    if sort_cols:
        # One FILE per bucket: Spark only trusts (and skips re-sorting)
        # a bucket's sortBy order when the bucket is a single file, so
        # pre-shuffle rows onto their bucket before the write. Without
        # this each writing task emits its own file per bucket and
        # every downstream sort-merge join re-sorts both sides.
        df = df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
    writer = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def publish_atomic(
    tables: dict[str, DataFrame],
    root: str,
    *,
    partition_by: dict[str, list[str]] | None = None,
) -> str:
    """Write all tables to a staging dir, then atomically publish.

    Returns the staging directory that became current. Readers use
    ``resolve_current`` to find it. If any write fails, the pointer is
    never moved — the previous publish stays visible (matches the
    reference's rollback-on-error, Command.php:213-216) — and the
    failed publish's staging dir is removed.

    Publish-schema contract: a published table's read schema is the
    frame's columns plus any ``partition_by`` columns (parquet
    partition columns reappear on read). The HIS pipeline's turno
    publish carries the derived ``fecha_mes`` as a stored column in
    addition to the DDL columns — ``date_format(fecha, 'yyyy-MM')``,
    the key the per-month reports group by — so strict-schema
    consumers should select the DDL columns explicitly (the in-repo
    gates do). The in-memory frames returned by ``run_pipeline`` keep
    the exact DDL schema.
    """
    token = uuid.uuid4().hex[:12]
    staging = os.path.join(root, f"_staging_{token}")
    partition_by = partition_by or {}
    paths = {name: os.path.join(staging, name) for name in tables}

    # Overlap the independent table writes (guide §2.6): each write's
    # task tail leaves executors idle, and the next table's jobs
    # back-fill them — Spark schedules concurrent jobs FIFO, which is
    # exactly that back-fill. 2 in flight is enough to cover tails
    # without the writes fighting for cores. A lazy pin shared by two
    # tables is completed by whichever write reaches it first; on a
    # multi-executor cluster both first writers can compute its last
    # stage (wasted work, not wrongness), so callers pin shared
    # upstreams eagerly, as run_pipeline does. On failure the first
    # write error cancels the queued writes, the running ones finish,
    # the staging dir is removed and the error propagates before the
    # pointer swap, so the previous publish stays visible.
    from concurrent.futures import ThreadPoolExecutor

    def _write(name: str) -> None:
        write_table(tables[name], paths[name], partition_by=partition_by.get(name))

    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [pool.submit(_write, name) for name in tables]
            try:
                for f in futures:
                    f.result()
            except BaseException:
                for f in futures:
                    f.cancel()  # queued-but-unstarted writes never run
                raise
    except BaseException:
        # the pool's exit waited for the running writes
        shutil.rmtree(staging, ignore_errors=True)
        raise
    _swap_pointer(
        root, json.dumps({"staging": staging, "tables": paths}), token
    )
    return staging


def prune_old_publishes(root: str, keep: int = 2) -> list[str]:
    """Remove all but the newest ``keep`` staging dirs (never the
    current one). Returns the removed paths.

    Old publishes are what make the pointer swap safe (readers mid-scan
    on the previous publish keep working), so retention is explicit and
    conservative — prune only after downstream consumers have moved on.
    """
    current = resolve_current(root)
    # A staging dir is live if it IS the current publish or if any
    # table in the current manifest still points into it (possible
    # after metadata-only compaction carries tables forward).
    live = {current} if current else set()
    for entry in (resolve_manifest(root) or {}).values():
        for path in _as_paths(entry):
            live.add(os.path.dirname(path))
    stagings = sorted(
        (
            os.path.join(root, d)
            for d in os.listdir(root)
            if d.startswith("_staging_")
        ),
        key=os.path.getmtime,
        reverse=True,
    )
    removed = []
    kept = 0
    for path in stagings:
        if path in live or kept < keep:
            kept += 1
            continue
        shutil.rmtree(path, ignore_errors=True)
        removed.append(path)
    # drop snapshot manifests whose own staging dir is gone — those
    # snapshots are no longer readable (the VACUUM horizon)
    for m in list_publishes(root):
        if m["staging"] in removed:
            os.remove(os.path.join(root, f"_manifest_{m['token']}.json"))
    return removed


def resolve_current(root: str) -> str | None:
    """Return the newest publish's staging dir, or None if never
    published (manifest pointers report their ``staging`` field)."""
    ptr = os.path.join(root, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="utf-8") as fh:
        content = fh.read().strip()
    if content.startswith("{"):
        return json.loads(content)["staging"]
    return content


def _as_paths(entry: str | list[str]) -> list[str]:
    """A manifest table entry is one path (overwrite publish) or a list
    of part paths (streaming appends)."""
    return entry if isinstance(entry, list) else [entry]


def read_published(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read table ``name`` from the current publish (via the manifest,
    so a table may live in an older staging dir than the pointer's)."""
    tables = resolve_manifest(root)
    if tables is None:
        raise FileNotFoundError(f"no publish under {root}")
    if name not in tables:
        raise FileNotFoundError(f"table {name!r} not in current publish")
    return spark.read.parquet(*_as_paths(tables[name]))


def resolve_meta(root: str) -> dict:
    """Engine metadata carried in the current manifest (e.g. the
    last-published streaming epoch per table); {} if none."""
    ptr = os.path.join(root, _POINTER)
    if not os.path.exists(ptr):
        return {}
    with open(ptr, encoding="utf-8") as fh:
        content = fh.read().strip()
    if content.startswith("{"):
        return json.loads(content).get("meta", {})
    return {}


def publish_append_atomic(
    batch_df: DataFrame,
    root: str,
    table: str,
    *,
    epoch_id: int | None = None,
) -> str | None:
    """Append one batch to ``table`` as a new part — metadata-only for
    everything already published.

    Only the batch's own rows are written; the new manifest lists the
    previous parts plus the new one, so N appended batches cost O(N)
    total write volume (not the O(N²) of read-union-rewrite).
    ``compact_published`` folds the parts back into few files.

    ``epoch_id`` makes replays idempotent: foreachBatch is
    at-least-once (a crash after commit but before the checkpoint
    advances re-delivers the batch), so the manifest records the last
    epoch published per table and a batch at-or-below it is skipped
    (returns None). This is the same manifest-as-commit-log trick
    Delta's ``txnAppId``/``txnVersion`` idempotent writes use.
    """
    tables = resolve_manifest(root) or {}
    meta = resolve_meta(root)
    epochs = dict(meta.get("epochs", {}))
    if epoch_id is not None and epochs.get(table, -1) >= epoch_id:
        return None
    token = uuid.uuid4().hex[:12]
    staging = os.path.join(root, f"_staging_{token}")
    part = os.path.join(staging, table)
    write_table(batch_df, part)
    new_tables = dict(tables)
    new_tables[table] = _as_paths(tables[table]) + [part] if table in tables else [part]
    if epoch_id is not None:
        epochs[table] = epoch_id
        meta = {**meta, "epochs": epochs}
    _swap_pointer(
        root,
        json.dumps({"staging": staging, "tables": new_tables, "meta": meta}),
        token,
    )
    return part


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if not f.startswith("_") and not f.startswith(".")
    )


def compact_published(
    spark: SparkSession,
    root: str,
    name: str,
    *,
    target_bytes: int = 128 << 20,
    partition_by: list[str] | None = None,
) -> str:
    """Rewrite one published table into ~``target_bytes`` files; all
    other tables carry over metadata-only.

    Streaming appends (streaming/events.stream_to_published) and
    frequent small republished batches accumulate small files — the
    classic scan-killer at 100 TB (every file is an open + a footer
    read + a task). Compaction reads the current table, coalesces to
    ceil(bytes/target) output files, writes them as a NEW staging dir,
    and publishes a manifest whose other tables still point at their
    existing files. Readers mid-scan keep their snapshot; the pointer
    swap is the only commit point; a crash leaves the old publish
    intact. Retention (prune_old_publishes) never removes a staging dir
    the current manifest still references.
    """
    tables = resolve_manifest(root)
    if tables is None or name not in tables:
        raise FileNotFoundError(f"table {name!r} not in current publish")
    src = _as_paths(tables[name])
    n_files = max(1, math.ceil(sum(_dir_bytes(p) for p in src) / target_bytes))
    token = uuid.uuid4().hex[:12]
    staging = os.path.join(root, f"_staging_{token}")
    dst = os.path.join(staging, name)
    df = spark.read.parquet(*src)
    if partition_by:
        # files-per-partition is governed by the shuffle; repartition
        # on the partition columns so each output dir gets few files
        df = df.repartition(n_files, *partition_by)
    else:
        df = df.coalesce(n_files)
    write_table(df, dst, partition_by=partition_by)
    new_tables = dict(tables)
    new_tables[name] = dst
    _swap_pointer(
        root,
        json.dumps(
            {"staging": staging, "tables": new_tables, "meta": resolve_meta(root)}
        ),
        token,
    )
    return dst
