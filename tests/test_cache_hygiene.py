"""Cache-hygiene regression: operators that materialize intermediates
must not leave CacheManager residue behind.

persist() on a DataFrame registers the plan in the session-wide
CacheManager and stays there until someone calls unpersist() — in a
long-lived session every operator call would pin another copy of its
input. The repo's rule (SCALE.md "localCheckpoint discipline") is a
localCheckpoint instead, whose blocks are reclaimed with the frame.
This test calls every formerly-leaking operator and asserts the
CacheManager is empty afterwards. The last seven tests are ``ast``
scans of ``etl_his_spark/`` that give each construct one owner and
fail on any copy outside it: a ``localCheckpoint`` outside
``operators/pin.pin`` (the audits' hook), a ``writeStream`` outside
``streaming/events.run_available_now`` (the one stream run path), the
two rules the DuckDB oracles mirror, the corpus tokenizer outside
``functions/text.word_tokens`` and the cents rule outside
``functions/money.cents``, the two MinHash steps whose copies would
drift from their oracles, the band signature outside
``operators/dedup_approx.minhash_bands`` and the affine min-hash
outside ``operators/dedup_approx._minhash_mins``, and a written-out
same-key pair join outside ``operators/dedup_approx.bucket_pairs``.
"""

from __future__ import annotations

import ast
from pathlib import Path

import etl_his_spark
from etl_his_spark.operators.dedup_approx import (
    jaccard_pairs,
    jaccard_pairs_prefix,
    minhash_lsh_candidates,
    simhash_pairs,
)
from etl_his_spark.plans.his_pipeline import run_pipeline
from etl_his_spark.sources.readers import read_table
from tests.his_fixtures import his_tables


def _cache_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


def test_dedup_family_leaves_no_cache(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(200)
    jaccard_pairs(docs, 0.5).count()
    jaccard_pairs_prefix(docs, 0.5).count()
    minhash_lsh_candidates(docs).count()
    simhash_pairs(docs, 3).count()
    assert _cache_empty(spark)


def test_his_pipeline_leaves_no_cache(spark):
    tables = his_tables(spark)
    outputs = run_pipeline(tables)
    for df in outputs.values():
        df.count()
    assert _cache_empty(spark)


def _engine_sites(match, allowed_fn: tuple[str, str]) -> list[str]:
    """``path:line`` of every ast node in ``etl_his_spark/`` that
    ``match`` accepts, outside the one function ``allowed_fn`` =
    (module path, function name) that owns the construct."""
    pkg = Path(etl_his_spark.__file__).parent
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path == pkg / allowed_fn[0]:
            owner = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == allowed_fn[1]
            )
            allowed = {id(node) for node in ast.walk(owner)}
        sites += [
            f"{path.relative_to(pkg)}:{node.lineno}"
            for node in ast.walk(tree)
            if match(node) and id(node) not in allowed
        ]
    return sites


def _call_of(node, name: str) -> bool:
    """``node`` is a call of ``name`` (``F.name(...)``, ``x.name(...)``
    or ``name(...)``)."""
    return isinstance(node, ast.Call) and name in (
        getattr(node.func, "attr", None),
        getattr(node.func, "id", None),
    )


def _is_str(node, value: str) -> bool:
    return isinstance(node, ast.Constant) and node.value == value


def test_every_engine_pin_goes_through_pin():
    sites = _engine_sites(
        lambda node: isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint",
        ("operators/pin.py", "pin"),
    )
    assert sites == [], f"pin through operators.pin.pin: {sites}"


def test_every_engine_stream_runs_through_run_available_now():
    sites = _engine_sites(
        lambda node: isinstance(node, ast.Attribute)
        and node.attr == "writeStream",
        ("streaming/events.py", "run_available_now"),
    )
    assert sites == [], f"run streams through run_available_now: {sites}"


def _is_word_tokens_copy(node) -> bool:
    # filter(split(trim(<text>), " "), <lambda>); word_token_count's
    # regex split is a different rule and passes.
    if not (_call_of(node, "filter") and node.args):
        return False
    split = node.args[0]
    return (
        _call_of(split, "split")
        and len(split.args) >= 2
        and _call_of(split.args[0], "trim")
        and _is_str(split.args[1], " ")
    )


def _is_cents_copy(node) -> bool:
    # round(<x> * 100).cast("long")
    if not (
        _call_of(node, "cast")
        and isinstance(node.func, ast.Attribute)
        and node.args
        and _is_str(node.args[0], "long")
    ):
        return False
    rnd = node.func.value
    return (
        _call_of(rnd, "round")
        and len(rnd.args) == 1
        and isinstance(rnd.args[0], ast.BinOp)
        and isinstance(rnd.args[0].op, ast.Mult)
        and isinstance(rnd.args[0].right, ast.Constant)
        and rnd.args[0].right.value == 100
    )


def test_every_engine_tokenizer_is_word_tokens():
    sites = _engine_sites(
        _is_word_tokens_copy, ("functions/text.py", "word_tokens")
    )
    assert sites == [], f"tokenize through functions.text.word_tokens: {sites}"


def test_every_engine_cents_is_cents():
    sites = _engine_sites(_is_cents_copy, ("functions/money.py", "cents"))
    assert sites == [], f"build cents through functions.money.cents: {sites}"


def _is_band_sig_copy(node) -> bool:
    # md5(concat_ws(",", ...))
    return (
        _call_of(node, "md5")
        and bool(node.args)
        and _call_of(node.args[0], "concat_ws")
        and bool(node.args[0].args)
        and _is_str(node.args[0].args[0], ",")
    )


def _is_affine_minhash_copy(node) -> bool:
    # (<A[i]> * h30 + <B[i]>) % <MINHASH_P>, the prime bare or lit()-wrapped
    if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mod)):
        return False
    return any(
        isinstance(n, ast.Name) and n.id == "MINHASH_P"
        for n in ast.walk(node.right)
    )


def test_every_engine_band_signature_is_minhash_bands():
    sites = _engine_sites(
        _is_band_sig_copy, ("operators/dedup_approx.py", "minhash_bands")
    )
    assert sites == [], f"band through dedup_approx.minhash_bands: {sites}"


def test_every_engine_affine_minhash_is_minhash_mins():
    sites = _engine_sites(
        _is_affine_minhash_copy, ("operators/dedup_approx.py", "_minhash_mins")
    )
    assert sites == [], f"min-hash through dedup_approx._minhash_mins: {sites}"


_PROJECTIONS = ("select", "alias", "filter")


def _projected_frame(node, env: dict) -> str | None:
    """The local name that ``node`` projects: follow ``select`` /
    ``alias`` / ``filter`` calls down their receivers, and local names
    through their assignments, to the deepest name reached."""
    name = None
    while True:
        if isinstance(node, ast.Call) and getattr(
            node.func, "attr", None
        ) in _PROJECTIONS:
            node = node.func.value
        elif isinstance(node, ast.Name) and node.id != name:
            name = node.id
            if name not in env:
                return name
            node = env[name]
        else:
            return name


def _keyed_by_name(join: ast.Call) -> bool:
    on = join.args[1] if len(join.args) > 1 else next(
        (k.value for k in join.keywords if k.arg == "on"), None
    )
    keys = on.elts if isinstance(on, (ast.List, ast.Tuple)) else [on]
    return bool(keys) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in keys
    )


def _has_pair_join(node) -> bool:
    # A function holding x.join(y, "key" | ["key", ...]) where x and y
    # are select/alias/filter projections of one local frame.
    if not isinstance(node, ast.FunctionDef):
        return False
    env = {
        t.id: n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Assign)
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    for n in ast.walk(node):
        if not (
            _call_of(n, "join")
            and isinstance(n.func, ast.Attribute)
            and n.args
            and _keyed_by_name(n)
        ):
            continue
        left = _projected_frame(n.func.value, env)
        if left is not None and left == _projected_frame(n.args[0], env):
            return True
    return False


def test_every_engine_pair_join_is_bucket_pairs():
    sites = _engine_sites(
        _has_pair_join, ("operators/dedup_approx.py", "bucket_pairs")
    )
    assert sites == [], f"pair rows through dedup_approx.bucket_pairs: {sites}"
