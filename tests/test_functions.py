"""Unit tests for scalar functions (SURVEY.md §2.7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_his_spark.functions.text import (
    limpiar_nombres,
    nonempty,
    primer_nombre,
    token_count,
    usuario_nombre_concat,
)
from etl_his_spark.functions.gender import inferir_sexo


def _one_col(spark, values):
    return spark.createDataFrame([(v,) for v in values], "v string")


def test_limpiar_nombres_semantics(spark):
    df = _one_col(
        spark,
        ["  maría  josé  ", "juan", None, "", "  A   B\tC  ", "ñandú güemes"],
    )
    got = [r[0] for r in df.select(limpiar_nombres("v")).collect()]
    assert got == ["MARÍA JOSÉ", "JUAN", None, "", "A B C", "ÑANDÚ GÜEMES"]


def test_limpiar_nombres_idempotent(spark):
    df = _one_col(spark, ["  x  Y  z ", "ÁÉ  í", None])
    once = df.select(limpiar_nombres("v").alias("v"))
    twice = once.select(limpiar_nombres("v").alias("v"))
    assert once.collect() == twice.collect()


def test_primer_nombre(spark):
    df = _one_col(spark, ["MARIA JOSE LOPEZ", "JUAN", None, ""])
    got = [r[0] for r in df.select(primer_nombre("v")).collect()]
    assert got == ["MARIA", "JUAN", None, ""]


def test_nonempty_filter(spark):
    df = _one_col(spark, ["x", "", "   ", None, "0", " y "])
    got = [r[0] for r in df.filter(nonempty("v")).collect()]
    # NB: '0' is kept — the PHP !empty() falsy-'0' edge is deliberately
    # not reproduced (SURVEY.md §7.3).
    assert got == ["x", "0", " y "]


def test_concat_null_propagates(spark):
    df = spark.createDataFrame(
        [("Ana", "Diaz"), ("Luis", None), (None, "Perez")], "a string, b string"
    )
    got = [r[0] for r in df.select(usuario_nombre_concat("a", "b")).collect()]
    assert got == ["Ana Diaz", None, None]


def test_token_count(spark):
    df = _one_col(spark, ["one two  three", "", None, " x "])
    got = [r[0] for r in df.select(token_count("v")).collect()]
    assert got == [3, 0, 0, 1]


def test_inferir_sexo_lookup(spark):
    df = spark.createDataFrame(
        [("MARIA",), ("JUAN",), ("ZZZNOPE",), (None,)], "primer string"
    )
    out = inferir_sexo(df, "primer")
    got = {r["primer"]: r["sexo_inferido"] for r in out.collect()}
    assert got["MARIA"] == "Female"
    assert got["JUAN"] == "Male"
    assert got["ZZZNOPE"] is None
    assert got[None] is None


def test_winnow_fingerprints_shared_substring_guarantee(spark):
    """Winnowing's core property: documents sharing a normalized run of
    length >= k + w - 1 (= 11 here) share at least one fingerprint;
    disjoint-content docs share none."""
    from etl_his_spark.functions.text import winnow_hashes, winnow_select
    from pyspark.sql import functions as F

    shared = "a very distinctive plagiarized passage indeed"
    rows = [
        (1, "first document prefix " + shared + " first suffix text"),
        (2, "totally different opener " + shared + " other ending here"),
        (3, "nothing in common with either of the others at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = (
        df.select("doc_id", winnow_hashes("text").alias("hs"))
        .select("doc_id", F.explode(winnow_select("hs")).alias("fp"))
        .collect()
    )
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]          # shared passage -> shared fp
    assert not (by_doc[1] & by_doc[3])    # disjoint content -> none
    assert not (by_doc[2] & by_doc[3])


def test_winnow_fingerprints_degenerate_docs(spark):
    """Sub-k, empty, and NULL texts yield NO fingerprints (Spark's
    sequence(1,0) walks backwards — without the WHEN guard a 3-char doc
    would fabricate sub-k grams and a NULL text a NULL fingerprint,
    diverging from the oracle's empty range)."""
    from etl_his_spark.functions.text import winnow_hashes, winnow_select
    from pyspark.sql import functions as F

    rows = [(1, "abc"), (2, ""), (3, None), (4, "exactly8"),
            (5, "this one is comfortably longer than any window")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        df.select("doc_id", winnow_hashes("text").alias("hs"))
        .select("doc_id", F.explode(winnow_select("hs")).alias("fp"))
        .collect()
    )
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["fp"])
    assert 1 not in by_doc and 2 not in by_doc and 3 not in by_doc
    assert len(by_doc[4]) == 1          # single gram -> single fp
    assert all(fp is not None for fps in by_doc.values() for fp in fps)


def test_rules_match_their_oracle_sql(spark, duck):
    """``word_tokens`` and ``cents`` give what the oracles' own SQL gives
    on edge values: leading, trailing and repeated spaces, ``''``, a
    tab and NULL for the tokenizer; half-cent ties of both signs, a
    product that lands just below a tie, 1e12 and NULL for cents."""
    from etl_his_spark.functions.money import cents
    from etl_his_spark.functions.text import word_tokens

    texts = [" lead", "trail ", "a   b", "  a b  ", "", "   ", "\t",
             "a\tb", " \t ", None]
    amounts = [0.125, -0.125, 2.675, 1.005, 1e12, None]
    cases = [
        (texts, "string", word_tokens,
         "list_filter(string_split(trim(CAST(? AS VARCHAR)), ' '),"
         " t -> t <> '')"),
        (amounts, "double", cents,
         "CAST(ROUND(CAST(? AS DOUBLE) * 100) AS BIGINT)"),
    ]
    for values, dtype, rule, oracle_sql in cases:
        df = spark.createDataFrame(
            list(enumerate(values)), f"i int, v {dtype}"
        )
        got = [r[0] for r in df.orderBy("i").select(rule("v")).collect()]
        want = [
            duck.execute(f"SELECT {oracle_sql}", [v]).fetchone()[0]
            for v in values
        ]
        assert got == want, (rule.__name__, values, got, want)
