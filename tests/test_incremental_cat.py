"""merge_incremental (delta-proportional KCat) — output parity with
merge_datasets / from-scratch rebuilds across migration, overlap and
namespace-collision shapes. The delta-proportional SHUFFLE property is
asserted separately in tests/test_plans.py."""

from __future__ import annotations

import random

from qendpoint_spark.dictionary import build_dictionary
from qendpoint_spark.encoding import encode_triples
from qendpoint_spark.merge import merge_datasets, merge_incremental


def _mk(spark, rows):
    df = spark.createDataFrame(rows, "s string, p string, o string").distinct()
    d = build_dictionary(df).localCheckpoint(eager=True)
    return encode_triples(df, d).localCheckpoint(eager=True), d


def _check(spark, a_rows, b_rows, label):
    a, b = _mk(spark, a_rows), _mk(spark, b_rows)
    md_i, mt_i = merge_incremental(a, b)
    md_g, mt_g, _ = merge_datasets([a, b])
    di = {tuple(r) for r in md_i.select("term", "section", "sec_rank", "id").collect()}
    dg = {tuple(r) for r in md_g.select("term", "section", "sec_rank", "id").collect()}
    assert di == dg, f"{label}: dict mismatch {sorted(di ^ dg)[:8]}"
    ti = sorted(tuple(r) for r in mt_i.collect())
    tg = sorted(tuple(r) for r in mt_g.collect())
    assert ti == tg, f"{label}: triples mismatch {set(ti) ^ set(tg)}"


def test_migrations_and_overlap(spark):
    # c: O->SH in base (B uses it as subject); d: S->SH; b,c overlap rows
    _check(
        spark,
        [("a", "p1", "b"), ("b", "p1", "c"), ("d", "p2", "a")],
        [("c", "p1", "d"), ("e", "p3", "b"), ("b", "p1", "c")],
        "migrations",
    )


def test_namespace_collisions(spark):
    # predicate string reused as a subject/object term and vice versa —
    # the independent P namespace must not leak into s/o migrations
    _check(
        spark,
        [("a", "p1", "b")],
        [("p1", "p1", "p1"), ("a", "b", "c")],
        "namespaces",
    )


def test_identity_and_disjoint(spark):
    _check(spark, [("a", "p", "b")], [("a", "p", "b")], "identical")
    _check(spark, [("a", "p", "b"), ("x", "q", "y")], [("zz", "zz", "zz")], "disjoint")


def test_randomized_small_vocab(spark):
    # small vocabulary forces dense overlaps + role migrations
    random.seed(13)
    vocab = [f"t{i:02d}" for i in range(16)]
    preds = [f"p{i}" for i in range(3)] + ["t05"]
    for trial in range(4):
        a_rows = [
            (random.choice(vocab), random.choice(preds), random.choice(vocab))
            for _ in range(random.randint(8, 40))
        ]
        b_rows = [
            (random.choice(vocab), random.choice(preds), random.choice(vocab))
            for _ in range(random.randint(1, 6))
        ]
        _check(spark, a_rows, b_rows, f"trial{trial}")


def test_quads_incremental(spark):
    def mkq(rows):
        df = spark.createDataFrame(
            rows, "s string, p string, o string, g string"
        ).distinct()
        d = build_dictionary(df).localCheckpoint(eager=True)
        return encode_triples(df, d).localCheckpoint(eager=True), d

    a = mkq([("a", "p", "b", "g1"), ("b", "p", "c", "g2")])
    b = mkq([("c", "p", "a", "g1"), ("a", "p", "b", "g3")])
    md_i, mt_i = merge_incremental(a, b)
    md_g, mt_g, _ = merge_datasets([a, b])
    assert {tuple(r) for r in md_i.collect()} == {tuple(r) for r in md_g.collect()}
    assert sorted(map(tuple, mt_i.collect())) == sorted(map(tuple, mt_g.collect()))


def test_delta_too_large_raises(spark, monkeypatch):
    from qendpoint_spark.merge import incremental_cat

    monkeypatch.setattr(incremental_cat, "MAX_DELTA_TERMS", 2)
    a = _mk(spark, [("a", "p", "b")])
    b = _mk(spark, [("c", "p", "d"), ("e", "p", "f")])
    try:
        merge_incremental(a, b)
    except ValueError as e:
        assert "max_delta_terms" in str(e)
    else:
        raise AssertionError("expected ValueError for oversized delta")
