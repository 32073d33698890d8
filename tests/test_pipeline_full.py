"""Full pipeline with optional linking + canonicalization stages."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from qendpoint_spark.catalog import Catalog
from qendpoint_spark.datagen import generate_pages, generate_sameas
from qendpoint_spark.encoding import decode_triples
from qendpoint_spark.linking import build_alias_dict
from qendpoint_spark.pipeline import incremental_update_triples, run_pipeline


def test_pipeline_with_link_and_canon(spark, tmp_path):
    pages = generate_pages(spark, 100, seed=3).cache()
    pages.count()
    alias = build_alias_dict(
        spark.createDataFrame(
            [
                Row(alias="shuffle", entity_iri="kb:Shuffle", prior=0.9),
                Row(alias="shuffle", entity_iri="kb:ShuffleDance", prior=0.1),
                Row(alias="partition", entity_iri="kb:Partition", prior=0.5),
            ]
        )
    )
    # sameas edges collapsing two entity IRIs the extractor emits
    sameas = spark.createDataFrame(
        [
            Row(
                iri_a="http://example.org/ent/shuffle",
                iri_b="http://example.org/ent/partition",
            )
        ]
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    rep = run_pipeline(
        spark, cat, source_df=pages, source_kind="pages",
        source_fingerprint="t100:3", num_partitions=4,
        alias_dict=alias, sameas=sameas,
    )
    names = [s.name for s in rep.stages]
    assert "linked_mentions" in names and "triples_canon" in names

    linked = cat.read("linked_mentions")
    got = {r.alias: r.entity_iri for r in linked.collect()}
    assert got.get("shuffle") == "kb:Shuffle"  # top-1 by prior
    assert got.get("partition") == "kb:Partition"

    # canonicalization collapsed partition -> shuffle (binary min IRI:
    # .../ent/partition < .../ent/shuffle, so partition is canonical)
    canon = cat.read("triples_canon")
    assert canon.filter(F.col("o") == "http://example.org/ent/shuffle").count() == 0
    assert canon.filter(F.col("o") == "http://example.org/ent/partition").count() > 0

    # downstream dictionary excludes the collapsed IRI
    d = cat.read("dict_terms")
    assert d.filter(F.col("term") == "http://example.org/ent/shuffle").count() == 0

    # resume with same fingerprint: all stages resumed
    rep2 = run_pipeline(
        spark, cat, source_df=pages, source_kind="pages",
        source_fingerprint="t100:3", num_partitions=4,
        alias_dict=alias, sameas=sameas,
    )
    assert all(s.resumed for s in rep2.stages)


def test_pipeline_empty_corpus(spark, tmp_path):
    """empty1.nt analog: a 0-row documents table must flow through
    every stage (extract -> dictionary -> encode -> indexes -> header)
    committing empty tables, not erroring."""
    from pyspark.sql import types as T

    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import run_pipeline

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    empty = spark.createDataFrame([], schema)
    cat = Catalog(spark, str(tmp_path / "wh"))
    report = run_pipeline(spark, cat, source_df=empty, source_kind="documents",
                          source_fingerprint="empty", num_partitions=2)
    assert report.n_triples == 0
    assert cat.read("dict_terms").count() == 0
    assert cat.read("triples_spo").count() == 0
    hdr = cat.read("header").collect()[0]
    assert hdr.n_triples == 0 and hdr.n_distinct_subjects == 0


def test_incremental_update_refuses_quad_warehouse(spark, tmp_path):
    """A merge re-numbers dict_terms but cannot republish quads_spog,
    after which GRAPH queries would decode the wrong terms — it must
    refuse before writing anything."""
    quads = spark.createDataFrame(
        [("a", "p", "b", "g1"), ("b", "p", "c", "g2")],
        "s string, p string, o string, g string",
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, cat, source_df=quads, source_kind="triples",
                 source_fingerprint="quads", num_partitions=2)
    lineage = cat.all_lineage()
    batch = spark.createDataFrame(
        [("0", "p", "aa")], "s string, p string, o string"
    )
    with pytest.raises(ValueError, match="quads_spog"):
        incremental_update_triples(spark, cat, batch,
                                   batch_fingerprint="batch", num_partitions=2)
    assert cat.all_lineage() == lineage
    got = decode_triples(cat.read("quads_spog"), cat.read("dict_terms"))
    assert sorted(tuple(r) for r in got.collect()) == [
        ("a", "p", "b", "g1"), ("b", "p", "c", "g2")
    ]


def _cached_rdds(spark) -> int:
    """Persistent RDDs other than localCheckpoints. Spark drops a
    localCheckpoint once nothing references it (the merge's own, even
    after a successful call, last until the next JVM GC); a persisted
    plan stays pinned by the CacheManager until unpersisted."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return sum(
        not rdds.get(k).rdd().isLocallyCheckpointed()
        for k in rdds.keySet().toArray()
    )


def test_incremental_update_failed_write_releases_cache(
    spark, tmp_path, monkeypatch
):
    """A derived-table write failing mid-republish must not leave the
    persisted SPO read-back cached in the session."""
    import qendpoint_spark.pipeline as pipeline

    tri = spark.createDataFrame(
        [("A", "p", "A"), ("S1", "p", "O1"), ("S1", "q", "O1")],
        "s string, p string, o string",
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, cat, source_df=tri, source_kind="triples",
                 source_fingerprint="base", num_partitions=2)
    before = _cached_rdds(spark)

    def fail(_spo):
        raise RuntimeError("predicate_index write failed")

    monkeypatch.setattr(pipeline, "predicate_index", fail)
    batch = spark.createDataFrame(
        [("X", "p", "Y")], "s string, p string, o string"
    )
    with pytest.raises(RuntimeError, match="predicate_index"):
        pipeline.incremental_update_triples(
            spark, cat, batch, batch_fingerprint="b", num_partitions=2
        )
    assert _cached_rdds(spark) == before
