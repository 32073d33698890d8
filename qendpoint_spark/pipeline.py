"""End-to-end KG-construction pipeline with checkpointed, resumable stages.

Stage graph (SURVEY.md §7.1; each stage = one committed table + lineage):

  extract     pages/documents -> triples_str(s,p,o)
  dictionary  triples_str -> dict_terms(term, section, sec_rank, id)
  encode      triples_str x dict -> triples_spo (SPO-sorted, unique)
  ops         triples_spo -> triples_ops (OPS-sorted)
  pso         triples_spo -> triples_pso (PSO-sorted, optional)
  stats       predicate/object index tables + header

Publish: every warehouse table leaves through the same private helpers
(`_publish_dictionary`, `_publish_spo`, `_publish_derived`, composed
by `_publish_merge`), whether a build, an incremental merge or
scripts/hdtcat.py produced it — one layout, like the reference's single
HDT sink (HDTBase.saveToHDT). A
merge (`incremental_update*`) republishes dict_terms, triples_spo and
every derived table the catalog holds (triples_ops, triples_pso,
predicate_index, object_index, header); it refuses warehouses that
publish quads_spog. triples_str, linked_mentions and triples_canon stay
checkpoints of the base run.

Resume: each stage records its input fingerprint; `Catalog.resume`
alone decides whether a rerun with an unchanged input reads the
committed table instead — mirroring the reference's persisted restart
step (MergeRunnable.java:495-519) and CatTree chunk checkpoints.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qendpoint_spark.catalog import Catalog, StageResult
from qendpoint_spark.dictionary import build_dictionary
from qendpoint_spark.encoding import (
    build_header,
    decode_triples,
    encode_triples,
    object_index,
    ops_table,
    predicate_index,
    pso_table,
    spo_table,
    with_datatype,
)
from qendpoint_spark.extraction import (
    extract_triples_from_documents,
    extract_triples_from_pages,
)

# tables derived from the published triples_spo, in publish order
_DERIVED_TABLES = (
    "triples_ops", "triples_pso", "predicate_index", "object_index", "header",
)


@dataclass
class PipelineReport:
    stages: list[StageResult] = field(default_factory=list)
    n_triples: int = 0
    wall_s: float = 0.0

    def stage(self, name: str) -> StageResult:
        return next(s for s in self.stages if s.name == name)


def _fingerprint(*parts: str) -> str:
    return hashlib.sha256("||".join(parts).encode()).hexdigest()[:16]


def _publish_dictionary(
    catalog: Catalog, dict_terms: DataFrame, fp: str
) -> StageResult:
    # MSD physical layout (MultipleSectionDictionary.java:51-60): one
    # partition directory per (section, datatype) — the object sections
    # split per literal datatype exactly as the reference's typed
    # subsections, so a datatype- or section-scoped read is file-pruned
    # (PartitionFilters, asserted in tests/test_plans.py).
    # File-count note (measured r06): the rank's (sec_key, term) range
    # partitioning already lands ~1 directory per task (the dominant S
    # section has a single NULL-datatype dir), so the dynamic-partition
    # write emits only ~76 files — an extra (section, datatype, term)
    # re-range was tried and cost more than it saved.
    return catalog.write_stage(
        "dict_terms",
        with_datatype(dict_terms),
        fp,
        partition_by=["section", "datatype"],
    )


def _publish_spo(
    catalog: Catalog, triples: DataFrame, fp: str, num_partitions: int | None
) -> StageResult:
    return catalog.write_stage(
        "triples_spo",
        spo_table(triples, num_partitions=num_partitions),
        fp,
        sort_cols=["s", "p", "o"],
    )


def _publish_derived(
    catalog: Catalog,
    report: PipelineReport,
    fps: dict[str, str],
    num_partitions: int | None,
    header_source: Callable[[DataFrame], DataFrame] | None,
    force: bool,
) -> None:
    """Publish the _DERIVED_TABLES named in `fps` (table -> input
    fingerprint) from the committed triples_spo, in _DERIVED_TABLES
    order. Unless `force`, a table whose fingerprint already committed
    resumes. header_source maps the published SPO to the string triples
    the header counts (required when `fps` names the header)."""
    # one persist serves every consumer (OPS re-sort's sample + shuffle
    # passes, optional PSO, both stats aggregates, header count) —
    # 5-6 parquet re-decodes otherwise; released even on a failed write
    triples_spo = catalog.read("triples_spo").persist()
    # lambdas look the layer functions up in this module's globals at
    # call time, so wrappers installed on those names see every call
    layouts = {
        "triples_ops": (
            lambda: ops_table(triples_spo, num_partitions=num_partitions),
            ["o", "p", "s"],
        ),
        "triples_pso": (
            lambda: pso_table(triples_spo, num_partitions=num_partitions),
            ["p", "s", "o"],
        ),
        "predicate_index": (lambda: predicate_index(triples_spo), None),
        "object_index": (lambda: object_index(triples_spo), None),
        "header": (
            lambda: build_header(
                header_source(triples_spo), catalog.read("dict_terms"),
                triples_spo, n_triples=report.n_triples,
            ),
            None,
        ),
    }
    try:
        for name in _DERIVED_TABLES:
            if name not in fps:
                continue
            res = None if force else catalog.resume(name, fps[name])
            if res is None:
                table, sort_cols = layouts[name]
                res = catalog.write_stage(
                    name, table(), fps[name], sort_cols=sort_cols
                )
            report.stages.append(res)
    finally:
        triples_spo.unpersist()


def _publish_merge(
    catalog: Catalog,
    merged_dict: DataFrame,
    merged_triples: DataFrame,
    fp: str,
    derived: list[str],
    num_partitions: int | None,
    header_source: Callable[[DataFrame], DataFrame] | None = None,
) -> PipelineReport:
    """Publish a merge result — dict_terms, triples_spo, then the
    `derived` tables — replacing whatever the catalog held, all under
    one fingerprint."""
    report = PipelineReport()
    report.stages.append(_publish_dictionary(catalog, merged_dict, fp))
    res = _publish_spo(catalog, merged_triples, fp, num_partitions)
    report.stages.append(res)
    report.n_triples = res.rows
    _publish_derived(
        catalog, report, dict.fromkeys(derived, fp), num_partitions,
        header_source=header_source, force=True,
    )
    return report


def run_pipeline(
    spark: SparkSession,
    catalog: Catalog,
    source_df: DataFrame | None = None,
    source_kind: str = "documents",
    source_fingerprint: str = "",
    num_partitions: int | None = None,
    with_stats: bool = True,
    with_pso: bool = False,
    force: bool = False,
    alias_dict: DataFrame | None = None,
    sameas: DataFrame | None = None,
) -> PipelineReport:
    """Run extract [-> link] [-> canonicalize] -> dictionary -> encode
    -> ops (-> pso) (-> stats).

    source_df: the pages or documents DataFrame. source_fingerprint
    should identify the input snapshot (path + row count, config...);
    stages resume when it is unchanged, unless `force`.

    alias_dict(alias, entity_iri, prior[, block_key]): when given, the
    `linked_mentions` stage scores every mention (the ent/<alias>
    objects emitted by extraction) against it — broadcast join +
    deterministic top-1 (north_star EL stage).

    sameas(iri_a, iri_b): when given, the `triples_canon` stage rewrites
    subjects/objects through large-star/small-star connected components
    and all downstream stages consume the canonical triples.
    """
    t_start = time.time()
    report = PipelineReport()
    fp0 = _fingerprint(source_kind, source_fingerprint)

    def resume(name: str, fp: str) -> StageResult | None:
        return None if force else catalog.resume(name, fp)

    # S1 extract ----------------------------------------------------------
    # source_kind="triples": source_df already IS triples_str(s,p,o) —
    # the rdf2hdt path, where parsing (sources.read_rdf_source) replaces
    # extraction and the rest of the pipeline is unchanged.
    res = resume("triples_str", fp0)
    if res is None:
        if source_kind == "triples":
            # parsed RDF may repeat statements (HDT stores a set; the
            # reference dedups in its triple sort) — unlike extraction,
            # which emits distinct by construction. Quad input dedups
            # on the full (s,p,o,g) statement key.
            extractor = lambda df: df.dropDuplicates(  # noqa: E731
                ["s", "p", "o"] + (["g"] if "g" in df.columns else [])
            )
        elif source_kind == "documents":
            extractor = extract_triples_from_documents
        else:
            extractor = extract_triples_from_pages
        res = catalog.write_stage("triples_str", extractor(source_df), fp0)
    report.stages.append(res)
    triples_str = catalog.read("triples_str")

    # S1b entity linking (optional artifact stage) --------------------------
    if alias_dict is not None:
        from qendpoint_spark.extraction.triples import BASE, P_MENTIONS
        from qendpoint_spark.linking import link_mentions

        fp_l = _fingerprint(fp0, "link", str(res.rows))
        res_l = resume("linked_mentions", fp_l)
        if res_l is None:
            prefix_len = len(BASE + "ent/")
            mentions = (
                triples_str.filter(F.col("p") == P_MENTIONS)
                .select(
                    F.col("s").alias("doc_iri"),
                    F.col("o").substr(F.lit(prefix_len + 1), F.length("o")).alias("alias"),
                )
            )
            linked = link_mentions(mentions, alias_dict, broadcast_dict=True)
            res_l = catalog.write_stage("linked_mentions", linked, fp_l)
        report.stages.append(res_l)

    # S1c canonicalization (optional; downstream consumes the rewrite) ------
    if sameas is not None:
        from qendpoint_spark.linking import canonicalize_triples

        fp_c = _fingerprint(fp0, "canon", str(res.rows))
        res = resume("triples_canon", fp_c)
        if res is None:
            canon = canonicalize_triples(triples_str, sameas)
            res = catalog.write_stage("triples_canon", canon, fp_c)
        report.stages.append(res)
        triples_str = catalog.read("triples_canon")

    # S2 dictionary ---------------------------------------------------------
    fp1 = _fingerprint(fp0, "dict", str(res.rows))
    res = resume("dict_terms", fp1)
    if res is None:
        # eager=False: the parquet write below is the single consumer, so
        # the rank's localCheckpoint (a full extra materialize+rescan of
        # the term table) is skipped; the write streams straight off the
        # persisted range partitioning, released right after.
        dict_terms = build_dictionary(
            triples_str, num_partitions=num_partitions, eager=False
        )
        try:
            res = _publish_dictionary(catalog, dict_terms, fp1)
        finally:
            # release the rank's cached range partitioning even on a
            # failed write — long-lived sessions must not leak blocks
            dict_terms._zwr_release()
    report.stages.append(res)
    dict_terms = catalog.read("dict_terms")

    # S3 encode + SPO materialize -----------------------------------------
    # quad input (a `g` column): the full (s,p,o,g) encode is published
    # as quads_spog — GRAPH/FROM queries read it (sparql.algebra) — and
    # the triple tables carry the graph-projected statements, so every
    # triple-shaped stage (OPS/PSO/stats/header) is unchanged
    fp2 = _fingerprint(fp1, "encode", str(res.rows))
    res = resume("triples_spo", fp2)
    if res is None:
        # the extraction stage emits distinct triples by construction
        enc = encode_triples(triples_str, dict_terms, assume_distinct=True)
        if "g" in triples_str.columns:
            catalog.write_stage(
                "quads_spog",
                enc.repartition(
                    *([num_partitions] if num_partitions else []), "g"
                ).sortWithinPartitions("g", "s", "p", "o"),
                fp2,
            )
            enc = enc.drop("g").dropDuplicates(["s", "p", "o"])
        # spo_table's repartitionByRange runs a boundary-SAMPLING pass
        # that fully recomputes its narrow child — without this persist
        # the whole encode (string scan + two hash joins) executes TWICE
        # per write (guide §2.4: don't compute things you throw away).
        # The cache is ~3 longs/row, populated by the sample pass itself.
        enc = enc.persist()
        try:
            res = _publish_spo(catalog, enc, fp2, num_partitions)
        finally:
            enc.unpersist()
    report.stages.append(res)
    report.n_triples = res.rows

    # S4 OPS (+ PSO) (+ stats + header) -----------------------------------
    fp3 = _fingerprint(fp2, "ops", str(res.rows))
    fps = {"triples_ops": fp3}
    if with_pso:
        fps["triples_pso"] = _fingerprint(fp2, "pso", str(res.rows))
    if with_stats:
        fps.update(
            dict.fromkeys(
                ("predicate_index", "object_index", "header"),
                _fingerprint(fp3, "stats"),
            )
        )
    _publish_derived(
        catalog, report, fps, num_partitions,
        header_source=lambda _spo: triples_str, force=force,
    )
    report.wall_s = time.time() - t_start
    return report


def incremental_update(
    spark: SparkSession,
    catalog: Catalog,
    new_docs: DataFrame,
    source_kind: str = "documents",
    batch_fingerprint: str = "",
    num_partitions: int | None = None,
) -> PipelineReport:
    """KCat-style compaction of a new document batch into the PUBLISHED
    tables — the reference's CatTree incremental generation (§2D,
    CatTreeImpl.doGenerationSync: build a chunk HDT, then cat it with
    the accumulated one). The batch is extracted + dictionary-encoded
    in its OWN ID space, merged with the published dataset through the
    KCat id-remap path (merge/kcat.py: merged dictionary from the term
    tables, integer remap joins for the triples), and dict_terms,
    triples_spo and EVERY derived table the catalog holds (triples_ops,
    triples_pso, predicate_index, object_index, header) are
    republished — a merge that left stats describing the pre-merge
    dataset would silently mis-plan every subsequent ?P? scan.
    triples_str, linked_mentions and triples_canon stay checkpoints of
    the base run. A warehouse holding quads_spog is refused with
    ValueError: the merge re-numbers dict_terms but cannot republish the
    quad table. Identity proven in tests:
    pipeline(A) + incremental_update(B) == pipeline(A ∪ B).
    """
    extractor = (
        extract_triples_from_documents
        if source_kind == "documents"
        else extract_triples_from_pages
    )
    return incremental_update_triples(
        spark,
        catalog,
        extractor(new_docs),
        batch_fingerprint=_fingerprint(
            "incremental", source_kind, batch_fingerprint
        ),
        num_partitions=num_partitions,
    )


def incremental_update_triples(
    spark: SparkSession,
    catalog: Catalog,
    new_tri: DataFrame,
    batch_fingerprint: str = "",
    num_partitions: int | None = None,
) -> PipelineReport:
    """incremental_update for a PRE-EXTRACTED string-triple batch —
    the entry point the streaming ingest-compact path uses (staging
    generations are already triples; CatTreeImpl merges chunk HDTs the
    same way without re-parsing the source). new_tri must be distinct
    on (s,p,o) — streaming.compact_staging guarantees it; overlap with
    the PUBLISHED data is fine (the merge is a set union). Republishes
    and refuses exactly the tables incremental_update names."""
    from qendpoint_spark.merge import (
        MAX_DELTA_TERMS,
        merge_datasets,
        merge_incremental,
    )

    if os.path.exists(catalog.table_path("quads_spog")):
        raise ValueError(
            "incremental update of a quad warehouse: the merge re-numbers "
            "dict_terms but cannot republish quads_spog; rebuild it with "
            "run_pipeline instead"
        )
    t_start = time.time()
    new_dict = build_dictionary(new_tri, num_partitions=num_partitions)
    new_enc = encode_triples(new_tri, new_dict, assume_distinct=True)
    base = (catalog.read("triples_spo"), catalog.read("dict_terms"))
    # strategy: a SMALL batch (the CatTree compaction norm) goes through
    # the delta-proportional breakpoint merge — shuffle ∝ |batch|; a
    # large batch falls back to the general k-way int-remap merge
    # (outputs are identical; property-tested in test_incremental_cat)
    if new_dict.count() <= MAX_DELTA_TERMS:
        merged_dict, merged_triples = merge_incremental(
            base, (new_enc, new_dict)
        )
    else:
        merged_dict, merged_triples, _ = merge_datasets(
            [base, (new_enc, new_dict)], num_partitions=num_partitions
        )
    # The merged plans lazily read the CURRENT published tables, which
    # the republish below overwrites — materialize both first. (A
    # versioned table format — Iceberg snapshots — would let the new
    # version be written while readers pin the old one; the os.rename
    # Catalog has no snapshots, so the cut is explicit here.)
    merged_dict = merged_dict.localCheckpoint(eager=True)
    merged_triples = merged_triples.localCheckpoint(eager=True)
    report = _publish_merge(
        catalog,
        merged_dict,
        merged_triples,
        batch_fingerprint or _fingerprint("incremental", "triples"),
        [n for n in _DERIVED_TABLES if os.path.exists(catalog.table_path(n))],
        num_partitions,
        header_source=lambda spo: decode_triples(spo, catalog.read("dict_terms")),
    )
    report.wall_s = time.time() - t_start
    return report
