"""Dump .explain('formatted') for every bench-pipeline stage plan.

Usage: python scripts/plan_dump_r06.py <repo_path> <out_dir> [suffix]

Imports qendpoint_spark from <repo_path> (so the round-start tree can
be dumped from a git worktree for the _before files), runs the mini
pipeline at sf0.001, and writes <out_dir>/<stage>_<suffix>.txt. The
judge reads these to check plan-shape claims (Exchange counts, join
strategies, ReusedExchange) without running Spark.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

repo = sys.argv[1]
out_dir = sys.argv[2]
suffix = sys.argv[3] if len(sys.argv) > 3 else "after"
sys.path.insert(0, repo)

from pyspark.sql import functions as F  # noqa: E402

from qendpoint_spark.catalog import Catalog  # noqa: E402
from qendpoint_spark.dictionary import build_dictionary  # noqa: E402
from qendpoint_spark.encoding import (  # noqa: E402
    build_header,
    encode_triples,
    object_index,
    ops_table,
    predicate_index,
    spo_table,
    with_datatype,
)
from qendpoint_spark.extraction import (  # noqa: E402
    extract_triples_from_documents,
)
from qendpoint_spark.session import get_spark  # noqa: E402

os.makedirs(out_dir, exist_ok=True)
spark = get_spark("plan-dump", cores=8)


def dump(name: str, df) -> None:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
        f.write(plan)
    print("dumped", name)


docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
wh = tempfile.mkdtemp(prefix="qs_plandump_")
try:
    catalog = Catalog(spark, wh)
    tri_plan = extract_triples_from_documents(docs)
    dump("triples_str", tri_plan)
    catalog.write_stage("triples_str", tri_plan, "pd")
    triples_str = catalog.read("triples_str")

    try:
        dict_plan = build_dictionary(triples_str, num_partitions=8, eager=False)
    except TypeError:  # round-start signature has no eager kwarg
        dict_plan = build_dictionary(triples_str, num_partitions=8)
    dump("dict_terms", with_datatype(dict_plan))
    catalog.write_stage(
        "dict_terms", with_datatype(dict_plan), "pd",
        partition_by=["section", "datatype"],
    )
    if hasattr(dict_plan, "_zwr_release"):
        dict_plan._zwr_release()
    dict_terms = catalog.read("dict_terms")

    enc = encode_triples(triples_str, dict_terms, assume_distinct=True)
    dump("triples_spo", spo_table(enc, num_partitions=8))
    res = catalog.write_stage(
        "triples_spo", spo_table(enc, num_partitions=8), "pd",
        sort_cols=["s", "p", "o"],
    )
    triples_spo = catalog.read("triples_spo")
    dump("triples_ops", ops_table(triples_spo, num_partitions=8))
    dump("predicate_index", predicate_index(triples_spo))
    dump("object_index", object_index(triples_spo))
    try:
        hdr = build_header(triples_str, dict_terms, triples_spo,
                           n_triples=res.rows)
    except TypeError:  # round-start signature has no n_triples kwarg
        hdr = build_header(triples_str, dict_terms, triples_spo)
    dump("header", hdr)
finally:
    shutil.rmtree(wh, ignore_errors=True)
    spark.stop()
