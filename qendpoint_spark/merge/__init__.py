from qendpoint_spark.merge.kcat import (
    build_remap,
    diff_datasets,
    merge_datasets,
    remap_triples,
)
from qendpoint_spark.merge.incremental_cat import MAX_DELTA_TERMS, merge_incremental

__all__ = [
    "merge_datasets",
    "diff_datasets",
    "merge_incremental",
    "MAX_DELTA_TERMS",
    "build_remap",
    "remap_triples",
]
