"""Delta-proportional incremental merge (big base ⊕ small delta).

merge_datasets (merge/kcat.py) is the general k-way KCat: it re-ranks
the union of the input dictionaries, which range-shuffles the merged
TERM table — ∝ |terms(A∪B)|. For the CatTree compaction pattern
(reference CatTreeImpl.doGenerationSync: a huge accumulated HDT `A`
catted with a small chunk `B`, KCatImpl.java:370-420) that is still
too much: at 100 TB a 1 % delta must not shuffle anything proportional
to A.

Key observation: inserting |terms(B)| terms into A's sorted sections
changes every A id by a PIECEWISE-CONSTANT shift with at most
O(|terms(B)|) breakpoints, plus an exact exception set of at most
|terms(B)| migrated terms (an A subject-only term that B also uses as
an object jumps from the S section into SH — the same SH recomputation
KCatMerger does, KCatMerger.java:49-511). So:

1. collect B's dictionary + the ≤|B| matching A rows (broadcast join,
   map-side over A);
2. ONE map-side pass over A's term table counts, per section, how many
   A terms precede each inserted term (vectorized np.searchsorted
   bucketing + a groupBy whose output is ≤|ins| rows);
3. the driver computes, per ID space, a breakpoint array + exception
   map — KCat's SyncSeq old->new arrays, compressed to the delta;
4. A's triples and A's dictionary are rewritten MAP-SIDE ONLY
   (Arrow-vectorized searchsorted over the broadcast breakpoints);
   B's triples remap through an ordinary ≤|B|-row broadcast join;
5. merged = (A' anti-join broadcast B') ∪ B' — the set identity
   (A \\ B) ∪ B = A ∪ B with the SMALL side broadcast, so the base
   never shuffles for the dedup either.

Total shuffle bytes ∝ |B| (asserted in tests/test_plans.py); every
pass over A is narrow. Output is bit-identical to merge_datasets /
a from-scratch rebuild (property-tested).

Ordering note: ranks compare Python/numpy unicode strings; Spark
compares UTF-8 bytes. UTF-8 is order-preserving over code points, so
the two agree for all valid unicode — the same invariant the PFC
section order already relies on (CompactString.java:104-106).
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# largest delta dictionary merge_incremental accepts: its breakpoint
# arrays live on the driver and in every executor's broadcast
MAX_DELTA_TERMS = 2_000_000

_ROLES = {"SH": frozenset("so"), "S": frozenset("s"), "O": frozenset("o")}
_SEC_OF = {frozenset("so"): "SH", frozenset("s"): "S", frozenset("o"): "O"}


def _ns_of(section: str) -> str:
    return {"P": "p", "G": "g"}.get(section, "so")


class _StepFn:
    """new = old + Σ deltas whose threshold < old, then exceptions.
    The driver-side compression of a KCat SyncSeq remap array."""

    def __init__(self):
        self.events: dict[int, int] = defaultdict(int)
        self.exceptions: dict[int, int] = {}

    def add(self, threshold: int, delta: int) -> None:
        self.events[threshold] += delta

    def freeze(self) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        thr = np.array(sorted(self.events), dtype="int64")
        cum = np.concatenate(
            [[0], np.cumsum([self.events[t] for t in thr], dtype="int64")]
        )
        exc_k = np.array(sorted(self.exceptions), dtype="int64")
        exc_v = np.array(
            [self.exceptions[k] for k in sorted(self.exceptions)], dtype="int64"
        )
        return thr, cum, exc_k, exc_v


def _step_udf(fn: _StepFn):
    thr, cum, exc_k, exc_v = fn.freeze()

    @pandas_udf("long")
    def remap(col: pd.Series) -> pd.Series:
        v = col.to_numpy(dtype="int64")
        out = v + cum[np.searchsorted(thr, v, side="left")]
        if len(exc_k):
            idx = np.clip(np.searchsorted(exc_k, v), 0, len(exc_k) - 1)
            hit = exc_k[idx] == v
            out = np.where(hit, exc_v[idx], out)
        return pd.Series(out)

    return remap


def _apply_step(v: int, fn: _StepFn) -> int:
    if v in fn.exceptions:
        return fn.exceptions[v]
    return v + sum(d for t, d in fn.events.items() if t < v)


def merge_incremental(
    base: tuple[DataFrame, DataFrame],
    delta: tuple[DataFrame, DataFrame],
) -> tuple[DataFrame, DataFrame]:
    """base/delta: (triples_id, dict_terms) in their own ID spaces.

    Returns (merged_dict, merged_triples) — identical output to
    merge_datasets([base, delta]) but with shuffle ∝ |delta| (see
    module docstring). Raises if the delta dictionary exceeds
    MAX_DELTA_TERMS: the breakpoint arrays live on the driver and in
    every executor's broadcast, so a non-small delta must go through
    merge_datasets instead.
    """
    a_tri, a_dict = base
    b_tri, b_dict = delta
    if ("g" in a_tri.columns) != ("g" in b_tri.columns):
        raise ValueError(
            "merge_incremental: cannot mix triple and quad inputs"
        )
    with_graph = "g" in a_tri.columns
    spark = a_tri.sparkSession

    # -- 1. delta dictionary + matching base rows (≤|B| each) -------------
    b_rows = b_dict.select("term", "section", "sec_rank", "id").collect()
    if len(b_rows) > MAX_DELTA_TERMS:
        raise ValueError(
            f"delta dictionary has {len(b_rows)} terms > max_delta_terms="
            f"{MAX_DELTA_TERMS}; use merge_datasets for a non-small delta"
        )
    if b_rows:
        b_terms = spark.createDataFrame(
            [(r["term"],) for r in b_rows], "term string"
        ).distinct()
        a_hits = (
            a_dict.join(F.broadcast(b_terms), "term")
            .select("term", "section", "sec_rank", "id")
            .collect()
        )
    else:
        a_hits = []
    a_by = {(r["term"], _ns_of(r["section"])): r for r in a_hits}

    # -- classify: insertions / migrations per merged section -------------
    ins: dict[str, list[str]] = defaultdict(list)   # section -> new terms
    rem: dict[str, dict[str, int]] = defaultdict(dict)  # sec -> term -> old rank
    migrated: dict[str, str] = {}  # term -> old section (S or O)
    for r in b_rows:
        t, b_sec = r["term"], r["section"]
        ns = _ns_of(b_sec)
        a_row = a_by.get((t, ns))
        if ns != "so":
            if a_row is None:
                ins[b_sec].append(t)
            continue
        if a_row is None:
            ins[b_sec].append(t)
            continue
        merged_sec = _SEC_OF[
            frozenset(_ROLES[a_row["section"]] | _ROLES[b_sec])
        ]
        if merged_sec != a_row["section"]:
            # only S->SH and O->SH are possible (roles only grow)
            rem[a_row["section"]][t] = a_row["sec_rank"]
            ins["SH"].append(t)
            migrated[t] = a_row["section"]
    ins = {sec: sorted(set(ts)) for sec, ts in ins.items() if ts}

    # -- 2. count base terms preceding each insertion (one narrow pass) ---
    a_counts = {
        r["section"]: r["n"]
        for r in a_dict.groupBy("section").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_sh = a_counts.get("SH", 0)
    a_below: dict[str, np.ndarray] = {}
    if ins:
        arrs = {sec: np.array(ts, dtype=object) for sec, ts in ins.items()}

        @pandas_udf("integer")
        def bucket(sec: pd.Series, term: pd.Series) -> pd.Series:
            out = np.zeros(len(sec), dtype="int32")
            for s in sec.unique():
                arr = arrs.get(s)
                if arr is None:
                    continue
                m = (sec == s).to_numpy()
                out[m] = np.searchsorted(
                    arr, term.to_numpy(dtype=object)[m], side="left"
                ).astype("int32")
            return pd.Series(out)

        counts = (
            a_dict.filter(F.col("section").isin(list(ins)))
            .select(F.col("section"), bucket("section", "term").alias("b"))
            .groupBy("section", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_sec_bucket: dict[str, dict[int, int]] = defaultdict(dict)
        for r in counts:
            by_sec_bucket[r["section"]][r["b"]] = r["n"]
        for sec, ts in ins.items():
            # a_below[j] = #(A terms in sec) <= position j = cum of buckets 0..j
            per = np.array(
                [by_sec_bucket[sec].get(j, 0) for j in range(len(ts) + 1)],
                dtype="int64",
            )
            a_below[sec] = np.cumsum(per)[: len(ts)] if len(ts) else np.array([])

    # -- 3. driver: per-section rank algebra -------------------------------
    def below_count(sorted_terms: list[str] | dict[str, int], t: str) -> int:
        if isinstance(sorted_terms, dict):
            return sum(1 for u in sorted_terms if u < t)
        return int(np.searchsorted(np.array(sorted_terms, dtype=object), t, "left"))

    # new 1-based sec_rank for every inserted term
    ins_rank: dict[tuple[str, str], int] = {}
    for sec, ts in ins.items():
        rems = rem.get(sec, {})
        for j, t in enumerate(ts):
            ins_rank[(sec, t)] = int(a_below[sec][j]) - below_count(rems, t) + j + 1
    n_sh_new = n_sh + len(ins.get("SH", []))

    def gid_of(sec: str, rank: int) -> int:
        return rank if sec in ("SH", "P", "G") else n_sh_new + rank

    # per-section RANK step functions (for the merged dictionary)
    rank_fn: dict[str, _StepFn] = defaultdict(_StepFn)
    for sec, ts in ins.items():
        for j, t in enumerate(ts):
            rank_fn[sec].add(int(a_below[sec][j]), +1)
    for sec, terms in rem.items():
        for t, r_old in terms.items():
            rank_fn[sec].add(r_old, -1)

    # per-SPACE GLOBAL-ID step functions (for remapping base triples)
    space_fn = {sp: _StepFn() for sp in ("subj", "obj", "pred", "graph")}
    for j, t in enumerate(ins.get("SH", [])):
        a = int(a_below["SH"][j])
        space_fn["subj"].add(a, +1)   # shifts SH ranks > a AND the whole S block
        space_fn["obj"].add(a, +1)
    for j, t in enumerate(ins.get("S", [])):
        space_fn["subj"].add(n_sh + int(a_below["S"][j]), +1)
    for j, t in enumerate(ins.get("O", [])):
        space_fn["obj"].add(n_sh + int(a_below["O"][j]), +1)
    for j, t in enumerate(ins.get("P", [])):
        space_fn["pred"].add(int(a_below["P"][j]), +1)
    for j, t in enumerate(ins.get("G", [])):
        space_fn["graph"].add(int(a_below["G"][j]), +1)
    for t, r_old in rem.get("S", {}).items():
        space_fn["subj"].add(n_sh + r_old, -1)
        space_fn["subj"].exceptions[n_sh + r_old] = ins_rank[("SH", t)]
    for t, r_old in rem.get("O", {}).items():
        space_fn["obj"].add(n_sh + r_old, -1)
        space_fn["obj"].exceptions[n_sh + r_old] = ins_rank[("SH", t)]

    # -- 4a. merged dictionary: narrow rewrite of A + ≤|B| driver rows -----
    sec_fns = {sec: _step_udf(fn) for sec, fn in rank_fn.items()}
    new_rank_col = F.col("sec_rank")
    for sec, udf in sec_fns.items():
        new_rank_col = F.when(
            F.col("section") == sec, udf(F.col("sec_rank"))
        ).otherwise(new_rank_col)
    new_id_col = (
        F.when(F.col("section").isin("SH", "P", "G"), F.col("__new_rank"))
        .otherwise(F.col("__new_rank") + F.lit(n_sh_new))
        .cast("long")
    )
    a_side = a_dict.select("term", "section", "sec_rank")
    if migrated:
        # anti-join on (term, section): the same STRING may also live in
        # the independent P/G namespaces, whose rows must survive
        mig_df = spark.createDataFrame(
            [(t, sec) for t, sec in migrated.items()],
            "term string, section string",
        )
        a_side = a_side.join(
            F.broadcast(mig_df), ["term", "section"], "left_anti"
        )
    a_side = (
        a_side.withColumn("__new_rank", new_rank_col.cast("long"))
        .select(
            "term",
            "section",
            F.col("__new_rank").alias("sec_rank"),
            new_id_col.alias("id"),
        )
    )
    new_rows = [
        (t, sec, ins_rank[(sec, t)], gid_of(sec, ins_rank[(sec, t)]))
        for sec, ts in ins.items()
        for t in ts
    ]
    merged_dict = a_side
    if new_rows:
        merged_dict = merged_dict.unionByName(
            spark.createDataFrame(
                new_rows, "term string, section string, sec_rank long, id long"
            )
        )

    # -- 4b. delta remap: ≤|B| rows, fully driver-computed -----------------
    def delta_new_id(t: str, b_sec: str, space: str) -> int:
        ns = _ns_of(b_sec)
        a_row = a_by.get((t, ns))
        # `migrated` only concerns the s/o namespace — a P/G row whose
        # STRING matches a migrated s/o term is still "present in base"
        if a_row is not None and (ns != "so" or t not in migrated):
            return _apply_step(a_row["id"], space_fn[space])
        sec = "SH" if (ns == "so" and t in migrated) else b_sec
        return gid_of(sec, ins_rank[(sec, t)])

    remap_rows = []
    for r in b_rows:
        t, b_sec = r["term"], r["section"]
        spaces = {
            "SH": ("subj", "obj"),
            "S": ("subj",),
            "O": ("obj",),
            "P": ("pred",),
            "G": ("graph",),
        }[b_sec]
        for sp in spaces:
            remap_rows.append((sp, r["id"], delta_new_id(t, b_sec, sp)))
    b_remap = spark.createDataFrame(
        remap_rows or [("subj", -1, -1)],
        "space string, old_id long, new_id long",
    )

    from qendpoint_spark.merge.kcat import remap_triples

    b_new = remap_triples(b_tri, b_remap).localCheckpoint(eager=True)

    # -- 5. base triples: map-side step remap; dedup via broadcast anti ----
    keys = ["s", "p", "o"] + (["g"] if with_graph else [])
    udfs = {sp: _step_udf(fn) for sp, fn in space_fn.items()}
    cols = [
        udfs["subj"](F.col("s")).alias("s"),
        udfs["pred"](F.col("p")).alias("p"),
        udfs["obj"](F.col("o")).alias("o"),
    ]
    if with_graph:
        cols.append(udfs["graph"](F.col("g")).alias("g"))
    a_new = a_tri.select(*cols)
    # (A \ B) ∪ B == A ∪ B, with B broadcast: the base side never shuffles
    merged_triples = a_new.join(
        F.broadcast(b_new), keys, "left_anti"
    ).unionByName(b_new)
    return merged_dict, merged_triples
