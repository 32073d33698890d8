"""Repository benchmark: seeded KG-construction workloads on local Spark.

    python3 perfbench/run.py --workload build_docs --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads (closed loop, one client):

  build_docs    one fresh run_pipeline over a seeded documents corpus
                with entity linking, sameAs canonicalization, PSO and
                stats — the BASELINE headline build
  update_pages  a base pages warehouse is published in set-up; the timed
                phase applies seeded page batches with incremental_update

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
(see tracing.py) and writes the spans to .perfbench_trace/. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the line before it holds
the input hashes, sizes and sample counts. Exit status is 0 only when
every operation succeeded and every correctness check passed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_trace")

N_DOCS = 20_000
BASE_PAGES = 4_000
BATCH_PAGES = 200
MAX_BATCHES = 12
GEN_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "triples_per_s": "triples/s",
    "stored_bytes_per_triple": "B",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "extraction.wall_s": "s", "extraction.task_s": "s",
    "extraction.shuffle_bytes": "B", "extraction.rows_out": "count",
    "linking.wall_s": "s", "linking.link_rate": "ratio",
    "linking.canon_rewrites": "count", "linking.jobs": "count",
    "dictionary.wall_s": "s", "dictionary.terms": "count",
    "dictionary.shuffle_bytes": "B", "dictionary.spill_bytes": "B",
    "dictionary.task_skew": "ratio",
    "encoding.spo_s": "s", "encoding.ops_s": "s", "encoding.pso_s": "s",
    "encoding.stats_s": "s", "encoding.shuffle_bytes": "B",
    "encoding.task_skew": "ratio",
    "merge.self_s": "s", "merge.delta_terms": "count", "merge.shuffle_bytes": "B",
    "catalog.bytes_written": "B", "catalog.files_written": "count",
    "catalog.footer_s": "s", "catalog.write_amp": "ratio",
    "spark.driver_gap_s": "s", "spark.core_busy_frac": "ratio",
    "spark.gc_s": "s", "spark.failed_tasks": "count",
    "host.calib_s": "s", "pipeline.self_s": "s",
    "trace.wall_s": "s", "trace.op_p50_s": "s", "trace.bookkeeping_s": "s",
}


class BuildDocs:
    """One fresh run_pipeline per operation, each into a new warehouse."""

    top = ("run_pipeline", "pipeline")

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.frames: list = []
        self.warehouse = os.path.join(WORK, "build")

    def generate(self) -> dict[str, str]:
        import inputs

        for df in self.frames:
            df.unpersist()
        self.docs = inputs.documents(self.seed, N_DOCS)
        ents = inputs.emitted_entities(self.docs)
        self.alias = inputs.alias_dict(self.seed, ents)
        self.sameas = inputs.sameas(self.seed, ents)
        self.frames = [
            self.spark.createDataFrame(pdf).persist()
            for pdf in (self.docs, self.alias, self.sameas)
        ]
        for df in self.frames:
            df.count()
        return {
            "documents": inputs.content_hash(self.docs),
            "alias_dict": inputs.content_hash(self.alias),
            "sameas": inputs.content_hash(self.sameas),
        }

    def setup(self) -> None:
        pass

    def has_next(self) -> bool:
        return True

    def op(self, i: int) -> int:
        from qendpoint_spark.catalog import Catalog
        from qendpoint_spark.pipeline import run_pipeline

        shutil.rmtree(self.warehouse, ignore_errors=True)
        docs, alias, sameas = self.frames
        report = run_pipeline(
            self.spark, Catalog(self.spark, self.warehouse), source_df=docs,
            source_kind="documents", source_fingerprint=f"perfbench:{self.seed}",
            with_stats=True, with_pso=True, force=True,
            alias_dict=alias, sameas=sameas,
        )
        return report.n_triples

    def check(self, con) -> tuple[list[str], dict[str, float]]:
        import checks
        import inputs

        expected, mentions, rewrites = checks.expected_documents(
            con, self.docs, inputs.canonical_map(self.sameas)
        )
        problems = _check_warehouse(con, self.warehouse, expected)
        return problems, {"mentions": mentions, "canon_rewrites": rewrites}

    def sizes(self) -> dict[str, int]:
        return {"documents": len(self.docs), "alias_rows": len(self.alias), "sameas_edges": len(self.sameas)}


class UpdatePages:
    """A base pages warehouse, then one incremental_update per batch."""

    top = ("incremental_update", "merge")

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.pages = None
        self.applied: list[int] = []
        self.warehouse = os.path.join(WORK, "pages")

    def generate(self) -> dict[str, str]:
        import inputs
        from qendpoint_spark.datagen.pages import generate_pages

        if self.pages is not None:
            self.pages.unpersist()
        self.pages = generate_pages(
            self.spark, BASE_PAGES + MAX_BATCHES * BATCH_PAGES, seed=self.seed
        ).withColumn("uid", inputs.page_id("url")).persist()
        self.pdf = self.pages.toPandas()
        return {"pages": inputs.content_hash(self.pdf.drop(columns=["uid"]))}

    def _part(self, lo: int, hi: int):
        from pyspark.sql import functions as F

        return self.pages.filter((F.col("uid") >= lo) & (F.col("uid") < hi)).drop("uid")

    def setup(self) -> None:
        from qendpoint_spark.catalog import Catalog
        from qendpoint_spark.pipeline import run_pipeline

        shutil.rmtree(self.warehouse, ignore_errors=True)
        run_pipeline(
            self.spark, Catalog(self.spark, self.warehouse),
            source_df=self._part(0, BASE_PAGES), source_kind="pages",
            source_fingerprint=f"perfbench:{self.seed}:base",
            with_stats=True, with_pso=True, force=True,
        )

    def has_next(self) -> bool:
        return len(self.applied) < MAX_BATCHES

    def op(self, i: int) -> int:
        from qendpoint_spark.catalog import Catalog
        from qendpoint_spark.pipeline import incremental_update

        lo = BASE_PAGES + i * BATCH_PAGES
        report = incremental_update(
            self.spark, Catalog(self.spark, self.warehouse),
            self._part(lo, lo + BATCH_PAGES), source_kind="pages",
            batch_fingerprint=f"perfbench:{self.seed}:batch{i}",
        )
        self.applied.append(i)
        return report.n_triples

    def check(self, con) -> tuple[list[str], dict[str, float]]:
        import checks

        batch = (self.pdf["uid"] - BASE_PAGES) // BATCH_PAGES
        published_pages = self.pdf[(self.pdf["uid"] < BASE_PAGES) | batch.isin(self.applied)]
        expected = checks.expected_pages(con, published_pages)
        return _check_warehouse(con, self.warehouse, expected), {}

    def sizes(self) -> dict[str, int]:
        return {
            "base_urls": BASE_PAGES, "batch_urls": BATCH_PAGES,
            "batches_applied": len(self.applied), "page_rows": len(self.pdf),
        }


WORKLOADS = {"build_docs": BuildDocs, "update_pages": UpdatePages}


def _check_warehouse(con, warehouse: str, expected: str) -> list[str]:
    import checks

    checks.load_tables(con, warehouse)
    problems = checks.hdt_invariants(con, warehouse)
    published = checks.published_triples(con)
    missing, extra = checks.set_difference(con, expected, published)
    if missing or extra:
        problems.append(f"published SPO != expected triples (missing {missing}, extra {extra})")
    n_spo = con.execute("SELECT count(*) FROM spo").fetchone()[0]
    n_exp = con.execute(f"SELECT count(*) FROM {expected}").fetchone()[0]
    if n_spo != n_exp:
        problems.append(f"SPO count {n_spo} != independent count {n_exp}")
    return problems


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "qendpoint_spark")):
        print(f"perfbench: no qendpoint_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # Python workers import qendpoint_spark (the pages path's pandas
    # UDFs); temp files of every process stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    import checks
    import host
    import tracing
    from qendpoint_spark.session import get_spark

    n_cores = host.cores()
    conf = host.spark_conf(WORK, trace=bool(args.trace))
    spark = get_spark("perfbench", cores=n_cores, extra_conf=conf)
    session_s = time.perf_counter() - T_START

    problems: list[str] = []
    samples: list[tuple[float, int]] = []
    attempted = failed = 0
    tracer = None
    facts: dict[str, float] = {}
    try:
        wl = WORKLOADS[args.workload](spark, args.seed)
        gen_s, hashes = [], []
        for _ in range(GEN_REPS):
            t0 = time.perf_counter()
            hashes.append(wl.generate())
            gen_s.append(time.perf_counter() - t0)
        if any(h != hashes[0] for h in hashes):
            problems.append(f"same seed gave different inputs: {hashes}")
        t0 = time.perf_counter()
        wl.setup()
        base_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + base_s
        calib = host.calib_s()

        if args.trace:
            tracer = tracing.Tracer(spark)
            tracer.install()
        with host.RssSampler() as rss:
            t_phase = time.perf_counter()
            while (attempted == 0 or time.perf_counter() - t_phase < args.seconds) and wl.has_next():
                attempted += 1
                ctx = tracer.op(*wl.top, wl.warehouse) if tracer else contextlib.nullcontext()
                try:
                    with ctx:
                        t0 = time.perf_counter()
                        n = wl.op(attempted - 1)
                        dt = time.perf_counter() - t0
                    samples.append((dt, n))
                except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                    traceback.print_exc()
                    failed += 1
        if tracer:
            tracer.uninstall()
            tracer.run_post()

        con = checks.connect(os.path.join(WORK, "tmp"))
        wl_problems, facts = wl.check(con)
        problems += wl_problems
        stored = tracing.parquet_bytes(wl.warehouse)[0]
    finally:
        host.stop_spark(spark)

    if not samples:
        problems.append("no operation succeeded")
    info = {
        "workload": args.workload, "seed": args.seed, "cores": n_cores,
        "input_sha256": hashes[0], "sizes": wl.sizes(),
        "samples": len(samples), "op_s": [round(s, 4) for s, _ in samples],
        "triples": [n for _, n in samples],
        "setup": {"session_s": session_s, "gen_s": gen_s, "base_s": base_s},
        "host.calib_s": calib, "problems": problems,
    }
    metrics: dict[str, float] = {}
    if samples and not args.trace:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(s for s, _ in samples),
            "triples_per_s": statistics.median(n / s for s, n in samples),
            "stored_bytes_per_triple": stored / samples[-1][1],
            "peak_rss_mb": rss.peak / 2**20,
        }
        units = END_TO_END
    elif samples:
        linked = statistics.fmean(op["counters"].get("rows.linked_mentions", 0.0) for op in tracer.ops)
        metrics = tracing.analyze(
            tracer, os.path.join(WORK, "eventlog"), n_cores,
            {
                "linking.link_rate": linked / facts["mentions"] if facts.get("mentions") else 0.0,
                "linking.canon_rewrites": facts.get("canon_rewrites", 0.0),
                "host.calib_s": calib,
            },
        )
        units = PER_LAYER
        tracer.dump(os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json"))
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"info": info}))
    correct = not problems and failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()} if metrics else {},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
