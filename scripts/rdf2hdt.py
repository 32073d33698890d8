"""rdf2hdt analog: RDF files -> published HDT-style warehouse.

Reference: qendpoint-cli/bin/rdf2hdt.sh -> core RDF2HDT tool (parse
RDF, build dictionary + triples, write .hdt). Here: distributed parse
(sources.read_rdf_source: N-Triples/N-Quads/Turtle/TriG/RDF-XML/JSON-LD
files, optionally gz/bz2/xz-compressed, and directories, .list
manifests, zip/tar archives and delta files of them) -> the standard pipeline
(dictionary -> encode -> SPO/OPS[/PSO] -> stats/header) into a
warehouse that scripts/sparql.py, hdt2rdf.py, hdtinfo.py and
verify_tables.py consume.

Usage:
    python scripts/rdf2hdt.py --input data.nt[.gz] --warehouse /path/wh
        [--cpus N] [--partitions N] [--pso] [--force]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from qendpoint_spark.catalog import Catalog  # noqa: E402
from qendpoint_spark.pipeline import run_pipeline  # noqa: E402
from qendpoint_spark.session import get_spark  # noqa: E402
from qendpoint_spark.sources import read_rdf_source  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--pso", action="store_true")
    ap.add_argument("--force", action="store_true")
    ap.add_argument(
        "--hdt-file",
        default=None,
        help="also emit a binary .hdt container (reference interchange "
        "format: HDTBase.saveToHDT framing, PFC sections, BitmapTriples)",
    )
    args = ap.parse_args()

    spark = get_spark("rdf2hdt", cores=args.cpus)
    triples = read_rdf_source(spark, args.input)
    report = run_pipeline(
        spark,
        Catalog(spark, args.warehouse),
        source_df=triples,
        source_kind="triples",
        source_fingerprint=f"rdf2hdt:{args.input}",
        num_partitions=args.partitions,
        with_pso=args.pso,
        force=args.force,
    )
    for s in report.stages:
        print(f"{s.name:18s} rows={s.rows:>12,} wall={s.wall_ms/1000:8.2f}s")
    print(f"total {report.wall_s:.2f}s  triples={report.n_triples:,}")
    if args.hdt_file:
        from qendpoint_spark.hdt import write_hdt

        catalog = Catalog(spark, args.warehouse)
        sizes = write_hdt(
            catalog.read("dict_terms"),
            catalog.read("triples_spo"),
            args.hdt_file,
        )
        print(
            f"wrote {args.hdt_file}: {sizes['total']:,} bytes "
            f"(dict {sizes['dictionary']:,}, triples {sizes['triples']:,})"
        )
    spark.stop()


if __name__ == "__main__":
    main()
