"""RDF ingest: how bytes on disk become string triples or quads.

Reference: RDFNotation.guess picks a parser from a file's extension
(core/enums/RDFNotation.java:113-201), CompressionType wraps the stream
by codec suffix (CompressionType.java:34-58), and the container parsers
(RDFParserDir/List/Zip/Tar, RDFDeltaFileParser) hand every member back
to the parser its name guesses. Here the same decision lives in:

- `_NOTATIONS`, the notation table (suffix -> notation). `guess_format`
  and `read_rdf_source` use it, and every container recurses through
  it: a directory groups its files by notation (one listing in the
  JVM, so any Hadoop path works) and reads each group as one
  recursive load filtered by the group's glob (`_glob`, derived from
  the table); a .list file groups its entries the same way, each
  group one multi-path load; zip/tar/delta-file members expand inside
  the task. A container mixing triple and quad notations yields
  (s, p, o, g), g NULL for the triple members. Directory members of
  no known notation, .list and .parquet members are skipped
  (RDFParserDir ignores unknown files); a named file of no known
  notation raises ValueError.
- `_split_codec`, the codec sniff. gz/bz2/xz/lzma decode in Python
  wherever whole files are read. Spark's text reader decodes gz/bz2
  (and its other Hadoop codecs) natively but has no xz codec, so
  xz/lzma N-Triples take the whole-file path.
- `_read_files`, the whole-file reader: binaryFile rows -> mapInPandas
  -> decompress -> container expansion -> per-file bnode scope -> the
  notation's parse_*. Parallelism is ACROSS files, like every
  non-splittable source: shard big dumps, as crawl exports already do.
- `_parse_lines`, the N-Triples/N-Quads line parser: a JVM-side regex,
  chosen by notation, tokenizes each statement. IRIs drop their angle
  brackets; literals and bnodes pass through in the engine's internal
  lexical form ('"v"', '"v"@lang', '"v"^^<dt>', '_:b0'), the forms the
  extraction stage emits, so a parsed file feeds
  build_dictionary/encode_triples unchanged. Malformed lines, comments
  and blank lines are skipped (RDFParserSimple.doParse leniency).

Escapes (lexical.unescape): parsed lines are SPLIT into a no-backslash
frame, whose terms stay entirely in the JVM (Catalyst would otherwise
hoist a conditional UDF into an ArrowEvalPython node evaluated for
every row), and an escaped frame whose terms run through one
Arrow-batched pandas UDF; the union is the parse.
"""

from __future__ import annotations

import bz2
import gzip
import hashlib
import io
import lzma
import posixpath
import tarfile
import zipfile
from functools import partial, reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qendpoint_spark.lexical import unescape

# one N-Triples term: IRI | bnode | literal (with optional datatype/lang)
_TERM = r'(<[^>]*>|_:[^\s]+|"(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|@[A-Za-z0-9\-]+)?)'
_LINE = rf"^\s*{_TERM}\s+{_TERM}\s+{_TERM}\s*\.\s*$"
# N-Quads: the same line with an OPTIONAL graph label (IRI or bnode)
_GRAPH = r"(<[^>]*>|_:[^\s]+)?"
_QLINE = rf"^\s*{_TERM}\s+{_TERM}\s+{_TERM}\s*(?:\s{_GRAPH})?\s*\.\s*$"

_NOTATIONS = {
    ".nt": "ntriples", ".ntriples": "ntriples",
    ".nq": "nquads", ".nquads": "nquads",
    ".ttl": "turtle", ".turtle": "turtle",
    ".trig": "trig",
    ".rdf": "rdfxml", ".owl": "rdfxml", ".rdfxml": "rdfxml",
    ".jsonld": "jsonld", ".json-ld": "jsonld",
    ".zip": "archive", ".tar": "archive", ".tgz": "archive",
    ".df": "deltafile",
    ".parquet": "parquet",
    ".list": "list",
}
_LINE_NOTATIONS = {"ntriples", "nquads"}
_DOCUMENTS = {"turtle", "trig", "rdfxml", "jsonld"}
_QUAD_NOTATIONS = {"nquads", "trig", "jsonld"}
_CONTAINERS = {"archive", "deltafile"}
# codecs decoded in Python; guess_format also strips the Hadoop-only
# ones Spark's text reader decodes natively
_PY_CODECS = {
    ".gz": gzip.decompress, ".bz2": bz2.decompress,
    ".xz": lzma.decompress, ".lzma": lzma.decompress,
}
_CODECS = (*_PY_CODECS, ".lz4", ".zst", ".zstd", ".snappy", ".deflate")
# no Hadoop codec: N-Triples/N-Quads files with these read whole-file
_WHOLE_CODECS = (".xz", ".lzma")


def _split_codec(name: str) -> tuple[str, str]:
    """Codec sniff: name -> (name without its codec suffix, suffix)."""
    low = name.lower()
    for codec in _CODECS:
        if low.endswith(codec):
            return name[: -len(codec)], codec
    return name, ""


def _notation(name: str) -> str | None:
    stem, _ = _split_codec(name.rstrip("/"))
    return _NOTATIONS.get(posixpath.splitext(stem)[1].lower())


def guess_format(path: str) -> str:
    """Path -> notation ('ntriples' | 'nquads' | 'turtle' | 'trig' |
    'rdfxml' | 'jsonld' | 'archive' | 'deltafile' | 'parquet' | 'list'),
    or 'dir' for a path of no known notation. Codec suffixes are
    transparent, as in the reference."""
    kind = _notation(path)
    if kind is None and _split_codec(path)[0].lower().endswith(".rar"):
        # the reference reads rar via the junrar library
        # (RDFParserRAR.java); no rar codec ships here — loud exclusion
        raise NotImplementedError(
            "rar containers need an unrar codec unavailable here; "
            "repack as zip/tar (read_ntriples_archive)"
        )
    return kind or "dir"


# --- the line parser --------------------------------------------------------


@F.pandas_udf(T.StringType())
def _unescape_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda t: unescape(t) if t is not None else None)


def _term_col(raw: str, escaped: bool) -> Column:
    c = _unescape_udf(F.col(raw)) if escaped else F.col(raw)
    # IRIs lose their angle brackets (internal form is the bare IRI)
    return F.when(
        c.startswith("<"), c.substr(F.lit(2), F.length(c) - 2)
    ).otherwise(c)


def _parse_lines(lines: DataFrame, quad: Column) -> DataFrame:
    """Text lines (`value`) -> (s, p, o, g). `quad` picks the N-Quads
    regex per row (a literal folds away at plan time); N-Triples rows
    and graph-less N-Quads lines get g = NULL, the SPARQL dataset
    model's default graph."""

    def extract(i: int) -> Column:
        return F.when(quad, F.regexp_extract("value", _QLINE, i)).otherwise(
            F.regexp_extract("value", _LINE, i)
        )

    parsed = lines.select(
        extract(1).alias("s_raw"),
        extract(2).alias("p_raw"),
        extract(3).alias("o_raw"),
        F.when(quad, F.regexp_extract("value", _QLINE, 4))
        .otherwise("")
        .alias("g_raw"),
    ).filter((F.col("s_raw") != "") & (F.col("p_raw") != "") & (F.col("o_raw") != ""))
    has_esc = (
        F.col("s_raw").contains("\\")
        | F.col("p_raw").contains("\\")
        | F.col("o_raw").contains("\\")
    )

    def project(df: DataFrame, escaped: bool) -> DataFrame:
        return df.select(
            _term_col("s_raw", escaped).alias("s"),
            _term_col("p_raw", escaped).alias("p"),
            _term_col("o_raw", escaped).alias("o"),
            F.when(F.col("g_raw") != "", _term_col("g_raw", False)).alias("g"),
        )

    return project(parsed.filter(~has_esc), False).unionByName(
        project(parsed.filter(has_esc), True)
    )


# --- the whole-file reader ----------------------------------------------------


def _decoded(name: str, data: bytes) -> bytes:
    codec = _split_codec(name)[1]
    return _PY_CODECS[codec](data) if codec in _PY_CODECS else data


def _archive_members(name: str, data: bytes):
    """(member name, bytes thunk) of every file in a zip or tar blob;
    tar's 'r:*' sniffs a .tgz's compression itself. A thunk is valid
    until the generator advances."""
    if name.lower().endswith(".zip"):
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            for info in zf.infolist():
                if not info.is_dir():
                    yield info.filename, partial(zf.read, info)
    else:
        with tarfile.open(fileobj=io.BytesIO(data), mode="r:*") as tf:
            for member in tf:
                if member.isfile():
                    yield member.name, partial(_tar_read, tf, member)


def _tar_read(tf: tarfile.TarFile, member: tarfile.TarInfo) -> bytes:
    return tf.extractfile(member).read()


def _leaves(name: str, read, notation: str | None = None):
    """(notation, name, bytes thunk) of every RDF document in one file
    (`read()` -> its raw bytes): zip/tar/delta-file members recursed
    into through the notation table, members no parser reads skipped
    (a .list or .parquet member names nothing a task can open). The
    thunk decodes the leaf's codec suffix, so a caller that needs only
    the notations opens containers but no leaf. `notation` overrides
    the guess for the file itself."""
    kind = notation or _notation(name)
    if kind == "archive":
        data = _decoded(name, read())
        for member, blob in _archive_members(_split_codec(name)[0], data):
            yield from _leaves(f"{name}!/{member}", blob)
    elif kind == "deltafile":
        from qendpoint_spark.sources.deltafile import parse_delta_file

        for member, blob in parse_delta_file(_decoded(name, read())):
            if blob:  # empty data marks a deleted entity
                # parse_delta_file already decoded the member's gzip frame
                if member.lower().endswith(".gz"):
                    member = member[:-3]
                yield from _leaves(f"{name}!/{member}", partial(bytes, blob))
    elif kind in _LINE_NOTATIONS or kind in _DOCUMENTS:
        yield kind, name, lambda: _decoded(name, read())


def _parse_document(kind: str, text: str, bnode_prefix: str) -> list[tuple]:
    """One whole document -> (s, p, o, g) rows, g None for triples."""
    from qendpoint_spark.sources.jsonld import parse_jsonld
    from qendpoint_spark.sources.rdfxml import parse_rdfxml
    from qendpoint_spark.sources.turtle import parse_trig, parse_turtle

    parse = {
        "turtle": parse_turtle, "trig": parse_trig,
        "rdfxml": parse_rdfxml, "jsonld": parse_jsonld,
    }[kind]
    rows = parse(text, bnode_prefix=bnode_prefix)
    return rows if kind in _QUAD_NOTATIONS else [(*r, None) for r in rows]


def _file_leaves(pdf: pd.DataFrame, notation: str | None = None):
    for fname, content in zip(pdf["path"], pdf["content"]):
        yield from _leaves(fname, partial(bytes, content), notation)


def _expand(batches, notation: str | None, scoped_bnodes: bool, lines: bool):
    """mapInPandas body of _read_files: with `lines`, the (value, quad)
    text lines of the N-Triples/N-Quads leaves; else the parsed
    (s, p, o, g) rows of the other leaves. Generated bnode labels are
    namespaced by a hash of the leaf's path, mirroring RIOT's
    per-parser bnode scoping."""
    for pdf in batches:
        rows: list[tuple] = []
        for kind, name, read in _file_leaves(pdf, notation):
            if (kind in _LINE_NOTATIONS) != lines:
                continue
            if lines:
                text = read().decode("utf-8", errors="replace")
                rows.extend((ln, kind == "nquads") for ln in text.splitlines())
            else:
                tag = hashlib.sha256(name.encode()).hexdigest()[:8]
                prefix = f"f{tag}_" if scoped_bnodes else ""
                rows.extend(_parse_document(kind, read().decode("utf-8"), prefix))
        yield pd.DataFrame(rows, columns=["value", "quad"] if lines else ["s", "p", "o", "g"])


def _leaf_kinds(batches):
    for pdf in batches:
        kinds = {kind for kind, _, _ in _file_leaves(pdf)}
        yield pd.DataFrame({"kind": sorted(kinds)})


def _glob(kind: str, whole: bool = False) -> str:
    """Spark's pathGlobFilter (a Hadoop glob over file names) for the
    files the notation table and codec sniff put in group (kind,
    whole) — case-insensitive, as _notation is. `whole` picks the line
    notations' files Spark's text reader cannot decode."""

    def ci(s: str) -> str:
        return "".join(f"[{c.lower()}{c.upper()}]" if c.isalpha() else c for c in s)

    if kind in _LINE_NOTATIONS:
        codecs = _WHOLE_CODECS if whole else ("", *(c for c in _CODECS if c not in _WHOLE_CODECS))
    else:
        codecs = ("", *_CODECS)
    suffixes = [s for s, k in _NOTATIONS.items() if k == kind]
    return "*{%s}{%s}" % (",".join(map(ci, suffixes)), ",".join(map(ci, codecs)))


def _load(reader, path: str | list[str], glob: str | None) -> DataFrame:
    """`path` as given, or — with a glob — every file under it,
    recursively, whose name the glob matches (Spark lists the tree in
    the JVM and skips names starting with _ or .)."""
    if glob:
        reader = reader.option("recursiveFileLookup", "true").option("pathGlobFilter", glob)
    return reader.load(path)


def _blobs(spark: SparkSession, path: str | list[str], glob: str | None = None) -> DataFrame:
    """One row (path, content) per file."""
    return _load(spark.read.format("binaryFile"), path, glob).select("path", "content")


def _read_files(
    spark: SparkSession,
    path: str | list[str],
    notation: str | None = None,
    scoped_bnodes: bool = True,
    glob: str | None = None,
) -> DataFrame:
    """Whole-file read of one notation, or — notation None — of zip/tar/
    delta-file containers, whose member notations one inventory job
    collects first from member names. -> (s, p, o), plus g if a quad
    notation occurs."""
    blobs = _blobs(spark, path, glob)
    if notation:
        kinds = {notation}
    else:
        kinds = {r.kind for r in blobs.mapInPandas(_leaf_kinds, "kind string").collect()}
    parts = []
    if kinds & _LINE_NOTATIONS:
        lines = blobs.mapInPandas(
            partial(_expand, notation=notation, scoped_bnodes=scoped_bnodes, lines=True),
            "value string, quad boolean",
        )
        parts.append(_parse_lines(lines, F.col("quad")))
    if kinds - _LINE_NOTATIONS or not parts:  # no member at all: empty
        parts.append(
            blobs.mapInPandas(
                partial(_expand, notation=notation, scoped_bnodes=scoped_bnodes, lines=False),
                "s string, p string, o string, g string",
            )
        )
    out = _union(parts)
    return out if kinds & _QUAD_NOTATIONS else out.select("s", "p", "o")


# --- readers ------------------------------------------------------------------


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def _group(name: str) -> tuple[str | None, bool]:
    """The read a file takes: (notation, whole), whole for N-Triples/
    N-Quads files Spark's text reader cannot decode (xz/lzma)."""
    kind = _notation(name)
    return kind, kind in _LINE_NOTATIONS and _split_codec(name)[1] in _WHOLE_CODECS


def _read_group(
    spark: SparkSession,
    path: str | list[str],
    group: tuple[str, bool],
    glob: str | None = None,
) -> DataFrame:
    """The notation table's reader for one group, over a path or a
    list of them (or, with a glob, the matching files under them)."""
    kind, whole = group
    if kind in _LINE_NOTATIONS and not whole:
        lines = _load(spark.read.format("text"), path, glob)
        cols = ["s", "p", "o"] + (["g"] if kind == "nquads" else [])
        return _parse_lines(lines, F.lit(kind == "nquads")).select(*cols)
    if kind == "parquet":
        return _load(spark.read.format("parquet"), path, glob).select("s", "p", "o")
    return _read_files(spark, path, None if kind in _CONTAINERS else kind, glob=glob)


def _read_lines(spark: SparkSession, path: str | list[str], notation: str) -> DataFrame:
    """N-Triples/N-Quads file(s): Spark's text reader, one task per
    split; xz/lzma files, which it cannot decode, go whole-file."""
    paths = [path] if isinstance(path, str) else list(path)
    groups: dict[bool, list[str]] = {}
    for p in paths:
        groups.setdefault(_split_codec(p)[1] in _WHOLE_CODECS, []).append(p)
    return _union([_read_group(spark, ps, (notation, whole)) for whole, ps in sorted(groups.items())])


def _list_files(spark: SparkSession, path: str, glob: str = "*") -> list[str]:
    """Every file under a path, directory or glob, recursively (one
    listing in the JVM), whose name matches `glob`."""
    return _blobs(spark, path, glob).inputFiles()


def _glob_of(spark: SparkSession, path: str, kind: str) -> str:
    """_glob(kind), once a file of that notation is known to exist under
    `path` (ValueError otherwise)."""
    glob = _glob(kind)
    if not _list_files(spark, path, glob):
        raise ValueError(f"{path}: no {kind} file")
    return glob


def _read_paths(spark: SparkSession, paths: list[str], source: str) -> DataFrame:
    """Container recursion over a .list file's entries: paths grouped by
    notation, each group one multi-path load; directories and .list
    files recurse."""
    groups: dict[tuple, list[str]] = {}
    nested: list[str] = []
    for p in paths:
        if guess_format(p) in ("dir", "list"):
            nested.append(p)
        else:
            groups.setdefault(_group(p), []).append(p)
    parts = [read_rdf_source(spark, p) for p in nested]
    parts += [_read_group(spark, ps, g) for g, ps in sorted(groups.items())]
    if not parts:
        raise ValueError(f"{source}: no file of a known RDF notation")
    return _union(parts)


def read_rdf_source(spark: SparkSession, path: str) -> DataFrame:
    """Any RDF source the notation table knows: a file of any notation
    (optionally compressed), a parquet triple table, a zip/tar archive,
    a delta file, a .list file of paths (the RDFParserList analog), or
    a directory/glob of any of these. -> (s, p, o), plus g when a quad
    notation occurs."""
    kind = guess_format(path)
    if kind == "list":
        entries = [r.value.strip() for r in spark.read.text(path).collect()]
        return _read_paths(
            spark, [e for e in entries if e and not e.startswith("#")], path
        )
    if kind == "dir":
        return read_ntriples_dir(spark, path)
    return _read_group(spark, path, _group(path))


def read_ntriples(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """N-Triples file(s) (path, glob, or list of paths; any codec) ->
    triples_str(s, p, o)."""
    return _read_lines(spark, path, "ntriples")


def read_nquads(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """N-Quads file(s) -> (s, p, o, g), g NULL for default-graph lines.
    The quad pipeline (run_pipeline with a `g` column) encodes the G
    section and publishes quads_spog for GRAPH/FROM queries."""
    return _read_lines(spark, path, "nquads")


def read_ntriples_dir(spark: SparkSession, path: str) -> DataFrame:
    """Directory container (RDFParserDir analog): every file under
    `path`, recursively, read through the notation table — any
    notation, compressed or not. One JVM listing finds the groups
    present; each group is one recursive load of `path` filtered by
    its glob. Files of no known notation, .list and .parquet files are
    skipped. (The name predates the other notations.)"""
    groups = {_group(f) for f in _list_files(spark, path)}
    groups = sorted(g for g in groups if g[0] not in (None, "list", "parquet"))
    if not groups:
        raise ValueError(f"{path}: no file of a known RDF notation")
    return _union([_read_group(spark, path, g, _glob(*g)) for g in groups])


def read_ntriples_archive(spark: SparkSession, path: str) -> DataFrame:
    """Zip/tar container source (RDFParserZip/RDFParserTar analog): every
    member of every archive under `path`, member-compressed or not,
    parsed through the notation table. Per-archive memory is bounded by
    the archive, as the reference's streaming is by its largest member —
    shard huge dumps into many archives, as crawl dumps ship anyway."""
    return _read_files(spark, path, glob=_glob_of(spark, path, "archive"))
