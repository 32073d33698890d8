"""N-Triples text ingest + unicode/bnode dictionary edge cases.

Mirrors the reference's fixture discipline: unicodeTest.nt (NBSP/CJK/
astral escapes) and importer/bnode_x.nt (bnode subjects) — the exact
territory where dictionary byte-order sorting can silently diverge.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from qendpoint_spark.dictionary import build_dictionary
from qendpoint_spark.encoding import decode_triples, encode_triples, export_ntriples
from qendpoint_spark.sources import read_ntriples

NT_FIXTURE = """# unicode + bnode fixture (reference unicodeTest.nt analog)
<http://example.org/s1> <http://example.org/p> "plain" .
<http://example.org/s1> <http://example.org/p> "nbsp\\u00A0literal" .
<http://example.org/s1> <http://example.org/p> "汉字测试" .
<http://example.org/s2> <http://example.org/p> "astral \\U0001D11E clef" .
_:b0 <http://example.org/p> "bnode subject row" .
_:b0 <http://example.org/p> _:b1 .
<http://example.org/s2> <http://example.org/p> "tab\\tand\\nnewline" .
<http://example.org/s2> <http://example.org/p> "quote \\" inside" .
<http://example.org/s2> <http://example.org/p> "back\\\\slash"@en .
<http://example.org/s2> <http://example.org/p> "bad \\uZZZZ escape kept" .
<http://example.org/s2> <http://example.org/p> "lang"@zh-hant .
<http://example.org/s2> <http://example.org/p> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .

# comment line and the blank line above must be skipped
<http://example.org/汉字> <http://example.org/p> <http://example.org/s1> .
"""


def _write_fixture(tmp_path) -> str:
    p = tmp_path / "fixture.nt"
    p.write_text(NT_FIXTURE, encoding="utf-8")
    return str(p)


def test_read_ntriples_terms(spark, tmp_path):
    tri = read_ntriples(spark, _write_fixture(tmp_path))
    rows = {(r.s, r.p, r.o) for r in tri.collect()}
    assert len(rows) == 13
    objs = {o for _, _, o in rows}
    assert '"nbsp literal"' in objs  # \\u00A0 decoded to NBSP
    assert '"汉字测试"' in objs  # raw UTF-8 passes through
    assert '"astral \U0001d11e clef"' in objs  # \\U astral decode
    assert '"tab\tand\nnewline"' in objs
    assert '"quote " inside"' in objs  # \\" decoded to a raw inner quote
    assert '"back\\slash"@en' in objs  # \\\\ decoded to one backslash
    assert '"bad \\uZZZZ escape kept"' in objs  # malformed escape: lenient pass-through
    assert '"lang"@zh-hant' in objs
    assert "_:b1" in objs  # bnode object
    subs = {s for s, _, _ in rows}
    assert "_:b0" in subs and "http://example.org/汉字" in subs


def test_unicode_bnode_dictionary_roundtrip(spark, tmp_path):
    """Dictionary IDs over bnode/NBSP/CJK/astral terms follow unsigned
    UTF-8 byte order (HDT section order), and encode/decode round-trips
    exactly."""
    tri = read_ntriples(spark, _write_fixture(tmp_path)).localCheckpoint(eager=True)
    d = build_dictionary(tri).localCheckpoint(eager=True)
    # per-section ranks must equal python's UTF-8-byte sort of the terms
    for sec in ["SH", "S", "O", "P"]:
        got = [
            r.term
            for r in d.filter(F.col("section") == sec)
            .orderBy("sec_rank")
            .collect()
        ]
        assert got == sorted(got, key=lambda t: t.encode("utf-8")), sec
    enc = encode_triples(tri, d)
    assert enc.count() == tri.count()
    back = decode_triples(enc, d)
    assert back.exceptAll(tri).count() == 0 and tri.exceptAll(back).count() == 0


def test_export_reimport_identity(spark, tmp_path):
    """export_ntriples re-parses to the same set — INCLUDING literals
    holding tabs, newlines, quotes and backslashes: export escapes them
    symmetrically with the parser's unescape (sink/source inverse pair
    on the engine's lexical forms)."""
    tri = read_ntriples(spark, _write_fixture(tmp_path)).localCheckpoint(
        eager=True
    )
    out = tmp_path / "export"
    export_ntriples(tri).coalesce(1).write.mode("overwrite").text(str(out))
    back = read_ntriples(spark, str(out))
    assert back.exceptAll(tri).count() == 0 and tri.exceptAll(back).count() == 0


def test_psfc_encode_decode_roundtrip(spark):
    from pyspark.sql import Row

    from qendpoint_spark.encoding.header import psfc_decode, psfc_encode

    terms = [
        '"123"^^<http://www.w3.org/2001/XMLSchema#integer>',
        '"v"@en', '"plain"', "http://example.org/iri", "_:b0",
        '"汉字"@zh-hant',
    ]
    df = spark.createDataFrame([Row(term=t) for t in terms])
    enc = df.select(F.col("term"), psfc_encode(F.col("term")).alias("e"))
    rows = {r.term: r.e for r in enc.collect()}
    assert rows['"123"^^<http://www.w3.org/2001/XMLSchema#integer>'] == \
        '^^<http://www.w3.org/2001/XMLSchema#integer>"123"'
    assert rows['"v"@en'] == '@en"v"'
    assert rows['"plain"'] == '"plain"'  # suffix-free literals untouched
    assert rows["_:b0"] == "_:b0"
    back = enc.select(psfc_decode(F.col("e")).alias("d"), "term")
    assert back.filter(F.col("d") != F.col("term")).count() == 0


def test_container_sources_and_format_guess(spark, tmp_path):
    import gzip

    from qendpoint_spark.sources import (
        guess_format,
        read_ntriples_dir,
        read_rdf_source,
    )

    assert guess_format("a/b.nt") == "ntriples"
    assert guess_format("a/b.nt.gz") == "ntriples"
    assert guess_format("a/b.parquet") == "parquet"
    assert guess_format("a/b.list") == "list"
    assert guess_format("a/dir") == "dir"

    lines = [
        "<http://x/s1> <http://x/p> \"one\" .",
        "<http://x/s2> <http://x/p> \"two\" .",
    ]
    sub = tmp_path / "container" / "nested"
    sub.mkdir(parents=True)
    (sub / "a.nt").write_text(lines[0] + "\n", encoding="utf-8")
    with gzip.open(sub / "b.nt.gz", "wt", encoding="utf-8") as f:
        f.write(lines[1] + "\n")

    # dir container: plain + transparently-decompressed members
    got = read_ntriples_dir(spark, str(tmp_path / "container"))
    assert {(r.s, r.o) for r in got.collect()} == {
        ("http://x/s1", '"one"'), ("http://x/s2", '"two"')
    }
    # list container
    lst = tmp_path / "inputs.list"
    lst.write_text(f"{sub / 'a.nt'}\n# comment\n{sub / 'b.nt.gz'}\n")
    got2 = read_rdf_source(spark, str(lst))
    assert got2.count() == 2
    # single compressed file through the dispatcher
    got3 = read_rdf_source(spark, str(sub / "b.nt.gz"))
    assert got3.collect()[0].o == '"two"'


def test_alternate_sort_orders(spark, tmp_path):
    from pyspark.sql import Row

    from qendpoint_spark.encoding import ORDERS, sorted_table

    rows = [Row(s=s, p=p, o=o) for s in (2, 1) for p in (2, 1) for o in (2, 1)]
    df = spark.createDataFrame(rows)
    for order in ORDERS:
        t = sorted_table(df, order, num_partitions=2)
        assert t.columns == list(order)
        got = [tuple(r) for r in t.collect()]
        assert sorted(got) != [] and len(got) == 8
        # global sort: collect() preserves partition order for range
        # partitions, so the rows must arrive fully ordered
        assert got == sorted(got)
    try:
        sorted_table(df, "xyz")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_archive_container_sources(spark, tmp_path):
    """Zip and tar containers (RDFParserZip/RDFParserTar analogs): all
    .nt members — including member-compressed ones — parse identically
    to a flat-directory load; non-NT members are ignored."""
    import gzip
    import io
    import tarfile
    import zipfile

    from qendpoint_spark.sources import read_ntriples_archive, read_rdf_source

    lines = [
        '<http://x/s1> <http://x/p> "one" .',
        '<http://x/s2> <http://x/p> "two" .',
        '<http://x/s3> <http://x/p> "three" .',
        '<http://x/s4> <http://x/p> "four\\tescaped" .',
    ]
    adir = tmp_path / "archives"
    adir.mkdir()
    with zipfile.ZipFile(adir / "a.zip", "w") as zf:
        zf.writestr("inner/one.nt", lines[0] + "\n")
        zf.writestr("two.nt.gz", gzip.compress((lines[1] + "\n").encode()))
        zf.writestr("ignore.txt", "not triples\n")
    with tarfile.open(adir / "b.tar.gz", "w:gz") as tf:
        for name, text in (("three.nt", lines[2]), ("four.nt", lines[3])):
            data = (text + "\n").encode()
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))

    got = read_ntriples_archive(spark, str(adir))
    rows = {(r.s, r.o) for r in got.collect()}
    assert rows == {
        ("http://x/s1", '"one"'),
        ("http://x/s2", '"two"'),
        ("http://x/s3", '"three"'),
        ("http://x/s4", '"four\tescaped"'),
    }
    # dispatcher routes single archives too
    one = read_rdf_source(spark, str(adir / "a.zip"))
    assert one.count() == 2


def test_delta_file_roundtrip(spark, tmp_path):
    """Delta-file container (RDFDeltaFileParser format): cookie +
    little-endian header + VByte-sized gzip members; added members
    parse, deletion markers are skipped but inventoried."""
    from qendpoint_spark.sources import (
        delta_file_entries,
        guess_format,
        read_delta_file,
        read_rdf_source,
        write_delta_file,
    )

    blob = write_delta_file([
        ("add1.nt", b'<http://x/s1> <http://x/p> "one" .\n'),
        ("gone.nt", b""),  # deletion marker
        ("add2.nt", b'<http://x/s2> <http://x/p> "two" .\n'
                    b'<http://x/s3> <http://x/p> "three" .\n'),
        ("skip.ttl", b"@prefix x: <http://x/> ."),  # non-NT member
    ])
    path = tmp_path / "changes.df"
    path.write_bytes(blob)

    assert guess_format(str(path)) == "deltafile"
    got = read_delta_file(spark, str(tmp_path))
    assert {(r.s, r.o) for r in got.collect()} == {
        ("http://x/s1", '"one"'),
        ("http://x/s2", '"two"'),
        ("http://x/s3", '"three"'),
    }
    inv = {(r.member, r.deleted) for r in delta_file_entries(spark, str(tmp_path)).collect()}
    assert ("gone.nt", True) in inv and ("add1.nt", False) in inv
    # dispatcher route
    assert read_rdf_source(spark, str(path)).count() == 3
    # bad cookie raises like the reference
    from qendpoint_spark.sources import parse_delta_file
    try:
        parse_delta_file(b"NOTACOOKIE" + blob)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_xz_lzma_transparent_decompression(spark, tmp_path):
    """CompressionType.java:34-58 lists xz/lzma; Spark has no codec for
    either, so the Python lzma shim decodes them — single file, list of
    files, archive members, and directory members all route through it."""
    import lzma

    nt = (
        '<http://ex/s1> <http://ex/p> "café"@fr .\n'
        "<http://ex/s2> <http://ex/p> <http://ex/o> .\n"
    )
    xz_path = tmp_path / "data.nt.xz"
    xz_path.write_bytes(lzma.compress(nt.encode()))
    got = {
        tuple(r)
        for r in read_ntriples(spark, str(xz_path)).collect()
    }
    want = {
        ("http://ex/s1", "http://ex/p", '"café"@fr'),
        ("http://ex/s2", "http://ex/p", "http://ex/o"),
    }
    assert got == want

    # .lzma alias + mixed plain/.xz multi-path load
    lz_path = tmp_path / "more.nt.lzma"
    lz_path.write_bytes(
        lzma.compress(b"<http://ex/s3> <http://ex/p> <http://ex/o3> .\n")
    )
    plain = tmp_path / "plain.nt"
    plain.write_text("<http://ex/s4> <http://ex/p> <http://ex/o4> .\n")
    got = {
        tuple(r)
        for r in read_ntriples(
            spark, [str(xz_path), str(lz_path), str(plain)]
        ).collect()
    }
    assert got == want | {
        ("http://ex/s3", "http://ex/p", "http://ex/o3"),
        ("http://ex/s4", "http://ex/p", "http://ex/o4"),
    }

    # directory container with a mixed membership
    d = tmp_path / "dir"
    d.mkdir()
    (d / "a.nt").write_text("<http://ex/d1> <http://ex/p> <http://ex/o> .\n")
    (d / "b.nt.xz").write_bytes(
        lzma.compress(b"<http://ex/d2> <http://ex/p> <http://ex/o> .\n")
    )
    from qendpoint_spark.sources.ntriples import read_ntriples_dir

    got = {r["s"] for r in read_ntriples_dir(spark, str(d)).collect()}
    assert got == {"http://ex/d1", "http://ex/d2"}

    # zip archive with an .nt.xz member
    import zipfile

    zp = tmp_path / "arch.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr(
            "inner.nt.xz",
            lzma.compress(b"<http://ex/z1> <http://ex/p> <http://ex/o> .\n"),
        )
    from qendpoint_spark.sources.ntriples import read_ntriples_archive

    got = {r["s"] for r in read_ntriples_archive(spark, str(zp)).collect()}
    assert got == {"http://ex/z1"}


def test_nquads_parsing(spark, tmp_path):
    """N-Quads: 4th term (IRI or bnode graph label) lands in `g`;
    graph-less lines are default-graph statements (g NULL); escapes in
    terms still route through the unescape frame."""
    from qendpoint_spark.sources import read_nquads, read_rdf_source

    nq = (
        "<http://ex/s1> <http://ex/p> <http://ex/o1> <http://ex/g1> .\n"
        '<http://ex/s2> <http://ex/p> "caf\\u00e9"@fr <http://ex/g2> .\n'
        "<http://ex/s3> <http://ex/p> <http://ex/o3> _:gb .\n"
        "<http://ex/s4> <http://ex/p> <http://ex/o4> .\n"  # default graph
        "# comment line\n"
    )
    f = tmp_path / "data.nq"
    f.write_text(nq)
    got = {tuple(r) for r in read_nquads(spark, str(f)).collect()}
    assert got == {
        ("http://ex/s1", "http://ex/p", "http://ex/o1", "http://ex/g1"),
        ("http://ex/s2", "http://ex/p", '"café"@fr', "http://ex/g2"),
        ("http://ex/s3", "http://ex/p", "http://ex/o3", "_:gb"),
        ("http://ex/s4", "http://ex/p", "http://ex/o4", None),
    }
    # read_rdf_source dispatches on the .nq suffix
    assert set(read_rdf_source(spark, str(f)).columns) == {"s", "p", "o", "g"}


def test_nquads_through_quad_pipeline(spark, tmp_path):
    """A parsed .nq feeds the quad pipeline: G section encoded,
    quads_spog published, GRAPH query answers match the file."""
    from qendpoint_spark.catalog import Catalog
    from qendpoint_spark.pipeline import run_pipeline
    from qendpoint_spark.sources import read_nquads

    nq = (
        "<http://ex/a> <http://ex/p> <http://ex/b> <http://ex/g1> .\n"
        "<http://ex/a> <http://ex/p> <http://ex/c> <http://ex/g2> .\n"
        "<http://ex/b> <http://ex/q> \"v\" <http://ex/g1> .\n"
    )
    f = tmp_path / "quads.nq"
    f.write_text(nq)
    quads = read_nquads(spark, str(f))
    cat = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(
        spark, cat, source_df=quads, source_kind="triples",
        source_fingerprint="nq-test", num_partitions=2, with_stats=False,
    )
    from qendpoint_spark.sparql import SparqlEngine

    eng = SparqlEngine(
        cat.read("triples_spo"),
        cat.read("dict_terms"),
        quads=cat.read("quads_spog"),
    )
    out = eng.query(
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s <http://ex/p> ?o } }"
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        ("http://ex/g1", "http://ex/a"),
        ("http://ex/g2", "http://ex/a"),
    ]


def test_list_mixes_notations(spark, tmp_path):
    """A .list hands every entry to the reader its notation picks
    (RDFParserList analog), not only the N-Triples ones."""
    from qendpoint_spark.sources import read_rdf_source

    (tmp_path / "a.nt").write_text("<http://x/a> <http://x/p> <http://x/o> .\n")
    (tmp_path / "b.ttl").write_text(
        "@prefix x: <http://x/> .\nx:b x:p x:o .\n"
    )
    lst = tmp_path / "inputs.list"
    lst.write_text(f"{tmp_path / 'a.nt'}\n{tmp_path / 'b.ttl'}\n")
    got = {tuple(r) for r in read_rdf_source(spark, str(lst)).collect()}
    assert got == {
        ("http://x/a", "http://x/p", "http://x/o"),
        ("http://x/b", "http://x/p", "http://x/o"),
    }


def test_dir_of_turtle_files(spark, tmp_path):
    """A directory recurses through the notation table (RDFParserDir
    analog): Turtle members, compressed or not, are read; members of
    no known notation are skipped."""
    import gzip

    from qendpoint_spark.sources import read_rdf_source

    d = tmp_path / "ttl"
    (d / "sub").mkdir(parents=True)
    (d / "a.ttl").write_text("@prefix x: <http://x/> .\nx:a x:p x:o .\n")
    with gzip.open(d / "sub" / "b.ttl.gz", "wt") as f:
        f.write("@prefix x: <http://x/> .\nx:b x:p x:o .\n")
    (d / "notes.txt").write_text("not rdf\n")
    got = read_rdf_source(spark, str(d))
    assert got.columns == ["s", "p", "o"]
    assert {r.s for r in got.collect()} == {"http://x/a", "http://x/b"}


def test_dir_skips_unreadable_members(spark, tmp_path):
    """A directory yields exactly its RDF documents' statements: a .rar,
    a parquet table (bigint IDs, e.g. a warehouse) and a .list member
    (here one naming itself) are skipped, not read or followed."""
    import gzip

    from qendpoint_spark.sources import read_rdf_source

    d = tmp_path / "in"
    (d / "sub").mkdir(parents=True)
    (d / "a.nt").write_text("<http://x/a> <http://x/p> <http://x/o> .\n")
    with gzip.open(d / "sub" / "b.NT.gz", "wt") as f:
        f.write("<http://x/b> <http://x/p> <http://x/o> .\n")
    (d / "c.rar").write_bytes(b"Rar!\x1a\x07\x00 not really")
    pd.DataFrame({"s": [1], "p": [2], "o": [3]}).to_parquet(d / "t.parquet")
    (d / "self.list").write_text(f"{d / 'self.list'}\n")
    got = read_rdf_source(spark, str(d))
    assert got.columns == ["s", "p", "o"]
    assert {tuple(r) for r in got.collect()} == {
        ("http://x/a", "http://x/p", "http://x/o"),
        ("http://x/b", "http://x/p", "http://x/o"),
    }


def test_nquads_xz(spark, tmp_path):
    """xz/lzma decode for N-Quads as for N-Triples."""
    import lzma

    from qendpoint_spark.sources import read_rdf_source

    f = tmp_path / "data.nq.xz"
    f.write_bytes(
        lzma.compress(
            b"<http://x/s> <http://x/p> <http://x/o> <http://x/g> .\n"
            b"<http://x/s> <http://x/p> <http://x/o2> .\n"
        )
    )
    got = {tuple(r) for r in read_rdf_source(spark, str(f)).collect()}
    assert got == {
        ("http://x/s", "http://x/p", "http://x/o", "http://x/g"),
        ("http://x/s", "http://x/p", "http://x/o2", None),
    }


def test_zip_turtle_member(spark, tmp_path):
    """Archive members go through the notation table too (RDFParserZip
    analog); bnodes stay scoped per member."""
    import zipfile

    from qendpoint_spark.sources import read_rdf_source

    zp = tmp_path / "a.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("one.ttl", "@prefix x: <http://x/> .\nx:a x:p [ x:q x:o ] .\n")
        zf.writestr("two.ttl", "@prefix x: <http://x/> .\nx:b x:p [ x:q x:o ] .\n")
        zf.writestr("three.nt", "<http://x/c> <http://x/p> <http://x/o> .\n")
    got = read_rdf_source(spark, str(zp))
    assert got.columns == ["s", "p", "o"]
    rows = {tuple(r) for r in got.collect()}
    assert len(rows) == 5
    assert {s for s, _, _ in rows if not s.startswith("_:")} == {
        "http://x/a", "http://x/b", "http://x/c"
    }
    assert len({s for s, _, _ in rows if s.startswith("_:")}) == 2


def test_mixed_triple_quad_container(spark, tmp_path):
    """A container mixing triple and quad notations yields (s, p, o, g),
    the triple members in the default graph (g NULL)."""
    from qendpoint_spark.sources import read_rdf_source

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "a.nt").write_text("<http://x/a> <http://x/p> <http://x/o> .\n")
    (d / "b.nq").write_text(
        "<http://x/b> <http://x/p> <http://x/o> <http://x/g> .\n"
    )
    got = read_rdf_source(spark, str(d))
    assert set(got.columns) == {"s", "p", "o", "g"}
    assert {(r.s, r.g) for r in got.collect()} == {
        ("http://x/a", None), ("http://x/b", "http://x/g")
    }


def test_unknown_notation_raises(spark, tmp_path):
    """A named file of no known notation is an error, not an empty
    N-Triples directory."""
    import pytest

    from qendpoint_spark.sources import read_rdf_source

    f = tmp_path / "data.xyz"
    f.write_text("<http://x/a> <http://x/p> <http://x/o> .\n")
    with pytest.raises(ValueError, match="data.xyz"):
        read_rdf_source(spark, str(f))


def test_sparql_literal_matches_loaded_escapes(spark, tmp_path):
    """One unescape: a SPARQL literal written with \\U, \\b and \\f
    escapes is the term the N-Triples loader stores for them."""
    from qendpoint_spark.sparql import parse_query

    lit = '"x\\U0001F600\\b\\f"'
    f = tmp_path / "esc.nt"
    f.write_text(f"<http://x/s> <http://x/p> {lit} .\n")
    stored = read_ntriples(spark, str(f)).collect()[0].o
    assert stored == '"x\U0001f600\b\f"'
    q = parse_query(f"SELECT ?s WHERE {{ ?s <http://x/p> {lit} }}")
    assert q.where.elements[0].o.lex == stored
