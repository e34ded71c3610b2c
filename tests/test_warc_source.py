"""WARC ingestion source: writer/parser round-trip and the Spark scan.

The north-rule input table materializes from Common-Crawl-style WARC
archives in production; these tests prove the on-ramp end to end — pages
synthesized by pages_source → WARC archives (all three wild layouts) →
``pages_from_warc`` binaryFile scan → byte-identical html, and the full
extraction invariant (byte-identical extracted text per url) through the
WARC path.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib
from functools import partial

import pytest

from docling_ibm_models_spark.sources.warc_source import (
    _CONVERSION,
    _LAYOUTS,
    _RESPONSE,
    _read_record_from,
    _records_to_rows,
    _write_archive,
    _write_archives,
    iter_warc_records,
    pages_from_warc,
)

from .conftest import SF_MED, SF_SMALL

TS0 = dt.datetime(2024, 3, 5, 12, 0, 7, tzinfo=dt.timezone.utc)


def _recs(n: int, salt: str = "") -> list[tuple[str, dt.datetime, bytes]]:
    return [
        (
            f"https://ex{i}.com/{salt}p",
            TS0 + dt.timedelta(seconds=i),
            f"<html><body><p>doc {salt}{i} body with bytes \xe9—</p></body></html>".encode(),
        )
        for i in range(n)
    ]


def _kind(kind: str):
    """(writer, row reader, row width) of a record kind."""
    if kind == "warc":
        return partial(_write_archive, _RESPONSE), partial(_records_to_rows, _RESPONSE), 6
    return partial(_write_archive, _CONVERSION), partial(_records_to_rows, _CONVERSION), 5


def _fetch(path: str, offset: int):
    """One record by (archive path, CDX offset), read the way
    ``fetch_warc_bodies`` reads it: ``(headers, block, bytes_read)``."""
    with open(path, "rb") as f:
        return _read_record_from(f, offset)


_LAYOUTS = ["record", "file", "none"]


# the WARC cases keep their bare layout ids
@pytest.mark.parametrize(
    "kind, compression",
    [pytest.param("warc", c, id=c) for c in _LAYOUTS]
    + [pytest.param("wet", c, id=f"wet-{c}") for c in _LAYOUTS],
)
def test_round_trip(tmp_path, kind, compression):
    write, read, width = _kind(kind)
    recs = _recs(7) if kind == "warc" else _wet_recs(7)
    p = str(tmp_path / f"a.{compression}.warc")
    n_written = write(p, recs, compression=compression)
    raw = open(p, "rb").read()
    assert n_written == 8  # warcinfo + 7 responses / conversions
    assert len(list(iter_warc_records(raw))) == 8  # warcinfo parsed too
    rows = list(read("a", raw))
    assert {len(r) for r in rows} == {width}
    assert [(r[0], r[1], r[2]) for r in rows] == recs
    if kind == "warc":
        assert all(r[3] is None for r in rows)  # no <html lang> in these bodies
    offsets = [r[-1] for r in rows]
    assert offsets == sorted(offsets)
    if compression != "file":
        # CDX-style provenance: every response record has its own offset
        assert len(set(offsets)) == len(rows)


def test_record_gzip_offsets_are_member_starts(tmp_path):
    """Record-compressed offsets must point at real gzip member starts —
    the property CDX indexes rely on for random access into CC archives."""
    import gzip
    import io

    p = str(tmp_path / "cc.warc.gz")
    recs = _recs(5)
    _write_archive(_RESPONSE, p, recs, compression="record")
    raw = open(p, "rb").read()
    for _, _, html, _, _, off in _records_to_rows(_RESPONSE, "cc", raw):
        member = gzip.GzipFile(fileobj=io.BytesIO(raw[off:])).read()
        assert member.startswith(b"WARC/1.0\r\n")
        assert html in member


def test_bare_lf_headers(tmp_path):
    """Some writers emit bare-LF line endings; the parser tolerates them."""
    body = b"<html><body>lf doc</body></html>"
    block = b"HTTP/1.1 200 OK\n\n" + body
    rec = (
        b"WARC/1.0\n"
        b"WARC-Type: response\n"
        b"WARC-Target-URI: https://lf.example/x\n"
        b"WARC-Date: 2024-03-05T12:00:07Z\n"
        + f"Content-Length: {len(block)}".encode()
        + b"\n\n"
        + block
        + b"\n\n"
    )
    rows = list(_records_to_rows(_RESPONSE, "lf", rec))
    assert rows == [
        ("https://lf.example/x", TS0, body, None, "lf", 0),
    ]


def test_pages_from_warc_spark_scan(spark, tmp_path):
    """binaryFile scan over a directory of mixed-layout archives returns
    every response record with byte-identical html and correct offsets."""
    warc_dir = tmp_path / "warcs"
    os.makedirs(warc_dir)
    expected: dict[str, tuple[dt.datetime, bytes]] = {}
    for i, comp in enumerate(["record", "file", "none"]):
        recs = _recs(6, salt=f"f{i}-")
        _write_archive(_RESPONSE, str(warc_dir / f"part-{i}.warc.gz"), recs, compression=comp)
        expected.update({u: (ts, html) for u, ts, html in recs})

    df = pages_from_warc(spark, str(warc_dir))
    rows = df.collect()
    assert len(rows) == 18
    for r in rows:
        ts, html = expected[r.url]
        assert bytes(r.html) == html
        assert r.warc_ts == ts.replace(tzinfo=None) or r.warc_ts.replace(
            tzinfo=dt.timezone.utc
        ) == ts
        assert r.warc_file.endswith((".warc.gz",))
        assert r.warc_offset >= 0
    # offsets from the Spark path match the pure-python parser exactly
    raw0 = open(warc_dir / "part-0.warc.gz", "rb").read()
    py_offsets = {u: off for u, _, _, _, _, off in _records_to_rows(_RESPONSE, "x", raw0)}
    for r in rows:
        if r.warc_file.endswith("part-0.warc.gz"):
            assert r.warc_offset == py_offsets[r.url]


def test_extraction_through_warc_path_is_byte_identical(spark, tmp_path):
    """The full north-rule invariant through the WARC on-ramp: archives
    built from the synthetic pages rows extract to byte-identical text."""
    from docling_ibm_models_spark.pipeline.extract import (
        doc_text_clean,
        extract_doc_text,
    )
    from docling_ibm_models_spark.sources.pages_source import pages_from_documents

    pages = pages_from_documents(spark, SF_SMALL, parallelism=4).limit(120)
    src = [
        (r.url, r.warc_ts.replace(tzinfo=dt.timezone.utc), bytes(r.html), r.text)
        for r in pages.collect()
    ]
    warc_dir = tmp_path / "cc"
    os.makedirs(warc_dir)
    third = (len(src) + 2) // 3
    for i, comp in enumerate(["record", "file", "none"]):
        chunk = src[i * third : (i + 1) * third]
        _write_archive(_RESPONSE, 
            str(warc_dir / f"crawl-{i}.warc.gz"),
            [(u, ts, h) for u, ts, h, _ in chunk],
            compression=comp,
        )

    scanned = pages_from_warc(spark, str(warc_dir))
    out = doc_text_clean(extract_doc_text(scanned))
    got = {r.url: r.extracted_text for r in out.collect()}
    want = {u: t for u, _, _, t in src}
    assert len(got) == len(src)
    assert got == want  # byte-identical per url, through WARC bytes
    # the sniffed lang column matches the synthetic page's declared lang
    langs = {r.url: r.lang for r in scanned.select("url", "lang").collect()}
    for u, _, _, _ in src:
        assert langs[u] == u.split("/")[3]  # url path carries the lang


def test_warc_extraction_path_is_shuffle_free(spark, tmp_path):
    """The WARC production path — binaryFile scan → mapInPandas parse →
    mapInArrow extraction — must contain NO Exchange: archive ingestion
    and extraction stay narrow end to end, exactly like the parquet path."""
    from docling_ibm_models_spark.pipeline.extract import extract_doc_text

    warc_dir = tmp_path / "w"
    os.makedirs(warc_dir)
    _write_archive(_RESPONSE, str(warc_dir / "a.warc.gz"), _recs(3), compression="record")
    from .test_plan_quality import plan_of

    out = extract_doc_text(pages_from_warc(spark, str(warc_dir)))
    plan = plan_of(out)
    assert "Exchange" not in plan, "WARC extraction path gained a shuffle"
    assert "MapInArrow" in plan and "BatchEvalPython" not in plan


def test_warc_lineage_and_resume(spark, tmp_path):
    """The lineage/resume machinery runs directly over raw crawl archives:
    mid-run kill, exact resume, byte-identical complete output."""
    from pyspark.sql import functions as F

    from docling_ibm_models_spark.pipeline.lineage import (
        committed_partitions,
        run_extraction,
        snapshot_id_for,
    )
    from docling_ibm_models_spark.sources.pages_source import pages_from_documents

    out_dir = str(tmp_path / "out")
    warc_dir = str(tmp_path / "archives")
    pages = pages_from_documents(spark, SF_SMALL, parallelism=8)
    n_archives = _write_archives(_RESPONSE, pages.repartition(8, "url"), warc_dir, _LAYOUTS)
    assert n_archives == 8
    snap = snapshot_id_for(f"warc|{SF_SMALL}")

    r1 = run_extraction(
        spark, warc_dir, out_dir, snap, num_partitions=4,
        chunk_partitions=1, max_chunks=2, input_format="warc",
    )
    assert r1.partitions_processed == 2
    assert len(committed_partitions(spark, out_dir, snap)) == 2

    r2 = run_extraction(
        spark, warc_dir, out_dir, snap, num_partitions=4,
        chunk_partitions=1, input_format="warc",
    )
    assert r2.partitions_done_before == 2
    assert r1.docs_processed + r2.docs_processed == 500

    result = spark.read.parquet(f"{out_dir}/doc_text")
    joined = result.join(pages.select("url", F.col("text").alias("expected")), "url")
    assert result.count() == 500
    assert joined.filter(F.col("extracted_text") != F.col("expected")).count() == 0


def test_corrupt_tail_keeps_parsed_records(tmp_path):
    """A truncated/corrupted gzip member costs its own records, never the
    records already parsed (a single bad archive must not kill the task)."""
    p = str(tmp_path / "t.warc.gz")
    _write_archive(_RESPONSE, p, _recs(6), compression="record")
    raw = bytearray(open(p, "rb").read())
    offsets = [r[5] for r in _records_to_rows(_RESPONSE, "t", bytes(raw))]
    cut = offsets[4] + 10  # truncate inside the 5th response's member
    rows = list(_records_to_rows(_RESPONSE, "t", bytes(raw[:cut])))
    assert [r[0] for r in rows] == [u for u, _, _ in _recs(4)]
    # corrupt (not truncate) the same member: flip bytes mid-member
    bad = bytearray(raw)
    bad[offsets[4] + 12 : offsets[4] + 16] = b"\x00\x00\x00\x00"
    rows2 = list(_records_to_rows(_RESPONSE, "t", bytes(bad)))
    assert [r[0] for r in rows2] == [u for u, _, _ in _recs(4)]


def test_warc_round_trip_property():
    """Property: any (url, ts, body-bytes) list round-trips through every
    compression layout — including bodies containing WARC headers, CRLF
    runs, gzip magic, NULs, and non-UTF8 bytes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    url_st = st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126, exclude_characters="\r\n"),
        min_size=1,
        max_size=40,
    ).map(lambda s: "https://h.example/" + s)
    body_st = st.one_of(
        st.binary(min_size=0, max_size=300),
        st.just(b"WARC/1.0\r\nContent-Length: 4\r\n\r\nfake\r\n\r\n"),
        st.just(b"\x1f\x8b\x08\x00 gzip magic inside body \x00\x00"),
        st.just(b"</html\n\n<html>embedded blank lines\r\n\r\nmore"),
    )
    ts_st = st.integers(min_value=0, max_value=2**31 - 1).map(
        lambda s: dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(seconds=s % (5 * 365 * 86400))
    )
    recs_st = st.lists(st.tuples(url_st, ts_st, body_st), min_size=0, max_size=8)

    @settings(max_examples=40, deadline=None)
    @given(recs=recs_st, comp=st.sampled_from(["record", "file", "none"]))
    def check(recs, comp):
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            p = os.path.join(td, "x.warc")
            _write_archive(_RESPONSE, p, recs, compression=comp)
            rows = list(_records_to_rows(_RESPONSE, "x", open(p, "rb").read()))
        assert [(r[0], r[1], r[2]) for r in rows] == recs

    check()


def test_malformed_content_length_resyncs(tmp_path):
    """A record whose Content-Length is garbage costs only itself: the
    parser resyncs at the next record instead of stalling (and the buffer
    keeps draining — no unbounded accumulation)."""
    p = str(tmp_path / "bad.warc")
    recs = _recs(7)
    _write_archive(_RESPONSE, p, recs, compression="none")
    raw = open(p, "rb").read()
    # corrupt response1's WARC-level Content-Length. Each response holds
    # TWO "Content-Length:" headers (WARC record + inner HTTP block); the
    # find sequence is [warcinfo-WARC, resp0-WARC, resp0-HTTP, resp1-WARC]
    anchor = b"Content-Length: "
    idx = -1
    for _ in range(4):
        idx = raw.find(anchor, idx + 1)
    bad = raw[:idx] + b"Content-Length: xx" + raw[idx + len(anchor) + 3 :]
    rows = list(_records_to_rows(_RESPONSE, "bad", bad))
    got = [r[0] for r in rows]
    want = [u for u, _, _ in recs]
    assert want[0] in got and set(want[2:]).issubset(set(got))
    assert want[1] not in got  # only the damaged record is lost


def test_warc11_fractional_second_dates():
    body = b"<html>x</html>"
    block = b"HTTP/1.1 200 OK\r\n\r\n" + body
    rec = (
        b"WARC/1.1\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: https://f.example/x\r\n"
        b"WARC-Date: 2024-03-05T12:00:07.123456Z\r\n"
        + f"Content-Length: {len(block)}".encode()
        + b"\r\n\r\n"
        + block
        + b"\r\n\r\n"
    )
    rows = list(_records_to_rows(_RESPONSE, "f", rec))
    assert rows[0][1] == TS0.replace(microsecond=123456)


def test_archive_extension_matches_compression(spark, tmp_path):
    """The archive sink names plain archives .warc and gzip ones
    .warc.gz — extension-keyed consumers (zcat, pathGlobFilter) must not
    be lied to."""
    import glob
    import gzip

    from docling_ibm_models_spark.sources.pages_source import pages_from_documents

    out = str(tmp_path / "arch")
    pages = pages_from_documents(spark, SF_SMALL, parallelism=6, max_doc_id=60)
    _write_archives(_RESPONSE, pages.repartition(6, "url"), out, _LAYOUTS)
    names = sorted(glob.glob(f"{out}/*"))
    assert names
    for f in names:
        raw = open(f, "rb").read(2)
        if f.endswith(".warc.gz"):
            assert raw == b"\x1f\x8b"
        else:
            assert f.endswith(".warc") and raw != b"\x1f\x8b"
        # and gzip tooling agrees with the extension
        if f.endswith(".gz"):
            gzip.GzipFile(f).read(16)


@pytest.mark.parametrize("kind", ["warc", "wet"])
def test_naive_datetime_written_as_utc(tmp_path, kind):
    """A NAIVE timestamp passed to the archive writer is treated as
    UTC, never shifted by the host zone (astimezone() on a naive datetime
    interprets it as host-local time)."""
    import os
    import time as _time

    write, read, _ = _kind(kind)
    payload = b"<p>x</p>" if kind == "warc" else "t"
    naive = dt.datetime(2025, 3, 1, 12, 0, 0)  # no tzinfo
    aware = naive.replace(tzinfo=dt.timezone.utc)
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"  # UTC-5: a shift would be visible
    _time.tzset()
    try:
        p1 = str(tmp_path / "naive.warc")
        p2 = str(tmp_path / "aware.warc")
        write(p1, [("https://ex.com/a", naive, payload)], compression="none")
        write(p2, [("https://ex.com/a", aware, payload)], compression="none")
        b1, b2 = open(p1, "rb").read(), open(p2, "rb").read()
        assert b"2025-03-01T12:00:00Z" in b1
        assert b1 == b2
        ((_, ts, *_),) = read("n", b1)
        assert ts == naive.replace(tzinfo=dt.timezone.utc)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()


# ---------------------------------------------------------------------------
# CDX offset read-back (round 5): seek-read == scan-read, without scanning
# ---------------------------------------------------------------------------


def _big_recs(n: int, body_kb: int = 8) -> list[tuple[str, dt.datetime, bytes]]:
    import hashlib

    def filler(i: int) -> str:  # incompressible: gzip can't shrink hex digests
        out = []
        for j in range(body_kb * 1024 // 64):
            out.append(hashlib.sha256(f"{i}:{j}".encode()).hexdigest())
        return " ".join(out)

    return [
        (
            f"https://big{i}.example.com/p",
            TS0 + dt.timedelta(seconds=i),
            f"<html><body><p>record {i} {filler(i)}</p></body></html>".encode(),
        )
        for i in range(n)
    ]


@pytest.mark.parametrize("compression", ["record", "none"])
def test_cdx_fetch_identity_and_byte_evidence(tmp_path, compression):
    """A CDX point read must return the IDENTICAL record the sequential
    scan yields at that offset (the identity a CDX index promises), while
    touching only ~one record's worth of the archive — the point of
    recording member offsets. The archive here is the multi-record layout
    of a real CC file (hundreds of records; a 1 GB archive only scales the
    record count, not the per-fetch cost)."""

    ext = ".warc" if compression == "none" else ".warc.gz"
    p = str(tmp_path / f"cc{ext}")
    recs = _big_recs(400)
    _write_archive(_RESPONSE, p, recs, compression=compression)
    size = os.path.getsize(p)
    raw = open(p, "rb").read()
    scan = [
        (h.get("warc-target-uri"), b, off)
        for h, b, off in iter_warc_records(raw)
        if h.get("warc-type") == "response"
    ]
    assert len(scan) == 400
    # fetch every 37th record + the very last one by its recorded offset
    for url, block, off in scan[::37] + [scan[-1]]:
        headers, got_block, nread = _fetch(p, off)
        assert headers.get("warc-target-uri") == url
        assert got_block == block
        # byte-count evidence: a point fetch reads ~one record (<=256 KiB
        # here incl. the read-ahead chunk), never a meaningful fraction
        # of the archive
        assert nread <= 256 * 1024
        assert nread < size * 0.1, (nread, size)


def test_cdx_fetch_rejects_non_record_offsets(tmp_path):

    p = str(tmp_path / "cc.warc.gz")
    _write_archive(_RESPONSE, p, _big_recs(5), compression="record")
    raw = open(p, "rb").read()
    offs = [off for _, _, off in iter_warc_records(raw)]
    with pytest.raises(ValueError):
        _fetch(p, offs[1] + 3)  # mid-member: not a gzip start
    with pytest.raises(ValueError):
        _fetch(p, len(raw) + 10)  # past EOF


def _seekable_archive(tmp_path, compression, recs):
    """(path, raw bytes, response offsets) of a seekable archive."""
    p = str(tmp_path / ("cc.warc" if compression == "none" else "cc.warc.gz"))
    _write_archive(_RESPONSE, p, recs, compression=compression)
    raw = open(p, "rb").read()
    offs = [off for h, _, off in iter_warc_records(raw) if h.get("warc-type") == "response"]
    return p, raw, offs


@pytest.mark.parametrize("compression", ["record", "none"])
def test_cdx_fetch_rejects_truncated_archive(tmp_path, compression):

    p, raw, offs = _seekable_archive(tmp_path, compression, _big_recs(3))
    # cut the file halfway through the last record
    with open(p, "wb") as f:
        f.write(raw[: offs[-1] + (len(raw) - offs[-1]) // 2])
    with pytest.raises(ValueError, match="archive truncated"):
        _fetch(p, offs[-1])
    # the records before the cut still fetch
    assert _fetch(p, offs[0])[0]["warc-type"] == "response"


@pytest.mark.parametrize("compression", ["record", "none"])
def test_cdx_fetch_rejects_unparseable_content_length(tmp_path, compression):
    import gzip


    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://bad.example/\r\n"
        b"Content-Length: 12x\r\n\r\n<p>body</p>\r\n\r\n"
    )
    p = str(tmp_path / "bad.warc")
    with open(p, "wb") as f:
        f.write(gzip.compress(rec, mtime=0) if compression == "record" else rec)
    with pytest.raises(ValueError, match="unparseable record header"):
        _fetch(p, 0)


def test_cdx_fetch_rejects_mid_record_offset_in_plain_archive(tmp_path):
    import io


    class CountingReads(io.BytesIO):
        def read(self, n=-1):
            reads.append(n)
            return super().read(n)

    # records larger than one read: the next record start is not in it
    p, raw, offs = _seekable_archive(tmp_path, "none", _big_recs(3, body_kb=64))
    body_at = raw.index(b"<html>", offs[1])
    for off in (offs[1] + 3, body_at):  # inside the header; inside the block
        with pytest.raises(ValueError, match="not a record start"):
            _fetch(p, off)
        # refused on the first read, not after reading ahead for a record
        reads: list[int] = []
        with pytest.raises(ValueError, match="not a record start"):
            _read_record_from(CountingReads(raw), off)
        assert len(reads) == 1


@pytest.mark.parametrize("compression", ["record", "none"])
def test_cdx_fetch_refuses_records_over_the_cap(tmp_path, compression, monkeypatch):
    from docling_ibm_models_spark.sources import warc_source

    # ~66 KiB records: larger than one 32 KiB read, so both layouts have
    # buffered past a 40 KiB cap before the record is complete
    p, _, offs = _seekable_archive(tmp_path, compression, _big_recs(2, body_kb=64))
    assert _fetch(p, offs[0])[1]  # fetches uncapped
    monkeypatch.setattr(warc_source, "_MAX_FETCH_RECORD", 40 * 1024)
    with pytest.raises(ValueError, match="record exceeds fetch cap"):
        _fetch(p, offs[0])


def test_fetch_warc_bodies_spark_stage(tmp_path, spark):
    """Distributed fetch: CDX rows (warc_file, warc_offset) → bodies via
    seek-read, url/ts re-derived from the FETCHED record; rows must equal
    the scan-read rows for the sampled offsets across BOTH seekable
    layouts."""
    from docling_ibm_models_spark.sources.warc_source import fetch_warc_bodies

    paths = []
    for i, comp in enumerate(["record", "none", "record"]):
        ext = ".warc" if comp == "none" else ".warc.gz"
        p = str(tmp_path / f"a{i}{ext}")
        _write_archive(_RESPONSE, p, _recs(9, salt=f"s{i}-"), compression=comp)
        paths.append(p)
    expected = {}
    cdx_rows = []
    for p in paths:
        raw = open(p, "rb").read()
        for url, ts, html, lang, _, off in _records_to_rows(_RESPONSE, p, raw):
            if zlib.crc32(url.encode()) % 3 == 0:
                continue  # sample: skip a third
            expected[url] = (ts, html)
            cdx_rows.append((p, off))
    cdx = spark.createDataFrame(cdx_rows, "warc_file string, warc_offset long")
    got = fetch_warc_bodies(cdx).collect()
    assert len(got) == len(cdx_rows)
    for r in got:
        ts, html = expected[r.url]
        assert bytes(r.html) == html
        assert r.warc_ts.replace(tzinfo=dt.timezone.utc) == ts
        assert 0 < r.fetch_bytes <= 256 * 1024


# ---------------------------------------------------------------------------
# WET (conversion records) — the extraction OUTPUT side of the on-ramp
# ---------------------------------------------------------------------------


def _wet_recs(n: int) -> list[tuple[str, dt.datetime, str]]:
    # hostile extracted text: embedded WARC header lines, CRLF runs, NULs,
    # non-ASCII — everything the Content-Length-framed parser must not
    # trip on when it appears INSIDE a conversion block
    return [
        (
            f"https://ex{i}.com/wet",
            TS0 + dt.timedelta(seconds=i),
            f"line one {i}\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n"
            f"Content-Length: 3\x00\r\n\r\né—{i}",
        )
        for i in range(n)
    ]


def test_wet_reader_skips_response_records(tmp_path):
    # a mixed archive (CC never mixes, but a tolerant reader must filter by
    # WARC-Type, not by position): WET reader sees only conversions, the
    # pages reader only responses
    p_warc = str(tmp_path / "m.warc")
    p_wet = str(tmp_path / "m.warc.wet")
    _write_archive(_RESPONSE, p_warc, _recs(3), compression="none")
    _write_archive(_CONVERSION, p_wet, _wet_recs(2), compression="none")
    with open(p_warc, "rb") as f1, open(p_wet, "rb") as f2:
        mixed = f1.read() + f2.read()
    assert len(list(_records_to_rows(_CONVERSION, "m", mixed))) == 2
    assert len(list(_records_to_rows(_RESPONSE, "m", mixed))) == 3


def test_wet_spark_scan_and_distributed_writer(spark, tmp_path):
    from docling_ibm_models_spark.sources.warc_source import text_from_wet

    recs = _wet_recs(20)
    df = spark.createDataFrame(
        [(u, ts, t) for u, ts, t in recs],
        "url string, warc_ts timestamp, extracted_text string",
    ).repartition(4, "url")
    out = str(tmp_path / "wet")
    n_archives = _write_archives(_CONVERSION, df, out, _LAYOUTS)
    assert n_archives == 4
    exts = {f.split(".", 1)[1] for f in os.listdir(out)}
    assert exts <= {"warc.wet", "warc.wet.gz"}
    back = text_from_wet(spark, out).select("url", "extracted_text").collect()
    assert sorted((r["url"], r["extracted_text"]) for r in back) == sorted(
        (u, t) for u, ts, t in recs
    )


def test_cache_dir_names_are_visible_to_spark(spark):
    """Spark's file index skips a path whose name starts with '_' or '.'
    (the driver logs "All paths were ignored"); no cached archive dir may."""
    import tempfile

    from docling_ibm_models_spark.sources.warc_source import (
        cached_warc_dir,
        cached_wet_dir,
    )

    for d in (cached_warc_dir(spark, SF_MED), cached_wet_dir(spark, SF_MED)):
        parts = os.path.relpath(d, tempfile.gettempdir()).split(os.sep)
        assert not [p for p in parts if p.startswith(("_", "."))], d
