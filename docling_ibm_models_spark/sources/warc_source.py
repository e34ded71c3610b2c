"""WARC ingestion source — the Common-Crawl on-ramp to the pages table.

The engine's input table ``(url, warc_ts, html, ...)`` (BASELINE.json
input_hint) is, in production, materialized from Common-Crawl-style WARC
archives; its extraction output maps onto CC's WET files (``conversion``
records of plain text). Public-spec-only code (ISO 28500 WARC/1.0/1.1;
RFC 1952 gzip). One writer, parser, Spark scan and archive sink serve
both record kinds; a :class:`_Kind` holds only what differs.

* :func:`write_warc` / :func:`write_wet` — deterministic writer used by
  tests/benches, in the three layouts seen in the wild: plain, one gzip
  stream, and Common Crawl's one gzip *member per record* (which is what
  makes CC archives seekable by CDX offset).
* :func:`iter_warc_records` — incremental parser: gzip members are
  decompressed one at a time with ``zlib.decompressobj`` and records are
  scanned from a rolling buffer, so peak memory is one record + one
  member, never the whole decompressed archive (~1 GB compressed CC files
  decompress 3-5x; holding that per task would blow a 4 GiB executor).
* :func:`pages_from_warc` / :func:`text_from_wet` — ``binaryFile`` scan
  → ``mapInPandas`` parse → one row per record with CDX-style provenance
  ``(warc_file, warc_offset)``, which :func:`fetch_warc_bodies` seeks by.

Scale notes (100 TB crawl ≈ 100k × 1 GB archives): WARC archives don't
split — gzip members must be scanned sequentially — so ``binaryFile``'s
one-task-per-file granularity is exactly right for a 1000-executor
cluster: ~100 tasks per executor, zero shuffle, and per-partition lineage
attaches naturally to the archive path. ``pathGlobFilter`` prunes at the
listing, and the parse yields output frames in bounded chunks so Arrow
batches stay small even for million-record archives.
"""

from __future__ import annotations

import collections
import datetime as _dt
import gzip as _gzip
import hashlib
import io as _io
import itertools as _itertools
import os
import re as _re
import tempfile
import zlib as _zlib
from collections.abc import Callable, Iterator
from typing import Any, NamedTuple

import pandas as pd

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"
_GZIP_MAGIC = b"\x1f\x8b"

# rows per yielded pandas frame: bounds driver/executor Arrow batch memory
# no matter how many records one archive holds
_CHUNK_ROWS = 2048

# the three wild layouts; the archive sinks cycle through them by partition
_LAYOUTS = ("record", "file", "none")


# ---------------------------------------------------------------------------
# record kinds: HTTP response (WARC) and conversion (WET)
# ---------------------------------------------------------------------------


def _http_response_block(html) -> bytes:
    html = bytes(html)
    http_head = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n"
        + f"Content-Length: {len(html)}".encode()
        + _CRLF
    )
    return http_head + _CRLF + html


_LANG_ATTR = _re.compile(rb'<html[^>]*\blang=["\']?([A-Za-z][A-Za-z-]{0,10})', _re.I)


def _sniff_lang(html: bytes, http_head: bytes) -> str | None:
    """lang from the <html lang=..> attribute of the first KB, falling back
    to the HTTP Content-Language header. CC pipelines re-derive language
    with a classifier downstream (this engine's lang_id query); the sniff
    just carries the source's own claim into the input_hint `lang` column."""
    m = _LANG_ATTR.search(html[:1024])
    if m:
        return m.group(1).decode("ascii").lower()
    m2 = _re.search(rb"(?im)^content-language:\s*([A-Za-z-]+)", http_head)
    return m2.group(1).decode("ascii").lower() if m2 else None


def _http_response_columns(block: bytes) -> tuple[bytes, str | None]:
    """``(html, lang)`` of an HTTP response block: the body follows the
    first blank line."""
    i = block.find(_HDR_END)
    if i >= 0:
        body = block[i + 4 :]
    else:
        i = block.find(b"\n\n")
        body = block[i + 2 :] if i >= 0 else block
    return body, _sniff_lang(body, block[: len(block) - len(body)])


class _Kind(NamedTuple):
    """What a record kind does not share with the other."""

    warc_type: str  # WARC-Type of the payload records
    content_type: str  # Content-Type of the payload records
    info: bytes  # warcinfo block
    ext: str  # archive file extension, before any ".gz"
    encode: Callable[[Any], bytes]  # payload -> record block
    decode: Callable[[bytes], tuple]  # record block -> payload columns
    payload: str  # Spark DDL of the payload columns

    @property
    def schema(self) -> str:  # one scanned row
        provenance = "warc_file string, warc_offset long"
        return f"url string, warc_ts timestamp, {self.payload}, {provenance}"


_RESPONSE = _Kind(
    "response",
    "application/http; msgtype=response",
    b"software: docling-ibm-models-spark warc writer\r\nformat: WARC File Format 1.0\r\n",
    ".warc",
    _http_response_block,
    _http_response_columns,
    "html binary, lang string",
)

# WET: the extracted text is the whole block (UTF-8, no HTTP envelope)
_CONVERSION = _Kind(
    "conversion",
    "text/plain",
    b"software: docling-ibm-models-spark wet writer\r\n"
    b"format: WARC File Format 1.0\r\n"
    b"publisher: extraction pipeline (conversion records)\r\n",
    ".warc.wet",
    lambda text: str(text).encode("utf-8"),
    lambda block: (block.decode("utf-8", errors="replace"),),
    "extracted_text string",
)

PAGES_FROM_WARC_SCHEMA = _RESPONSE.schema
TEXT_FROM_WET_SCHEMA = _CONVERSION.schema


# ---------------------------------------------------------------------------
# writer (fixture producer)
# ---------------------------------------------------------------------------


def _warc_record(
    warc_type: str, url: str | None, ts: _dt.datetime, content_type: str, block: bytes
) -> bytes:
    # A NAIVE datetime is treated as already-UTC: astimezone() alone would
    # interpret it as host-local time and silently shift WARC-Date by the
    # host's UTC offset (Spark hands the archive sinks naive timestamps).
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    headers = [
        ("WARC-Type", warc_type),
        ("WARC-Target-URI", url),  # None: warcinfo names no target
        ("WARC-Date", ts.astimezone(_dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")),
        ("Content-Type", content_type),
        ("Content-Length", str(len(block))),
    ]
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}".encode() + _CRLF for k, v in headers if v is not None
    )
    return head + _CRLF + block + _CRLF + _CRLF


def _gzip_member(records: list[bytes]) -> bytes:
    buf = _io.BytesIO()
    with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        for rec in records:
            gz.write(rec)
    return buf.getvalue()


def _write_archive(kind: _Kind, path: str, records: list[tuple], compression: str) -> int:
    """Write ``records`` = [(url, warc_ts, payload), ...] as ``kind``
    records after one leading warcinfo record, in the ``compression``
    layout of :func:`write_warc`; returns the record count."""
    info_ts = (records[0][1] if records else _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc))
    raw_records = [_warc_record("warcinfo", None, info_ts, "application/warc-fields", kind.info)]
    for url, ts, payload in records:
        raw_records.append(
            _warc_record(kind.warc_type, url, ts, kind.content_type, kind.encode(payload))
        )
    with open(path, "wb") as f:
        if compression == "record":
            f.writelines(_gzip_member([rec]) for rec in raw_records)
        elif compression == "file":
            f.write(_gzip_member(raw_records))
        elif compression == "none":
            f.writelines(raw_records)
        else:
            raise ValueError(f"unknown compression {compression!r}")
    return len(raw_records)


def write_warc(
    path: str,
    records: list[tuple[str, _dt.datetime, bytes]],
    compression: str = "record",
) -> int:
    """Write ``records`` = [(url, warc_ts, html_bytes), ...] as a WARC file.

    ``compression``: ``"record"`` (Common Crawl layout — every record its
    own gzip member, mtime pinned to 0 so output is byte-deterministic),
    ``"file"`` (one gzip stream), or ``"none"``. Returns record count
    (including the leading warcinfo record). Deterministic in its inputs —
    no wall-clock reads; the warcinfo date reuses the first record's ts.
    """
    return _write_archive(_RESPONSE, path, records, compression)


def write_wet(
    path: str,
    records: list[tuple[str, _dt.datetime, str]],
    compression: str = "record",
) -> int:
    """Write ``records`` = [(url, warc_ts, extracted_text), ...] as a WET
    file (WARC conversion records, text/plain blocks, UTF-8); layouts,
    determinism and the returned count match :func:`write_warc`."""
    return _write_archive(_CONVERSION, path, records, compression)


# ---------------------------------------------------------------------------
# incremental parser
# ---------------------------------------------------------------------------


# decompression granularity: peak parser memory is one chunk + one
# record, for ALL three layouts (a whole-file-gzip member would otherwise
# inflate the entire 3-5x-decompressed archive into one bytes object)
_DECOMP_CHUNK = 4 << 20


def _inflate(obj, data: bytes | memoryview) -> Iterator[bytes]:
    """Decompress ``data`` with the gzip ``decompressobj`` ``obj`` in
    bounded ``_DECOMP_CHUNK`` slices (``decompress(data, max_length)`` +
    ``unconsumed_tail``), up to the end of the member — the property that
    makes 1 GB CC archives parseable inside a small executor heap
    regardless of member size. Raises ``zlib.error`` on a corrupt member."""
    while data and not obj.eof:
        out = obj.decompress(data, _DECOMP_CHUNK)
        if out:
            yield out
        data = obj.unconsumed_tail


def _iter_decompressed(raw: bytes) -> Iterator[tuple[bytes, int]]:
    """Yield (decompressed_chunk, compressed_offset_of_member). Plain input
    yields itself once at offset 0. Gzip input is walked member by member
    (``decompressobj.unused_data`` marks the next member). A
    truncated/corrupt member (torn upload, bad disk block) stops the
    walk: records already parsed survive, the damaged tail is dropped —
    a single bad archive must cost its tail, not the whole task."""
    if not raw.startswith(_GZIP_MAGIC):
        yield raw, 0
        return
    pos = 0
    n = len(raw)
    view = memoryview(raw)
    while pos < n and raw[pos : pos + 2] == _GZIP_MAGIC:
        obj = _zlib.decompressobj(wbits=31)
        try:
            for out in _inflate(obj, view[pos:]):
                yield out, pos
        except _zlib.error:
            break  # corrupt member
        if not obj.eof:
            break  # truncated member: input exhausted before the trailer
        consumed = n - pos - len(obj.unused_data)
        if consumed <= 0:  # corrupt trailer: stop rather than spin
            break
        pos += consumed


def iter_warc_records(raw: bytes) -> Iterator[tuple[dict[str, str], bytes, int]]:
    """Yield ``(warc_headers_lowercased, block_bytes, offset)`` per record.

    ``offset`` is the compressed byte offset of the gzip member the record
    started in (== the CDX ``offset`` field for record-compressed CC
    archives) or the plain-file byte offset for uncompressed input.
    Tolerates both CRLF and bare-LF header line endings.
    """
    is_gz = raw.startswith(_GZIP_MAGIC)
    buf = bytearray()
    # (decompressed_stream_pos, compressed_member_offset) marks: lets a
    # record's front byte be mapped back to the gzip member it came from
    marks: collections.deque[tuple[int, int]] = collections.deque()
    consumed_total = 0  # decompressed bytes already parsed away
    for chunk, member_off in _iter_decompressed(raw):
        marks.append((consumed_total + len(buf), member_off))
        buf += chunk
        while True:
            got = _parse_one(buf)
            if got is None:
                # incomplete record: wait for more input. If nothing in the
                # buffer can ever start a record, keep only a 4-byte tail
                # (b"WARC/" could straddle the chunk boundary) so junk runs
                # never accumulate.
                if len(buf) > 8 and buf.find(b"WARC/") < 0:
                    drop = len(buf) - 4
                    del buf[:drop]
                    consumed_total += drop
                break
            if got[0] == "bad":
                # malformed header at the front (unparseable/missing
                # Content-Length): resync at the next candidate record
                # start instead of stalling — one damaged record must cost
                # itself, not every record after it (and an un-advancing
                # buffer would otherwise accumulate the whole archive)
                nxt = buf.find(b"WARC/", got[1])
                drop = nxt if nxt >= 0 else max(got[1], len(buf) - 4)
                del buf[:drop]
                consumed_total += drop
                if nxt < 0:
                    break
                continue
            _, headers, block, start, consumed = got
            rec_pos = consumed_total + start
            while len(marks) > 1 and marks[1][0] <= rec_pos:
                marks.popleft()
            yield headers, block, (marks[0][1] if is_gz else rec_pos)
            del buf[:consumed]
            consumed_total += consumed


def _parse_one(
    buf: bytearray,
) -> tuple[str, dict[str, str], bytes, int, int] | tuple[str, int] | None:
    """Parse one complete record from the front of ``buf``.

    Returns ``("ok", headers, block, start, consumed)`` for a parsed
    record, ``None`` when more input is needed (incomplete header or
    block), or ``("bad", resume_pos)`` when the record at the front has a
    complete header but no parseable Content-Length — the caller resyncs
    at the next candidate start instead of stalling.
    """
    start = buf.find(b"WARC/")
    if start < 0:
        return None
    hdr_end = buf.find(_HDR_END, start)
    lf_end = buf.find(b"\n\n", start)
    if hdr_end < 0 and lf_end < 0:
        return None
    if hdr_end < 0 or (0 <= lf_end < hdr_end):
        hdr_end, sep = lf_end, 2
    else:
        sep = 4
    headers: dict[str, str] = {}
    for line in bytes(buf[start:hdr_end]).split(b"\n")[1:]:
        line = line.strip(b"\r")
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.decode("latin-1").strip().lower()] = v.decode("latin-1").strip()
    try:
        length = int(headers.get("content-length", ""))
    except ValueError:
        return ("bad", start + 5)
    block_start = hdr_end + sep
    if len(buf) < block_start + length:
        return None  # need more decompressed input
    block = bytes(buf[block_start : block_start + length])
    # consume the record plus its trailing \r\n\r\n (tolerate missing)
    end = block_start + length
    while end < len(buf) and buf[end] in (0x0D, 0x0A):
        end += 1
    return ("ok", headers, block, start, end)


def _parse_warc_date(ts_raw: str | None) -> _dt.datetime | None:
    if not ts_raw:
        return None
    # WARC/1.0 whole seconds; WARC/1.1 allows fractional seconds
    # (wget, warcprox, newer CC tooling emit them)
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return _dt.datetime.strptime(ts_raw, fmt).replace(tzinfo=_dt.timezone.utc)
        except ValueError:
            pass
    return None


def _record_fields(kind: _Kind, headers: dict[str, str], block: bytes) -> tuple:
    """``(url, warc_ts, *payload columns)`` of one parsed record."""
    url = headers.get("warc-target-uri", "")
    return (url, _parse_warc_date(headers.get("warc-date")), *kind.decode(block))


def _records_to_rows(kind: _Kind, name: str, raw: bytes) -> Iterator[tuple]:
    for headers, block, offset in iter_warc_records(raw):
        if headers.get("warc-type") == kind.warc_type:
            yield (*_record_fields(kind, headers, block), name, offset)


def warc_records_to_rows(
    name: str, raw: bytes
) -> Iterator[tuple[str, _dt.datetime | None, bytes, str | None, str, int]]:
    """All HTTP-response records of one archive as pages-shaped tuples
    ``(url, warc_ts, html, lang, warc_file, warc_offset)``."""
    return _records_to_rows(_RESPONSE, name, raw)


def wet_records_to_rows(
    name: str, raw: bytes
) -> Iterator[tuple[str, _dt.datetime | None, str, str, int]]:
    """All conversion records of one WET archive as extraction-output-shaped
    tuples ``(url, warc_ts, extracted_text, warc_file, warc_offset)``."""
    return _records_to_rows(_CONVERSION, name, raw)


def _frames(rows: Iterator[tuple], schema: str) -> Iterator[pd.DataFrame]:
    """``rows`` as pandas frames of at most ``_CHUNK_ROWS`` rows."""
    cols = [field.split()[0] for field in schema.split(",")]
    while chunk := list(_itertools.islice(rows, _CHUNK_ROWS)):
        yield pd.DataFrame(chunk, columns=cols)


# ---------------------------------------------------------------------------
# CDX offset read-back (random access — the point of recording offsets)
# ---------------------------------------------------------------------------

# refuse to buffer more than this for ONE record fetch: a hostile/corrupt
# Content-Length must not make a point-fetch inflate a whole archive
_MAX_FETCH_RECORD = 256 << 20


# per-read granularity for point fetches: ~the compressed size of a typical
# CC member (10-30 KiB), so one record usually costs 1-2 reads while a
# megabyte-scale record still streams in bounded steps
_FETCH_CHUNK = 32 * 1024


def _read_record_from(f, offset: int, chunk: int = _FETCH_CHUNK):
    """Read ONE WARC record from open file ``f`` at CDX ``offset``:
    seek, then read forward ONLY until the record is complete — never the
    rest of the archive. Returns ``(headers, block, compressed_bytes_read)``.

    Supports the two seekable layouts: record-per-gzip-member (Common
    Crawl's — ``offset`` is a member start) and uncompressed (``offset``
    is the record's byte position). A whole-file-gzip archive is NOT
    random-accessible (every record maps to member offset 0 — fetching
    there returns the stream's first record); that is exactly why CC uses
    the record-compressed layout, and why :func:`pages_from_warc` records
    member offsets in the first place.
    """
    f.seek(offset)
    data = f.read(max(chunk, 4))
    if len(data) < 4:
        raise ValueError(f"offset {offset}: past end of archive")
    gz = _zlib.decompressobj(wbits=31) if data.startswith(_GZIP_MAGIC) else None
    if gz is None and not data.startswith(b"WARC/"):
        raise ValueError(f"offset {offset}: not a record start")
    buf = bytearray()
    bytes_read = 0
    while True:
        bytes_read += len(data)
        # the feed step is all that differs: a gzip member inflates up to
        # its end, plain bytes append as read
        for piece in (data,) if gz is None else _inflate(gz, data):
            buf += piece
            if len(buf) > _MAX_FETCH_RECORD:
                raise ValueError(f"offset {offset}: record exceeds fetch cap")
        got = _parse_one(buf)
        if got is not None and got[0] == "ok":
            _, headers, block, start, _ = got
            if start != 0:
                raise ValueError(f"offset {offset}: not a record start")
            return headers, block, bytes_read
        if got is not None:
            raise ValueError(f"offset {offset}: unparseable record header")
        if gz is not None and gz.eof:
            raise ValueError(f"offset {offset}: member ended mid-record")
        data = f.read(chunk)
        if not data:
            raise ValueError(f"offset {offset}: archive truncated")


def read_warc_record_at(path: str, offset: int) -> tuple[dict[str, str], bytes, int]:
    """Fetch one record by ``(archive path, CDX offset)`` without scanning
    the archive — seek + single-member decompress. Returns ``(headers,
    block, compressed_bytes_read)``; ``compressed_bytes_read`` is the
    evidence that only ~one record's worth of the file was touched."""
    local = path[5:] if path.startswith("file:") else path
    with open(local, "rb") as f:
        return _read_record_from(f, offset)


# fetched-record schema: the pages shape plus the read-cost evidence column
FETCHED_FROM_CDX_SCHEMA = PAGES_FROM_WARC_SCHEMA + ", fetch_bytes long"


def fetch_warc_bodies(cdx_df):
    """CDX index rows ``(warc_file, warc_offset, ...)`` → full records via
    seek-read. The distributed shape for 'pull N documents out of a 100 TB
    crawl by index': repartition by archive so each task opens each file
    ONCE, sort within partitions by offset so seeks are forward-only
    (object-store range reads coalesce), then one Arrow-batched fetch per
    row — compressed bytes touched ≈ sum of the fetched records' member
    sizes, not the archive sizes. url/warc_ts/lang are re-derived from the
    FETCHED record (not trusted from the index), so downstream joins
    verify the index points where it claims."""

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        handles: dict[str, object] = {}

        def rows() -> Iterator[tuple]:
            for pdf in batches:
                for path, off in zip(pdf["warc_file"], pdf["warc_offset"]):
                    local = path[5:] if path.startswith("file:") else path
                    f = handles.get(local)
                    if f is None:
                        f = handles[local] = open(local, "rb")
                    headers, block, nread = _read_record_from(f, int(off))
                    fields = _record_fields(_RESPONSE, headers, block)
                    yield (*fields, path, int(off), nread)

        try:
            yield from _frames(rows(), FETCHED_FROM_CDX_SCHEMA)
        finally:
            for f in handles.values():
                f.close()

    return (
        cdx_df.repartition("warc_file")
        .sortWithinPartitions("warc_file", "warc_offset")
        .mapInPandas(fetch, FETCHED_FROM_CDX_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Spark source and sink
# ---------------------------------------------------------------------------


def _scan(spark, kind: _Kind, path_glob: str | list[str]):
    """One ``binaryFile`` task per archive (WARC doesn't split), then an
    Arrow-batched parse into ``kind.schema`` rows in bounded chunks; zero
    shuffle."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = (
            row
            for pdf in batches
            for name, raw in zip(pdf["path"], pdf["content"])
            for row in _records_to_rows(kind, name, bytes(raw))
        )
        return _frames(rows, kind.schema)

    src = spark.read.format("binaryFile").load(path_glob)
    return src.select("path", "content").mapInPandas(parse, kind.schema)


def pages_from_warc(spark, path_glob: str | list[str]):
    """Scan WARC archives into the pages-table shape.

    ``path_glob`` is a directory, glob, or explicit file list (the lineage
    runner passes per-group archive lists). ``warc_file``/``warc_offset``
    carry the CDX-style provenance the lineage sink records per partition.
    """
    return _scan(spark, _RESPONSE, path_glob)


def text_from_wet(spark, path_glob: str | list[str]):
    """Scan WET archives back into the extraction-output shape, with the
    same scale contract and provenance columns as :func:`pages_from_warc`."""
    return _scan(spark, _CONVERSION, path_glob)


def _write_archives(kind: _Kind, df, out_dir: str, layouts: tuple[str, ...]) -> int:
    """Write ``df`` ``(url, warc_ts, payload)`` as ``kind`` archives, one
    per partition (the producer job CC itself runs: crawler shards →
    archives). Distributed — each task writes its own archive; ``layouts``
    cycle deterministically by partition id so consumers exercise every
    listed layout. Returns the number of archives written."""
    from pyspark import TaskContext

    payload = kind.payload.split()[0]  # html / extracted_text
    os.makedirs(out_dir, exist_ok=True)

    def write_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        recs = [rec for pdf in batches for rec in zip(pdf["url"], pdf["warc_ts"], pdf[payload])]
        if recs:
            comp = layouts[pid % len(layouts)]
            # extension tells the truth: gzip/zcat, CDX indexers, and
            # pathGlobFilter patterns all key on it
            ext = kind.ext if comp == "none" else kind.ext + ".gz"
            _write_archive(kind, os.path.join(out_dir, f"crawl-{pid:05d}{ext}"), recs, comp)
        yield pd.DataFrame({"archives": [1 if recs else 0]})

    written = df.select("url", "warc_ts", payload).mapInPandas(write_part, "archives int")
    return sum(r.archives for r in written.collect())


def write_warc_archives(
    pages_df, out_dir: str, layouts: tuple[str, ...] = _LAYOUTS
) -> int:
    """Write a pages DataFrame ``(url, warc_ts, html, ...)`` as WARC
    archives, one per partition (pass ``("record", "none")`` for a
    seekable-only corpus — the whole-file-gzip layout cannot serve CDX
    point fetches). Returns the number of archives written."""
    return _write_archives(_RESPONSE, pages_df, out_dir, layouts)


def write_wet_archives(
    text_df, out_dir: str, layouts: tuple[str, ...] = _LAYOUTS
) -> int:
    """Write an extraction-output DataFrame ``(url, warc_ts,
    extracted_text)`` as WET archives, one per partition — the distributed
    sink a 10^12-doc extraction run ends in. Returns archives written."""
    return _write_archives(_CONVERSION, text_df, out_dir, layouts)


def _cached_archive_dir(spark, sf_dir: str, kind: _Kind, files: int, layouts, rows_of) -> str:
    """Materialize ``rows_of(pages)`` — ``(url, warc_ts, payload)`` rows
    over the synthetic pages — as cached ``kind`` archives under /tmp (the
    local stand-in for 'the crawl archives already sit in object storage'),
    keyed by (pages cache key, files, layouts, this module's hash)."""
    from docling_ibm_models_spark.sources.pages_source import cached_pages_path

    pages_path = cached_pages_path(spark, sf_dir)
    with open(os.path.abspath(__file__), "rb") as f:
        mod_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    # fold the pages cache key in: a pages-generator change must invalidate
    # the derived archives too. It starts with '_' (path-mangled), and a
    # leading underscore makes Spark's file index treat the dir as a
    # metadata path ("All paths were ignored"), so the kind goes first.
    pages_key = os.path.basename(os.path.dirname(pages_path))
    lay = "".join(s[0] for s in layouts)  # rfn / rn ...
    key = f"{kind.warc_type}-{pages_key}-f{files}-{lay}-{mod_hash}"
    out_dir = os.path.join(tempfile.gettempdir(), "bench_archive_cache", key)
    done = os.path.join(out_dir, "_SUCCESS")
    if not os.path.exists(done):
        rows = rows_of(spark.read.parquet(pages_path)).repartition(files, "url")
        _write_archives(kind, rows, out_dir, layouts)
        with open(done, "w") as f:
            f.write("ok")
    return out_dir


def cached_warc_dir(
    spark,
    sf_dir: str,
    files: int = 8,
    layouts: tuple[str, ...] = _LAYOUTS,
) -> str:
    """The synthetic pages rows as ``files`` cached WARC archives."""
    return _cached_archive_dir(spark, sf_dir, _RESPONSE, files, layouts, lambda pages: pages)


def cached_wet_dir(spark, sf_dir: str, files: int = 8) -> str:
    """The WET corpus the extraction pipeline produces over the synthetic
    pages: pages → extraction (the real kernel) → per-record warc_ts
    re-attached from the pages table → ``files`` cached WET archives."""
    from docling_ibm_models_spark.pipeline.extract import (
        doc_text_clean,
        extract_doc_text,
    )

    def extracted(pages):
        # re-attach warc_ts for the conversion records' WARC-Date — one
        # url-keyed shuffle join in the fixture producer only; the
        # production sink receives warc_ts alongside the extraction output
        text = doc_text_clean(extract_doc_text(pages)).select("url", "extracted_text")
        return text.join(pages.select("url", "warc_ts"), "url")

    return _cached_archive_dir(spark, sf_dir, _CONVERSION, files, _LAYOUTS, extracted)
