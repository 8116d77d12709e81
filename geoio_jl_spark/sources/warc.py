"""WARC reader/writer (ISO 28500) — the Common Crawl container format,
the natural ingest for the web-text half of this engine (the reference's
format-dispatch role, src/load.jl:88-158, extended to the LLM-pipeline
axis; no geo counterpart).

Distributed plan: ``binaryFile`` scan (one task per archive segment —
Common Crawl ships crawls as tens of thousands of ~1 GB ``.warc.gz``
segments, so file-level parallelism saturates any cluster) →
``mapInPandas`` record parser (Arrow batches, pure Python record walk
per file).  ``.warc.gz`` uses the standard record-at-a-time gzip-member
convention; one private member walker (:func:`_gzip_members`) inflates
the concatenated members in time linear in the segment size by feeding
zlib bounded windows of the buffer (the stdlib's one-call gunzip copies
the rest of the buffer at every member: quadratic when there is one
member per record).  A truncated or corrupt member raises ``ValueError``
with the file name and its byte offset; tolerant mode keeps the records
of the intact members before it.

For SUB-file splits (one huge archive, or fewer files than cores),
:func:`index_members` is the cdx-style one-pass index job — (file,
member_idx, offset, length) per gzip member, found by the same member
walker with its output dropped (a magic-byte scan would false-positive
inside compressed data) — and
:func:`read_indexed` coalesces contiguous members into ~``split_bytes``
spans and gives each task one seek+read of its span, so a single
multi-member ``.warc.gz`` parses across many tasks with byte-identical
results to the whole-file path (asserted in tests).

For ``response`` records carrying ``application/http`` the HTTP headers
are split off: ``payload`` is the body, ``http_status`` the status code.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
import re
import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SCHEMA = T.StructType([
    T.StructField("record_id", T.StringType()),
    T.StructField("warc_type", T.StringType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("warc_date", T.StringType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("file", T.StringType()),
])


_GZIP_MAGIC = b"\x1f\x8b"
_WINDOW = 16 << 10        # first input window of every member
_MAX_WINDOW = 1 << 20     # windows double up to this for large members
_SLICE = 1 << 20          # output slice when the inflated bytes are dropped
_NONZERO = re.compile(rb"[^\x00]")


def _gzip_members(data: bytes, keep: bool, fname: str = ""):
    """Walk the concatenated gzip members of ``data``; yield
    ``(offset, length, inflated)`` per member.

    Each member is fed to ``zlib.decompressobj(31)`` in windows of a
    memoryview — ``_WINDOW`` bytes first, doubling up to ``_MAX_WINDOW``
    — and ends where its last window's short ``unused_data`` begins.  No
    call sees the rest of the buffer, so the walk is linear: zlib gets
    each byte once plus the overshoot of one window per member.  zlib
    checks each member's CRC32 and ISIZE trailer.  Zero padding after a
    member is skipped and counted in its ``length``, so spans stay
    back-to-back.  ``inflated`` is the member's output when ``keep``,
    else ``b""`` (the output is dropped in ``_SLICE`` pieces and memory
    stays bounded).

    Raises ``ValueError`` naming ``fname`` and the member's byte offset
    on bytes that do not start a member, a truncated member or a corrupt
    one."""
    where = f"{fname}: " if fname else ""
    view = memoryview(data)
    pos, n = 0, len(data)
    while pos < n:
        if data[pos:pos + 2] != _GZIP_MAGIC:
            raise ValueError(f"{where}not a gzip member at byte {pos}")
        d = zlib.decompressobj(31)
        pieces = []
        at, window = pos, _WINDOW
        try:
            while not d.eof and at < n:
                chunk = view[at:at + window]
                at += len(chunk)
                window = min(2 * window, _MAX_WINDOW)
                if keep:
                    pieces.append(d.decompress(chunk))
                else:
                    d.decompress(chunk, _SLICE)
                    while d.unconsumed_tail:
                        d.decompress(d.unconsumed_tail, _SLICE)
        except zlib.error as e:
            raise ValueError(
                f"{where}corrupt gzip member at byte {pos}: {e}") from None
        if not d.eof:
            raise ValueError(f"{where}truncated gzip member at byte {pos}")
        end = at - len(d.unused_data)
        nonzero = _NONZERO.search(data, end)
        nxt = nonzero.start() if nonzero else n
        yield pos, nxt - pos, b"".join(pieces)
        pos = nxt


def parse_warc_bytes(data: bytes, fname: str = "",
                     strict: bool = True) -> list[dict]:
    """Parse one (decompressed) WARC file into record dicts.

    ``strict=False`` keeps the records parsed before the first
    structural error instead of failing the whole segment — real crawl
    archives occasionally carry one truncated/mis-lengthed record, and
    a deterministic raise would abort the ingest task for the entire
    ~1 GB file after every retry.  In a ``.warc.gz`` that error may be a
    truncated or corrupt gzip member: the intact members before it are
    still parsed."""
    if data[:2] == _GZIP_MAGIC:
        members = []
        try:
            for _, _, inflated in _gzip_members(data, keep=True, fname=fname):
                members.append(inflated)
        except ValueError:
            if strict:
                raise
        data = b"".join(members)
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record blank lines
        while pos < n and data[pos:pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2
        if pos >= n:
            break
        if not data[pos:pos + 5] == b"WARC/":
            if not strict:
                break
            raise ValueError(
                f"{fname}: expected WARC version line at byte {pos}")
        try:
            hdr_end = data.index(b"\r\n\r\n", pos)
        except ValueError:
            if not strict:
                break
            raise ValueError(
                f"{fname}: record at byte {pos} has no header "
                "terminator") from None
        headers = {}
        hdr_text = data[pos:hdr_end].decode("utf-8", "replace")
        for line in hdr_text.split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get("content-length", "0"))
        except ValueError:
            # tolerant mode keeps everything parsed before the first
            # structural error (ADVICE r5: int() was outside the guard)
            if not strict:
                break
            raise ValueError(
                f"{fname}: record at byte {pos} has non-numeric "
                f"Content-Length {headers.get('content-length')!r}"
            ) from None
        block = data[hdr_end + 4:hdr_end + 4 + clen]
        pos = hdr_end + 4 + clen
        ctype = headers.get("content-type", "")
        status = None
        payload = block
        if ctype.startswith("application/http") and block[:5] == b"HTTP/":
            he = block.find(b"\r\n\r\n")
            if he >= 0:
                status_line = block[:block.find(b"\r\n")].decode(
                    "latin-1", "replace").split()
                if len(status_line) >= 2 and status_line[1].isdigit():
                    status = int(status_line[1])
                payload = block[he + 4:]
        out.append({
            "record_id": headers.get("warc-record-id"),
            "warc_type": headers.get("warc-type"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": ctype or None,
            "http_status": status,
            "payload": payload,
            "file": fname,
        })
    return out


def member_spans(data: bytes) -> list[tuple[int, int]]:
    """(offset, length) of every gzip member in a ``.warc.gz`` buffer.

    Walks real member boundaries with :func:`_gzip_members`, whose 1 MiB
    output slices are immediately discarded — only offsets matter, so
    peak memory stays bounded no matter how large a member inflates.
    Raises on a truncated or corrupt member (an index must never
    silently describe fewer bytes than the archive holds)."""
    return [(off, ln) for off, ln, _ in _gzip_members(data, keep=False)]


INDEX_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("member_idx", T.LongType()),
    T.StructField("offset", T.LongType()),
    T.StructField("length", T.LongType()),
])


def index_members(spark: SparkSession, path: str) -> DataFrame:
    """cdx-style member-offset index job: one row per gzip member.

    One linear pass per archive (file-level parallel via binaryFile);
    persist the result once per crawl and every later job reads with
    sub-file splits via :func:`read_indexed`."""
    files = (spark.read.format("binaryFile")
             .load(path.rstrip("/") + ("/*" if os.path.isdir(path) else "")))

    def _index(batches):
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for i, (off, ln) in enumerate(member_spans(bytes(content))):
                    rows.append({"file": fpath, "member_idx": i,
                                 "offset": off, "length": ln})
            yield pd.DataFrame(
                rows, columns=[f.name for f in INDEX_SCHEMA.fields])

    return files.select("path", "content").mapInPandas(_index, INDEX_SCHEMA)


def read_indexed(spark: SparkSession, path: str,
                 index: DataFrame | None = None,
                 split_bytes: int = 128 << 20,
                 strict: bool = True) -> DataFrame:
    """Read ``.warc.gz`` with sub-file splits by gzip member.

    Contiguous members whose start offsets share a ``split_bytes``-wide
    window coalesce into one span (members are back-to-back, so
    min(offset) + sum(length) is one contiguous byte range = one seek +
    one read per task).  Output is row-identical to :func:`read` — the
    span boundaries fall exactly on member boundaries, and
    ``parse_warc_bytes`` consumes a span's concatenated members in one
    call."""
    from pyspark.sql import functions as F
    if index is None:
        index = index_members(spark, path)
    spans = (index
             .withColumn("span", F.floor(F.col("offset") / split_bytes))
             .groupBy("file", "span")
             .agg(F.min("offset").alias("offset"),
                  F.sum("length").alias("length")))
    # one task per span: the span table is tiny (members ÷ coalescing),
    # so the count is a cheap metadata-scale action, not a corpus scan
    n_spans = spans.count()
    spans = spans.repartition(max(1, n_spans), "file", "span")

    def _read_spans(batches):
        for pdf in batches:
            rows = []
            for fpath, off, ln in zip(pdf["file"], pdf["offset"],
                                      pdf["length"]):
                local = (fpath[len("file:"):]
                         if fpath.startswith("file:") else fpath)
                with open(local, "rb") as fh:
                    fh.seek(int(off))
                    data = fh.read(int(ln))
                rows.extend(parse_warc_bytes(
                    data, os.path.basename(local), strict=strict))
            yield pd.DataFrame(
                rows, columns=[f.name for f in SCHEMA.fields])

    return spans.mapInPandas(_read_spans, SCHEMA)


def read(spark: SparkSession, path: str,
         strict: bool = True) -> DataFrame:
    files = (spark.read.format("binaryFile")
             .load(path.rstrip("/") + ("/*" if os.path.isdir(path) else "")))

    def _parse(batches):
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_warc_bytes(bytes(content),
                                             os.path.basename(fpath),
                                             strict=strict))
            yield pd.DataFrame(
                rows, columns=[f.name for f in SCHEMA.fields])

    return files.select("path", "content").mapInPandas(_parse, SCHEMA)


def write(df: DataFrame, path: str, gzip_members: bool | None = None
          ) -> None:
    """Single-file sink (driver-side, like the other one-file formats):
    rows → WARC/1.0 records.  Missing ids/dates get deterministic
    fallbacks (urn:uuid from an md5 of position+uri; epoch date) so
    round-trips are stable."""
    if gzip_members is None:
        gzip_members = path.endswith(".gz")
    cols = df.columns
    rows = df.collect()
    with open(path, "wb") as f:
        for i, r in enumerate(rows):
            get = (lambda k, d=None: r[k] if k in cols else d)
            payload = bytes(get("payload") or b"")
            # read() splits the HTTP envelope off response payloads —
            # reconstruct a minimal one on write so read→write→read
            # keeps http_status (review finding: without this an
            # engine-written archive lost every status and the ingest
            # filter dropped all records)
            ctype = get("content_type") or ""
            status = get("http_status")
            if (ctype.startswith("application/http")
                    and status is not None
                    and not payload.startswith(b"HTTP/")):
                payload = (f"HTTP/1.1 {int(status)} \r\n\r\n".encode()
                           + payload)
            rid = get("record_id")
            if not rid:
                h = hashlib.md5(
                    f"{i}|{get('target_uri') or ''}".encode()).hexdigest()
                rid = (f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-"
                       f"{h[16:20]}-{h[20:32]}>")
            hdr = [b"WARC/1.0",
                   b"WARC-Type: " + (get("warc_type")
                                     or "resource").encode(),
                   b"WARC-Record-ID: " + rid.encode(),
                   b"WARC-Date: " + (get("warc_date")
                                     or "1970-01-01T00:00:00Z").encode()]
            if get("target_uri"):
                hdr.append(b"WARC-Target-URI: " + get("target_uri").encode())
            if get("content_type"):
                hdr.append(b"Content-Type: " + get("content_type").encode())
            hdr.append(b"Content-Length: " + str(len(payload)).encode())
            rec = (b"\r\n".join(hdr) + b"\r\n\r\n" + payload + b"\r\n\r\n")
            if gzip_members:
                buf = io.BytesIO()
                with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                    g.write(rec)
                rec = buf.getvalue()
            f.write(rec)
