"""WARC source: crawl-archive ingest (ISO 28500 / WARC 1.0-1.1).

A real 100 TB crawl-to-corpus pipeline starts from WARC files (the
Common Crawl / Internet Archive container), not from an
already-columnar ``(url, html)`` table — this source closes that
ingestion gap. Records flow
straight into the existing web chain:
``read_warc`` → :func:`~data_validation_engine_spark.llmops.web.extract_html_text`
→ ``canonicalize_url`` → :mod:`~data_validation_engine_spark.llmops.robots`.

No reference counterpart (the reference reads tabular text formats
only — ``parser/file_handling/service.py:44-71`` is its closest
file-ingest surface, and it is driver-side metadata handling).

Format recap (public spec, ISO 28500): a WARC file is a sequence of
records; each record is a ``WARC/x.y`` version line, named header
fields (``WARC-Type``, ``WARC-Target-URI``, ``Content-Length``, ...),
one blank line, ``Content-Length`` bytes of block, and a CRLF CRLF
trailer. Header lines may be FOLDED (continuation lines starting with
space/tab, RFC-822 style) — the parser unfolds them. ``response``
records carry an HTTP response (status line + headers + payload) as
their block. Files are commonly gzipped with ONE GZIP MEMBER PER
RECORD (the spec's recommended layout) — member boundaries then
coincide with record boundaries, so streaming decompression preserves
the record framing; offsets reported for ``.gz`` inputs refer to the
DECOMPRESSED stream.

Scale shape: the scan is Spark's ``binaryFile`` format — one row per
file, files packed into ``maxPartitionBytes``-sized partitions, so
parallelism is per-file (the standard unit for WARC processing on
Spark: crawl archives ship as ~1 GiB segment files in the thousands).
Record splitting is inherently imperative byte parsing — the one
justified Python hop, Arrow-batched via ``mapInPandas``, emitting only
the parsed columns (header map, payload bytes); everything downstream
is JVM-side. ``types`` filtering happens INSIDE the splitter, so
skipped record types never materialise their payload into Arrow.

Task-memory shape: ``binaryFile`` is
not splittable, so the COMPRESSED file necessarily lands whole in one
task (~1 GiB for a crawl segment) — everything past that is streamed.
Decompression feeds ~1 MiB slices through ``zlib`` and the record
walker trims its buffer to the unconsumed suffix, so the 3-4× larger
decompressed stream never materialises at once (peak extra memory is
one record plus one Arrow chunk, not the whole file), and rows are
emitted as bounded ``chunk_rows``/``chunk_bytes`` DataFrame chunks
instead of one per-batch accumulation. ``max_bytes`` is the same
oversized-file guard ``sources/binary.py`` has — fail loudly at ingest
rather than OOM an executor on a rogue multi-GiB archive.

Truncation is LOUD by default: a record whose ``Content-Length`` runs
past end-of-file, a missing CRLF CRLF trailer, garbage where a
``WARC/`` version line should be, or a corrupt gzip member raises
``ValueError`` naming the file and byte offset (``strict=False``
degrades to dropping the broken TAIL of that file only — including
the undecompressable remainder of a corrupt gzip stream — for salvage
reads of known-damaged archives).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_warc", "WARC_SCHEMA"]

#: Output schema of :func:`read_warc`. ``warc_date`` stays a string
#: (ISO 8601 by spec) — cast downstream if event-time semantics are
#: needed; ``http_status``/``http_content_type``/``payload`` are NULL
#: for non-HTTP record types (warcinfo, metadata, ...).
WARC_SCHEMA = (
    "warc_file string, record_offset long, warc_type string, "
    "record_id string, target_uri string, warc_date string, "
    "content_type string, content_length long, http_status int, "
    "http_content_type string, payload binary, payload_length long"
)

_CRLF2 = b"\r\n\r\n"

#: Input-slice size for streaming gzip decompression (compressed bytes
#: fed to zlib per step — keeps decompressed output arriving in
#: similarly bounded pieces).
_GZ_SLICE = 1 << 20


def _parse_http_block(block: bytes):
    """(status, content_type, payload) from an HTTP response block;
    (None, None, block) when the block is not an HTTP message."""
    if not block.startswith(b"HTTP/"):
        return None, None, block
    head_end = block.find(_CRLF2)
    if head_end < 0:
        return None, None, block
    head = block[:head_end].decode("latin-1", "replace")
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, block
    ctype = None
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
            break
    return status, ctype, block[head_end + 4 :]


def _parse_warc_headers(raw: str) -> dict[str, str]:
    """Named headers from the record's header text (version line
    included in ``raw`` and skipped). Folded lines (continuations
    starting with space/tab, RFC-822 unfolding) are joined onto the
    previous header before the ``:`` split."""
    unfolded: list[str] = []
    for ln in raw.split("\r\n")[1:]:
        if ln[:1] in (" ", "\t") and unfolded:
            unfolded[-1] += " " + ln.strip()
        else:
            unfolded.append(ln)
    headers: dict[str, str] = {}
    for ln in unfolded:
        k, _, v = ln.partition(":")
        headers[k.strip().lower()] = v.strip()
    return headers


class _RecordWalker:
    """Incremental WARC record parser: ``feed()`` decompressed bytes
    as they arrive, collect complete records, and keep only the
    unconsumed suffix buffered — peak memory is one in-flight record,
    not the whole stream. Offsets reported are absolute positions in
    the (decompressed) stream."""

    def __init__(self, name: str, types: frozenset[str] | None, strict: bool):
        self.name = name
        self.types = types
        self.strict = strict
        self.buf = bytearray()
        self.base = 0  # stream offset of buf[0]
        self.dead = False  # lax mode dropped the broken tail

    def feed(self, chunk: bytes) -> list[tuple]:
        if self.dead:
            return []
        if chunk:
            self.buf += chunk
        return self._drain(final=False)

    def finish(self) -> list[tuple]:
        if self.dead:
            return []
        return self._drain(final=True)

    def _drain(self, final: bool) -> list[tuple]:
        out: list[tuple] = []
        buf = self.buf
        n = len(buf)
        pos = 0
        while pos < n:
            # tolerate (spec-tolerated) extra CRLFs between records
            while buf[pos : pos + 2] == b"\r\n":
                pos += 2
            if pos >= n:
                break
            if not final and n - pos < 5:
                break  # too short to even check the version magic
            start = self.base + pos
            if bytes(buf[pos : pos + 5]) != b"WARC/":
                if self.strict:
                    raise ValueError(
                        f"read_warc: {self.name}: expected a WARC/ "
                        f"version line at byte {start}, found "
                        f"{bytes(buf[pos : pos + 16])!r} — corrupt or "
                        "non-WARC input"
                    )
                self.dead = True
                pos = n
                break
            head_end = buf.find(_CRLF2, pos)
            if head_end < 0:
                if final:
                    if self.strict:
                        raise ValueError(
                            f"read_warc: {self.name}: record at byte "
                            f"{start} has no end-of-header CRLFCRLF — "
                            "truncated file"
                        )
                    self.dead = True
                break  # wait for more bytes
            headers = _parse_warc_headers(
                bytes(buf[pos:head_end]).decode("utf-8", "replace")
            )
            try:
                clen = int(headers["content-length"])
            except (KeyError, ValueError):
                raise ValueError(
                    f"read_warc: {self.name}: record at byte {start} "
                    "has a missing or non-integer Content-Length — "
                    "cannot frame the stream past it"
                ) from None
            body_start = head_end + 4
            body_end = body_start + clen
            if not final and body_end + 4 > n:
                break  # wait for the full body + trailer
            if body_end > n:  # final only
                if self.strict:
                    raise ValueError(
                        f"read_warc: {self.name}: record at byte "
                        f"{start} declares Content-Length {clen} but "
                        f"only {n - body_start} bytes remain — "
                        "truncated file"
                    )
                self.dead = True
                break
            if self.strict and bytes(buf[body_end : body_end + 4]) != _CRLF2:
                # the final record's trailer may be cut by lax writers
                # only at EXACT end-of-file; anything else is corruption
                if body_end != n:
                    raise ValueError(
                        f"read_warc: {self.name}: record at byte "
                        f"{start} is not followed by the CRLFCRLF "
                        "record trailer — Content-Length and the byte "
                        "stream disagree"
                    )
            wtype = headers.get("warc-type", "")
            if self.types is None or wtype in self.types:
                block = bytes(buf[body_start:body_end])
                status, http_ctype, payload = (
                    _parse_http_block(block)
                    if wtype in ("response", "request", "revisit")
                    else (None, None, None)
                )
                if payload is None and wtype not in (
                    "response",
                    "request",
                    "revisit",
                ):
                    payload = block
                out.append(
                    (
                        self.name,
                        start,
                        wtype,
                        headers.get("warc-record-id"),
                        headers.get("warc-target-uri"),
                        headers.get("warc-date"),
                        headers.get("content-type"),
                        clen,
                        status,
                        http_ctype,
                        payload,
                        len(payload) if payload is not None else None,
                    )
                )
            pos = body_end + 4 if body_end + 4 <= n else n
        # trim the consumed prefix — this is the memory bound
        if pos:
            del buf[:pos]
            self.base += pos
        return out


def _iter_warc_records(
    data: bytes, name: str, types: frozenset[str] | None, strict: bool
) -> Iterator[tuple]:
    """Yield one tuple per record (WARC_SCHEMA order), streaming
    gzip decompression so the full decompressed stream never
    materialises. A corrupt gzip member raises ``ValueError`` naming
    the file (strict) or truncates to the bytes decompressed so far
    (lax) — the documented drop-the-broken-tail behaviour."""
    walker = _RecordWalker(name, types, strict)
    if data[:2] != b"\x1f\x8b":
        yield from walker.feed(data)
        yield from walker.finish()
        return
    import zlib

    d = zlib.decompressobj(wbits=31)
    off = 0
    corrupt = False
    while off < len(data) and not corrupt and not walker.dead:
        chunk = data[off : off + _GZ_SLICE]
        off += _GZ_SLICE
        while chunk:
            try:
                out = d.decompress(chunk)
            except zlib.error as exc:
                if strict:
                    raise ValueError(
                        f"read_warc: {name}: corrupt gzip member near "
                        f"compressed byte {off - len(chunk)} "
                        f"({exc}) — cannot decompress"
                    ) from None
                corrupt = True  # salvage: keep what decompressed so far
                break
            yield from walker.feed(out)
            if walker.dead:
                break
            if d.eof:  # member boundary: start the next member
                chunk = d.unused_data
                d = zlib.decompressobj(wbits=31)
            else:
                chunk = b""
    if not corrupt and not walker.dead:
        try:
            yield from walker.feed(d.flush())
        except zlib.error as exc:
            if strict:
                raise ValueError(
                    f"read_warc: {name}: corrupt gzip tail ({exc})"
                ) from None
    yield from walker.finish()


def read_warc(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
    recursive: bool = False,
    types: tuple[str, ...] | None = ("response",),
    strict: bool = True,
    max_bytes: int | None = None,
    chunk_rows: int = 4096,
    chunk_bytes: int = 64 << 20,
) -> DataFrame:
    """Read WARC archives under ``path`` into one row per record.

    ``types`` keeps only those ``WARC-Type`` values (default: the
    ``response`` records a corpus pipeline wants; ``None`` keeps all).
    ``glob`` prunes file names at listing time (e.g. ``"*.warc.gz"``).
    ``strict`` controls truncation/corruption behaviour (module
    docstring). ``max_bytes`` fails loudly on oversized archive files
    BEFORE their content is parsed (same guard as
    :func:`~data_validation_engine_spark.sources.binary.read_binary_files`).
    Rows are emitted in chunks of at most ``chunk_rows`` records /
    ``chunk_bytes`` payload bytes, so task memory is bounded by one
    chunk, not one file. For ``response``/``request``/``revisit``
    records the HTTP message is split: ``http_status``,
    ``http_content_type``, ``payload`` (the entity body); other types
    carry their whole block as ``payload``.
    """
    if types is not None and not types:
        raise ValueError("types must be a non-empty tuple or None")
    if chunk_rows < 1 or chunk_bytes < 1:
        raise ValueError("chunk_rows and chunk_bytes must be >= 1")
    tset = frozenset(types) if types is not None else None

    def split(batches):
        import pandas as pd

        cols = [
            "warc_file", "record_offset", "warc_type", "record_id",
            "target_uri", "warc_date", "content_type",
            "content_length", "http_status", "http_content_type",
            "payload", "payload_length",
        ]
        rows: list[tuple] = []
        nbytes = 0
        for pdf in batches:
            for name, content in zip(pdf["path"], pdf["content"]):
                for rec in _iter_warc_records(
                    bytes(content), name, tset, strict
                ):
                    rows.append(rec)
                    nbytes += (rec[11] or 0) + 256
                    if len(rows) >= chunk_rows or nbytes >= chunk_bytes:
                        yield pd.DataFrame(rows, columns=cols)
                        rows, nbytes = [], 0
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    files = reader.load(path)
    if max_bytes is not None:
        files = files.withColumn(
            "content",
            F.when(
                F.col("length") <= F.lit(int(max_bytes)), F.col("content")
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"read_warc: file exceeds max_bytes={max_bytes}: "
                        ),
                        F.col("path"),
                        F.lit(" ("),
                        F.col("length").cast("string"),
                        F.lit(" bytes)"),
                    )
                )
            ),
        )
    return files.select("path", "content").mapInPandas(split, WARC_SCHEMA)
