"""WARC source: read web-archive records as a corpus table.

Web-scale training corpora arrive as WARC (ISO 28500) — the format
CommonCrawl publishes — not as one-file-per-document.  The reference
fetches live URLs (fetcher.py) and never reads archives; at 10^12
documents the archive IS the input, so this module implements the
ingest path:

- a record-level parser: ``WARC/1.0`` header block, ``Content-Length``
  framed payload, CRLF framing, HTTP-response splitting (status line,
  headers, body), and per-record gzip members (``.warc.gz`` is a
  concatenation of independently-gzipped records — the parser walks
  members with a ``decompressobj`` chain exactly like real readers);
- ``read_warc_records``: one vectorized Arrow stage mapping archive
  blobs → one row per record (a one-to-many Arrow expansion, zero
  shuffles) — the record rows feed ``extract_documents_auto`` /
  ``extract_articles`` unchanged;
- a writer (``build_warc``) for synthetic corpora and tests.

Scale shape: one archive blob = one work unit (at 100 TB: one ~1 GiB
.warc.gz file per task via the binaryFile source, or a range-split
variant keyed on member offsets); record expansion happens inside the
Arrow stage so no blob ever crosses a shuffle.  Malformed records
yield ``ok=false`` rows, never task deaths.
"""

from __future__ import annotations

import gzip
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_VERSION = b"WARC/1.0"

# ---------------------------------------------------------------------------
# Writer
# ---------------------------------------------------------------------------


def build_warc_record(
    uri: str,
    body: bytes,
    *,
    warc_type: str = "response",
    status: int = 200,
    content_type: str = "text/html",
) -> bytes:
    """One WARC response record wrapping an HTTP response."""
    http = (
        f"HTTP/1.1 {status} X\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    headers = (
        WARC_VERSION + b"\r\n"
        b"WARC-Type: " + warc_type.encode() + b"\r\n"
        b"WARC-Target-URI: " + uri.encode() + b"\r\n"
        b"Content-Type: application/http;msgtype=response\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
    )
    return headers + http + b"\r\n\r\n"


def build_warc(
    records: list[tuple[str, bytes, int]], *, per_record_gzip: bool = False
) -> bytes:
    """Concatenate (uri, body, status) tuples into a WARC blob; with
    ``per_record_gzip`` each record is an independent gzip member
    (the .warc.gz layout)."""
    out = bytearray()
    for uri, body, status in records:
        rec = build_warc_record(uri, body, status=status)
        if per_record_gzip:
            # fixed mtime → byte-deterministic archives
            rec = gzip.compress(rec, compresslevel=6, mtime=0)
        out.extend(rec)
    return bytes(out)


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------


def _split_gzip_members(data: bytes) -> tuple[list[bytes], str | None]:
    """Decompress gzip members from a concatenated stream (the
    .warc.gz record-per-member layout).  Returns ``(members, error)``
    rather than raising mid-iteration: a truncated or corrupt trailing
    member (the common failure in interrupted crawls) must not discard
    the members already decoded — the caller keeps the good records
    and appends one failure row, matching the plain-WARC path's
    stop-at-the-damage behavior."""
    members: list[bytes] = []
    rest = data
    while rest:
        d = zlib.decompressobj(wbits=31)
        try:
            members.append(d.decompress(rest))
        except zlib.error as exc:
            return members, f"bad gzip member: {exc}"
        rest = d.unused_data
    return members, None


def _parse_header_block(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("latin-1").lower()] = (
                v.strip().decode("latin-1")
            )
    return headers


def parse_warc(data: bytes) -> list[dict]:
    """Parse a WARC blob (plain or per-record-gzip) into record dicts:
    ``{ok, uri, warc_type, http_status, content_type, body, error}``.

    Framing follows Content-Length (the only correct way — bodies may
    contain anything, including WARC header look-alikes); a record
    whose frame is broken produces one ``ok=false`` row and parsing
    stops at the damage (the remainder is unframeable by definition).
    """
    records: list[dict] = []

    def bad(err: str) -> dict:
        return {
            "ok": False, "uri": None, "warc_type": None,
            "http_status": None, "content_type": None, "body": None,
            "error": err,
        }

    gzip_err: str | None = None
    if data[:2] == b"\x1f\x8b":
        chunks, gzip_err = _split_gzip_members(data)
    else:
        chunks = [data]

    for chunk in chunks:
        pos = 0
        while pos < len(chunk):
            # skip inter-record CRLFs
            while chunk[pos : pos + 2] == b"\r\n":
                pos += 2
            if pos >= len(chunk):
                break
            if not chunk.startswith(WARC_VERSION, pos):
                records.append(bad("missing WARC/1.0 magic"))
                break
            head_end = chunk.find(b"\r\n\r\n", pos)
            if head_end < 0:
                records.append(bad("unterminated header block"))
                break
            headers = _parse_header_block(chunk[pos:head_end])
            try:
                length = int(headers.get("content-length", ""))
            except ValueError:
                records.append(bad("missing/invalid Content-Length"))
                break
            payload = chunk[head_end + 4 : head_end + 4 + length]
            if len(payload) < length:
                records.append(bad("truncated record payload"))
                break
            pos = head_end + 4 + length
            rec = {
                "ok": True,
                "uri": headers.get("warc-target-uri"),
                "warc_type": headers.get("warc-type"),
                "http_status": None,
                "content_type": None,
                "body": payload,
                "error": None,
            }
            if headers.get("warc-type") == "response" and payload[
                :5
            ] in (b"HTTP/",):
                http_end = payload.find(b"\r\n\r\n")
                if http_end >= 0:
                    status_line = payload.split(b"\r\n", 1)[0]
                    parts = status_line.split(b" ")
                    if len(parts) >= 2 and parts[1].isdigit():
                        rec["http_status"] = int(parts[1])
                    http_headers = _parse_header_block(
                        b"X\r\n" + payload[:http_end]
                    )
                    rec["content_type"] = http_headers.get("content-type")
                    rec["body"] = payload[http_end + 4 :]
            records.append(rec)
    if gzip_err is not None:
        records.append(bad(gzip_err))
    return records


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("archive_id", T.StringType()),
        T.StructField("record_idx", T.IntegerType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("uri", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("body", T.BinaryType()),
        T.StructField("error", T.StringType()),
    ]
)


def _record_batches(batches):
    import pyarrow as pa

    schema = pa.schema(
        [
            ("archive_id", pa.string()),
            ("record_idx", pa.int32()),
            ("ok", pa.bool_()),
            ("uri", pa.string()),
            ("warc_type", pa.string()),
            ("http_status", pa.int32()),
            ("content_type", pa.string()),
            ("body", pa.binary()),
            ("error", pa.string()),
        ]
    )
    for batch in batches:
        ids = batch.column("archive_id").to_pylist()
        payloads = batch.column("payload").to_pylist()
        rows = {name: [] for name in schema.names}
        for aid, payload in zip(ids, payloads):
            for idx, rec in enumerate(parse_warc(bytes(payload or b""))):
                rows["archive_id"].append(aid)
                rows["record_idx"].append(idx)
                for k in (
                    "ok", "uri", "warc_type", "http_status",
                    "content_type", "body", "error",
                ):
                    rows[k].append(rec[k])
        yield pa.RecordBatch.from_arrays(
            [pa.array(rows[f.name], f.type) for f in schema],
            schema=schema,
        )


def read_warc_records(
    df: DataFrame,
    *,
    id_col: str = "archive_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Expand WARC archive blobs into one row per record (a
    one-to-many Arrow stage; zero shuffles).  Input: (archive id,
    binary blob) — e.g. from ``spark.read.format('binaryFile')`` over
    a .warc.gz directory with ``path``/``content`` renamed."""
    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    pruned = df.select(
        F.col(id_col).cast("string").alias("archive_id"),
        F.col(payload_col).cast("binary").alias("payload"),
    )
    return pruned.mapInArrow(_record_batches, schema=WARC_RECORD_SCHEMA)


def _warc_adapter(docs: DataFrame, body_fn) -> DataFrame:
    """Shared adapter machinery: one WARC blob per source holding that
    source's documents as HTTP response records (doc_id order; every
    10th doc a 404; even-numbered sources stored as per-record gzip
    members — the .warc.gz layout).  ``body_fn(doc_id, text) ->
    bytes`` chooses the record body."""
    from ..shipping import ensure_shipped

    ensure_shipped(docs.sparkSession)
    grouped = docs.groupBy("source").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "text"))
        ).alias("recs")
    )

    def build(batches):
        import pyarrow as pa

        for batch in batches:
            sources = batch.column("source").to_pylist()
            recs = batch.column("recs").to_pylist()
            payloads = []
            for src, rr in zip(sources, recs):
                src_num = int(src[3:])
                payloads.append(
                    build_warc(
                        [
                            (
                                f"https://{src}.example.com/docs/"
                                f"{r['doc_id']}",
                                body_fn(r["doc_id"], r["text"] or ""),
                                404 if r["doc_id"] % 10 == 0 else 200,
                            )
                            for r in rr
                        ],
                        per_record_gzip=(src_num % 2 == 0),
                    )
                )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(sources, pa.string()),
                    pa.array(payloads, pa.binary()),
                ],
                names=["archive_id", "payload"],
            )

    return grouped.mapInArrow(
        build, schema="archive_id string, payload binary"
    )


def documents_as_warc(docs: DataFrame) -> DataFrame:
    """Adapter for tests/benchmarks: record bodies are the raw
    document text (plain-text corpus shape)."""
    return _warc_adapter(
        docs, lambda _doc_id, text: text.encode("utf-8")
    )


def documents_as_mixed_warc(docs: DataFrame) -> DataFrame:
    """Adapter for the full ingest chain: record bodies alternate real
    PDFs (even doc_ids) and HTML pages (odd doc_ids) — the same
    mixed-corpus scheme as ``operators.dispatch.documents_as_mixed``,
    but delivered inside WARC archives."""

    def body(doc_id: int, text: str) -> bytes:
        from ..extract.pdflayout import build_article_pdf
        from .synth import synth_page_html

        if doc_id % 2 == 0:
            return build_article_pdf(
                doc_id, text, compress=(doc_id % 4 == 0)
            )
        return synth_page_html(str(doc_id), text).encode("utf-8")

    return _warc_adapter(docs, body)
