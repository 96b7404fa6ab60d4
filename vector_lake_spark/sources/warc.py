"""WARC (Web ARChive) reader/writer — the Common Crawl ingestion front
end, pure stdlib (ISO 28500 record grammar + per-record gzip members).

The 100 TB LLM-data pipeline this engine targets starts from WARC:
Common Crawl ships `warc.gz` files whose members are INDIVIDUALLY
gzipped records (that is what makes them splittable — a reader can
start at any member boundary). This module implements that grammar:

- `parse_warc` walks plain or per-record-gzip WARC bytes: version
  line, named headers (case-insensitive), `Content-Length`-delimited
  block, CRLF CRLF record separators. For `response` records the HTTP
  payload is split into status / headers / body, honoring
  `Content-Type` charsets with a latin-1 fallback (crawl data is
  dirty; a reader that throws on mojibake is useless).
- `encode_warc` writes records back (optionally member-gzipped) — the
  writer side for provable round trips and the oracle entry, not a
  general archiver.
- `extract_warc_records` is the Arrow operator: one WARC blob per row
  in, one row per contained record out (url, type, status, mime,
  body text, lengths) — the explode-by-record shape `mm_frame_sample`
  uses for video timelines.

At 100 TB the posture is: WARC blobs are an opaque binary column
(one row per .warc.gz member-range or file), the operator runs where
the bytes already live, and only the extracted text/metadata — a
small fraction of the raw crawl — crosses into the relational plan.
"""

from __future__ import annotations

import gzip
import io
import zlib

from pyspark.sql import DataFrame, types as T

from vector_lake_spark.rowmap import map_rows

CRLF = b"\r\n"


def _split_gzip_members(payload: bytes):
    """Yield decompressed gzip members (Common Crawl: one per record).
    A payload that is not gzip yields itself once."""
    if payload[:2] != b"\x1f\x8b":
        yield payload
        return
    pos = 0
    while pos < len(payload):
        if payload[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError(
                "corrupt WARC: garbage between gzip members at "
                f"offset {pos}"
            )
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        try:
            out = d.decompress(payload[pos:])
        except zlib.error as exc:  # keep the module's ValueError contract
            raise ValueError(f"corrupt WARC: bad gzip member ({exc})") from None
        if not d.eof:
            raise ValueError("corrupt WARC: truncated gzip member")
        yield out
        consumed = len(payload) - pos - len(d.unused_data)
        pos += consumed


def _parse_headers(block: bytes) -> dict:
    headers: dict = {}
    for line in block.split(CRLF):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and headers:  # obs-fold continuation
            headers[next(reversed(headers))] += " " + line.strip().decode(
                "latin-1"
            )
            continue
        name, _, value = line.partition(b":")
        key = name.decode("latin-1").strip().lower()
        val = value.decode("latin-1").strip()
        if key in headers:  # RFC semantics: repeated fields join (crawl
            headers[key] += ", " + val  # data repeats Set-Cookie a lot)
        else:
            headers[key] = val
    return headers


def _charset_of(content_type: str) -> str:
    charset = "utf-8"
    for part in (content_type or "").split(";"):
        part = part.strip()
        if part.lower().startswith("charset="):
            charset = part[8:].strip().strip('"').strip("'") or "utf-8"
    return charset


def _decode_body(body: bytes, content_type: str) -> str:
    try:
        return body.decode(_charset_of(content_type))
    except (UnicodeDecodeError, LookupError, ValueError):
        # ValueError: codec lookup rejects e.g. NUL bytes in the declared
        # charset — reachable from arbitrary crawl header bytes
        return body.decode("latin-1")


def parse_warc(payload: bytes) -> list[dict]:
    """Parse WARC bytes (plain or member-gzipped) into record dicts:
    warc_type, url, record_id, date, mime (the block's declared
    Content-Type), http_status / http_headers / body (for `response`
    records; other types carry their raw block as `body`), and
    block_length."""
    records: list[dict] = []
    for member in _split_gzip_members(bytes(payload)):
        pos = 0
        while pos < len(member):
            # skip inter-record blank lines
            while member[pos : pos + 2] == CRLF:
                pos += 2
            if pos >= len(member):
                break
            if not member[pos : pos + 5] == b"WARC/":
                raise ValueError(
                    f"corrupt WARC: version line missing at offset {pos}"
                )
            hdr_end = member.find(CRLF + CRLF, pos)
            if hdr_end < 0:
                raise ValueError("corrupt WARC: unterminated record header")
            head = member[pos:hdr_end].split(CRLF, 1)
            version = head[0].decode("latin-1")
            headers = _parse_headers(head[1] if len(head) > 1 else b"")
            try:
                length = int(headers["content-length"])
            except (KeyError, ValueError):
                raise ValueError(
                    "corrupt WARC: record without a numeric Content-Length"
                ) from None
            if length < 0:  # a negative length would walk pos BACKWARDS
                raise ValueError("corrupt WARC: negative Content-Length")
            block_start = hdr_end + 4
            block = member[block_start : block_start + length]
            if len(block) < length:
                raise ValueError("corrupt WARC: truncated record block")
            pos = block_start + length
            rec = {
                "version": version,
                "warc_type": headers.get("warc-type", ""),
                "url": headers.get("warc-target-uri"),
                "record_id": headers.get("warc-record-id"),
                "date": headers.get("warc-date"),
                "mime": headers.get("content-type"),
                "block_length": length,
                "http_status": None,
                "http_headers": None,
                "body": None,
            }
            if rec["warc_type"] == "response" and block[:5] == b"HTTP/":
                http_end = block.find(CRLF + CRLF)
                if http_end < 0:
                    raise ValueError(
                        "corrupt WARC: unterminated HTTP headers"
                    )
                status_line, _, header_block = block[:http_end].partition(
                    CRLF
                )
                parts = status_line.decode("latin-1").split(None, 2)
                try:
                    rec["http_status"] = int(parts[1])
                except (IndexError, ValueError):
                    raise ValueError(
                        "corrupt WARC: malformed HTTP status line"
                    ) from None
                http_headers = _parse_headers(header_block)
                rec["http_headers"] = http_headers
                rec["body"] = _decode_body(
                    block[http_end + 4 :],
                    http_headers.get("content-type", ""),
                )
            else:
                rec["body"] = _decode_body(block, rec["mime"] or "")
            records.append(rec)
    return records


def encode_warc(records: list[dict], member_gzip: bool = True) -> bytes:
    """Write records as WARC bytes; ``member_gzip=True`` produces the
    Common Crawl layout (one gzip member per record — splittable)."""
    out = bytearray()
    for rec in records:
        # a response with an HTTP status gets HTTP framing; a response
        # whose status is None (as parse_warc reports for non-HTTP
        # response blocks) round-trips as a raw block — never fabricate
        # an "HTTP/1.1 None OK" status line
        if rec.get("warc_type") == "response" and rec.get("http_status") is not None:
            http_headers = rec.get("http_headers") or {}
            # encode the body in the charset the headers DECLARE, so
            # the reader's charset-honoring decode round-trips exactly
            charset = _charset_of(http_headers.get("content-type", ""))
            try:
                body = rec.get("body", "").encode(charset)
            except (UnicodeEncodeError, LookupError, ValueError) as exc:
                raise ValueError(
                    f"record body not encodable as declared charset "
                    f"{charset!r}: {exc}"
                ) from None
            lines = [f"HTTP/1.1 {rec['http_status']} OK"]
            lines += [f"{k}: {v}" for k, v in http_headers.items()]
            block = (
                "\r\n".join(lines).encode("latin-1") + CRLF + CRLF + body
            )
        else:
            block = rec.get("body", "").encode("utf-8")
        headers = [
            "WARC/1.0",
            f"WARC-Type: {rec.get('warc_type', 'resource')}",
        ]
        if rec.get("url"):
            headers.append(f"WARC-Target-URI: {rec['url']}")
        if rec.get("record_id"):
            headers.append(f"WARC-Record-ID: {rec['record_id']}")
        if rec.get("date"):
            headers.append(f"WARC-Date: {rec['date']}")
        if rec.get("mime"):
            headers.append(f"Content-Type: {rec['mime']}")
        headers.append(f"Content-Length: {len(block)}")
        raw = (
            "\r\n".join(headers).encode("latin-1")
            + CRLF + CRLF + block + CRLF + CRLF
        )
        if member_gzip:
            buf = io.BytesIO()
            # mtime pinned for determinism (the oracle hashes outputs)
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(raw)
            out += buf.getvalue()
        else:
            out += raw
    return bytes(out)


WARC_RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("record_index", T.IntegerType(), False),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("body", T.StringType(), True),
        T.StructField("block_length", T.LongType(), True),
    ]
)


def extract_warc_records(df: DataFrame) -> DataFrame:
    """Explode (media_id, payload) WARC blobs into one row per record —
    the crawl-ingestion operator: bytes stay on the executors, only the
    extracted text + metadata enter the relational plan."""

    def records_of(row):
        mid, payload = row
        for i, rec in enumerate(parse_warc(bytes(payload))):
            mime = rec["mime"]
            if rec["http_headers"]:
                mime = rec["http_headers"].get("content-type", mime)
            yield (
                mid,
                i,
                rec["warc_type"],
                rec["url"],
                rec["http_status"],
                mime,
                rec["body"],
                rec["block_length"],
            )

    return map_rows(
        df.select("media_id", "payload"), records_of, WARC_RECORDS_SCHEMA
    )
