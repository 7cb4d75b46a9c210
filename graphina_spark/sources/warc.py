"""WARC (Web ARChive, ISO 28500) segment writer + distributed parser.

Common Crawl publishes its crawls as WARC files: concatenated records, each
a ``WARC/1.0`` version line, CRLF-separated named headers (``WARC-Type``,
``WARC-Target-URI``, ``WARC-Date``, ``Content-Length``), a blank line, then
exactly ``Content-Length`` octets of payload followed by two CRLFs.  A
web-scale ingestion pipeline needs (a) a distributed parser from raw
segment bytes to one row per record and (b) a writer to produce valid
segments from row data — both as engine operators, not driver loops.

Scale shape:
- **parse**: one ``mapInPandas`` over ``(segment, data binary)`` rows — a
  segment parses independently of every other segment (Common Crawl's
  layout: a record never spans files), so parallelism = #segments and the
  only Python touched is the Arrow-batched record splitter (no per-row
  UDFs; one batch = many segments).
- **write**: records are built as column expressions (whole-stage codegen);
  the per-segment concatenation is one ``groupBy(segment)`` with a sorted
  ``aggregate`` fold — a single shuffle keyed by segment.

The parser is a deliberate subset of ISO 28500: WARC/1.0 and WARC/1.1
version lines, CRLF header blocks, Content-Length-delimited payloads —
enough to round-trip anything this writer or Common Crawl's response
records produce; gzip-per-record (.warc.gz) is out of scope in this
container (no codec lib needed for the plumbing contract, and the split
strategy is identical).

Extension beyond the reference (habedi/graphina reads edge lists, not web
archives).  Round-trip gate: warc_roundtrip (documents → segments → parse →
byte-identical payload md5s, oracle = identity SQL over ``documents``).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_VERSIONS = (b"WARC/1.0\r\n", b"WARC/1.1\r\n")

PARSED_SCHEMA = (
    "segment int, warc_type string, target_uri string, warc_date string, "
    "payload binary"
)


def warc_segments(
    df: DataFrame,
    n_segments: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    date: str = "2024-01-01T00:00:00Z",
) -> DataFrame:
    """(segment: int, data: binary) — valid WARC/1.0 response segments, one
    per ``doc_id % n_segments`` bucket, records ordered by id within a
    segment (deterministic bytes for a given corpus)."""
    did = F.col(id_col)
    rec = F.concat(
        F.lit("WARC/1.0\r\n"),
        F.lit("WARC-Type: response\r\n"),
        F.lit("WARC-Record-ID: <urn:graphina:"),
        did.cast("string"),
        F.lit(">\r\n"),
        F.lit("WARC-Target-URI: doc://"),
        did.cast("string"),
        F.lit("\r\n"),
        F.lit(f"WARC-Date: {date}\r\n"),
        F.lit("Content-Length: "),
        F.octet_length(F.col(text_col)).cast("string"),
        F.lit("\r\n\r\n"),
        F.col(text_col),
        F.lit("\r\n\r\n"),
    )
    per = df.select(
        (did % n_segments).cast("int").alias("segment"),
        F.struct(did.alias("id"), rec.alias("rec")).alias("s"),
    )
    return per.groupBy("segment").agg(
        F.encode(
            F.expr("aggregate(transform(array_sort(collect_list(s)), x -> x.rec),"
                   " '', (acc, x) -> concat(acc, x))"),
            "UTF-8",
        ).alias("data")
    )


def _parse_blob(blob: bytes) -> Iterator[tuple[str, str, str, bytes]]:
    """Yield (warc_type, target_uri, warc_date, payload) per record."""
    i = 0
    n = len(blob)
    while i < n:
        nxt = [(blob.find(v, i), v) for v in _VERSIONS]
        nxt = [(p, v) for p, v in nxt if p >= 0]
        if not nxt:
            break
        j, ver = min(nxt)
        hdr_end = blob.find(b"\r\n\r\n", j)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        # errors="replace": real crawl headers are occasionally non-UTF-8
        # (Latin-1 URIs); a strict decode would kill the whole Arrow batch
        # for one bad record.  Valid streams decode identically either way.
        for line in (
            blob[j + len(ver) : hdr_end]
            .decode("utf-8", errors="replace")
            .split("\r\n")
        ):
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        cl = headers.get("content-length", "0")
        try:
            # ASCII digits only: int() also accepts "+5", "1_0" and
            # non-ASCII digits such as full-width "１０"
            length = int(cl) if cl.isascii() and cl.isdigit() else -1
        except ValueError:  # more digits than int() converts
            length = -1
        if length < 0:
            # malformed/crafted Content-Length: skip this header block and
            # rescan.  Without the guard a negative length moved the cursor
            # BACKWARD (i = hdr_end + 4 + length), re-finding the same
            # version line forever — an executor hang + unbounded yields on
            # one crafted record.  Both branches strictly advance i past j.
            i = hdr_end + 4
            continue
        payload = blob[hdr_end + 4 : hdr_end + 4 + length]
        yield (
            headers.get("warc-type", ""),
            headers.get("warc-target-uri", ""),
            headers.get("warc-date", ""),
            payload,
        )
        i = hdr_end + 4 + length


def parse_warc(
    segments: DataFrame, record_types: tuple[str, ...] = ("response",)
) -> DataFrame:
    """(segment, warc_type, target_uri, warc_date, payload) — one row per
    record of the requested WARC-Types across all segments.  Arrow-batched
    ``mapInPandas``; each input row (one segment blob) is independent."""
    import pandas as pd

    keep = set(record_types) if record_types else None

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for seg, data in zip(pdf["segment"], pdf["data"]):
                for wtype, uri, date, payload in _parse_blob(bytes(data)):
                    if keep is None or wtype in keep:
                        rows.append((int(seg), wtype, uri, date, payload))
            yield pd.DataFrame(
                rows,
                columns=["segment", "warc_type", "target_uri", "warc_date", "payload"],
            )

    return segments.mapInPandas(gen, PARSED_SCHEMA)
