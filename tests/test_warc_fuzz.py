"""Adversarial fuzz over the WARC record splitter (sources/warc.py).

Segments arrive as untrusted crawl bytes; `_parse_blob` runs inside a
mapInPandas batch, so one malformed record must never hang the scan
(cursor moving backward = infinite yields), raise (killing the whole
Arrow batch), or fail to terminate.  Valid-stream behavior is pinned by
the warc_roundtrip gate and tests/test_warc.py; this file covers the
malformed side.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from graphina_spark.sources.warc import _parse_blob


def _record(uri: str, payload: bytes, length: str | None = None) -> bytes:
    n = str(len(payload)) if length is None else length
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: " + uri.encode() + b"\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: " + n.encode() + b"\r\n\r\n"
        + payload + b"\r\n\r\n"
    )


VALID = _record("doc://1", b"hello") + _record("doc://2", b"world wide")


def test_valid_segment_parses():
    recs = list(_parse_blob(VALID))
    assert [(r[1], r[3]) for r in recs] == [
        ("doc://1", b"hello"),
        ("doc://2", b"world wide"),
    ]


def test_negative_content_length_terminates():
    # crafted length moved the cursor backward pre-fix: infinite loop
    blob = _record("doc://evil", b"x", length="-100") + _record("doc://2", b"ok")
    recs = list(_parse_blob(blob))
    assert ("doc://2", b"ok") in [(r[1], r[3]) for r in recs]
    assert all(r[1] != "doc://evil" for r in recs)


def test_non_numeric_content_length_skipped():
    blob = _record("doc://evil", b"x", length="banana") + _record("doc://2", b"ok")
    recs = list(_parse_blob(blob))
    assert [(r[1], r[3]) for r in recs] == [("doc://2", b"ok")]


@settings(max_examples=100, deadline=None)
@given(length=st.one_of(
    st.sampled_from(["+5", "1_0", "\uff15", "\uff11\uff10", "\u0665"]),
    st.integers(0, 99).map(lambda k: f"+{k}"),
    st.integers(10, 99).map(lambda k: f"{k // 10}_{k % 10}"),
    st.text(st.characters(categories=["Nd"]), min_size=1, max_size=3)
    .filter(lambda t: not t.isascii()),
))
def test_non_ascii_digit_content_length_skipped(length):
    # int() accepts every one of these; only ASCII ^[0-9]+$ is a length, so
    # the record is skipped and the rescan recovers the next one
    blob = _record("doc://evil", b"xxxxx", length=length) + _record("doc://2", b"ok")
    recs = list(_parse_blob(blob))
    assert [(r[1], r[3]) for r in recs] == [("doc://2", b"ok")]


def test_non_utf8_header_bytes_do_not_raise():
    blob = _record("doc://caf\xe9".encode("latin-1").decode("latin-1"), b"ok")
    # splice raw latin-1 bytes into the URI header line
    blob = blob.replace(b"doc://caf\xc3\xa9", b"doc://caf\xe9")
    recs = list(_parse_blob(blob))
    assert len(recs) == 1 and recs[0][3] == b"ok"


def test_truncated_payload_clamps_and_terminates():
    blob = _record("doc://1", b"hello")[:-9]  # cut into the payload
    recs = list(_parse_blob(blob))
    assert len(recs) == 1
    assert recs[0][3] == b"hell"[: len(recs[0][3])] or len(recs[0][3]) <= 5


@settings(max_examples=200, deadline=None)
@given(cut=st.integers(0, 200))
def test_truncation_terminates_without_errors(cut):
    recs = list(_parse_blob(VALID[: min(cut, len(VALID))]))
    assert len(recs) <= 2


@settings(max_examples=300, deadline=None)
@given(pos=st.integers(0, 1000), val=st.integers(0, 255))
def test_byteflip_terminates_without_errors(pos, val):
    blob = bytearray(VALID)
    blob[pos % len(blob)] = val
    recs = list(_parse_blob(bytes(blob)))
    assert len(recs) <= 4  # a flip can split but never multiply unboundedly


@settings(max_examples=150, deadline=None)
@given(blob=st.binary(min_size=0, max_size=400))
def test_random_garbage_terminates(blob):
    list(_parse_blob(blob))


@settings(max_examples=50, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(1, 6))
def test_roundtrip_arbitrary_payload_bytes(seed, n):
    rs = np.random.RandomState(seed)
    payloads = [bytes(rs.randint(0, 256, size=rs.randint(0, 50)).astype(np.uint8))
                for _ in range(n)]
    blob = b"".join(_record(f"doc://{i}", p) for i, p in enumerate(payloads))
    recs = list(_parse_blob(blob))
    assert [r[3] for r in recs] == payloads
