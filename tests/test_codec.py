import numpy as np
import pandas as pd
import pyarrow as pa

from logparser_spark.codec import decode_tokens, encode_series, encode_text
from logparser_spark.functions.parse import _decode_list_array_to_arrow


def test_roundtrip_basic():
    s = "1709251200.123 250 10.0.3.17 TCP_MISS/200 5120 GET http://x/ u_a_b DIRECT/1.2.3.4 text/html"
    assert decode_tokens(encode_text(s)) == s


def _decode(rows) -> list[str]:
    """Token rows -> strings through the parse stage's batch decoder."""
    return _decode_list_array_to_arrow(
        pa.array(list(rows), type=pa.list_(pa.int32()))
    ).to_pylist()


def test_series_roundtrip_ascii_fastpath():
    texts = pd.Series(["hello world", "", "a" * 100, "x y z"])
    assert _decode(encode_series(texts)) == list(texts)


def test_series_non_ascii_fallback():
    texts = pd.Series(["héllo", "日本語", "plain"])
    assert _decode(encode_series(texts)) == list(texts)


def test_none_and_empty_arrays():
    assert _decode([None, [], [65, 66]]) == ["", "", "AB"]


def test_numpy_input():
    arr = np.array([72, 105], dtype=np.int32)
    assert decode_tokens(arr) == "Hi"


def test_int64_out_of_range_tokens_quarantine_not_wrap():
    """The per-row decoder must NOT wrap an int64 token 2^32+65 mod 2^32
    to 'A': it becomes U+FFFD, so the corrupt row quarantines at parse."""
    assert decode_tokens([2**32 + 65, 66]) == "\ufffdB"
    assert decode_tokens(np.array([2**32 + 65, 66], dtype=np.int64)) == "\ufffdB"


def test_negative_int64_tokens_fallback():
    assert decode_tokens(np.array([-1, 65], dtype=np.int64)) == "\ufffdA"


def test_decode_list_array_to_arrow_paths():
    """ASCII fast path (buffer reinterpret), non-ASCII fallback, null
    rows and corrupt tokens must all yield the same strings as the
    per-row decoder."""
    ascii_rows = [[72, 105], [32, 126], []]
    arr = pa.array(ascii_rows, type=pa.list_(pa.int32()))
    assert _decode_list_array_to_arrow(arr).to_pylist() == ["Hi", " ~", ""]

    mixed = pa.array([[0x65E5, 0x672C], [65]], type=pa.list_(pa.int32()))
    assert _decode_list_array_to_arrow(mixed).to_pylist() == ["日本", "A"]

    with_null = pa.array([[65], None, [66]], type=pa.list_(pa.int32()))
    assert _decode_list_array_to_arrow(with_null).to_pylist() == ["A", "", "B"]

    # negative, above U+10FFFF, and a lone surrogate: each becomes U+FFFD
    # (the row quarantines at parse) and the batch's clean rows survive
    corrupt = [[-1, 65], [0x110000, 66], [0xD800, 67], [72, 105]]
    arr = pa.array(corrupt, type=pa.list_(pa.int32()))
    expected = ["\ufffdA", "\ufffdB", "\ufffdC", "Hi"]
    assert _decode_list_array_to_arrow(arr).to_pylist() == expected
    assert [decode_tokens(t) for t in corrupt] == expected


def test_decode_list_array_handles_sliced_views():
    """A sliced ListArray keeps ABSOLUTE offsets over the full child
    values array; both decode paths must trim before rebasing (a
    review-caught bug shifted every decoded row by the slice base)."""
    from logparser_spark.functions.parse import _decode_list_array

    full = pa.array([[72, 73], [65, 66, 67], [68]], type=pa.list_(pa.int32()))
    sliced = full.slice(1)
    assert _decode_list_array_to_arrow(sliced).to_pylist() == ["ABC", "D"]
    assert _decode_list_array(sliced) == ["ABC", "D"]
    # non-ASCII sliced view exercises the utf-32 fallback path
    uni = pa.array([[0x65E5], [0x672C, 65], [66]], type=pa.list_(pa.int32()))
    assert _decode_list_array_to_arrow(uni.slice(1)).to_pylist() == ["本A", "B"]


def test_surrogate_tokens_quarantine_not_crash(spark):
    """A lone-surrogate code point in a tokens array must become U+FFFD
    (decode_tokens) and quarantine its row through the parse UDF —
    chr(0xD800) builds a str that pa.array() cannot UTF-8 encode, which
    used to kill the whole stage on one bad row."""
    assert decode_tokens([0xD800, 65]) == "�A"
    assert decode_tokens(np.array([0xDFFF], dtype=np.int32)) == "�"

    from logparser_spark.functions.parse import with_parsed

    raw = spark.createDataFrame(
        [
            ("d1", [0xD800, 65, 32], 3, "s"),
            ("d2", list(map(ord, "plain text")), 10, "s"),
        ],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    rows = {r.doc_id: r.valid for r in with_parsed(raw).select("doc_id", "valid").collect()}
    assert rows["d1"] == 0  # quarantined, stage alive
    assert rows["d2"] == 0 or rows["d2"] == 1  # parsed normally (invalid line -> 0 is fine)
