"""Property-based pins for the pure numpy batch kernels: each must
agree with an independent naive per-row Python-bigint oracle on
ARBITRARY inputs (None rows, empty rows, rows shorter than the window,
int boundaries). The kernels are all modular 2^64 vectorized math whose
failure mode is a silent wraparound/indexing bug — exactly what a
random-input differential test surfaces and example-based tests miss.

Complements tests/test_parse_fuzz.py (same strategy for the parse
stage) per the reference's differential-test model (SURVEY.md §5).
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from logparser_spark.operators import dedup, packing, tokenstats

MASK = (1 << 64) - 1


def _signed(v: int) -> int:
    v &= MASK
    return v - (1 << 64) if v >= (1 << 63) else v


# ---------- strategies ----------

i64 = st.integers(-(2**63), 2**63 - 1)
i32 = st.integers(-(2**31), 2**31 - 1)

hash_rows = st.lists(
    st.one_of(st.none(), st.lists(i64, max_size=12)), max_size=6
)
token_rows = st.lists(
    st.one_of(st.none(), st.lists(i32, max_size=24)), max_size=6
)


# ---------- rolling k-window polynomial hash ----------


def naive_window_hash(tokens, k):
    if tokens is None:
        return []
    out = []
    for i in range(max(len(tokens) - k + 1, 0)):
        h = 0
        for j in range(k):
            h = (h + (tokens[i + j] & MASK) * pow(tokenstats._B, j, 1 << 64)) & MASK
        out.append(_signed(h))
    return out


@settings(max_examples=60, deadline=None)
@given(rows=token_rows, k=st.integers(1, 5))
def test_window_hash_matches_bigint_oracle(rows, k):
    got = tokenstats._window_hash_batch(pd.Series(rows, dtype=object), k)
    assert len(got) == len(rows)
    for row, g in zip(rows, got):
        assert list(g) == naive_window_hash(row, k), (row, k)


def test_window_hash_empty_batch():
    assert tokenstats._window_hash_batch(pd.Series([], dtype=object), 3) == []


# ---------- SimHash bit-vote fold ----------


def naive_simhash(hs):
    if not hs:
        return 0
    sig = 0
    for b in range(64):
        vote = sum(1 if ((h & MASK) >> b) & 1 else -1 for h in hs)
        if vote > 0:
            sig |= 1 << b
    return _signed(sig)


@settings(max_examples=60, deadline=None)
@given(rows=hash_rows)
def test_simhash_matches_bit_vote_oracle(rows):
    got = dedup._simhash_fold(pd.Series(rows, dtype=object))
    assert list(got) == [naive_simhash(r) for r in rows]


# ---------- MinHash signature (a*x+b family over window hashes) ----------


def naive_minhash(row, n_funcs, ngram, seed=42):
    # same single-stream draw order as _minhash_sig_udf: a, b, mix
    rng = np.random.default_rng(seed)
    a = (rng.integers(0, 2**63, size=n_funcs, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, size=n_funcs, dtype=np.uint64)
    mix = (rng.integers(0, 2**63, size=ngram, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    if row is None or len(row) < ngram:
        return None
    winds = []
    for i in range(len(row) - ngram + 1):
        w = 0
        for j in range(ngram):
            w ^= ((row[i + j] & MASK) * int(mix[j])) & MASK
        winds.append(w)
    return [
        _signed(min(((int(a[i]) * w + int(b[i])) & MASK) for w in winds))
        for i in range(n_funcs)
    ]


@settings(max_examples=60, deadline=None)
@given(rows=hash_rows, block=st.sampled_from([2, 4, 1 << 19]))
def test_minhash_sig_matches_bigint_oracle(spark, rows, block):
    # tiny blocks force the segment-blocking AND the oversized-row
    # running-min paths the production batch size never hits
    got = dedup._minhash_sig_udf(8, block=block).func(
        pd.Series(rows, dtype=object)
    )
    want = [naive_minhash(r, 8, dedup.NGRAM) for r in rows]
    assert len(got) == len(rows)
    for g, w in zip(got, want):
        assert (g is None and w is None) or list(g) == w, (g, w)


# ---------- sliding-window chunking ----------


def naive_chunks(tokens, max_len, stride):
    if tokens is None or len(tokens) == 0:
        return []
    m = len(tokens)
    n = 1 + -(-max(m - max_len, 0) // stride)
    return [
        (
            i * stride,
            min(max_len, m - i * stride),
            sum(tokens[i * stride : i * stride + min(max_len, m - i * stride)]),
        )
        for i in range(n)
    ]


@settings(max_examples=60, deadline=None)
@given(
    rows=token_rows,
    max_len=st.integers(1, 10),
    overlap=st.integers(0, 9),
)
def test_sliding_chunks_match_naive(rows, max_len, overlap):
    # stride derived as chunk_sliding does: max_len - overlap >= 1
    stride = max(max_len - overlap, 1)
    offs, lens, sums = packing._sliding_chunk_batch(
        pd.Series(rows, dtype=object), max_len, stride
    )
    for row, o, l, s in zip(rows, offs, lens, sums):
        assert list(zip(o.tolist(), l.tolist(), s.tolist())) == naive_chunks(
            row, max_len, stride
        ), (row, max_len, stride)


# -- BPE greedy single-pair merge (operators/bpe.py) -------------------


@given(
    seq=st.lists(st.integers(0, 4), max_size=40),
    pair=st.tuples(st.integers(0, 4), st.integers(0, 4)),
)
@settings(max_examples=200, deadline=None)
def test_bpe_merge_matches_greedy_oracle(seq, pair):
    """merge_pair_batch vs a character-at-a-time greedy scan — the
    overlap rule (aaa + (a,a) -> <new>a) is exactly where vectorized
    position arithmetic goes wrong, which random inputs surface."""
    from logparser_spark.operators.bpe import merge_pair_batch

    left, right = pair
    new_id = 99

    def oracle(s):
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                out.append(new_id)
                i += 2
            else:
                out.append(s[i])
                i += 1
        return out

    got = merge_pair_batch(np.asarray(seq, dtype=np.int64), left, right, new_id)
    assert got.tolist() == oracle(seq)
