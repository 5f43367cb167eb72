"""Varint/delta/block codec round-trips (SURVEY §5.2 item 2)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import pytest

from elastic_indexer4s_spark.functions.codec import (
    EncodedPostings, concat_postings, decode_block, decode_postings,
    enc_to_row, encode_postings, row_to_enc, varint_decode, varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(a)), a)


@given(
    st.sets(st.integers(min_value=0, max_value=10**9), max_size=500),
    st.integers(min_value=1, max_value=200),
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(doc_set, block_size):
    docs = np.array(sorted(doc_set), dtype=np.int64)
    n = len(docs)
    tfs = (docs % 17 + 1).astype(np.int64)
    dls = (docs % 311 + 1).astype(np.int64)
    enc = encode_postings(docs, tfs, dls, block_size)
    d, t, l = decode_postings(enc)
    assert np.array_equal(d, docs)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    assert enc.df == n
    # per-block decode stitches back to the same list
    if n:
        parts = [decode_block(enc, i) for i in range(len(enc.block_count))]
        assert np.array_equal(np.concatenate([p[0] for p in parts]), docs)
        # sidecar invariants
        starts = np.cumsum(np.concatenate(([0], enc.block_count[:-1]))).astype(int)
        assert np.array_equal(enc.block_maxtf,
                              np.maximum.reduceat(tfs, starts))
        assert np.array_equal(enc.block_min_dl,
                              np.minimum.reduceat(dls, starts))


def test_concat_equals_whole():
    docs = np.unique(np.random.default_rng(7).integers(0, 10**6, 4000)).astype(np.int64)
    tfs = (docs % 9 + 1).astype(np.int64)
    dls = (docs % 100 + 5).astype(np.int64)
    cuts = [0, 1000, 1003, 2500, len(docs)]
    parts = [encode_postings(docs[a:b], tfs[a:b], dls[a:b], 128)
             for a, b in zip(cuts, cuts[1:])]
    merged = concat_postings(parts)
    d, t, l = decode_postings(merged)
    assert np.array_equal(d, docs)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    assert merged.df == len(docs)


def test_dense_ids_compress_to_about_one_byte():
    docs = np.arange(100_000, dtype=np.int64)
    enc = encode_postings(docs, np.ones(100_000, np.int64),
                          np.full(100_000, 50, np.int64), 128)
    assert len(enc.doc_blob) / len(docs) < 1.1


def _postings(n: int, seed: int, positions: bool, first: int = 0):
    rng = np.random.default_rng(seed)
    docs = first + np.cumsum(rng.integers(1, 300, n)).astype(np.int64)
    tfs = rng.integers(1, 6, n).astype(np.int64)
    dls = rng.integers(1, 4000, n).astype(np.int64)
    pos = (np.concatenate([np.sort(rng.choice(5000, t, replace=False))
                           for t in tfs]).astype(np.int64)
           if positions and n else None)
    return docs, tfs, dls, pos


def _assert_same(a: EncodedPostings, b: EncodedPostings) -> None:
    assert a.df == b.df
    for f in ("doc_blob", "tf_blob", "dl_blob", "pos_blob"):
        assert getattr(a, f) == getattr(b, f), f
    for f in ("block_last", "block_maxtf", "block_min_dl", "block_count",
              "block_doc_off", "block_tf_off", "block_dl_off"):
        x, y = getattr(a, f), getattr(b, f)
        assert x.dtype == y.dtype and np.array_equal(x, y), f


@pytest.mark.parametrize("positions", [False, True])
@pytest.mark.parametrize("n", [0, 1, 5, 1000])
def test_row_roundtrip(n, positions):
    """0 postings (0 blocks), 1 (1 block), 5 (1 block) and 1000 (8
    blocks): the packed row unpacks to the same EncodedPostings."""
    docs, tfs, dls, pos = _postings(n, n, positions)
    enc = encode_postings(docs, tfs, dls, 128, positions=pos)
    row = enc_to_row("t", enc, shard=3)
    assert set(row) == {"shard", "term", "df", "enc", "pos_blob"}
    _assert_same(row_to_enc(row["df"], row["enc"], row["pos_blob"]), enc)


@pytest.mark.parametrize("positions", [False, True])
def test_row_roundtrip_of_salted_merge(positions):
    """Salted sub-segments travel as rows, merge by concatenation and
    travel again: the final row unpacks to the whole list's postings."""
    parts, first = [], 0
    for seed, n in enumerate([300, 1, 130]):
        docs, tfs, dls, pos = _postings(n, seed, positions, first)
        first = int(docs[-1]) + 1
        row = enc_to_row("t", encode_postings(docs, tfs, dls, 64,
                                              positions=pos))
        parts.append(row_to_enc(row["df"], row["enc"], row["pos_blob"]))
    merged = concat_postings(parts)
    row = enc_to_row("t", merged)
    back = row_to_enc(row["df"], row["enc"], row["pos_blob"])
    _assert_same(back, merged)
    assert np.array_equal(decode_postings(back)[0],
                          np.concatenate([decode_postings(p)[0]
                                          for p in parts]))


def test_partition_encoder_salts_hot_terms():
    """On random partitions (several shards, hot and cold terms, with and
    without positions) every row of ``encode_partition_postings`` equals
    the per-list reference byte for byte: ``concat_postings`` of the
    ``doc_id // salt_span`` sub-segments for a term whose df in its shard
    exceeds ``hot_term_df``, one ``encode_postings`` otherwise."""
    import pyarrow as pa

    from elastic_indexer4s_spark.functions.codec import (
        encode_partition_postings)

    rng = np.random.default_rng(11)
    names = pa.array([f"t{c}" for c in range(6)])
    for _ in range(200):
        block = int(rng.integers(1, 9))
        hot_df = int(rng.integers(0, 40))
        span = int(rng.integers(1, 50))
        positions = bool(rng.integers(0, 2))
        cols = {k: [] for k in ("shard", "code", "doc", "tf", "dl", "pos")}
        expected = []
        for shard in range(int(rng.integers(1, 4))):
            for code in np.sort(rng.choice(6, int(rng.integers(1, 6)),
                                           replace=False)):
                n = int(rng.integers(1, 80))
                docs = (shard << 20) + np.sort(
                    rng.choice(1000, n, replace=False)).astype(np.int64)
                tfs = rng.integers(1, 5, n).astype(np.int64)
                dls = tfs + rng.integers(0, 50, n)
                pos = [np.sort(rng.choice(int(l), int(t), replace=False))
                       for t, l in zip(tfs, dls)]
                salt = docs // span if n > hot_df else np.zeros(n, np.int64)
                cuts = [0, *(np.flatnonzero(np.diff(salt)) + 1), n]
                ref = concat_postings([encode_postings(
                    docs[a:b], tfs[a:b], dls[a:b], block,
                    positions=np.concatenate(pos[a:b]) if positions else None)
                    for a, b in zip(cuts, cuts[1:])])
                expected.append(enc_to_row(f"t{code}", ref, shard=shard))
                for k, v in (("shard", np.full(n, shard)),
                             ("code", np.full(n, code)), ("doc", docs),
                             ("tf", tfs), ("dl", dls)):
                    cols[k].append(v)
                cols["pos"] += pos
        c = {k: np.concatenate(v) for k, v in cols.items()}
        got = encode_partition_postings(
            c["shard"], c["code"], c["doc"], c["tf"], c["dl"], names, block,
            pos=c["pos"] if positions else None,
            hot_term_df=hot_df, salt_span=span).to_pylist()
        assert got == expected
