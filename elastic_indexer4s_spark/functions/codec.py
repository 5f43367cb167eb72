"""Posting-list codec: delta + varint, blocked for block-max WAND.

The reference delegates posting storage to Lucene (via ES), which keeps a
term's docs, freqs and skip data in one contiguous payload the term
dictionary points to; this module is the engine-native equivalent (SURVEY
§2 B2/B7).  Everything is vectorized NumPy — no per-value Python in encode
or decode.

A postings row is ``shard, term, df, enc, pos_blob``.  ``enc`` is one
self-describing binary payload, so a scorer reads three column chunks per
row group (``term``, ``df``, ``enc``) whatever the number of blocks.  Every
integer in it is LEB128 varint:

* header — ``n_blocks``, then the byte lengths of the three streams below;
* seven per-block sidecar runs of ``n_blocks`` values each, in this order:
  ``block_last``   last doc_id per block → WAND skip pointer (the first
                   value absolute, the rest gaps: it ascends),
  ``block_maxtf``  max tf per block → block-max score bound,
  ``block_min_dl`` min dl per block → tightens the bound (score is
                   decreasing in dl, so f(maxtf, mindl) upper-bounds the block),
  ``block_count``  postings per block,
  ``block_doc_off`` / ``block_tf_off`` / ``block_dl_off`` byte offsets of
                   each block in its stream;
* ``doc_blob`` — postings are (doc_id, tf, dl) triples in strictly ascending
  doc_id order, chunked into blocks of ≤ ``block_size``; within each block
  the FIRST value is the absolute doc_id, the rest gaps;
* ``tf_blob`` — term frequencies, same block boundaries;
* ``dl_blob`` — document lengths (the BM25 length norm, stored inline like
  Lucene's norms file so scoring needs NO join against a doc-length table).

``pos_blob`` (optional, its own column so scored queries never read it) is
the positional stream: every posting's token positions, doc-major, each
posting's first position absolute and the rest gaps.

:func:`row_to_enc` unpacks a row into an :class:`EncodedPostings`, whose
fields are the decoded sidecars and the three stream slices;
:func:`enc_to_row` packs one.  Because every block's first doc_id is
absolute, two lists covering disjoint ascending doc_id ranges merge by pure
concatenation (byte-append + offset shift).  Hot-term salting (SURVEY §2 B4)
rests on this: :func:`encode_partition_postings` writes a hot term's list
as the concatenation of its separately encoded ``salt_span`` sub-segments.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_U64 = np.uint64
_SEVEN = _U64(7)
_MASK7 = _U64(0x7F)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized (≤10 passes)."""
    return varint_encode_offsets(values)[0]


def varint_encode_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Like :func:`varint_encode` but also returns the per-value byte START
    offsets (length n+1, ``starts[-1] == len(blob)``) so callers can slice
    the stream at arbitrary value boundaries without re-encoding."""
    a = np.ascontiguousarray(values, dtype=_U64)
    if a.size == 0:
        return b"", np.zeros(1, dtype=np.int64)
    lens = np.ones(a.size, dtype=np.int64)
    x = a >> _SEVEN
    while x.any():
        lens += (x > 0).astype(np.int64)
        x >>= _SEVEN
    starts = np.zeros(a.size + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    out = np.zeros(int(starts[-1]), dtype=np.uint8)
    vals = a.copy()
    for k in range(int(lens.max())):
        mask = lens > k
        idx = starts[:-1][mask] + k
        byte = (vals[mask] & _MASK7).astype(np.uint8)
        cont = (lens[mask] > k + 1).astype(np.uint8)
        out[idx] = byte | (cont << 7)
        vals[mask] >>= _SEVEN
    return out.tobytes(), starts


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode an LEB128 stream to uint64, fully vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=_U64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    owner_start = np.repeat(starts, ends - starts + 1)
    shifts = ((np.arange(b.size) - owner_start) * 7).astype(_U64)
    parts = (b & 0x7F).astype(_U64) << shifts
    return np.add.reduceat(parts, starts)


@dataclass
class EncodedPostings:
    df: int
    doc_blob: bytes
    tf_blob: bytes
    dl_blob: bytes
    block_last: np.ndarray     # int64 per block
    block_maxtf: np.ndarray    # int64 per block
    block_min_dl: np.ndarray   # int64 per block
    block_count: np.ndarray    # int32 per block
    block_doc_off: np.ndarray  # int64 byte offsets into doc_blob
    block_tf_off: np.ndarray   # int64 byte offsets into tf_blob
    block_dl_off: np.ndarray   # int64 byte offsets into dl_blob
    #: OPTIONAL positional index (None on position-less generations): one
    #: varint stream of token positions for every posting, doc-major; the
    #: posting's FIRST position is absolute, the rest are gaps, and the
    #: per-posting span is derived from tf (position count == tf), so no
    #: extra offset sidecar is needed.  This is the Lucene-proximity-data
    #: analog that makes phrase queries index-native (SURVEY §2 B7 ext;
    #: reference ES analyzed `text` mapping, MappingSetting.scala:13).
    pos_blob: bytes | None = None


def _empty() -> EncodedPostings:
    z = np.empty(0, dtype=np.int64)
    return EncodedPostings(0, b"", b"", b"", z, z, z, z.astype(np.int32), z, z, z)


def _pos_deltas(pos: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Per-posting delta encoding of a doc-major flat position stream:
    leading position absolute, rest gaps (positions ascend within a doc)."""
    starts = np.cumsum(np.concatenate(([0], tfs[:-1])))
    deltas = np.empty(pos.size, dtype=np.int64)
    deltas[0] = pos[0]
    np.subtract(pos[1:], pos[:-1], out=deltas[1:])
    deltas[starts] = pos[starts]
    return deltas


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    block_size: int = 128,
                    positions: np.ndarray | None = None) -> EncodedPostings:
    """Encode one posting list. ``doc_ids`` must be strictly ascending.
    ``positions``: optional flat int array of token positions, doc-major
    (``positions.size == tfs.sum()``, ascending within each doc)."""
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    n = doc_ids.size
    if n == 0:
        return _empty()
    n_blocks = (n + block_size - 1) // block_size
    block_starts = np.arange(n_blocks) * block_size
    block_ends = np.minimum(block_starts + block_size, n)
    # deltas, with block-leading positions reset to absolute doc_id
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = doc_ids[0]
    deltas[1:] = np.diff(doc_ids)
    deltas[block_starts] = doc_ids[block_starts]

    (doc_blob, doc_off), (tf_blob, tf_off), (dl_blob, dl_off) = [
        varint_encode_offsets(v) for v in (deltas, tfs, dls)]
    pos_blob = None
    if positions is not None:
        positions = np.ascontiguousarray(positions, dtype=np.int64)
        assert positions.size == int(tfs.sum()), \
            "positions must carry exactly tf values per posting"
        pos_blob = varint_encode(_pos_deltas(positions, tfs))
    return EncodedPostings(
        df=int(n),
        doc_blob=doc_blob,
        tf_blob=tf_blob,
        dl_blob=dl_blob,
        block_last=doc_ids[block_ends - 1],
        block_maxtf=np.maximum.reduceat(tfs, block_starts).astype(np.int64),
        block_min_dl=np.minimum.reduceat(dls, block_starts).astype(np.int64),
        block_count=(block_ends - block_starts).astype(np.int32),
        block_doc_off=doc_off[block_starts],
        block_tf_off=tf_off[block_starts],
        block_dl_off=dl_off[block_starts],
        pos_blob=pos_blob,
    )


def decode_positions(enc: EncodedPostings,
                     tfs: np.ndarray | None = None) -> np.ndarray:
    """Decode the positional stream → flat int64 positions, doc-major
    (posting i owns the next ``tfs[i]`` values, ascending).  ``tfs`` may be
    passed when the caller already decoded the tf stream."""
    if enc.pos_blob is None:
        raise ValueError("posting list carries no positions "
                         "(generation built without store_positions)")
    if enc.df == 0:
        return np.empty(0, dtype=np.int64)
    if tfs is None:
        tfs = varint_decode(enc.tf_blob).astype(np.int64)
    deltas = varint_decode(enc.pos_blob).astype(np.int64)
    starts = np.cumsum(np.concatenate(([0], tfs[:-1])))
    csum = np.cumsum(deltas)
    carry = csum[starts] - deltas[starts]
    return csum - np.repeat(carry, tfs)


def decode_postings(enc: EncodedPostings) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a full posting list → (doc_ids ascending, tfs, dls), int64."""
    if enc.df == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    deltas = varint_decode(enc.doc_blob).astype(np.int64)
    tfs = varint_decode(enc.tf_blob).astype(np.int64)
    dls = varint_decode(enc.dl_blob).astype(np.int64)
    counts = np.asarray(enc.block_count, dtype=np.int64)
    starts = np.cumsum(np.concatenate(([0], counts[:-1])))
    # per-block prefix sum: global cumsum minus the carry accumulated before
    # each block (block-leading deltas are absolute doc_ids, so the carry is
    # exactly cumsum_at_block_start - leading_value).
    csum = np.cumsum(deltas)
    carry = csum[starts] - deltas[starts]
    doc_ids = csum - np.repeat(carry, counts)
    return doc_ids, tfs, dls


def decode_block(enc: EncodedPostings, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a single block (WAND skips blocks whose bound is too low)."""

    def span(off: np.ndarray, blob: bytes) -> bytes:
        s = int(off[i])
        e = int(off[i + 1]) if i + 1 < len(off) else len(blob)
        return blob[s:e]

    deltas = varint_decode(span(enc.block_doc_off, enc.doc_blob)).astype(np.int64)
    tfs = varint_decode(span(enc.block_tf_off, enc.tf_blob)).astype(np.int64)
    dls = varint_decode(span(enc.block_dl_off, enc.dl_blob)).astype(np.int64)
    return np.cumsum(deltas), tfs, dls


def concat_postings(parts: list[EncodedPostings]) -> EncodedPostings:
    """Merge encoded lists over DISJOINT ascending doc_id ranges by pure
    concatenation (the reference layout of a salted hot term, SURVEY §2
    B4).  Callers must pass parts ordered by doc_id range."""
    parts = [p for p in parts if p.df > 0]
    if not parts:
        return _empty()
    if len(parts) == 1:
        return parts[0]

    def shifted(offs: list[np.ndarray], blobs: list[bytes]) -> np.ndarray:
        shift = np.concatenate(([0], np.cumsum([len(b) for b in blobs[:-1]])))
        return np.concatenate([o + s for o, s in zip(offs, shift)])

    return EncodedPostings(
        df=int(sum(p.df for p in parts)),
        doc_blob=b"".join(p.doc_blob for p in parts),
        tf_blob=b"".join(p.tf_blob for p in parts),
        dl_blob=b"".join(p.dl_blob for p in parts),
        # positions stay concatenation-mergeable because every posting's
        # first position is absolute (delta scope = one posting)
        pos_blob=(b"".join(p.pos_blob for p in parts)
                  if all(p.pos_blob is not None for p in parts) else None),
        block_last=np.concatenate([p.block_last for p in parts]),
        block_maxtf=np.concatenate([p.block_maxtf for p in parts]),
        block_min_dl=np.concatenate([p.block_min_dl for p in parts]),
        block_count=np.concatenate([p.block_count for p in parts]),
        block_doc_off=shifted([p.block_doc_off for p in parts], [p.doc_blob for p in parts]),
        block_tf_off=shifted([p.block_tf_off for p in parts], [p.tf_blob for p in parts]),
        block_dl_off=shifted([p.block_dl_off for p in parts], [p.dl_blob for p in parts]),
    )


# --- whole-partition vectorized encoder -------------------------------------

#: Version of the postings row layout, recorded in each generation's
#: ``stats.json``.  2 is the packed ``enc`` payload; generations without
#: the key hold the earlier layout of one column per stream and sidecar.
POSTINGS_FORMAT = 2

_INT32_MAX = np.iinfo(np.int32).max


def _binary_slices(buf: bytes, offs: np.ndarray):
    """A pyarrow BinaryArray of ``len(offs) - 1`` slices of ``buf``
    (``offs`` absolute byte offsets), built without copying ``buf``."""
    import pyarrow as pa

    if offs[-1] > _INT32_MAX:
        raise ValueError("a partition's encoded postings exceed 2 GiB; "
                         "build with more shards")
    return pa.BinaryArray.from_buffers(
        pa.binary(), offs.size - 1,
        [None, pa.py_buffer(offs.astype(np.int32).tobytes()),
         pa.py_buffer(buf)])


def encode_partition_postings(shard: np.ndarray, term_code: np.ndarray,
                              doc_id: np.ndarray, tf: np.ndarray,
                              dl: np.ndarray, term_values,
                              block_size: int = 128,
                              pos: np.ndarray | None = None, *,
                              hot_term_df: int, salt_span: int):
    """Encode EVERY posting list of a partition in one vectorized pass.

    Inputs are per-POSTING arrays sorted by ``(shard, term_code, doc_id)``
    (strictly ascending doc_id within a (shard, term) group) plus
    ``term_values``, a pyarrow StringArray mapping code -> term string.
    Returns a ``pyarrow.RecordBatch`` with the POSTINGS_DDL schema whose
    ``enc`` values equal :func:`enc_to_row`'s byte for byte, built
    directly from buffers — zero per-term (and per-block) Python.

    Hot-term salting: a term whose posting count in its shard exceeds
    ``hot_term_df`` restarts its blocks at every ``salt_span`` doc-id
    boundary, so its row equals :func:`concat_postings` over the
    separately encoded ``doc_id // salt_span`` sub-segments, byte for byte
    (positions included); every other term is one :func:`encode_postings`.

    Whole-array passes produce the three posting streams, the sidecar
    values of every block (laid out term-major: each term's seven runs back
    to back) and the per-term headers; each is sliced at term boundaries
    into a BinaryArray over one shared buffer, and one element-wise binary
    join concatenates each term's five slices into its ``enc``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n = doc_id.size
    if n == 0:
        return pa.RecordBatch.from_pylist([], schema=postings_arrow_schema())
    doc_id = np.ascontiguousarray(doc_id, dtype=np.int64)
    tf = np.ascontiguousarray(tf, dtype=np.int64)
    dl = np.ascontiguousarray(dl, dtype=np.int64)

    # term (= output row) boundaries
    new_term = np.empty(n, dtype=bool)
    new_term[0] = True
    new_term[1:] = (term_code[1:] != term_code[:-1]) | (shard[1:] != shard[:-1])
    t_start = np.nonzero(new_term)[0]                       # per term
    t_len = np.diff(np.append(t_start, n))
    n_terms = t_start.size
    t_bound = np.append(t_start, n)                          # len n_terms+1

    # sub-segment boundaries: every term starts one, and a hot term (df in
    # its shard above ``hot_term_df``) starts another wherever
    # ``doc_id // salt_span`` changes
    new_seg = new_term.copy()
    salt = doc_id // salt_span
    new_seg[1:] |= (np.repeat(t_len > hot_term_df, t_len)[1:]
                    & (salt[1:] != salt[:-1]))
    s_start = np.nonzero(new_seg)[0]

    # block boundaries (blocks never cross sub-segments: every sub-segment
    # start is a lead)
    pos_in_seg = (np.arange(n, dtype=np.int64)
                  - np.repeat(s_start, np.diff(np.append(s_start, n))))
    b_idx = np.nonzero((pos_in_seg % block_size) == 0)[0]   # per block
    b_end = np.append(b_idx[1:], n)
    n_blocks = b_idx.size
    first_blk = np.searchsorted(b_idx, t_start)             # per term
    t_blocks = np.diff(np.append(first_blk, n_blocks))
    term_of_blk = np.repeat(np.arange(n_terms), t_blocks)

    # deltas: gaps within a block, absolute doc_id at each block lead
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = doc_id[0]
    np.subtract(doc_id[1:], doc_id[:-1], out=deltas[1:])
    deltas[b_idx] = doc_id[b_idx]

    streams = [varint_encode_offsets(v) for v in (deltas, tf, dl)]

    # per-block sidecars; block_last as gaps from the term's previous block
    blk_last = doc_id[b_end - 1]
    last_gap = blk_last.copy()
    last_gap[1:] -= blk_last[:-1]
    last_gap[first_blk] = blk_last[first_blk]
    side = np.stack(
        [last_gap, np.maximum.reduceat(tf, b_idx),
         np.minimum.reduceat(dl, b_idx), b_end - b_idx]
        + [starts[b_idx] - starts[t_start][term_of_blk]
           for _, starts in streams])                        # (7, n_blocks)
    # term-major order: term t's run k starts at 7·first_blk[t] + k·t_blocks[t]
    lead = first_blk[term_of_blk]
    dest = (7 * lead + np.arange(7)[:, None] * t_blocks[term_of_blk]
            + (np.arange(n_blocks) - lead))
    flat = np.empty(7 * n_blocks, dtype=np.int64)
    flat[dest.ravel()] = side.ravel()
    side_blob, side_starts = varint_encode_offsets(flat)

    head = np.stack([t_blocks] + [np.diff(starts[t_bound])
                                  for _, starts in streams], axis=1)
    head_blob, head_starts = varint_encode_offsets(head.ravel())

    enc = pc.binary_join_element_wise(
        _binary_slices(head_blob, head_starts[::4]),
        _binary_slices(side_blob, side_starts[7 * np.append(first_blk,
                                                            n_blocks)]),
        *[_binary_slices(blob, starts[t_bound]) for blob, starts in streams],
        b"")

    # optional positional stream: one delta pass over the flat doc-major
    # positions (posting-leading values absolute), one varint pass, then
    # per-term slices through the posting→position boundary map (position
    # count per posting == tf)
    if pos is not None:
        ppb = np.concatenate(([0], np.cumsum(tf)))      # posting → pos idx
        pos_blob, pos_starts = varint_encode_offsets(_pos_deltas(pos, tf))
        pos_arr = _binary_slices(pos_blob, pos_starts[ppb[t_bound]])
    else:
        pos_arr = pa.nulls(n_terms, type=pa.binary())

    terms = pc.take(term_values, pa.array(term_code[t_start]))
    if pa.types.is_large_string(terms.type):
        terms = terms.cast(pa.string())
    return pa.RecordBatch.from_arrays(
        [pa.array(shard[t_start].astype(np.int32), type=pa.int32()),
         terms,
         pa.array(t_len.astype(np.int64), type=pa.int64()),
         enc,
         pos_arr],
        schema=postings_arrow_schema())


def postings_arrow_schema():
    import pyarrow as pa
    return pa.schema([
        ("shard", pa.int32()), ("term", pa.string()), ("df", pa.int64()),
        ("enc", pa.binary()), ("pos_blob", pa.binary()),
    ])


# --- Spark-row (de)serialization helpers -----------------------------------

POSTINGS_FIELDS = ("term", "df", "enc", "pos_blob")

# pos_blob is NULL on position-less generations
POSTINGS_DDL = ("shard int, term string, df bigint, enc binary, "
                "pos_blob binary")


def _pack(enc: EncodedPostings) -> bytes:
    """The ``enc`` payload of one posting list (module docstring)."""
    head = [len(enc.block_count), len(enc.doc_blob), len(enc.tf_blob),
            len(enc.dl_blob)]
    side = np.concatenate([
        np.diff(enc.block_last, prepend=0), enc.block_maxtf,
        enc.block_min_dl, enc.block_count, enc.block_doc_off,
        enc.block_tf_off, enc.block_dl_off])
    return (varint_encode(np.array(head)) + varint_encode(side)
            + enc.doc_blob + enc.tf_blob + enc.dl_blob)


def _header(buf: bytes) -> tuple[list[int], int]:
    """The four header varints of an ``enc`` payload → (values, bytes
    they take)."""
    vals, at = [], 0
    for _ in range(4):
        v = shift = 0
        while True:
            byte = buf[at]
            at += 1
            v |= (byte & 0x7F) << shift
            if byte < 0x80:
                break
            shift += 7
        vals.append(v)
    return vals, at


def enc_to_row(term: str, enc: EncodedPostings, shard: int | None = None) -> dict:
    d = {"term": term, "df": enc.df, "enc": _pack(enc),
         "pos_blob": enc.pos_blob}
    if shard is not None:
        d["shard"] = shard
    return d


def row_to_enc(df, enc, pos_blob=None) -> EncodedPostings:
    """A postings row's ``df``, ``enc`` and ``pos_blob`` (None on
    position-less generations) → :class:`EncodedPostings`."""
    enc = bytes(enc)
    (n_blocks, n_doc, n_tf, n_dl), at = _header(enc)
    dl_at = len(enc) - n_dl
    tf_at = dl_at - n_tf
    doc_at = tf_at - n_doc
    side = varint_decode(enc[at:doc_at]).astype(np.int64).reshape(7, n_blocks)
    return EncodedPostings(
        df=int(df),
        doc_blob=enc[doc_at:tf_at],
        tf_blob=enc[tf_at:dl_at],
        dl_blob=enc[dl_at:],
        block_last=np.cumsum(side[0]),
        block_maxtf=side[1],
        block_min_dl=side[2],
        block_count=side[3].astype(np.int32),
        block_doc_off=side[4],
        block_tf_off=side[5],
        block_dl_off=side[6],
        pos_blob=bytes(pos_blob) if pos_blob is not None else None,
    )
