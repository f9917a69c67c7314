"""Vectorized (numpy / Arrow) signature kernels for SimHash / MinHash.

Why not pure Column expressions: a 64-bit-majority SimHash needs 64
array passes per row — the expression tree blows past the whole-stage-codegen
method limit and Spark falls back to interpreted evaluation (measured ~7 s for
5k docs). Batched numpy kernels do the same work in milliseconds per batch;
the Arrow transfer of the text column is the only overhead, amortized across
all signatures at once.

MinHash runs as one ``mapInArrow`` kernel (:func:`minhash_shingles`) that
splits, shingles, dedups and hashes straight over the Arrow buffers and
returns both the signature and the shingle set, so each document is
tokenized once and no Python ``str`` is built per token. SimHash keeps the
pandas-UDF path over :func:`_flat_tokens`.

Hashes here are deterministic FNV-1a(64) + splitmix64 seed mixing — stable
across runs, batch sizes, and cluster layouts (signature algorithms only need
internal consistency, not cross-engine parity).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)
_SHIFTS = np.arange(64, dtype=np.uint64)
_WEIGHTS = (np.uint64(1) << _SHIFTS)


def _fnv1a64_fold(data: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """FNV-1a 64 of each of ``len(lens)`` byte strings laid end to end in
    ``data`` (uint8). Strings are folded longest first, so the ones still
    active at byte position p are a prefix of that order: each step is one
    slice and the whole fold reads every byte once (no padded byte matrix)."""
    lens = np.asarray(lens, np.int64)
    h = np.full(len(lens), _FNV_OFFSET, np.uint64)
    if not len(lens):
        return h
    order = np.argsort(-lens, kind="stable")
    pos = (np.cumsum(lens) - lens)[order]
    slens = lens[order]
    # active[p] = how many strings are longer than p bytes
    active = np.searchsorted(-slens, -np.arange(int(slens[0])), side="left")
    hs = h.copy()
    with np.errstate(over="ignore"):
        for p, c in enumerate(active):
            hs[:c] = (hs[:c] ^ data[pos[:c] + p]) * _FNV_PRIME
    h[order] = hs
    return h


def fnv1a64(tokens: list[str]) -> np.ndarray:
    """FNV-1a 64 over the UTF-8 bytes of each string in a flat list."""
    encoded = [t.encode("utf-8") for t in tokens]
    lens = np.fromiter(map(len, encoded), np.int64, len(encoded))
    return _fnv1a64_fold(np.frombuffer(b"".join(encoded), np.uint8), lens)


def _string_bytes(arr) -> tuple[np.ndarray, np.ndarray]:
    """(concatenated UTF-8 bytes, lengths) of a pyarrow string or
    large_string array, read from its offset and data buffers (a sliced
    array's non-zero ``offset`` included; nulls read as empty)."""
    import pyarrow as pa

    wide = pa.types.is_large_string(arr.type)
    _, obuf, dbuf = arr.buffers()
    offs = np.frombuffer(obuf, np.int64 if wide else np.int32)
    offs = offs[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(dbuf, np.uint8) if dbuf is not None else np.empty(0, np.uint8)
    return data[offs[0] : offs[-1]], np.diff(offs)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _flat_tokens(texts: pd.Series, ngram: int) -> tuple[list[str], np.ndarray]:
    """All docs' shingles flattened + per-doc counts (ngram>1 => word n-grams)."""
    counts = np.empty(len(texts), np.int64)
    flat: list[str] = []
    for j, t in enumerate(texts):
        words = t.split(" ") if isinstance(t, str) else []
        if ngram > 1:
            toks = ["\x01".join(words[i : i + ngram]) for i in range(max(0, len(words) - ngram + 1))]
        else:
            toks = words
        counts[j] = len(toks)
        flat.extend(toks)
    return flat, counts


def simhash_batch(texts: pd.Series, ngram: int = 1) -> pd.Series:
    """64-bit frequency-weighted SimHash per doc, one vectorized pass."""
    flat, counts = _flat_tokens(texts, ngram)
    h = fnv1a64(flat)
    # bit-expand via unpackbits on the little-endian byte view, NOT
    # (h[:, None] >> _SHIFTS) & 1: the broadcast form materializes three
    # (T, 64) uint64/int64 temporaries and measured ~10s for 270k tokens on
    # this host vs 0.33s for unpackbits (bit-exact equal; the astype('<u8')
    # is a no-op copy-guard on little-endian hosts)
    bits = np.unpackbits(
        h.astype("<u8", copy=False).view(np.uint8).reshape(-1, 8),
        axis=1, bitorder="little",
    )  # (T, 64) uint8
    offsets = np.zeros(len(counts), np.int64)
    np.cumsum(counts[:-1], out=offsets[1:])
    # reduceat needs nonempty segments: guard zero-token docs
    safe_offsets = np.minimum(offsets, max(len(flat) - 1, 0))
    # segment-sum the TRANSPOSED (64, T) int32 matrix along axis=1: the
    # row-major axis=0 reduceat strides 64 columns per step (0.34s) while
    # contiguous per-bit rows stream at memory speed (0.067s measured);
    # int32 because this host's int64 widening of large arrays is ~250x
    # slower (6.3s vs 0.024s for the same astype) — safe: a 2^30-token doc
    # in ONE Arrow batch would need >4 GB in a single row
    if len(flat):
        sums = np.add.reduceat(bits.T.astype(np.int32), safe_offsets, axis=1).T
    else:
        sums = np.zeros((len(counts), 64), np.int32)
    sums[counts == 0] = 0
    maj = (sums.astype(np.int64) * 2) > counts[:, None]
    sig = (maj.astype(np.uint64) * _WEIGHTS).sum(axis=1, dtype=np.uint64)
    return pd.Series(sig.view(np.int64))


def minhash_shingles(batch, num_hashes: int, ngram: int):
    """One ``mapInArrow`` batch of (key, text) -> (k, sig, sh): each doc's
    word n-gram set and its k-minhash signature, from one tokenization.

    ``sh`` is exactly ``array_distinct(dedup._word_shingles(text, ngram))``
    (``split(" ")``, windows joined by ``chr(1)``, first-occurrence order);
    a change to one must change the other. Rows with an empty set (null
    text, docs shorter than ``ngram`` words) are dropped. ``sig[j]`` is the
    signed min over the set of splitmix64(FNV-1a64(gram) ^ seed_j) — the min
    over the set equals the min over the bag, so deduping first changes no
    value. Every step runs on Arrow/numpy buffers: the dictionary hashes
    each distinct gram of the batch once."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys, texts = batch.column(0), batch.column(1)
    words = pc.split_pattern(texts, " ")
    # a null text splits to a null, zero-length list
    offs = np.asarray(words.offsets, np.int64)
    ngrams = np.maximum(np.diff(offs) - (ngram - 1), 0)
    doc = np.repeat(np.arange(len(ngrams)), ngrams)
    # position of each window's first word in words.values
    start = offs[:-1][doc] + (np.arange(len(doc)) - (np.cumsum(ngrams) - ngrams)[doc])
    vals = words.values
    grams = vals.take(pa.array(start))
    if ngram > 1:
        grams = pc.binary_join_element_wise(
            grams,
            *[vals.take(pa.array(start + j)) for j in range(1, ngram)],
            pa.scalar("\x01", vals.type),
        )
    enc = pc.dictionary_encode(grams)
    code = np.asarray(enc.indices, np.int64)
    # first occurrence of each (doc, gram) pair, back in gram order: each
    # doc's set in the order array_distinct keeps
    _, first = np.unique(doc * len(enc.dictionary) + code, return_index=True)
    first.sort()
    set_code = code[first]
    sizes = np.bincount(doc[first], minlength=len(ngrams))
    keep = sizes > 0
    sizes = sizes[keep]

    base = _fnv1a64_fold(*_string_bytes(enc.dictionary))[set_code]
    seeds = _splitmix64(np.arange(1, num_hashes + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
    set_starts = np.cumsum(sizes) - sizes
    sig = np.empty((len(sizes), num_hashes), np.int64)
    # per-seed column loop, NOT a (T, k) broadcast: the broadcast form
    # materializes ~7 (T, k) uint64 temporaries inside _splitmix64
    # (memory-bandwidth-bound, measured 10x slower at k=64); per-column
    # temps are set-sized and stay in cache
    for j in range(num_hashes):
        sig[:, j] = np.minimum.reduceat(_splitmix64(base ^ seeds[j]).view(np.int64), set_starts)
    sig_offs = np.arange(0, (len(sizes) + 1) * num_hashes, num_hashes, dtype=np.int32)
    sh_offs = np.zeros(len(sizes) + 1, np.int32)
    np.cumsum(sizes, out=sh_offs[1:])
    return pa.RecordBatch.from_arrays(
        [
            keys.filter(pa.array(keep)),
            pa.ListArray.from_arrays(pa.array(sig_offs), pa.array(sig.ravel())),
            pa.ListArray.from_arrays(pa.array(sh_offs), enc.dictionary.take(pa.array(set_code))),
        ],
        names=["k", "sig", "sh"],
    )
