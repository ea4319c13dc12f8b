"""Vectorized-numpy kernels for the text-hash operators (guide §4.2).

The minhash/simhash signature stages were the heaviest operators at sf10
(11.7 s / 2.19 s — BENCH_XOPS_ANATOMY_sf10_r13.json): interpreted
higher-order-function evaluation over token arrays plus 64 aggregate
columns. The round-13 SQL-expression rewrites were both refuted
(BENCH_MINHASH_VARIANTS_sf10_r13.json), so round 14 takes the guide
§4.2 move instead: hand whole Arrow batches to numpy — tokenization and
dictionary-encoding in Arrow C++, XXH64 + rolling shingle hashes + the
per-permutation mins in vectorized numpy. One batch in → one batch out,
no Python row loop, no shuffle (signatures are computed per input row).

Exactness: the numpy XXH64 here is bit-identical to Spark's `xxhash64`
(verified over random byte strings of every length 0..100 — covering the
32-byte stripe path and all tail paths — plus every corpus token and
full text: scripts/validate_xxh64.py), and Arrow's
``split_pattern_regex('[ \\t\\n\\x0b\\f\\r]+')`` + ``utf8_lower``
reproduce the JVM ``split(lower(text), '\\s+')`` tokenization including
leading/trailing-empty-token edge semantics (same script, edge-string
section). All integer arithmetic (pmod by the Mersenne prime, the
polynomial rolling hash) is the same signed-64 math the JVM path runs.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(11400714785074694791)
_P2 = np.uint64(14029467366897019727)
_P3 = np.uint64(1609587929392839161)
_P4 = np.uint64(9650029242287828579)
_P5 = np.uint64(2870177450012600261)

# Spark's seed for xxhash64 / the engine-wide Mersenne prime (dedup.py)
_SEED = 42
_PRIME = 2147483647
_POLY = 1000003


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_words(words: np.ndarray, lengths: np.ndarray, seed: int = _SEED) -> np.ndarray:
    """XXH64 of n byte strings packed as an (n, W) little-endian uint64
    word matrix (zero-padded past each string's length). Returns
    uint64[n]. Reference layout (= Spark's XXH64): 32-byte stripes with
    4 lanes, then 8-byte words, one 4-byte word, single bytes, avalanche."""
    n = len(lengths)
    L = lengths.astype(np.int64)
    with np.errstate(over="ignore"):
        h = np.full(n, np.uint64((seed + int(_P5)) & 0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
        long_rows = np.nonzero(L >= 32)[0]
        if long_rows.size:
            m64 = 0xFFFFFFFFFFFFFFFF
            lanes = [
                np.full(long_rows.size, np.uint64((seed + int(_P1) + int(_P2)) & m64), dtype=np.uint64),
                np.full(long_rows.size, np.uint64((seed + int(_P2)) & m64), dtype=np.uint64),
                np.full(long_rows.size, np.uint64(seed), dtype=np.uint64),
                np.full(long_rows.size, np.uint64((seed - int(_P1)) & m64), dtype=np.uint64),
            ]
            nstripes = L[long_rows] // 32
            for s in range(int(nstripes.max())):
                m = nstripes > s
                rows = long_rows[m]
                for lane in range(4):
                    w = words[rows, 4 * s + lane]
                    lanes[lane][m] = _rotl(lanes[lane][m] + w * _P2, 31) * _P1
            hl = _rotl(lanes[0], 1) + _rotl(lanes[1], 7) + _rotl(lanes[2], 12) + _rotl(lanes[3], 18)
            for lane in lanes:
                hl ^= _rotl(lane * _P2, 31) * _P1
                hl = hl * _P1 + _P4
            h[long_rows] = hl
        h = h + L.astype(np.uint64)
        p = np.where(L >= 32, (L // 32) * 32, 0)
        n8 = (L - p) // 8
        for j in range(int(n8.max()) if n else 0):
            m = n8 > j
            w = words[np.nonzero(m)[0], p[m] // 8 + j]
            k1 = _rotl(w * _P2, 31) * _P1
            h[m] = _rotl(h[m] ^ k1, 27) * _P1 + _P4
        p = p + n8 * 8
        m4 = (L - p) >= 4
        if m4.any():
            w = words[np.nonzero(m4)[0], p[m4] // 8]
            h[m4] = _rotl(h[m4] ^ ((w & np.uint64(0xFFFFFFFF)) * _P1), 23) * _P2 + _P3
        p = p + np.where(m4, 4, 0)
        rem = L - p
        for j in range(int(rem.max()) if n else 0):
            m = rem > j
            q = p[m] + j
            b = (words[np.nonzero(m)[0], q // 8] >> ((q % 8) * 8).astype(np.uint64)) & np.uint64(0xFF)
            h[m] = _rotl(h[m] ^ (b * _P5), 11) * _P1
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h


def _pack_strings(offsets: np.ndarray, data: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pack n strings (int offsets into a uint8 data buffer) into the
    (n, W) word matrix xxh64_words consumes, plus byte lengths."""
    lengths = (offsets[1:] - offsets[:-1]).astype(np.int64)
    n = len(lengths)
    maxlen = int(lengths.max()) if n else 0
    W = max((maxlen + 7) // 8, 1)
    mat = np.zeros((n, W * 8), dtype=np.uint8)
    if maxlen and len(data):
        col = np.arange(maxlen)
        idx = offsets[:-1, None] + col[None, :]
        mask = col[None, :] < lengths[:, None]
        np.copyto(mat[:, :maxlen], data[np.minimum(idx, len(data) - 1)], where=mask)
    return mat.view("<u8"), lengths


# Strings longer than this leave the batch's padded matrix, whose size
# is O(n x longest): one huge token among many short ones (a base64 blob
# in a web corpus) must not multiply the whole batch's memory ...
_PACK_MAXLEN = 1024
# ... and hash in length-sorted chunks of at most this many matrix bytes
# (a longer string alone), each chunk one vectorized pass
_LONG_CHUNK_BYTES = 1 << 20


def _string_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """(offsets int64[n+1], data uint8) for a pyarrow string OR
    large_string array with no nulls. Large offsets (int64) are read as
    such — misreading them as int32 would produce garbage silently."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_large_string(arr.type):
        odt = np.int64
    elif pa.types.is_string(arr.type):
        odt = np.int32
    else:
        raise TypeError(f"expected a string array, got {arr.type}")
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, np.uint8)
    )
    return offs.astype(np.int64), data


def _hash_rows(offs: np.ndarray, data: np.ndarray, lengths: np.ndarray,
               rows: np.ndarray) -> np.ndarray:
    """xxh64 of the strings ``rows`` through one padded matrix, their bytes
    compacted by one gather (byte k of string j reads
    ``data[offs[rows[j]] + k]``)."""
    r_len = lengths[rows]
    r_offs = np.zeros(rows.size + 1, dtype=np.int64)
    np.cumsum(r_len, out=r_offs[1:])
    shift = np.repeat(offs[rows] - r_offs[:-1], r_len)
    words, lens = _pack_strings(r_offs, data[shift + np.arange(int(r_offs[-1]), dtype=np.int64)])
    return xxh64_words(words, lens)


def xxh64_strings(arr) -> np.ndarray:
    """Spark-compatible xxhash64 (seed 42) of every element of a pyarrow
    string/large_string array with no nulls, as int64[n] (signed, like
    the JVM). Strings over _PACK_MAXLEN bypass the batch's padded matrix
    and hash in length-sorted chunks of _LONG_CHUNK_BYTES, so a blob
    cannot blow up the batch's memory nor cost a pass of its own."""
    offs, data = _string_buffers(arr)
    lengths = offs[1:] - offs[:-1]
    n = len(lengths)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    long_rows = np.nonzero(lengths > _PACK_MAXLEN)[0]
    if not long_rows.size:
        words, lens = _pack_strings(offs, data)
        return xxh64_words(words, lens).view(np.int64)
    out = np.empty(n, dtype=np.uint64)
    short = np.nonzero(lengths <= _PACK_MAXLEN)[0]
    if short.size:
        out[short] = _hash_rows(offs, data, lengths, short)
    by_len = long_rows[np.argsort(lengths[long_rows], kind="stable")]
    start = 0
    for end in range(1, by_len.size + 1):
        # close the chunk before the string that would overflow it
        if end == by_len.size or (end + 1 - start) * lengths[by_len[end]] > _LONG_CHUNK_BYTES:
            out[by_len[start:end]] = _hash_rows(offs, data, lengths, by_len[start:end])
            start = end
    return out.view(np.int64)


def _tokenize(texts):
    """(sizes int64[n], doc_of int64[N], token_hashes int64[N],
    null_mask bool[n], texts StringArray) for a batch of ALREADY
    JVM-LOWERCASED texts — split on the Java '\\s+' class + xxhash64 per
    token. Lowercasing is done in the JVM before the boundary: Java
    String.toLowerCase applies Unicode SpecialCasing (e.g. Greek final
    sigma 'Σ'→'ς') which Arrow's utf8_lower does not, so lowering here
    would silently diverge on non-ASCII text. Token hashing runs once
    per DISTINCT token (dictionary encode), then scatters — repeated
    vocabulary costs nothing."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    null_mask = np.asarray(pc.is_null(texts))
    toks = pc.split_pattern_regex(texts, "[ \t\n\x0b\f\r]+")
    sizes = (np.asarray(toks.offsets).astype(np.int64)[1:]
             - np.asarray(toks.offsets).astype(np.int64)[:-1])
    if null_mask.any():
        sizes = np.where(null_mask, 0, sizes)
    flat = pc.list_flatten(toks)
    denc = flat.dictionary_encode()
    dict_hash = xxh64_strings(denc.dictionary)
    idx = np.asarray(denc.indices).astype(np.int64)
    tok_hash = dict_hash[idx]
    doc_of = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
    if len(doc_of) != len(tok_hash):  # pragma: no cover — layout guard
        raise AssertionError(
            "token list offsets disagree with flattened children"
        )
    return sizes, doc_of, tok_hash, null_mask, texts


def minhash_sig_batch(texts, num_perm: int, shingle_k: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MinHash signatures, (n_docs, num_perm) int64, value-identical to
    the JVM formulation in dedup.minhash_signatures(hash_mode='xxhash64'):
    th = pmod(xxhash64(token), P); rolling k-token polynomial combine
    (x*1000003 + next) mod P; per-permutation min of (h*a_i + b_i) mod P;
    docs with fewer than k tokens fall back to one whole-text hash, null
    texts to the xxhash64 seed (42), exactly as the JVM path does.

    ``texts`` must arrive ALREADY lowercased by the JVM (see _tokenize)."""
    sizes, doc_of, tok_hash, null_mask, low = _tokenize(texts)
    n = len(sizes)
    th = tok_hash % _PRIME  # numpy % matches pmod for the positive modulus
    N = len(th)
    k = shingle_k
    # rolling polynomial combine over the FLAT token-hash array; entry i
    # after the loop = hash of tokens i..i+k-1 (cross-doc entries are
    # dropped by the `valid` mask below). comb[:-1] and th[j:] always
    # have equal length N-j, including the empty edge cases.
    comb = th
    for j in range(1, k):
        comb = (comb[:-1] * _POLY + th[j:]) % _PRIME
    if k > 1:
        valid = doc_of[: max(N - k + 1, 0)] == doc_of[k - 1 :]
        sh = comb[valid]
    else:
        sh = comb
    counts = np.where(sizes >= k, sizes - (k - 1), 0)
    counts[null_mask] = 0
    good = counts > 0
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    sig = np.empty((n, num_perm), dtype=np.int64)
    if good.any():
        red = starts[good]
        for p in range(num_perm):
            pm = (sh * a[p] + b[p]) % _PRIME
            sig[good, p] = np.minimum.reduceat(pm, red)
    fb = ~good
    if fb.any():
        fbh = np.full(int(fb.sum()), _SEED, dtype=np.int64)
        live = ~null_mask[fb]
        if live.any():
            rows = np.nonzero(fb)[0][live]
            fbh[live] = xxh64_strings(low.take(rows)) % _PRIME
        sig[fb] = (fbh[:, None] * a[None, :] + b[None, :]) % _PRIME
    return sig


def simhash_sig_batch(texts) -> np.ndarray:
    """64-bit SimHash per text, int64[n], value-identical to the JVM
    formulation in dedup.simhash_signatures(hash_mode='xxhash64'):
    bit i set iff sum over tokens of (bit i of xxhash64(token) ? +1 : -1)
    is strictly positive; null texts hash to the seed (42), like the
    JVM's null-skipping hash. ``texts`` must arrive ALREADY lowercased
    by the JVM (see _tokenize)."""
    sizes, doc_of, tok_hash, null_mask, _low = _tokenize(texts)
    n = len(sizes)
    counts = sizes.copy()
    counts[null_mask] = 0
    good = counts > 0
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    h = tok_hash.view(np.uint64)
    sig = np.zeros(n, dtype=np.uint64)
    sizes_good = counts[good].astype(np.int64)
    red = starts[good]
    any_good = bool(good.any())
    for i in range(64):
        if any_good:
            ones = ((h >> np.uint64(i)) & np.uint64(1)).astype(np.int64)
            pos = np.add.reduceat(ones, red)
            # tally = 2*ones - n_tokens; bit set iff tally > 0
            bit = (2 * pos) > sizes_good
        nb = np.uint64(1 << i) if i < 63 else np.uint64(1) << np.uint64(63)
        if any_good:
            sig[np.nonzero(good)[0][bit]] |= nb
        if null_mask.any():
            if (_SEED >> i) & 1:
                # single null token: tally = +1 > 0 → bit follows seed bit
                sig[null_mask] |= nb
    return sig.view(np.int64)
