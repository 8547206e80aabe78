"""Rolling-hash text kernels (linear-time k-gram hashing).

Spark's native ``substr(text, i, k)`` re-scans the UTF8 string to find code
point ``i`` — per-gram substr makes shingling O(n²) in text length. These
numpy kernels compute polynomial rolling hashes over the raw UTF-8 bytes in
one pass; used via Arrow-batched pandas UDFs for minhash/fingerprint at
arbitrary document lengths.

Hash: h(i) = Σ b[i+j]·B^(k-1-j) mod P with B=257, P=2³¹−1 (Mersenne).
All arithmetic stays within uint64 (P·B + 255 < 2⁴⁰; P·P < 2⁶²).
"""

from __future__ import annotations

import numpy as np

_B = np.uint64(257)
_P = np.uint64((1 << 31) - 1)


def kgram_hashes_fast(data: bytes, k: int) -> np.ndarray:
    """All k-gram rolling hashes of a byte string (len n-k+1), uint64.
    O(n log k)-ish via doubling: combine adjacent j-gram hashes into 2j-gram
    hashes, with no per-byte Python loop."""
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(b)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    if n < k:
        k = n
    h = b % _P  # 1-gram hashes at every position
    span = 1
    powers = {1: _B % _P}
    while span < k:
        take = min(span, k - span)
        bp = np.uint64(pow(int(_B), take, int(_P)))
        # h'[i] = h[i]·B^take + h_take[i+span]  where h_take = take-gram hash
        if take == span:
            right = h
        else:
            right = _shrink(h, b, span, take)
        m = n - (span + take) + 1
        h = ((h[:m] * bp) % _P + right[span : span + m]) % _P
        span += take
    return h


def _shrink(h_span: np.ndarray, b: np.ndarray, span: int, take: int) -> np.ndarray:
    """take-gram hashes from scratch (take < span, only used once at the end)."""
    n = len(b)
    out = b[: n - take + 1] % _P
    for j in range(1, take):
        out = (out * _B + b[j : n - take + 1 + j]) % _P
    return out


def minhash_bands(data: bytes, k: int, n_bands: int, stride: int = 1) -> list[int]:
    """Per-band min of affine-mixed k-gram hashes (MinHash signature)."""
    h = kgram_hashes_fast(data, k)
    if stride > 1:
        h = h[::stride]
    if len(h) == 0:
        h = np.zeros(1, dtype=np.uint64)
    out = []
    for band in range(n_bands):
        a = np.uint64(2 * band + 1)
        c = np.uint64(0x9E3779B9 + band * 0x85EBCA6B)
        out.append(int(((h * a + c) % _P).min()))
    return out


def minhash_bands_batch(datas: list[bytes], k: int, n_bands: int,
                        stride: int = 1) -> np.ndarray:
    """Batched :func:`minhash_bands`: ONE kernel pass per Arrow batch
    instead of one Python call per document (VERDICT r4 #6 — the same
    fixed-per-call-overhead shape the r4 PIP profiling measured at ~50µs a
    call, which at 10⁹ short docs is hours of pure overhead).

    Bit-identical to the per-document kernel: all documents ≥ k bytes are
    concatenated and rolling-hashed in one :func:`kgram_hashes_fast` pass —
    a k-gram's polynomial hash depends only on its own k bytes, so grams
    that don't straddle a document seam equal the per-doc hashes exactly;
    straddling grams are never indexed. Per-band affine mixes + segmented
    ``np.minimum.reduceat`` give each document's band minima. Documents
    shorter than k (where the per-doc kernel shrinks k) fall back to the
    scalar path. Returns (n_docs, n_bands) int64.

    Documents are processed in ~512 KB sub-groups: beyond ~1 MB the
    kernel's whole-array temporaries fall out of cache and throughput
    collapses ~20× (measured: 32-45 ns/byte at ≤1 MB vs 866 ns/byte at
    10 MB), so mid-size groups are the sweet spot — big enough to amortize
    per-call overhead, small enough to stay cache-resident. Peak memory is
    O(chunk), independent of batch size."""
    n_docs = len(datas)
    out = np.zeros((n_docs, n_bands), dtype=np.int64)
    lens = np.array([len(d) for d in datas], dtype=np.int64)
    long_idx = np.flatnonzero(lens >= k)
    for i in np.flatnonzero(lens < k):  # rare: shorter than one gram
        out[i] = minhash_bands(datas[i], k, n_bands, stride)
    chunk_bytes = 1 << 19
    g0 = 0
    while g0 < len(long_idx):
        g1, tot = g0 + 1, int(lens[long_idx[g0]])
        while g1 < len(long_idx) and tot + lens[long_idx[g1]] <= chunk_bytes:
            tot += int(lens[long_idx[g1]])
            g1 += 1
        gidx = long_idx[g0:g1]
        g0 = g1
        L = lens[gidx]
        starts = np.concatenate([[0], np.cumsum(L)[:-1]])
        h = kgram_hashes_fast(b"".join(datas[i] for i in gidx), k)
        # valid gram starts for doc d: starts[d] + stride·(0..n_valid[d]-1)
        n_valid = (L - k) // stride + 1
        bnd = np.concatenate([[0], np.cumsum(n_valid)[:-1]])
        base = np.arange(int(n_valid.sum()), dtype=np.int64)
        offs = (base - np.repeat(bnd, n_valid)) * stride
        hv = h[np.repeat(starts, n_valid) + offs]
        for band in range(n_bands):
            a = np.uint64(2 * band + 1)
            c = np.uint64(0x9E3779B9 + band * 0x85EBCA6B)
            mixed = (hv * a + c) % _P
            out[gidx, band] = np.minimum.reduceat(mixed, bnd).astype(np.int64)
    return out


def winnow_fingerprint_batch(datas: list[bytes], k: int, window: int) -> np.ndarray:
    """Batched :func:`winnow_fingerprint`: ONE rolling-hash pass per ~512 KB
    sub-group instead of one Python call per document — the same
    fixed-per-call-overhead shape as :func:`minhash_bands_batch` (VERDICT
    r4 #6), applied to the winnowing fingerprint.

    Bit-identical to the per-document kernel: documents ≥ k bytes are
    concatenated and hashed in one :func:`kgram_hashes_fast` pass (a k-gram
    hash depends only on its own k bytes; seam-straddling grams are never
    gathered). Tumbling-window minima come from one segmented
    ``np.minimum.reduceat``; per-document distinct minima from one lexsort;
    and the sequential FNV fold runs vectorized ACROSS documents (one
    numpy step per distinct-rank, docs sorted by distinct-count so the
    active set is always a prefix). Documents shorter than k fall back to
    the scalar path (the per-doc kernel shrinks k there).

    Returns (n_docs, 2) int64: [:, 0] digest (two's-complement signed),
    [:, 1] distinct-minima count.
    """
    n_docs = len(datas)
    out = np.zeros((n_docs, 2), dtype=np.int64)
    lens = np.array([len(d) for d in datas], dtype=np.int64)
    long_idx = np.flatnonzero(lens >= k)
    for i in np.flatnonzero(lens < k):
        out[i] = winnow_fingerprint(datas[i], k, window)
    fnv_init = np.uint64(1469598103934665603)
    fnv_prime = np.uint64(1099511628211)
    chunk_bytes = 1 << 19  # cache-resident sub-groups, see minhash_bands_batch
    g0 = 0
    while g0 < len(long_idx):
        g1, tot = g0 + 1, int(lens[long_idx[g0]])
        while g1 < len(long_idx) and tot + lens[long_idx[g1]] <= chunk_bytes:
            tot += int(lens[long_idx[g1]])
            g1 += 1
        gidx = long_idx[g0:g1]
        g0 = g1
        L = lens[gidx]
        starts = np.concatenate([[0], np.cumsum(L)[:-1]])
        h = kgram_hashes_fast(b"".join(datas[i] for i in gidx), k)
        n_grams = L - k + 1
        # per-doc participation: n_win tumbling windows of `window` grams
        # (tail dropped), except n_grams < window → ONE window over all grams
        small = n_grams < window
        n_win = np.where(small, 1, n_grams // window)
        take = np.where(small, n_grams, n_win * window)
        doc_off = np.concatenate([[0], np.cumsum(take)[:-1]])
        base = np.arange(int(take.sum()), dtype=np.int64)
        offs = base - np.repeat(doc_off, take)
        hv = h[np.repeat(starts, take) + offs]
        win_off = np.concatenate([[0], np.cumsum(n_win)[:-1]])
        wbase = np.arange(int(n_win.sum()), dtype=np.int64)
        bounds = np.repeat(doc_off, n_win) + (wbase - np.repeat(win_off, n_win)) * window
        mins = np.minimum.reduceat(hv, bounds)
        # per-doc distinct minima (np.unique per segment via one lexsort)
        win_doc = np.repeat(np.arange(len(gidx)), n_win)
        order = np.lexsort((mins, win_doc))
        sd, sv = win_doc[order], mins[order]
        keep = np.ones(len(sv), dtype=bool)
        keep[1:] = (sd[1:] != sd[:-1]) | (sv[1:] != sv[:-1])
        ud, uv = sd[keep], sv[keep]
        cnt = np.bincount(ud, minlength=len(gidx))
        ustart = np.concatenate([[0], np.cumsum(cnt)[:-1]])
        # FNV fold, vectorized across docs: one step per distinct-rank with
        # the doc set sorted by count so the active set is a shrinking prefix
        by_cnt = np.argsort(-cnt, kind="stable")
        cnt_desc = cnt[by_cnt]
        dig = np.full(len(gidx), fnv_init, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for r in range(int(cnt_desc[0]) if len(cnt_desc) else 0):
                # active = docs with cnt > r (strict: a doc with cnt == r has
                # no value at rank r) — prefix of the count-descending order
                n_act = int(np.searchsorted(-cnt_desc, -r, side="left"))
                act = by_cnt[:n_act]
                dig[act] = (dig[act] ^ uv[ustart[act] + r]) * fnv_prime
        out[gidx, 0] = dig.view(np.int64)
        out[gidx, 1] = cnt
    return out


def winnow_fingerprint(data: bytes, k: int, window: int) -> tuple[int, int]:
    """Winnowing-style fingerprint: min hash per window of consecutive
    k-grams, distinct-set → stable 64-bit digest + gram count."""
    h = kgram_hashes_fast(data, k)
    if len(h) == 0:
        return (0, 0)
    if len(h) < window:
        mins = np.array([h.min()], dtype=np.uint64)
    else:
        n_win = len(h) // window
        mins = h[: n_win * window].reshape(n_win, window).min(axis=1)
    uniq = np.unique(mins)
    digest = 1469598103934665603  # FNV-ish fold over sorted mins
    for v in uniq:
        digest = (digest ^ int(v)) * 1099511628211 % (1 << 64)
    if digest >= 1 << 63:  # two's complement → Spark LongType
        digest -= 1 << 64
    return (digest, int(len(uniq)))
