"""Arrow-batched numpy kernels — the scale path for the hash stages.

Each kernel is the numeric twin of an expression builder in hashing.py and
MUST produce bit-identical output (tests/test_kernels_parity.py enforces
this).  The split of labor: string→int hashing stays JVM-side (md5 via
Catalyst, whole-stage codegen), and the O(num_perm × shingles) integer
arithmetic runs here as vectorized numpy over Arrow batches — the pattern
the input_hint mandates ("vectorized pandas/Arrow UDFs, no per-row Python").

Reference analogue: none — the reference's heavy kernel is dedupe.io's
blocking/scoring (Regional_Run_Files/data_matching.py:173-192), opaque and
row-wise; this is its from-scratch replacement (north_rule).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..config import MERSENNE31, CascadeConfig


def _minhash_batch(
    arrs: list, a: np.ndarray, b: np.ndarray
) -> list:
    """Blocked MinHash over a batch of int64 hash arrays (None/empty rows →
    None).  The shared core of make_minhash_udf and the fused word-shingle
    UDF — one implementation, bit-identical signatures everywhere.

    Two-level blocking keeps the working set cache-resident (see
    make_minhash_udf's original notes): ~16k hash elements per flush and a
    16-permutation block so the work matrix stays private-L2 sized."""
    PERM_BLOCK = 16
    nperm = int(a.shape[0])
    sub_elems = max(1, 2_000_000 // max(nperm, 1))
    out: list = [None] * len(arrs)
    group_rows: list[int] = []
    group_arrs: list[np.ndarray] = []
    group_total = 0

    def flush() -> None:
        nonlocal group_rows, group_arrs, group_total
        if not group_rows:
            return
        flat = np.concatenate(group_arrs)
        lens = np.fromiter((x.shape[0] for x in group_arrs), dtype=np.int64)
        offsets = np.concatenate(([0], np.cumsum(lens)))[:-1]
        sigs = np.empty((nperm, len(group_rows)), dtype=np.int64)
        for p0 in range(0, nperm, PERM_BLOCK):
            p1 = min(p0 + PERM_BLOCK, nperm)
            y = a[p0:p1, None] * flat[None, :]
            y += b[p0:p1, None]
            # Mersenne-prime reduction via two shift-folds (== %, ~3x faster)
            y = (y & MERSENNE31) + (y >> 31)
            y = (y & MERSENNE31) + (y >> 31)
            y[y >= MERSENNE31] -= MERSENNE31
            sigs[p0:p1] = np.minimum.reduceat(y, offsets, axis=1)
        for j, i in enumerate(group_rows):
            out[i] = sigs[:, j]
        group_rows, group_arrs, group_total = [], [], 0

    for i, xs in enumerate(arrs):
        if xs is None or len(xs) == 0:
            continue
        arr = np.asarray(xs, dtype=np.int64)
        group_rows.append(i)
        group_arrs.append(arr)
        group_total += arr.shape[0]
        if group_total >= sub_elems:
            flush()
    flush()
    return out


def make_minhash_udf(cfg: CascadeConfig):
    """pandas UDF: array<long> shingle-hashes → array<long> MinHash signature.

    Per row: sig = min((a[:,None] * x[None,:] + b[:,None]) % P, axis=1).
    a,x < P = 2^31-1 so the product stays < 2^62 — exact in int64, identical
    to the expression form and to the DuckDB oracle.
    """
    a, b = cfg.perms  # int64 arrays, shape (num_perm,)

    @pandas_udf("array<bigint>")
    def minhash(hashes: pd.Series) -> pd.Series:
        return pd.Series(_minhash_batch(list(hashes), a, b))

    return minhash


def make_simhash_udf(cfg: CascadeConfig):
    """pandas UDF: array<long> token-hashes → long SimHash (60 bits).

    bit_j = 1 iff sum over tokens of (2*bit_j(h)-1) >= 0; multiplicity
    counts.  Vectorized: unpack bits of all token hashes of a row at once.
    """
    nbits = cfg.simhash_bits
    shifts = np.arange(nbits, dtype=np.int64)
    # bit-identical twin of simhash_expr (hashing.py): empty array → every
    # vote sum is 0 ≥ 0 → all bits set; null array → null.  Parity enforced
    # by tests/test_kernels_parity.py including the empty/null rows.
    empty_val = (1 << nbits) - 1

    @pandas_udf("bigint")
    def simhash(hashes: pd.Series) -> pd.Series:
        # batch-level vectorization: unpack all token hashes at once,
        # add.reduceat sums votes per row
        lens = np.fromiter(
            (0 if xs is None else len(xs) for xs in hashes), dtype=np.int64,
            count=len(hashes),
        )
        flat = np.concatenate(
            [np.asarray(xs, dtype=np.int64) for xs in hashes if xs is not None and len(xs)]
            or [np.empty(0, dtype=np.int64)]
        )
        out: list[int | None] = [
            None if xs is None else empty_val for xs in hashes
        ]
        if flat.shape[0]:
            bits = ((flat[:, None] >> shifts[None, :]) & 1).astype(np.int64)
            signed = 2 * bits - 1                               # (total, nbits)
            nz = lens > 0
            offsets = np.concatenate(([0], np.cumsum(lens[nz])))[:-1]
            votes = np.add.reduceat(signed, offsets, axis=0)    # (n_nonzero, nbits)
            sims = ((votes >= 0).astype(np.int64) << shifts[None, :]).sum(axis=1)
            for j, i in enumerate(np.flatnonzero(nz)):
                out[i] = int(sims[j])
        return pd.Series(out, dtype="object")

    return simhash


# ---------------------------------------------------------------------------
# Rolling-hash text kernels — the scale path for char-gram hashing.
#
# The JVM expression forms (char_shingles → xxhash64 per shingle,
# hashing.kgram_hashes → hash60 per position) materialize one k-char substring
# PLUS one hash call per character of every document: at a 600-char file and
# winnow_k=48 that is ~26 KB hashed and ~550 string allocations per row —
# profiled as the two dominant pipeline stages (02_prepared +
# 08a_fingerprints_pos ≈ half the wall at local[8]).  These kernels compute
# every window hash of a whole Arrow batch in a handful of vectorized numpy
# passes: a position-independent polynomial rolling hash over UTF-32 code
# points (prefix sums + modular-inverse renormalization in wrap-around
# uint64), finished with a splitmix64-style mixer.  Only used on
# pipeline-internal paths (no DuckDB parity requirement — the md5-based
# hash60 primitives remain the oracle path); hash VALUES differ from the
# JVM forms, which only shifts chance collisions: LSH candidates
# are exact-Jaccard-verified and winnow anchors are verified by real
# character comparison, so operator semantics are unchanged.
# ---------------------------------------------------------------------------

_RH_B = np.uint64(0x9E3779B97F4A7C15)                     # odd ⇒ invertible mod 2^64
_RH_BINV = np.uint64(pow(0x9E3779B97F4A7C15, -1, 1 << 64))
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _mix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized (uint64 wrap-around)."""
    z = (z ^ (z >> np.uint64(30))) * _MIX1
    z = (z ^ (z >> np.uint64(27))) * _MIX2
    return z ^ (z >> np.uint64(31))


def _batch_text_codes(texts) -> tuple[np.ndarray, np.ndarray]:
    """Flatten a batch of strings to (uint64 code points + 1, per-row char
    lengths).  None rows contribute length 0 (callers track nulls)."""
    encs = [("" if t is None else t).encode("utf-32-le") for t in texts]
    lens = np.fromiter((len(e) >> 2 for e in encs), dtype=np.int64, count=len(encs))
    if len(encs) == 0 or int(lens.sum()) == 0:
        return np.empty(0, dtype=np.uint64), lens
    flat = np.frombuffer(b"".join(encs), dtype="<u4").astype(np.uint64)
    return flat + np.uint64(1), lens


def _prefix_tables(flat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(PS0, pinv): PS0[i] = Σ_{j<i} c_j·B^j and pinv[i] = B^{-i}, both mod
    2^64.  The hash of any char window [s, e) is then
    mix64((PS0[e] - PS0[s]) · pinv[s]) — position-independent, so one pair
    of prefix tables serves every window of every row in the batch."""
    n = flat.shape[0]
    pw = np.full(n, _RH_B, dtype=np.uint64)
    if n:
        pw[0] = np.uint64(1)
    np.cumprod(pw, out=pw)
    pinv = np.full(n + 1, _RH_BINV, dtype=np.uint64)
    pinv[0] = np.uint64(1)
    np.cumprod(pinv, out=pinv)
    ps0 = np.empty(n + 1, dtype=np.uint64)
    ps0[0] = np.uint64(0)
    np.cumsum(flat * pw, out=ps0[1:])
    return ps0, pinv


def _batch_gram_hashes(
    texts,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Shared front half of the text kernels: encode the batch and return
    (flat codes, lens, starts0, PS0, pinv)."""
    flat, lens = _batch_text_codes(texts)
    starts0 = np.empty(lens.shape[0] + 1, dtype=np.int64)
    starts0[0] = 0
    np.cumsum(lens, out=starts0[1:])
    ps0, pinv = _prefix_tables(flat)
    return flat, lens, starts0, ps0, pinv


def _window_hash_span(ps0, pinv, s, e) -> np.ndarray:
    """Mixed hash of char span [s, e) (vectorized over aligned s/e arrays)."""
    return _mix64((ps0[e] - ps0[s]) * pinv[s])


def make_char_shingle_hash_udf(k: int):
    """pandas UDF: norm string → the sorted-distinct hashed k-char shingles
    of char_shingles(norm, k), as array<int> in [0, MERSENNE31).

    Semantics match char_shingles structurally: one hash per k-char
    window (rows shorter than k hash the whole text as their single
    shingle, so no row is ever empty), distinct per row.  Values are
    rolling-hash-derived rather than xxhash64 (internal-only; see the
    section comment).  Output order is sorted, which no consumer observes
    (MinHash min-reduces, Jaccard verification takes set sizes)."""

    @pandas_udf("array<int>")
    def shingle_hash(texts: pd.Series) -> pd.Series:
        n_rows = len(texts)
        nulls = np.fromiter((t is None for t in texts), dtype=bool, count=n_rows)
        flat, lens, starts0, ps0, pinv = _batch_gram_hashes(texts)
        n = flat.shape[0]
        # full windows of rows with >= k chars
        cnt = np.where(lens >= k, lens - k + 1, 0)
        tot = int(cnt.sum())
        if tot and n >= k:
            starts = np.repeat(starts0[:-1], cnt) + (
                np.arange(tot) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            )
            vals = _window_hash_span(ps0, pinv, starts, starts + k)
            row_of = np.repeat(np.arange(n_rows), cnt)
        else:
            vals = np.empty(0, dtype=np.uint64)
            row_of = np.empty(0, dtype=np.int64)
        # short rows (< k chars, empty included): whole text is the shingle
        short = (~nulls) & (lens < k)
        if short.any():
            s = starts0[:-1][short]
            vals = np.concatenate(
                [vals, _window_hash_span(ps0, pinv, s, starts0[1:][short])]
            )
            row_of = np.concatenate([row_of, np.flatnonzero(short)])
        v31 = (vals % np.uint64(MERSENNE31)).astype(np.int32)
        order = np.lexsort((v31, row_of))
        r, v = row_of[order], v31[order]
        keep = np.ones(r.shape[0], dtype=bool)
        keep[1:] = (r[1:] != r[:-1]) | (v[1:] != v[:-1])
        r, v = r[keep], v[keep]
        pieces = np.split(v, np.cumsum(np.bincount(r, minlength=n_rows))[:-1])
        out = [None if nulls[i] else pieces[i] for i in range(n_rows)]
        return pd.Series(out, dtype="object")

    return shingle_hash


def make_winnow_pos_text_udf(cfg: CascadeConfig, max_occ_per_doc: int = 0):
    """pandas UDF: norm string → winnowing prints WITH char positions,
    array<struct<fp,pos>> (pos = char offset of the selected k-gram).

    One batch pass computes every k-gram rolling hash (replacing the JVM
    substring+xxhash64 per char position), then the per-row sliding-window
    argmin winnow.

    Positions are what make MOSS-style anchored verification possible: for
    any substring of length >= w+k-1 shared by two documents, every window
    of w grams fully inside the shared region sees the same gram sequence
    in both documents, so argmin picks the same gram at the same RELATIVE
    offset — both sides emit an (fp, pos) anchor pair that is ALIGNED
    inside the shared region.  Char-wise extension from that anchor then
    recovers the exact maximal common substring (operators/suffix.py).
    The guarantee is hash-function-agnostic (equal grams ⇒ equal hashes is
    all it needs), and anchors are verified downstream by real character
    comparison, so the long-substring pass is exact.

    max_occ_per_doc > 0 applies the per-(doc, print) occurrence cap
    (earliest positions kept) HERE, row-locally — identical semantics to
    fingerprint_anchor_pairs' row_number window over the exploded print
    table, without the corpus-wide window sort+shuffle (the cap is a
    per-document property; guide §2.4).  Callers that pre-cap pass
    max_occ_per_doc=0 downstream."""
    k, w = cfg.winnow_k, cfg.winnow_w
    cap = max_occ_per_doc

    def _cap_positions(vals: np.ndarray, pos: np.ndarray):
        """Keep the earliest `cap` positions per fp value (ascending-pos
        output, matching the window form's orderBy(pos))."""
        if not cap or pos.shape[0] <= cap:
            return vals, pos
        counts = np.unique(vals, return_counts=True)[1]
        if int(counts.max()) <= cap:
            return vals, pos
        order = np.lexsort((pos, vals))
        v_s, p_s = vals[order], pos[order]
        new_grp = np.ones(v_s.shape[0], dtype=bool)
        new_grp[1:] = v_s[1:] != v_s[:-1]
        grp_start = np.repeat(
            np.flatnonzero(new_grp),
            np.diff(np.concatenate([np.flatnonzero(new_grp),
                                    [v_s.shape[0]]])),
        )
        keep = (np.arange(v_s.shape[0]) - grp_start) < cap
        back = np.argsort(p_s[keep], kind="stable")
        return v_s[keep][back], p_s[keep][back]

    @pandas_udf("array<struct<fp: bigint, pos: int>>")
    def winnow_pos(texts: pd.Series) -> pd.Series:
        n_rows = len(texts)
        flat, lens, starts0, ps0, pinv = _batch_gram_hashes(texts)
        n = flat.shape[0]
        if n >= k:
            gram_all = _window_hash_span(
                ps0, pinv,
                np.arange(n - k + 1, dtype=np.int64),
                np.arange(k, n + 1, dtype=np.int64),
            ).view(np.int64)
        else:
            gram_all = np.empty(0, dtype=np.int64)
        out = []
        for i in range(n_rows):
            if texts.iloc[i] is None:
                out.append(None)
                continue
            ln = int(lens[i])
            s = int(starts0[i])
            if ln < k:
                # whole (short) text is the single gram, as in the
                # expression form's greatest(m, 1) floor
                fp = int(
                    _window_hash_span(
                        ps0, pinv,
                        np.array([s], dtype=np.int64),
                        np.array([s + ln], dtype=np.int64),
                    ).view(np.int64)[0]
                )
                out.append([{"fp": fp, "pos": 0}])
                continue
            x = gram_all[s : s + ln - k + 1]
            m = x.shape[0]
            if m <= w:
                p = int(x.argmin())
                out.append([{"fp": int(x[p]), "pos": p}])
                continue
            rel = np.lib.stride_tricks.sliding_window_view(x, w).argmin(axis=1)
            pos = np.unique(rel + np.arange(m - w + 1))
            vals, pos = _cap_positions(x[pos], pos)
            out.append(
                [{"fp": int(v), "pos": int(p)} for v, p in zip(vals, pos)]
            )
        return pd.Series(out, dtype="object")

    return winnow_pos


def char_shingle_hashes_kernel(text_col: Column, k: int) -> Column:
    """Column helper: the kernel shingle-hash path (pipeline-internal)."""
    return make_char_shingle_hash_udf(k)(text_col)


def make_word_shingles_md5_udf(k: int):
    """pandas UDF: normalized text → struct<sh: array<string>,
    hs: array<bigint>> — the ORACLE-PARITY word-shingle chain
    (distinct k-word shingles + hash60(md5) % MERSENNE31) computed in
    Python C primitives instead of JVM expressions.

    Bit-identical by construction to
    word_shingles(norm, k) / shingle_hashes(shingles):
    - split on a single space == Spark split(norm, ' ') on the
      whitespace-collapsed, trimmed norm;
    - shingle i = ' '.join(toks[i:i+k]) == concat_ws(' ', slice(toks,i,k))
      (short tails produce the shorter join, empty text produces the ''
      shingle — same greatest(n-k+1, 1) floor);
    - dedup preserves first occurrence (dict.fromkeys == array_distinct);
    - hash60 = int(md5(utf8)[:15 hex], 16) == conv(substring(md5,1,15),
      16,10), then % MERSENNE31, applied per DISTINCT shingle in order.

    Why it exists: the JVM expression chain runs in per-query-shape
    generated code whose first (and in the bench, only) execution is
    interpreted/C1 — measured ~14 µs per shingle cold vs ~1.5 µs here
    (hashlib.md5 and str.join are C, no JIT warm-up) — which made the
    flagship query's wall ~80% generated-code warm-up.  Python-side
    hashing is the same division of labor as the pipeline's rolling-hash
    kernels, with md5 kept for DuckDB parity."""
    import hashlib

    m31 = MERSENNE31

    @pandas_udf("struct<sh: array<string>, hs: array<bigint>>")
    def shingle(texts: pd.Series) -> pd.DataFrame:
        md5 = hashlib.md5
        shs: list = []
        hss: list = []
        for t in texts:
            if t is None:
                # the expression chain resolves null text to the single ''
                # shingle (greatest(size(null)-k+1, 1) = 1, concat_ws of a
                # null slice = '') — match it exactly
                t = ""
            toks = t.split(" ")
            n = len(toks)
            m = n - k + 1 if n >= k else 1
            sh = list(dict.fromkeys(
                " ".join(toks[i : i + k]) for i in range(m)
            ))
            shs.append(sh)
            hss.append(
                [int(md5(s.encode()).hexdigest()[:15], 16) % m31 for s in sh]
            )
        return pd.DataFrame({"sh": shs, "hs": hss})

    return shingle


def make_word_shingles_sig_udf(cfg: CascadeConfig):
    """Fused pandas UDF: normalized text → struct<sh: array<string>,
    minhash: array<bigint>> — word shingling, md5 hash60, AND the MinHash
    signature in ONE Python evaluation node.

    Shingles/hashes follow make_word_shingles_md5_udf exactly (oracle
    parity); the signature comes from the shared _minhash_batch core, so
    it is bit-identical to add_minhash on the same shingles.  Fusing
    matters beyond the saved Arrow round trip: each chained pandas-UDF
    node costs one Python worker PER TASK SLOT, and spawning a worker pool
    imports pandas/pyarrow per worker — measured as ~115 s-CPU (64 worker
    spawns) against <1 s-CPU of actual hashing on the flagship query's
    first stage."""
    import hashlib

    a, b = cfg.perms
    m31 = MERSENNE31

    @pandas_udf("struct<sh: array<string>, minhash: array<bigint>>")
    def shingle_sig(texts: pd.Series) -> pd.DataFrame:
        md5 = hashlib.md5
        k = cfg.shingle_k
        shs: list = []
        hss: list = []
        for t in texts:
            if t is None:
                t = ""  # expression-chain parity: null → the '' shingle
            toks = t.split(" ")
            n = len(toks)
            m = n - k + 1 if n >= k else 1
            sh = list(dict.fromkeys(
                " ".join(toks[i : i + k]) for i in range(m)
            ))
            shs.append(sh)
            hss.append(np.fromiter(
                (int(md5(s.encode()).hexdigest()[:15], 16) % m31 for s in sh),
                dtype=np.int64, count=len(sh),
            ))
        return pd.DataFrame({"sh": shs, "minhash": _minhash_batch(hss, a, b)})

    return shingle_sig


def make_winnow_udf(cfg: CascadeConfig):
    """pandas UDF: array<long> k-gram hashes → array<long> winnowing prints.

    Sliding-window minimum via a monotonic deque — O(m) per document instead
    of the O(m*w) of the expression form; same output (set of window minima,
    distinct, order of first appearance).
    """
    w = cfg.winnow_w

    @pandas_udf("array<bigint>")
    def winnow(grams: pd.Series) -> pd.Series:
        out = []
        for xs in grams:
            if xs is None or len(xs) == 0:
                out.append(None)
                continue
            x = np.asarray(xs, dtype=np.int64)
            m = len(x)
            if m <= w:
                out.append(np.array([x.min()], dtype=np.int64))
                continue
            mins = np.lib.stride_tricks.sliding_window_view(x, w).min(axis=1)
            seen: dict[int, None] = {}
            for v in mins:
                if v not in seen:
                    seen[v] = None
            out.append(np.fromiter(seen.keys(), dtype=np.int64))
        return pd.Series(out)

    return winnow


# ---------------------------------------------------------------------------
# Embedding kernels — the scale path for the ANN scorers.
#
# The expression twins in operators/similarity.py (zip_with/aggregate folds)
# run INTERPRETED in Catalyst: higher-order-function lambdas are evaluated
# per element with no common-subexpression elimination, which at dim 768-1536
# makes per-row scoring the CPU bottleneck (round-3 verdict: "the last
# scale-killer").  These kernels do the same arithmetic as vectorized numpy
# over Arrow batches, BIT-IDENTICAL to the expression form: np.cumsum is a
# running sum, i.e. exactly the sequential left fold F.aggregate evaluates
# (((x0*y0)+x1*y1)+...), so dots, norms, cosines — and therefore SRP bucket
# signs, IVF cell assignments, and rankings — match the expression path to
# the last bit (tests/test_kernels_parity.py pins this).
#
# Transport is Arrow, NOT pandas_udf: a list<double> column reaches a pandas
# UDF as a Series of per-row numpy objects, and re-stacking them is a Python
# loop that costs MORE than the interpreted fold it replaces (profiled:
# 12.3 s pandas-UDF vs 8.2 s HOF on 561k dim-768 pairs).  An Arrow batch
# instead exposes the whole column as ONE contiguous buffer — np.frombuffer
# + reshape, zero per-row Python work.
#
# The ANN top-k scorer (ann_group_topk_arrow) works per GROUP, not per pair:
# one applyInArrow call receives a whole SRP bucket or IVF cell, scores all
# its (query, member) pairs as one seqfold matmul and returns only each
# query's local top-k.  Each vector therefore crosses the JVM→Arrow boundary
# once per group it belongs to, where per-pair Arrow scoring
# (score_pairs_arrow) moves two full vectors per candidate PAIR — the
# transfer that made per-pair Arrow scoring lose to the JVM fold.
# ---------------------------------------------------------------------------


# float64 elements per seqfold product chunk (~32 MB): bounds every
# temporary the embedding kernels allocate, whatever the batch or group size
_SEQFOLD_CHUNK_ELEMS = 4_000_000


def _seqfold_dots(X: np.ndarray, M: np.ndarray) -> np.ndarray:
    """(n, d) @ (m, d)^T with sequential-fold summation order.

    NOT a BLAS matmul: BLAS reorders/FMA-fuses the additions, np.add.reduce
    sums pairwise — both change low-order bits.  Products here are IEEE-exact
    (same two doubles multiplied), then cumsum accumulates them left to
    right, matching F.aggregate / DuckDB list_sum.  Chunked on BOTH operands
    so the (rows, cols, d) product tensor stays ~32 MB however large n or m
    grows (an IVF group holds up to max_cell_size members).
    """
    n, d = X.shape
    m = M.shape[0]
    out = np.empty((n, m), dtype=np.float64)
    M = np.ascontiguousarray(M, dtype=np.float64)
    cols = max(1, min(m, _SEQFOLD_CHUNK_ELEMS // max(d, 1)))
    rows = max(1, _SEQFOLD_CHUNK_ELEMS // max(cols * d, 1))
    for j in range(0, m, cols):
        MT = M[None, j : j + cols, :]
        for i in range(0, n, rows):
            P = X[i : i + rows, None, :] * MT
            np.cumsum(P, axis=2, out=P)
            out[i : i + rows, j : j + cols] = P[:, :, -1]
    return out


def _seqfold_self_dots(X: np.ndarray) -> np.ndarray:
    """Row-wise sequential-fold sum of squares (for norms)."""
    P = X * X
    np.cumsum(P, axis=1, out=P)
    return P[:, -1]


def _list_col_matrix(arr, dim: int | None) -> np.ndarray:
    """Zero-copy (rows, dim) float64 view of an Arrow list<double> column.

    arr.flatten() resolves list offsets (sliced batches included) into one
    contiguous values buffer; reshape is free.  A ChunkedArray (a column of
    a grouped pa.Table) is concatenated once first.  dim=None infers it from
    the batch.  Callers guarantee no nulls and fixed dim (embedding columns) —
    enforced here because silently mis-reshaping would corrupt every
    downstream score.
    """
    import pyarrow as pa  # local import: kernels must load without arrow

    if arr.null_count:
        raise ValueError("embedding column contains nulls on the kernel path")
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    flat = arr.flatten()
    if dim is None:
        if len(flat) % max(len(arr), 1):
            raise ValueError("ragged embedding column (cannot infer dim)")
        dim = len(flat) // max(len(arr), 1)
    if len(flat) != len(arr) * dim:
        raise ValueError(f"ragged embedding column (expected dim {dim})")
    return np.asarray(flat, dtype=np.float64).reshape(len(arr), dim)


def score_pairs_arrow(
    joined, dim: int | None = None, out_col: str = "cosine"
):
    """(q_id, n_id, q_vec, n_vec) DataFrame → (q_id, n_id, cosine) via one
    zero-copy Arrow pass — the kernel twin of per-pair _cosine folds.

    mapInArrow, not a pandas UDF: per-pair object conversion would cost
    more than the fold it replaces (module docstring has the numbers).
    """
    import pyarrow as pa

    def score(batches):
        for b in batches:
            q_id, n_id = b.column("q_id"), b.column("n_id")
            if b.num_rows == 0:
                yield pa.RecordBatch.from_arrays(
                    [q_id, n_id, pa.array([], type=pa.float64())],
                    ["q_id", "n_id", out_col],
                )
                continue
            A = _list_col_matrix(b.column("q_vec"), dim)
            B = _list_col_matrix(b.column("n_vec"), dim)
            P = A * B
            np.cumsum(P, axis=1, out=P)
            dot = P[:, -1].copy()
            na = np.sqrt(_seqfold_self_dots(A))
            nb = np.sqrt(_seqfold_self_dots(B))
            yield pa.RecordBatch.from_arrays(
                [q_id, n_id, pa.array(dot / (na * nb), type=pa.float64())],
                ["q_id", "n_id", out_col],
            )

    return joined.select("q_id", "n_id", "q_vec", "n_vec").mapInArrow(
        score, f"q_id long, n_id long, {out_col} double"
    )


def srp_buckets_arrow(df, id_col: str, vec_col: str, planes_by_table: np.ndarray):
    """(id, vec) DataFrame → (_id, srp_table, srp_bucket), ALL hash tables
    in ONE zero-copy corpus scan (the expression path scans once per table
    and unions).

    planes_by_table: (n_tables, n_planes, dim).  Bit j of table t's bucket
    is set iff seqfold-dot(vec, plane[t, j]) >= 0 — the same sign test as
    add_srp_buckets, on a bit-identical dot.
    """
    import pyarrow as pa

    n_tables, n_planes, dim = planes_by_table.shape
    flat = planes_by_table.reshape(n_tables * n_planes, dim).astype(np.float64)
    shifts = np.arange(n_planes, dtype=np.int64)
    tables = np.arange(n_tables, dtype=np.int64)

    def bucketize(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            X = _list_col_matrix(b.column(vec_col), dim)
            dots = _seqfold_dots(X, flat).reshape(n, n_tables, n_planes)
            buckets = ((dots >= 0).astype(np.int64) << shifts[None, None, :]).sum(axis=2)
            ids = np.asarray(b.column(id_col), dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, n_tables)),
                    pa.array(np.tile(tables, n)),
                    pa.array(buckets.reshape(-1)),
                ],
                ["_id", "srp_table", "srp_bucket"],
            )

    return df.select(F.col(id_col).cast("long").alias(id_col), vec_col).mapInArrow(
        bucketize, "_id long, srp_table long, srp_bucket long"
    )


def ivf_assign_arrow(
    df, id_col: str, vec_col: str,
    cids: np.ndarray, cvecs: np.ndarray, n_probe: int,
):
    """(id, vec) DataFrame → (_id, cell, probes) — the IVF coarse-assignment
    twin of ivf_topk's literal-centroid expression, one zero-copy pass.

    Cosine = seqfold-dot / (seqfold row norm * python-seqfold centroid
    norm); ranking is (cosine desc, cid asc) via lexsort, the same
    tie-break as the expression's reversed array_sort over (cos, -cid)
    structs.
    """
    import pyarrow as pa

    cids = np.asarray(cids, dtype=np.int64)
    C = np.asarray(cvecs, dtype=np.float64)
    # centroid norms with the same python-sequential fold as _cosine_to_lit
    cn = np.empty(C.shape[0], dtype=np.float64)
    for j in range(C.shape[0]):
        sq = 0.0
        for x in C[j]:
            sq += float(x) * float(x)
        cn[j] = np.sqrt(sq)
    dim = C.shape[1]

    def assign(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            X = _list_col_matrix(b.column(vec_col), dim)
            qn = np.sqrt(_seqfold_self_dots(X))
            den = qn[:, None] * cn[None, :]
            _check_nonzero_norms(den)
            cos = _seqfold_dots(X, C) / den
            order = np.lexsort(
                (np.broadcast_to(cids, cos.shape), -cos), axis=-1
            )[:, :n_probe]
            probes = cids[order]
            offsets = np.arange(0, (n + 1) * n_probe, n_probe, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(id_col),
                    pa.array(probes[:, 0]),
                    pa.ListArray.from_arrays(
                        pa.array(offsets, type=pa.int32()),
                        pa.array(probes.reshape(-1)),
                    ),
                ],
                ["_id", "cell", "_probes"],
            )

    return df.select(F.col(id_col).cast("long").alias(id_col), vec_col).mapInArrow(
        assign, "_id long, cell bigint, _probes array<bigint>"
    )


def _check_nonzero_norms(den: np.ndarray) -> None:
    """Cosine denominators must be nonzero: the expression twins divide
    under ANSI mode and raise DIVIDE_BY_ZERO on a zero vector, so the
    kernels fail just as loudly instead of emitting NaN."""
    if not den.all():
        raise ZeroDivisionError(
            "[DIVIDE_BY_ZERO] zero-norm embedding vector in a cosine"
        )


def _local_topk(q_ids, Q, n_ids, M, k: int):
    """Each query's top-k members by (cosine desc, n_id asc), self excluded.

    Needs at least one query and one member.  n_ids must be ascending, so
    a column index orders like its n_id and ties break by id.  Queries go
    in row blocks of at most _SEQFOLD_CHUNK_ELEMS cosines, and the
    selection is a partition to the k-th best value per row followed by an
    exact sort of only the entries at or above it (ties at the boundary
    included): O(m) per query, not O(m log m).  Returns (q_id, n_id,
    cosine) arrays.
    """
    qn = np.sqrt(_seqfold_self_dots(Q))
    nn = np.sqrt(_seqfold_self_dots(M))
    m = len(n_ids)
    kk = min(k, m)
    block = max(1, _SEQFOLD_CHUNK_ELEMS // m)
    parts = []
    for i in range(0, len(q_ids), block):
        qi = q_ids[i : i + block]
        is_self = qi[:, None] == n_ids[None, :]
        den = qn[i : i + block, None] * nn[None, :]
        _check_nonzero_norms(den[~is_self])
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = _seqfold_dots(Q[i : i + block], M) / den
        neg = -cos
        neg[is_self] = np.inf  # self sorts last, so it is never taken over a member
        kth = np.partition(neg, kk - 1, axis=1)[:, kk - 1 : kk]
        r, c = np.nonzero(neg <= kth)  # row-major: c ascending within a row
        order = np.lexsort((c, neg[r, c], r))
        r, c = r[order], c[order]
        rank = np.arange(len(r)) - np.searchsorted(r, r)
        keep = (rank < kk) & ~is_self[r, c]
        r, c = r[keep], c[keep]
        parts.append((qi[r], n_ids[c], cos[r, c]))
    return tuple(np.concatenate(x) for x in zip(*parts))


def ann_group_topk_arrow(
    rows, group_cols: list[str], k: int, dim: int, probe_col: str | None = None
):
    """(group_cols..., _id, _vec[, probe_col]) → (q_id, n_id, cosine): each
    query's LOCAL top-k inside its group, one applyInArrow call per group.

    probe_col=None (an SRP bucket): every row is both a query and a member,
    the bucket self-join.  Otherwise (an IVF cell split by probe salt) rows
    with probe_col true are the queries and the others the members.

    Cosines are seqfold dots over the product of the two seqfold norms —
    the same bits as the expression fold and score_pairs_arrow.  Local
    top-k is exact for the global one: a member of a query's top-k over
    the union of its groups ranks no lower inside the one group it came
    from, so the caller's per-query rank <= k over all groups' rows (after
    dropping a pair repeated by several groups) equals the pair path's.
    A zero-norm vector in any scored pair raises, like the fold does.
    """
    import pyarrow as pa

    schema = pa.schema([
        ("q_id", pa.int64()), ("n_id", pa.int64()), ("cosine", pa.float64()),
    ])

    def topk(table):
        ids = table.column("_id").to_numpy()
        X = _list_col_matrix(table.column("_vec"), dim)
        if probe_col is None:
            queries = members = np.arange(len(ids))
        else:
            is_probe = table.column(probe_col).to_numpy(zero_copy_only=False)
            queries, members = np.flatnonzero(is_probe), np.flatnonzero(~is_probe)
        members = members[np.argsort(ids[members])]
        if not len(members) or not len(queries):
            return schema.empty_table()
        q_id, n_id, cos = _local_topk(
            ids[queries], X[queries], ids[members], X[members], k
        )
        return pa.Table.from_arrays(
            [pa.array(q_id), pa.array(n_id), pa.array(cos)], schema=schema
        )

    cols = [*group_cols, "_id", "_vec"] + ([probe_col] if probe_col else [])
    return rows.select(*cols).groupBy(*group_cols).applyInArrow(
        topk, "q_id long, n_id long, cosine double"
    )


def apply_minhash(hashes_col: Column, cfg: CascadeConfig) -> Column:
    return make_minhash_udf(cfg)(hashes_col)


def apply_simhash(tok_hashes_col: Column, cfg: CascadeConfig) -> Column:
    return make_simhash_udf(cfg)(tok_hashes_col)
