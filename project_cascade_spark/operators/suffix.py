"""Long-exact-substring candidate generation — the suffix-array path.

The north_rule mandates a suffix-array pass for long exact substrings.  A
single global suffix array over 100 TB of text cannot exist; the scalable
decomposition here is the standard two-level design:

1. **Winnowing fingerprints** (Schleimer et al., SIGMOD'03 — the MOSS
   algorithm) as the distributed blocking step: k-gram hashes, sliding
   window of w, keep window minima.  Guarantee: any substring of length
   >= k + w - 1 shared by two documents yields at least one shared
   fingerprint, so fingerprint-equality equi-join is a COMPLETE candidate
   generator for long exact substrings.  Pure shuffle-on-key Catalyst work.

2. **Per-pair exact verification** with a local suffix array: for each
   candidate pair, build the suffix array of a#b$ inside an Arrow batch
   (numpy argsort of suffixes, O(L log L) per pair, bounded by the pair's
   combined length) and report the longest common substring length from
   adjacent cross-document suffixes (Kasai LCP).  Runs in applyInPandas —
   partition-local, no driver involvement.

Reference analogue: none (dedupe.io has no substring path); mandated by
BASELINE.json north_rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CascadeConfig
from ..functions.hashing import kgram_hashes, window_min_prints
from ..functions.kernels import make_winnow_udf

# default per-(document, print) occurrence cap — shared by the window form
# (fingerprint_anchor_pairs*) and the in-kernel pre-cap (add_fingerprints_pos)
MAX_OCC_PER_DOC = 16


def add_fingerprints(
    df: DataFrame,
    text_col: str,
    cfg: CascadeConfig,
    out_col: str = "fingerprints",
    use_kernel: bool = True,
) -> DataFrame:
    """k-gram hashes are materialized as a column first (see
    functions/hashing.kgram_hashes for why), then winnowed — via the O(m)
    rolling-min Arrow kernel by default, or the expression form for the
    oracle-parity path."""
    df = df.withColumn("_grams", kgram_hashes(F.col(text_col), cfg.winnow_k))
    if use_kernel:
        df = df.withColumn(out_col, make_winnow_udf(cfg)(F.col("_grams")))
    else:
        df = df.withColumn(out_col, window_min_prints(F.col("_grams"), cfg.winnow_w))
    return df.drop("_grams")


def add_fingerprints_pos(
    df: DataFrame,
    text_col: str,
    cfg: CascadeConfig,
    out_col: str = "fps_pos",
    max_occ_per_doc: int = 0,
) -> DataFrame:
    """Winnowing prints WITH char positions: array<struct<fp,pos>>.

    The pipeline's scale path: ONE fused Arrow kernel goes straight from
    the text to positional prints (batched rolling-hash k-grams + the O(m)
    winnow — kernels.make_winnow_pos_text_udf), replacing the old JVM
    substring+xxhash64 per char position and the grams-array transfer.
    Positions feed anchored verification — see
    verify_long_substring_anchored for why that is the 100 TB shape.

    max_occ_per_doc > 0 pre-applies the per-(doc, print) occurrence cap
    inside the kernel (earliest positions — identical to the window form
    in fingerprint_anchor_pairs, which callers then skip with
    max_occ_per_doc=0; the cap is row-local, so no corpus-wide window
    shuffle is ever needed)."""
    from ..functions.kernels import make_winnow_pos_text_udf

    return df.withColumn(
        out_col, make_winnow_pos_text_udf(cfg, max_occ_per_doc)(F.col(text_col))
    )


def fingerprint_anchor_pairs(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    cfg: CascadeConfig,
    template_filter: bool = True,
    max_occ_per_doc: int = MAX_OCC_PER_DOC,
    persist_fps: bool = False,
) -> DataFrame:
    """(id_a, id_b, anchors) for pairs sharing >= 1 positional print, with
    anchors = the (pos_a, pos_b) occurrence combinations of the shared
    prints.  The ALIGNED anchor inside a shared substring of length
    >= winnow_k + winnow_w - 1 is guaranteed to be among them (see
    kernels.make_winnow_pos_text_udf), so anchored extension is an exact
    verifier.

    Two bounds keep the per-pair anchor list from going quadratic
    (round-3 verdict's "unbounded under within-document repetition"):

    - template_filter drops prints whose distinct-DOCUMENT frequency
      exceeds cfg.max_bucket_size (the MOSS boilerplate move — note
      countDistinct, not count);
    - max_occ_per_doc keeps only the first m occurrences of each print
      WITHIN a document (earliest positions).  A print repeated r times in
      each of two docs otherwise contributes r² anchor structs to that one
      pair — 40,000 for a gram repeated 200× in two minified files.  With
      the cap, each shared print contributes <= m² anchors.

    Exactness under the cap: the verifier stays exact whenever some print
    of the true longest shared block has its aligned occurrence among the
    first m per doc — in particular always when no print repeats more than
    m times per document (the overwhelming case: winnow prints are
    near-unique k-gram hashes).  In the adversarial case — a block made
    ENTIRELY of one gram repeated > m times per doc, preceded by > m more
    occurrences outside the block — lcs_len can be UNDERestimated, never
    overestimated (anchors only ever extend to real matching characters).
    The planted-repetition pytest in tests/test_suffix.py pins both the
    bound and the exactness of the common case.

    persist_fps localCheckpoints the filtered print table before the
    self-join: the two join sides are the same subtree and Spark does not
    reuse the exchange across them, so an unpersisted table pays the
    explode + cap + template-filter chain twice (the pipeline passes
    True; default keeps the operator lazy)."""
    fps = df.select(F.col(id_col).alias("_id"), F.explode(F.col(fp_col)).alias("p"))
    fps = fps.select("_id", F.col("p.fp").alias("fp"), F.col("p.pos").alias("pos"))
    if max_occ_per_doc:
        # per-(doc, print) groups are bounded by document length, so a plain
        # window needs no salting here (unlike the cross-corpus bucket caps)
        w = Window.partitionBy("_id", "fp").orderBy("pos")
        fps = (
            fps.withColumn("_occ", F.row_number().over(w))
            .filter(F.col("_occ") <= max_occ_per_doc)
            .drop("_occ")
        )
    if template_filter and cfg.max_bucket_size:
        freq = fps.groupBy("fp").agg(F.countDistinct("_id").alias("_df"))
        fps = (
            fps.join(freq, "fp")
            .filter(F.col("_df") <= cfg.max_bucket_size)
            .drop("_df")
        )
    if persist_fps:
        fps = fps.localCheckpoint(eager=True)
    left = fps.select(F.col("_id").alias("id_a"), "fp", F.col("pos").alias("pos_a"))
    right = fps.select(F.col("_id").alias("id_b"), "fp", F.col("pos").alias("pos_b"))
    return (
        left.join(right, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.collect_list(F.struct("pos_a", "pos_b")).alias("anchors"))
    )


def fingerprint_anchor_pairs_linkage(
    df_all: DataFrame,
    new_ids: DataFrame,
    id_col: str,
    fp_col: str,
    cfg: CascadeConfig,
    template_filter: bool = True,
    max_occ_per_doc: int = MAX_OCC_PER_DOC,
) -> DataFrame:
    """fingerprint_anchor_pairs restricted to pairs TOUCHING a new document
    — the incremental-append form.  df_all is the whole corpus's print
    table (new docs included); new_ids names the new side.

    The occurrence cap and the template filter are computed over the WHOLE
    corpus, exactly as the self-join form computes them, so the output
    equals fingerprint_anchor_pairs(df_all) filtered to pairs with a new
    member — the append path's exactness rests on that.  A new×new pair
    arrives in both join orientations; anchors are canonicalized to the
    (id_a < id_b) orientation (positions swap with the ids) and
    deduplicated before the collect."""
    fps = df_all.select(
        F.col(id_col).alias("_id"), F.explode(F.col(fp_col)).alias("p")
    )
    fps = fps.select("_id", F.col("p.fp").alias("fp"), F.col("p.pos").alias("pos"))
    if max_occ_per_doc:
        w = Window.partitionBy("_id", "fp").orderBy("pos")
        fps = (
            fps.withColumn("_occ", F.row_number().over(w))
            .filter(F.col("_occ") <= max_occ_per_doc)
            .drop("_occ")
        )
    if template_filter and cfg.max_bucket_size:
        freq = fps.groupBy("fp").agg(F.countDistinct("_id").alias("_df"))
        fps = (
            fps.join(freq, "fp")
            .filter(F.col("_df") <= cfg.max_bucket_size)
            .drop("_df")
        )
    # the filtered print table feeds BOTH join sides (new side via the
    # semi-join, all side directly); checkpoint it once — same reasoning
    # as fingerprint_anchor_pairs' persist_fps
    fps = fps.localCheckpoint(eager=True)
    new_fps = fps.join(
        new_ids.select(F.col(id_col).alias("_id")), "_id", "left_semi"
    )
    a = new_fps.select(F.col("_id").alias("ida"), "fp", F.col("pos").alias("pa"))
    b = fps.select(F.col("_id").alias("idb"), "fp", F.col("pos").alias("pb"))
    canon = (
        a.join(b, "fp")
        .filter(F.col("ida") != F.col("idb"))
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            F.when(
                F.col("ida") < F.col("idb"),
                F.struct(F.col("pa").alias("pos_a"), F.col("pb").alias("pos_b")),
            ).otherwise(
                F.struct(F.col("pb").alias("pos_a"), F.col("pa").alias("pos_b"))
            ).alias("anchor"),
        )
        .distinct()
    )
    return canon.groupBy("id_a", "id_b").agg(
        F.collect_list("anchor").alias("anchors")
    )


def fingerprint_candidate_pairs(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    cfg: CascadeConfig,
    template_filter: bool = False,
) -> DataFrame:
    """Distinct pairs sharing >= 1 winnowing fingerprint (id_a < id_b).

    template_filter=True drops fingerprints whose document frequency exceeds
    cfg.max_bucket_size — the MOSS move for boilerplate/template text: a
    fingerprint shared by thousands of files is template code, and keeping
    it would emit a quadratic pair set.  Off for the oracle-parity query.
    """
    fps = df.select(F.col(id_col), F.explode(F.col(fp_col)).alias("fp"))
    if template_filter and cfg.max_bucket_size:
        freq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        fps = (
            fps.join(freq, "fp")
            .filter(F.col("_df") <= cfg.max_bucket_size)
            .drop("_df")
        )
    left = fps.select(F.col(id_col).alias("id_a"), "fp")
    right = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        left.join(right, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _lcs_via_suffix_array(a: str, b: str) -> int:
    """Longest common substring length via suffix array + Kasai LCP.

    numpy argsort over suffix ranks (prefix-doubling) keeps this vectorized;
    strings are bounded by per-document size so memory is partition-local.
    """
    sep = "\x00"
    s = a + sep + b
    n = len(s)
    if n == 1:
        return 0
    # prefix-doubling suffix array
    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    rank = np.unique(codes, return_inverse=True)[1].astype(np.int64)
    sa = np.argsort(rank, kind="stable")
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        sa = order
        combined = rank[order] * (n + 1) + (key2[order] + 1)
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(np.concatenate(([0], (np.diff(combined) != 0).astype(np.int64))))
        rank = new_rank
        if rank[sa[-1]] == n - 1:
            break
        k *= 2
    # Kasai LCP
    pos = np.empty(n, dtype=np.int64)
    pos[sa] = np.arange(n)
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    la = len(a)
    for i in range(n):
        if pos[i] > 0:
            j = sa[pos[i] - 1]
            while i + h < n and j + h < n and s[i + h] == s[j + h]:
                h += 1
            lcp[pos[i]] = h
            if h > 0:
                h -= 1
        else:
            h = 0
    # best LCP between suffixes from different documents (separator-safe:
    # common prefixes cannot cross the \x00 separator)
    side = sa < la  # True: suffix starts in a
    best = 0
    for p in range(1, n):
        if side[p] != side[p - 1]:
            best = max(best, int(lcp[p]))
    return best


def _grams(s: str, L: int) -> set:
    return {s[i : i + L] for i in range(len(s) - L + 1)}


def _share_gram(a: str, b: str, L: int) -> bool:
    """True iff a and b share an L-char substring.  Builds one set from the
    shorter string and streams the longer through isdisjoint — short-circuits
    on the first hit and never materializes the second set."""
    if min(len(a), len(b)) < L:
        return False
    if len(b) < len(a):
        a, b = b, a
    ga = _grams(a, L)
    return not ga.isdisjoint(b[i : i + L] for i in range(len(b) - L + 1))


def common_substring_len(a: str, b: str, min_len: int) -> int:
    """Exact longest-common-substring length, 0 if below min_len.

    Screen at min_len with an exact common-L-gram check (Python sets
    compare the actual strings), then binary-search the maximal L whose
    L-gram sets intersect.  O(n log n) with C-speed set ops per round —
    replaces the per-character Kasai LCP loop that dominated the pipeline
    wall (57s of 97s at 1000 files).
    """
    if not _share_gram(a, b, min_len):
        return 0
    lo, hi = min_len, min(len(a), len(b))
    # invariant: L=lo intersects; find max such L
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if _grams(a, mid) & _grams(b, mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


def _anchored_lcs(a: str, b: str, anchors, k: int) -> int:
    """Exact longest-common-substring length via anchored extension.

    For each (pos_a, pos_b) anchor: confirm the k-gram actually matches
    (hash collisions die here — extension compares real characters, so
    there are NO false positives), then extend left and right in 256-char
    slice compares (C-speed) with a linear scan only inside the mismatch
    chunk.  Anchors are deduped per diagonal (pos_a - pos_b): a second
    anchor inside an already-extended run yields the same substring.

    Exactness: the global LCS, when >= winnow_k + winnow_w - 1, contains
    an aligned anchor; extension from it returns exactly |LCS|.  Anchors
    outside the LCS extend to something shorter — max() is unaffected.
    Chance-collision anchors (two docs sharing one k-gram) cost one
    k-char compare plus a few chars of extension — microseconds, which is
    what makes this ~20x cheaper per pair than gram-set intersection."""
    la, lb = len(a), len(b)
    if la < k or lb < k:
        return 0
    CH = 256
    best = 0
    anc = sorted(
        ((int(p["pos_a"]), int(p["pos_b"])) for p in anchors),
        key=lambda t: (t[0] - t[1], t[0]),
    )
    cur_d: int | None = None
    cur_end = -1
    for pa, pb in anc:
        d = pa - pb
        if d != cur_d:
            cur_d, cur_end = d, -1
        if pa < cur_end:
            continue
        if a[pa:pa + k] != b[pb:pb + k]:
            continue
        ra, rb = pa + k, pb + k
        while ra < la and rb < lb:
            n = min(la - ra, lb - rb, CH)
            ca, cb = a[ra:ra + n], b[rb:rb + n]
            if ca == cb:
                ra += n
                rb += n
                continue
            i = 0
            while ca[i] == cb[i]:
                i += 1
            ra += i
            rb += i
            break
        sa_, sb_ = pa, pb
        while sa_ > 0 and sb_ > 0:
            n = min(sa_, sb_, CH)
            ca, cb = a[sa_ - n:sa_], b[sb_ - n:sb_]
            if ca == cb:
                sa_ -= n
                sb_ -= n
                continue
            i = 0
            while ca[n - 1 - i] == cb[n - 1 - i]:
                i += 1
            sa_ -= i
            break
        if ra - sa_ > best:
            best = ra - sa_
        cur_end = ra
    return best


def verify_long_substring_anchored(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    cfg: CascadeConfig,
) -> DataFrame:
    """(id_a, id_b, lcs_len) for anchor-carrying pairs whose exact longest
    common substring reaches cfg.min_common_substring — the pipeline's
    scale verifier.

    Same contract as verify_long_substring but fed by
    fingerprint_anchor_pairs: per-pair cost drops from an L-gram set build
    (~300µs on ~600-char files — profiled as hours of Python across 14.7M
    chance-collision candidates at a 300k-file corpus) to a k-char slice
    compare (~5µs) for the dominant chance-anchor case, while planted
    shared blocks pay O(block length) chunked compares.  Result sets are
    identical (both are exact)."""
    a = docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"))
    # Balance repartition BEFORE attaching the texts: the Python work below
    # needs partitions ∝ cores (AQE would coalesce the small-byte candidate
    # join to ~1 partition), but repartitioning after the joins moved every
    # pair WITH both attached texts — ~2 text copies per pair through a
    # second full shuffle.  Repartitioning the anchor rows first shuffles
    # only (ids, anchors); when the text side broadcasts (any corpus whose
    # norm column fits the threshold) the joins preserve that partitioning
    # and the text bytes never shuffle at all (guide §2.3/§8: move the
    # lightweight proxy, attach the payload once).
    par = docs.sparkSession.sparkContext.defaultParallelism
    pairs = pairs.repartition(max(4 * par, 16))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    min_len = cfg.min_common_substring
    k = cfg.winnow_k

    def check(batch_iter):
        for pdf in batch_iter:
            lens = [
                _anchored_lcs(x or "", y or "", anc, k)
                for x, y, anc in zip(pdf["text_a"], pdf["text_b"], pdf["anchors"])
            ]
            out = pdf[["id_a", "id_b"]].copy()
            out["lcs_len"] = np.asarray(lens, dtype=np.int64)
            yield out[out["lcs_len"] >= min_len]

    return joined.mapInPandas(check, "id_a long, id_b long, lcs_len long")


def verify_long_substring(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    cfg: CascadeConfig,
) -> DataFrame:
    """(id_a, id_b, lcs_len) for pairs whose exact longest common substring
    reaches cfg.min_common_substring.  mapInPandas over pair batches;
    per-pair work is the set-based exact LCS above (the suffix-array
    routine is kept for cross-validation in tests).
    """
    a = docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    # AQE coalesces the candidate join to ~1 partition (small bytes); the
    # Python LCS work below needs partitions ∝ cores, 4x for load balance
    par = docs.sparkSession.sparkContext.defaultParallelism
    joined = joined.repartition(max(4 * par, 16))
    min_len = cfg.min_common_substring

    def check(batch_iter):
        for pdf in batch_iter:
            lens = [
                common_substring_len(x or "", y or "", min_len)
                for x, y in zip(pdf["text_a"], pdf["text_b"])
            ]
            out = pdf[["id_a", "id_b"]].copy()
            out["lcs_len"] = np.asarray(lens, dtype=np.int64)
            yield out[out["lcs_len"] >= min_len]

    return joined.mapInPandas(check, "id_a long, id_b long, lcs_len long")
