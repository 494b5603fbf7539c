"""Hash expression builders shared by the pipeline and the oracle.

The cross-engine primitive: ``hash60(s) = CAST(conv(substring(md5(s),1,15),
16, 10) AS BIGINT)`` — 15 hex chars of md5, value < 2^60, reproducible in
DuckDB as ``('0x' || substr(md5(s),1,15))::BIGINT``.  Everything downstream
(MinHash permutations, SimHash bits, winnowing fingerprints, LSH band keys)
is integer arithmetic on that primitive, identical in both engines.

MinHash here is the *expression form* — used for oracle-parity tests and as
the default at moderate width; functions/kernels.py carries the numpy/Arrow
kernel twin that computes the identical signature for wide configs.  The
reference has no analogue (dedupe.io hides its blocking keys); mandated by
BASELINE.json north_rule.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import MERSENNE31, CascadeConfig


def hash60(col: Column) -> Column:
    """Deterministic 60-bit int64 of a string, identical in Spark & DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingle_hashes(shingles: Column) -> Column:
    """array<string> shingles → array<long> in [0, MERSENNE31)."""
    return F.transform(shingles, lambda s: hash60(s) % MERSENNE31)


def token_hashes(toks: Column) -> Column:
    """array<string> tokens → array<long> full 60-bit (SimHash features)."""
    return F.transform(toks, hash60)


def minhash_expr(hashes: Column, cfg: CascadeConfig) -> Column:
    """MinHash signature as pure expressions: array<long> of num_perm mins.

    sig_i = min over shingle-hashes x of (a_i * x + b_i) % P.
    x < P = 2^31-1 and a_i < P keeps a_i*x < 2^62: no int64 overflow.
    """
    def perm(a: int, b: int):
        # closure factory: PySpark inspects lambda arity, so default-arg
        # binding (lambda x, a=a) would be misread as a 3-arg HOF
        return lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE31

    mins = [
        F.array_min(F.transform(hashes, perm(a, b))) for a, b in cfg.perm_pairs
    ]
    return F.array(*mins)


def band_keys(sig: Column, cfg: CascadeConfig) -> Column:
    """LSH band keys: array of lsh_bands strings 'j:v1,v2,..,vr'.

    Two rows collide on band j iff their j-th signature slice is equal.
    The string form keeps the oracle comparable; the groupBy key is hashed
    again by Spark's shuffle hash, so string width is not a scale concern
    (and can be xxhash64-compressed without semantic change).
    """
    b, r = cfg.lsh_bands, cfg.lsh_rows
    keys = [
        F.concat_ws(
            ":",
            F.lit(str(j)),
            F.concat_ws(",", *[F.element_at(sig, j * r + i + 1).cast("string") for i in range(r)]),
        )
        for j in range(b)
    ]
    return F.array(*keys)


def band_keys_hashed(sig: Column, cfg: CascadeConfig) -> Column:
    """LSH band keys as int64: xxhash64(band index, signature slice) —
    the pipeline-internal twin of band_keys.  Two rows collide on band j
    iff their j-th slices are equal (plus a ~2^-64 chance collision, which
    only adds a candidate that exact verification then scores — lossless
    for recall).  An 8-byte key shuffles and windows ~5x cheaper than the
    ~45-char concat_ws string; the string form remains the oracle-parity
    path (DuckDB reproduces it verbatim)."""
    b, r = cfg.lsh_bands, cfg.lsh_rows
    keys = [
        F.xxhash64(
            F.lit(j), *[F.element_at(sig, j * r + i + 1) for i in range(r)]
        )
        for j in range(b)
    ]
    return F.array(*keys)


def simhash_expr(tok_hashes: Column, cfg: CascadeConfig) -> Column:
    """SimHash over 60 deterministic bits (bits 0..59 of hash60), expression
    form.  bit_j(simhash) = 1 iff sum over tokens of ±1 (per bit j of the
    token hash) >= 0.  Token multiplicity counts (no distinct) — standard
    SimHash weighting by occurrence.
    """
    def vote(j: int):
        return lambda acc, x: acc + F.when(
            F.shiftright(x, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    bits = []
    for j in range(cfg.simhash_bits):
        contrib = F.aggregate(tok_hashes, F.lit(0).cast("long"), vote(j))
        bits.append(F.when(contrib >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    # null input → null (not 0: the CASE WHEN NULL>=0 ELSE-branch would
    # otherwise emit 0 and silently disagree with the Arrow kernel twin —
    # parity on degenerate inputs is covered by test_kernels_parity)
    return F.when(tok_hashes.isNull(), F.lit(None).cast("long")).otherwise(out)


def simhash_chunks(sim: Column, cfg: CascadeConfig) -> Column:
    """Split the simhash into equal bit chunks → array<long>.

    Pigeonhole: hamming(a,b) <= chunks-1 ⇒ at least one chunk identical, so
    chunk-equality equi-join is a complete candidate generator for the
    Hamming ball (cfg.simhash_max_hamming <= chunks-1 must hold).
    """
    width = cfg.simhash_bits // cfg.simhash_chunks
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftright(sim, j * width).bitwiseAND(F.lit(mask))
            for j in range(cfg.simhash_chunks)
        ]
    )


def hamming60(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def kgram_hashes(col: Column, k: int) -> Column:
    """All k-char-gram hash60 values of a string → array<long>.

    MUST be materialized as its own column before window_min_prints — if the
    two transforms nest in one expression, Catalyst re-evaluates the inner
    k-gram transform once per window (~m× redundant md5 work: measured as a
    hang at 400 docs).
    """
    n = F.length(col)
    m = F.greatest(n - F.lit(k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), m), lambda i: hash60(F.substring(col, i, k)))


def window_min_prints(grams: Column, w: int) -> Column:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03): distinct minima
    of each w-window over the k-gram hash sequence.  Guarantee: any common
    substring of length >= k + w - 1 between two documents shares at least
    one fingerprint — the scalable stand-in for the suffix-array
    long-substring pass (north_rule), verified exactly by operators/suffix.

    Expression form is O(m*w) per row; the Arrow kernel
    (kernels.make_winnow_udf) is the O(m) scale path with identical output
    values (as a set).
    """
    nwin = F.greatest(F.size(grams) - F.lit(w - 1), F.lit(1))
    prints = F.transform(
        F.sequence(F.lit(1), nwin), lambda i: F.array_min(F.slice(grams, i, w))
    )
    return F.array_distinct(prints)
