"""MinHash signature + LSH band-join candidate generation.

The Spark-native replacement for dedupe.io's learned blocking (reference:
Regional_Run_Files/data_matching.py:173-192 invokes csvlink; evidence of the
block→score→threshold flow in /root/reference/info.log:11-20).  Shape:

    shingle hashes → MinHash signature → explode band keys
      → self-equi-join on band → (id_a < id_b) pair dedup

Scale notes (the part that matters at 10^12 files):
- The band self-join shuffles on the band key only; AQE skew-join splitting
  handles moderately hot bands.  Degenerate buckets (boilerplate shared by
  millions of files) are capped at cfg.max_bucket_size via a row_number
  guard — but the primary defense is running exact sha256 dedup FIRST
  (operators/dedup.py) so identical content collapses to one representative
  before LSH ever sees it.
- Pair dedup (id_a < id_b + distinct) happens BEFORE the verify join, so the
  expensive shingle-set join never sees a duplicate pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import CascadeConfig
from ..functions.hashing import (
    band_keys,
    band_keys_hashed,
    minhash_expr,
    shingle_hashes,
)
from ..functions.kernels import apply_minhash


def add_minhash(
    df: DataFrame,
    shingles_col: str,
    cfg: CascadeConfig,
    out_col: str = "minhash",
    use_kernel: bool = True,
    hashes_col: str | None = None,
) -> DataFrame:
    """Attach the MinHash signature column.

    use_kernel=True → Arrow/numpy kernel (scale path); False → pure
    Catalyst expressions (oracle-parity path).  Both produce identical
    values (tests/test_kernels_parity.py).

    hashes_col: name of a column already holding the hashed shingles
    (hash60 % MERSENNE31, e.g. from kernels.make_word_shingles_md5_udf) —
    skips the JVM md5 pass over every shingle.
    """
    hashes = (
        F.col(hashes_col) if hashes_col
        else shingle_hashes(F.col(shingles_col))
    )
    if use_kernel:
        df = df.withColumn("_sh_hashes", hashes)
        df = df.withColumn(out_col, apply_minhash(F.col("_sh_hashes"), cfg)).drop("_sh_hashes")
        return df
    return df.withColumn(out_col, minhash_expr(hashes, cfg))


def cap_bucket_rows(
    df: DataFrame,
    bucket_cols: str | list[str],
    id_col: str,
    max_bucket_size: int,
    n_salts: int = 16,
    salt: Column | None = None,
) -> DataFrame:
    """Salted deterministic bucket cap: keep at most ~max_bucket_size rows
    per bucket WITHOUT any single task ever sorting a whole degenerate
    bucket (north_rule: explicit skew salting).

    The row_number window partitions by (bucket, salt) where
    salt = xxhash64(id) % n_salts, per-salt cap = max_bucket_size/n_salts:
    a 10^8-row boilerplate bucket splits into n_salts window partitions
    instead of funneling through one reducer.  The salt is content-derived,
    so the kept set is identical under any input partitioning.  `salt`
    overrides the salt expression (the oracle-parity path uses an
    md5-derived salt that DuckDB can reproduce; xxhash64 is the fast
    default).
    """
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    n_salts = max(1, min(n_salts, max_bucket_size))
    per_salt = max(max_bucket_size // n_salts, 1)
    if salt is None:
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    w = Window.partitionBy(*bucket_cols, "_cap_salt").orderBy(id_col)
    return (
        df.withColumn("_cap_salt", salt)
        .withColumn("_cap_rn", F.row_number().over(w))
        .filter(F.col("_cap_rn") <= per_salt)
        .drop("_cap_rn", "_cap_salt")
    )


def candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    cfg: CascadeConfig,
    cap_buckets: bool = False,
    size_col: str | None = None,
    hash_bands: bool = False,
    dedup: bool = True,
    persist_bands: bool = False,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from LSH band collisions.

    size_col: optional shingle-set-size column.  When given, pairs whose
    size ratio is below the Jaccard threshold are dropped BEFORE the
    expensive shingle-array verify join — safe, because
    J(A,B) <= min(|A|,|B|)/max(|A|,|B|): no verified pair can be lost.
    With the r=2 geometry this prunes the candidate set severalfold.

    hash_bands: int64 xxhash64 band keys instead of the oracle-parity
    strings (band_keys_hashed — pipeline-internal; chance key collisions
    only add candidates that exact verification scores away).
    dedup: set False when the CALLER already deduplicates pairs (the
    pipeline's verify stage groupBys on (id_a, id_b)) — skipping the
    internal distinct saves one full shuffle of the collision set.
    persist_bands: localCheckpoint the (capped) band table before the
    self-join.  The two join sides are the SAME subtree and Spark does not
    reuse the exchange across them (verified in the physical plan), so an
    unpersisted band table pays the explode + salted-cap window TWICE —
    measured ~1.7x slower at 30k files.  Costs one eager materialization
    of ids+band keys (~20 B/row); the operator stays lazy without it.
    """
    bk = band_keys_hashed if hash_bands else band_keys
    cols = [F.col(id_col), F.explode(bk(F.col(sig_col), cfg)).alias("band")]
    if size_col:
        cols.insert(1, F.col(size_col))
    bands = df.select(*cols)
    if cap_buckets and cfg.max_bucket_size:
        # Skew guard: a bucket of size s yields s^2/2 pairs; cap the tail.
        # Recall impact is nil after exact-dedup because residual giant
        # buckets are near-identical boilerplate already connected through
        # other bands / the exact-dup stage.
        #
        # SALTED cap (north_rule: explicit skew salting): the window
        # partitions by (band, salt) with salt = xxhash64(id) % S, per-salt
        # cap = max_bucket_size / S.  A bare partitionBy("band") would sort
        # an entire degenerate bucket (boilerplate shared by 10^8 files) in
        # ONE task before discarding rows; salting splits that sort across
        # S tasks, and the total kept per band stays <= max_bucket_size.
        # xxhash64 salting is deterministic and partition-independent, so
        # the capped set is stable across runs and cluster layouts.
        bands = cap_bucket_rows(
            bands, "band", id_col, cfg.max_bucket_size, cfg.cap_salts
        )
    if persist_bands:
        bands = bands.localCheckpoint(eager=True)
    lcols = [F.col(id_col).alias("id_a"), F.col("band")]
    rcols = [F.col(id_col).alias("id_b"), F.col("band")]
    if size_col:
        lcols.insert(1, F.col(size_col).alias("n_a"))
        rcols.insert(1, F.col(size_col).alias("n_b"))
    pairs = (
        bands.select(*lcols)
        .join(bands.select(*rcols), "band")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    if size_col:
        ratio = F.least("n_a", "n_b") / F.greatest("n_a", "n_b")
        pairs = pairs.filter(ratio >= F.lit(cfg.jaccard_threshold))
    pairs = pairs.select("id_a", "id_b")
    return pairs.distinct() if dedup else pairs


def candidate_pairs_linkage(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    sig_col: str,
    cfg: CascadeConfig,
    cap_buckets: bool = False,
    size_col: str | None = None,
    hash_bands: bool = False,
    dedup: bool = True,
) -> DataFrame:
    """Two-table linkage candidates: (id_a from left) x (id_b from right)
    band collisions — the reference's PRIMARY entry point, source-vs-registry
    csvlink linkage (Regional_Run_Files/data_matching.py:146-198,
    settings.py:37-38), where self-dedup is the degenerate left == right
    case.

    Same band machinery as candidate_pairs but with SIDES TAGGED instead of
    an id_a < id_b ordering: every left band row meets every right band row
    in its bucket exactly once (dedup on the pair).  The salted bucket cap
    and the lossless size-ratio prefilter apply per side, as in the
    self-join.  Verification is the caller's step: jaccard_verify with
    docs_b= resolves each side against its own feature table, so the two
    tables' id spaces may overlap freely (plans/pipeline.link_tables wires
    this up).
    """
    bk = band_keys_hashed if hash_bands else band_keys

    def bands_of(df: DataFrame, out_id: str, out_size: str | None) -> DataFrame:
        cols = [
            F.col(id_col).alias(out_id),
            F.explode(bk(F.col(sig_col), cfg)).alias("band"),
        ]
        if size_col:
            cols.insert(1, F.col(size_col).alias(out_size))
        b = df.select(*cols)
        if cap_buckets and cfg.max_bucket_size:
            b = cap_bucket_rows(b, "band", out_id, cfg.max_bucket_size, cfg.cap_salts)
        return b

    lb = bands_of(left, "id_a", "n_a")
    rb = bands_of(right, "id_b", "n_b")
    pairs = lb.join(rb, "band")
    if size_col:
        ratio = F.least("n_a", "n_b") / F.greatest("n_a", "n_b")
        pairs = pairs.filter(ratio >= F.lit(cfg.jaccard_threshold))
    pairs = pairs.select("id_a", "id_b")
    return pairs.distinct() if dedup else pairs
