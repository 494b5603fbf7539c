"""SimHash Hamming-ball candidate generation — the short-document path.

MinHash over k-shingles degrades for very short files (few shingles → noisy
Jaccard); the north_rule mandates a SimHash Hamming-ball lookup for them.
Pigeonhole blocking: split the 60-bit simhash into 4 chunks of 15 bits; any
pair within Hamming distance <= 3 must agree on at least one chunk, so an
equi-join on (chunk_index, chunk_value) is a *complete* candidate generator
for the <=3 ball.  Candidates are then verified exactly with bit_count(xor).

All JVM-side: the simhash itself comes from functions/kernels.py (Arrow) or
functions/hashing.py (expressions); the join below is plain Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CascadeConfig
from ..functions.hashing import hamming60, simhash_chunks, simhash_expr, token_hashes
from ..functions.kernels import apply_simhash


def add_simhash(
    df: DataFrame,
    tokens_col: str,
    cfg: CascadeConfig,
    out_col: str = "simhash",
    use_kernel: bool = True,
) -> DataFrame:
    th = token_hashes(F.col(tokens_col))
    if use_kernel:
        df = df.withColumn("_tok_hashes", th)
        df = df.withColumn(out_col, apply_simhash(F.col("_tok_hashes"), cfg)).drop("_tok_hashes")
        return df
    return df.withColumn(out_col, simhash_expr(th, cfg))


def _chunk_rows(df: DataFrame, id_col: str, sim_col: str, cfg: CascadeConfig) -> DataFrame:
    """(id, simhash, chunk_idx, chunk_val): one row per simhash chunk."""
    return df.select(
        F.col(id_col),
        F.col(sim_col),
        F.posexplode(simhash_chunks(F.col(sim_col), cfg)).alias("chunk_idx", "chunk_val"),
    )


def _chunk_join(left: DataFrame, right: DataFrame, id_col: str, sim_col: str) -> DataFrame:
    """(id_a, sim_a, id_b, sim_b, ...) of chunk rows agreeing on a chunk."""
    def side(chunks: DataFrame, s: str) -> DataFrame:
        return chunks.select(
            F.col(id_col).alias(f"id_{s}"), F.col(sim_col).alias(f"sim_{s}"),
            "chunk_idx", "chunk_val",
        )

    return side(left, "a").join(side(right, "b"), ["chunk_idx", "chunk_val"])


def _within_ball(pairs: DataFrame, cfg: CascadeConfig) -> DataFrame:
    """(id_a, id_b, hamming) of chunk-joined rows inside the Hamming ball."""
    return (
        pairs.select(
            "id_a", "id_b", hamming60(F.col("sim_a"), F.col("sim_b")).alias("hamming")
        )
        .filter(F.col("hamming") <= cfg.simhash_max_hamming)
    )


def simhash_candidate_pairs(
    df: DataFrame, id_col: str, sim_col: str, cfg: CascadeConfig
) -> DataFrame:
    """Pairs (id_a < id_b, hamming) within cfg.simhash_max_hamming."""
    chunks = _chunk_rows(df, id_col, sim_col, cfg)
    joined = _chunk_join(chunks, chunks, id_col, sim_col)
    return _within_ball(joined.filter(F.col("id_a") < F.col("id_b")), cfg).distinct()


def simhash_candidate_pairs_linkage(
    left: DataFrame, right: DataFrame, id_col: str, sim_col: str, cfg: CascadeConfig
) -> DataFrame:
    """Two-table form: (id_a from left, id_b from right, hamming) within
    cfg.simhash_max_hamming — the SimHash twin of
    minhash_lsh.candidate_pairs_linkage.  No id ordering and no self-pair
    filter (the tables' id spaces may overlap), and a pair agreeing on
    several chunks repeats once per chunk: callers dedup."""
    joined = _chunk_join(
        _chunk_rows(left, id_col, sim_col, cfg), _chunk_rows(right, id_col, sim_col, cfg),
        id_col, sim_col,
    )
    return _within_ball(joined, cfg)
