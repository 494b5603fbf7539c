"""End-to-end dedup pipeline: clean → block → verify → cluster → assign.

The Spark re-expression of the reference's run_main flow
(/root/reference/runfile.py:171-254 → SURVEY §3.1/§3.2), over
code_files(repo, path, commit, lang, content):

  1. identity+invariant   file_id = xxhash64(keys); content_sha = sha2(content);
                          norm + md5(norm) in the same per-row-parallel stage
  2. exact dedup          ONE groupBy on md5(norm) — subsumes the sha256
                          level (identical content ⇒ identical norm); skew
                          guard AND the dominant real-corpus saving; only
                          (file_id, hash) columns ever shuffle
  3. shingle              comment/whitespace-insensitive char shingles
  4. MinHash/LSH          candidate pairs on representatives
  5. SimHash              Hamming-ball candidates for short files
  6. verify               Jaccard >= τ (LSH), Hamming + relaxed Jaccard (short)
  7. connected components large-star/small-star to fixpoint
  8. assign               map reps→clusters→all files; singletons own id
  9. (side output)        long-common-substring pairs via winnowing +
                          per-pair suffix array — NOT merged into clusters

Every stage can be checkpointed through a StageStore (resume semantics);
pass store=None for a single fused run (small scale / benchmarks).  Both
modes share one execution shape: the same stages, submitted in the same
order, with the same two thread pools overlapping independent stages —
only what a stage's run() does differs (durable parquet vs
localCheckpoint / lazy).  Stage bodies are module-level frame → frame
functions, shared with plans/append.py (over a batch's delta) and
link_tables (prepare).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..config import CascadeConfig
from ..functions.kernels import apply_minhash, char_shingle_hashes_kernel
from ..functions.text import normalize_code
from ..operators.connected_components import connected_components
from ..operators.dedup import add_content_hash
from ..operators.minhash_lsh import candidate_pairs, candidate_pairs_linkage
from ..operators.simhash import add_simhash, simhash_candidate_pairs
from ..operators.suffix import (
    MAX_OCC_PER_DOC,
    add_fingerprints_pos,
    fingerprint_anchor_pairs,
    verify_long_substring_anchored,
)
from ..operators.verify import jaccard_verify
from ..sources.sinks import StageStore

SHORT_JACCARD = 0.5  # relaxed verify for SimHash path (hamming is primary)


def balance_source(code_files: DataFrame) -> tuple[DataFrame, int, int]:
    """(src, src_parts, heavy_par): the input spread across cores before
    any per-row work.

    A single parquet file (or a pandas-sourced frame) arrives as 1
    partition and would serialize sha256 + normalization.  Heavy per-row
    stages get 4x cores (heavy_par): with partitions == cores one
    straggler extends the whole stage — profiled at 30k files as flat
    1.2-1.8x stage ratios between local[2] and local[8]; 4x granularity
    restores load balance.

    The input is repartitioned only when the scan itself is UNDER-parallel
    (fewer splits than cores): a well-sharded source already spreads the
    per-row hashing, and skipping the repartition avoids shuffling the
    full content bytes once."""
    par = code_files.sparkSession.sparkContext.defaultParallelism
    heavy_par = max(4 * par, 16)
    src = code_files
    src_parts = src.rdd.getNumPartitions()
    if src_parts < par:
        src = src.repartition(heavy_par)
        src_parts = heavy_par
    return src, src_parts, heavy_par


def hash_input(src: DataFrame) -> DataFrame:
    """00_input: the hash-only working set (file_id, content_sha, _nmd5).

    norm + md5(norm) are computed HERE, in the one stage that is already
    per-row-parallel, rather than in a post-groupBy stage: the old
    normalize-after-exact-dedup layout shuffled ~full content strings and
    ran the regexes in a flat ~4s stage that cost the same at local[2]
    and local[8] (profiled); every dedup groupBy downstream now shuffles
    only (file_id, hash) columns.

    At ~48 B/row, content and even the normalized text stay out of every
    checkpoint and shuffle (norm is recomputed from the source scan for
    the deduped representatives inside `prepare`, and content re-joins
    from the source at assignment time).  At 10^12 rows this is the
    difference between checkpointing terabytes of text and checkpointing
    gigabytes of hashes."""
    return (
        add_content_hash(src, "content")
        .withColumn("_nmd5", F.md5(normalize_code(F.col("content"))))
        .select("file_id", "content_sha", "_nmd5")
    )


def norm_groups(files: DataFrame) -> DataFrame:
    """01_norm_reps: (_nmd5, nrep_id) — exact dedup, both levels in ONE tiny
    groupBy.  Identical content has identical normalization, so grouping by
    md5(norm) subsumes the sha256 level (the reference's
    clean-then-drop_duplicates move, data_matching.py:197).  The group rep
    is the global min file_id, exactly what a two-level chain resolves to.
    This is also the LSH skew guard: boilerplate dup groups collapse to
    one representative before any band is built."""
    return files.groupBy("_nmd5").agg(F.min("file_id").alias("nrep_id"))


def representatives(
    src: DataFrame, src_parts: int, heavy_par: int, groups: DataFrame
) -> DataFrame:
    """(file_id, content) of each group's rep: source scan ⋈ rep ids (the
    id side is tiny — AQE broadcasts it, so content moves at most once, in
    the balance repartition below).

    Balance guard: downstream per-row stages (normalization regexes,
    shingle hashing, minhash kernel, winnowing) need partitions ∝ cores
    regardless of byte size — an AQE-coalesced 1-2-partition frame was
    measured as 3 × ~50s serialized stages at 8k files.  When the SOURCE
    is already split ≥ heavy_par ways, the rep-id join is a broadcast (ids
    are tiny) that PRESERVES the scan's partitioning, so the explicit
    repartition would be a pure extra shuffle of the full content bytes —
    skip it (guide §2.4).  An under-split source still pays the one
    balancing shuffle."""
    base = src.select("file_id", "content").join(
        groups.select(F.col("nrep_id").alias("file_id")), "file_id"
    )
    if src_parts < heavy_par:
        base = base.repartition(heavy_par, "file_id")
    return base


def prepare(rows: DataFrame, cfg: CascadeConfig) -> DataFrame:
    """02_prepared: (file_id, content) → (file_id, norm, sh_hashes,
    n_tokens, n_shingles).

    verify runs on HASHED shingles — set semantics (distinct) and 31-bit
    values preserved (collisions shift Jaccard by <1e-3).  Hashing runs in
    the batched rolling-hash kernel: the old JVM chain (char_shingles →
    xxhash64 per shingle) allocated one k-char substring + one hash call
    per character and was the dominant per-row stage; the kernel computes
    every window hash of an Arrow batch in a few vectorized numpy passes
    (kernels.make_char_shingle_hash_udf).  Values live in [0, 2^31):
    stored as array<int>, which HALVES the bytes of the hottest table —
    the prepared checkpoint and both verify-join shuffles are
    shingle-array-dominated.  The minhash kernel upcasts to int64 on
    entry."""
    base = rows.withColumn("norm", normalize_code(F.col("content"))).select(
        "file_id", "norm"
    )
    sh = base.withColumn(
        "sh_hashes",
        char_shingle_hashes_kernel(F.col("norm"), cfg.char_shingle_k),
    )
    sh = sh.withColumn("n_tokens", F.size(F.split(F.col("norm"), " "))).withColumn(
        "n_shingles", F.size("sh_hashes")
    )
    return sh.select("file_id", "norm", "sh_hashes", "n_tokens", "n_shingles")


def minhash_signatures(prepared: DataFrame, cfg: CascadeConfig) -> DataFrame:
    """03a_signatures: (file_id, n_shingles, minhash) — n_shingles rides
    along for the LSH size-ratio prefilter."""
    return prepared.withColumn(
        "minhash", apply_minhash(F.col("sh_hashes"), cfg)
    ).select("file_id", "n_shingles", "minhash")


def short_simhash(prepared: DataFrame, cfg: CascadeConfig) -> DataFrame:
    """04a_simhash: (file_id, simhash) of the short files only — the
    SimHash path covers what MinHash blocks poorly (few shingles)."""
    short = prepared.filter(F.col("n_tokens") <= cfg.short_doc_max_tokens)
    short = short.withColumn("tokens", F.split(F.col("norm"), " "))
    return add_simhash(short, "tokens", cfg).select("file_id", "simhash")


def positional_prints(prepared: DataFrame, cfg: CascadeConfig) -> DataFrame:
    """08a_fingerprints_pos: (file_id, fps_pos).  The occurrence cap is
    pre-applied in the winnow kernel (row-local, same earliest-positions
    semantics), so every anchor-pair pass over these prints skips its
    corpus-wide row_number window — one shuffle+sort of the exploded print
    table removed (guide §2.4)."""
    return add_fingerprints_pos(
        prepared.select("file_id", "norm"), "norm", cfg,
        max_occ_per_doc=MAX_OCC_PER_DOC,
    ).select("file_id", "fps_pos")


def tag_candidates(lsh_pairs: DataFrame, short_pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, m_lsh, m_short): both blocking paths' candidates, one
    row per pair, flagged with the paths that found it.

    ONE verify pass for both blocking paths (round 3): verifying LSH and
    SimHash candidates separately cost four id-joins against `prepared`
    plus a post-union groupBy, all flat fixed-latency shuffle stages at
    bench scale.  Tagging candidates with their method first and verifying
    the union once halves the verify joins and drops the final groupBy
    (pairs are unique after the flag aggregation, so callers need not
    dedup their pairs first)."""
    return (
        lsh_pairs.withColumn("m_lsh", F.lit(1)).withColumn("m_short", F.lit(0))
        .unionByName(
            short_pairs.withColumn("m_lsh", F.lit(0)).withColumn("m_short", F.lit(1))
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("m_lsh").alias("m_lsh"), F.max("m_short").alias("m_short"))
    )


def verify_edges(cand: DataFrame, docs: DataFrame, cfg: CascadeConfig) -> DataFrame:
    """05_edges: (id_a, id_b, jaccard, method) for tagged candidates whose
    method's threshold passes, with `docs` supplying (file_id, sh_hashes).
    A pair found by both paths reports 'minhash_lsh' exactly when
    min(method) over separately verified paths would (it survives the
    stricter τ there iff lsh_ok here)."""
    scored = jaccard_verify(cand, docs, "file_id", "sh_hashes", cfg, keep_below=True)
    lsh_ok = (F.col("m_lsh") == 1) & (F.col("jaccard") >= cfg.jaccard_threshold)
    short_ok = (F.col("m_short") == 1) & (F.col("jaccard") >= SHORT_JACCARD)
    return scored.filter(lsh_ok | short_ok).select(
        "id_a",
        "id_b",
        "jaccard",
        F.when(lsh_ok, F.lit("minhash_lsh")).otherwise(F.lit("simhash")).alias("method"),
    )


@dataclass
class PipelineResult:
    assignments: DataFrame        # file_id, repo, path, commit, lang, content,
                                  # content_sha, cluster_id
    edges: DataFrame              # verified rep-level edges (id_a, id_b, jaccard, method)
    substring_pairs: DataFrame | None  # long-common-substring side output


def dedup_pipeline(
    code_files: DataFrame,
    cfg: CascadeConfig,
    store: StageStore | None = None,
    with_substring_pass: bool = True,
    stage_times: dict | None = None,
) -> PipelineResult:
    # With a store, every stage is durable parquet (resume semantics).
    # Without one, only MULTI-CONSUMER stages are localCheckpoint'ed (so the
    # UDF stages compute exactly once); single-consumer stages stay lazy and
    # fuse into their consumer — fewer actions, less fixed overhead.
    if store:
        def run_(stage, fn, persist=True):  # noqa: ARG001
            return store.run(stage, fn)
    else:
        def run_(stage, fn, persist=True):
            return fn().localCheckpoint(eager=True) if persist else fn()

    if stage_times is None:
        run = run_
    else:
        # profiling wrapper: wall per eager stage (lazy stages record ~0 and
        # surface inside their consumer's wall)
        import time as _time

        def run(stage, fn, persist=True):
            t0 = _time.time()
            out = run_(stage, fn, persist)
            stage_times[stage] = stage_times.get(stage, 0.0) + _time.time() - t0
            return out

    src, src_parts, heavy_par = balance_source(code_files)
    # Kept EAGER deliberately (measured, round 3): a lazy 00_input fuses
    # into its two consumers and re-runs the content scan + sha/md5 pass
    # twice; the scan is bounded by the source's split count, not by
    # cores, so duplicating it regressed both walls and the N→4N ratio.
    # The checkpoint itself is ~48 B/row — cheap.  What makes this stage
    # scale is a well-split source (many parquet parts / row groups), not
    # laziness.
    files = run("00_input", lambda: hash_input(src))
    # The content_sha column still rides on every row of `files` — the
    # per-row invariant stays testable.
    norm_reps_df = run("01_norm_reps", lambda: norm_groups(files))
    prepared = run(
        "02_prepared",
        lambda: prepare(representatives(src, src_parts, heavy_par, norm_reps_df), cfg),
    )

    def run_concurrently(stages: list) -> list[DataFrame]:
        """run() each (stage, fn) from its own pool thread.  Every thread
        inherits the caller's local properties (job group, scheduler pool),
        so a caller's cancelJobGroup reaches the pool's jobs; the target is
        wrapped per submit, so each thread gets its own copy of them."""
        with ThreadPoolExecutor(max_workers=len(stages)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(code_files.sparkSession)(run), name, fn)
                for name, fn in stages
            ]
            return [f.result() for f in futures]

    # --- independent post-prepared stages (signatures, short-doc simhash,
    # positional prints) share no dependencies: they are submitted from a
    # small thread pool so one stage's job tail back-fills cores with
    # another's tasks (guide §2.6) instead of paying three flat stage
    # latencies back to back.  A StageStore token depends only on the
    # fingerprint and the stage name, so concurrent run() calls are safe.
    #
    # Signatures and prints are persisted: candidate_pairs self-joins the
    # band table (and fingerprint_anchor_pairs the print table), so an
    # unpersisted column would run its kernel TWICE (once per join side) —
    # measured as the dominant stage at 30k files.
    post_prepared = [
        ("03a_signatures", minhash_signatures),
        ("04a_simhash", short_simhash),
    ] + ([("08a_fingerprints_pos", positional_prints)] if with_substring_pass else [])
    outs = run_concurrently(
        [(name, lambda f=f: f(prepared, cfg)) for name, f in post_prepared]
    )
    signatures, short_sim = outs[:2]
    fps = outs[2] if with_substring_pass else None

    # hash_bands: int64 band keys (the band table is the widest shuffle of
    # the blocking stage; the oracle-parity string keys stay on the doc
    # queries).  dedup=False: the verify stage's (id_a, id_b) groupBy
    # already deduplicates — the internal distinct would be a second full
    # shuffle of the collision set for nothing.
    # persist_bands: the band self-join would otherwise compute the
    # explode + salted-cap chain once per side (no exchange reuse).
    lsh_pairs = run(
        "03_lsh_pairs",
        lambda: candidate_pairs(
            signatures, "file_id", "minhash", cfg, cap_buckets=True,
            size_col="n_shingles", hash_bands=True, dedup=False,
            persist_bands=True,
        ),
        persist=False,
    )

    short_pairs = run(
        "04_short_pairs",
        lambda: simhash_candidate_pairs(short_sim, "file_id", "simhash", cfg).select(
            "id_a", "id_b"
        ),
        persist=False,
    )

    def _edges() -> DataFrame:
        return verify_edges(tag_candidates(lsh_pairs, short_pairs), prepared, cfg)

    def _anchor_cand() -> DataFrame:
        return fingerprint_anchor_pairs(
            fps, "file_id", "fps_pos", cfg, template_filter=True,
            max_occ_per_doc=0,  # pre-capped in the kernel
            persist_fps=True,   # self-join: avoid computing the chain twice
        )

    # guide §2.6 again: the anchor-candidate derivation (print explode →
    # template filter → self-join → anchor groupBy) depends only on `fps`,
    # yet as a lazy subtree it would run AFTER the dominant edges verify
    # inside the final action.  Materialize it as its own stage,
    # concurrently with 05_edges, so its jobs back-fill the verify stage's
    # tail (measured ~8 s of independent work at n8/100k against a ~26 s
    # edges wall).
    edges, *anchor = run_concurrently(
        [("05_edges", _edges)]
        + ([("08b_anchor_cands", _anchor_cand)] if with_substring_pass else [])
    )

    rep_clusters = run(
        "06_clusters", lambda: connected_components(edges, "id_a", "id_b"), persist=False
    )

    def _assign_core() -> DataFrame:
        # cluster(file) = file → norm-rep (_nmd5 groupBy) → component.
        # Fallbacks: norm-rep id (normalization-identical groups still
        # merge), then own file_id.  Only (file_id, hash) columns shuffle.
        return (
            files.select("file_id", "content_sha", "_nmd5")
            .join(norm_reps_df, "_nmd5")
            .join(rep_clusters.withColumnRenamed("id", "nrep_id"), "nrep_id", "left")
            .select(
                "file_id",
                "content_sha",
                F.coalesce(
                    F.col("cluster_id"), F.col("nrep_id"), F.col("file_id")
                ).alias("cluster_id"),
            )
        )

    # The DURABLE assignment stage is the 3-column hash-only projection
    # (file_id, content_sha, cluster_id) — the canonical schema every path
    # (base run, append epochs, compaction) persists, so consumers of a
    # workdir never see a schema that depends on the dir's history.  It is
    # also the 100 TB contract: ~48 B/row checkpointed, never the corpus
    # text.  The RETURNED frame re-joins the source scan (deterministic
    # file_id) so the full source columns and the sha256 invariant stay
    # testable without content ever riding through a checkpoint or shuffle.
    assign_core = run("07_assignments", _assign_core, persist=False)
    assignments = code_files.join(
        assign_core.select("file_id", "content_sha", "cluster_id"),
        "file_id", "left",
    ).withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("file_id")))

    substring_pairs = None
    if with_substring_pass:

        # the anchored-extension design notes live on add_fingerprints_pos /
        # verify_long_substring_anchored.
        def _substr() -> DataFrame:
            # long-substring pairs that are ALSO near-dups are already edges;
            # the side output reports the rest (shared-block detection).
            fresh = anchor[0].join(edges.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
            return verify_long_substring_anchored(fresh, prepared, "file_id", "norm", cfg)

        substring_pairs = run("08_substring_pairs", _substr, persist=False)

    return PipelineResult(assignments, edges, substring_pairs)


def link_tables(
    source: DataFrame,
    registry: DataFrame,
    cfg: CascadeConfig,
) -> DataFrame:
    """Two-table linkage: match SOURCE files against a canonical REGISTRY —
    the reference's primary csvlink entry (data_matching.py:146-198,
    settings.py:37-38), of which self-dedup is the left == right special
    case.  Output: (source_id, registry_id, jaccard), one row per verified
    cross-table match.

    Same scale shape as the self-dedup pipeline: per-side `prepare` +
    minhash in one per-row-parallel stage, cross-table band collisions
    only (candidate_pairs_linkage — salted caps apply per side), verify
    via the pinned shuffled Jaccard joins with each side resolving
    features against its OWN table (id spaces may overlap).
    """

    def prep(df: DataFrame) -> DataFrame:
        par = df.sparkSession.sparkContext.defaultParallelism
        rows = df.select("file_id", "content").repartition(
            max(4 * par, 16), "file_id"
        )
        sh = prepare(rows, cfg).select("file_id", "sh_hashes", "n_shingles")
        return sh.withColumn(
            "minhash", apply_minhash(F.col("sh_hashes"), cfg)
        ).localCheckpoint(eager=True)

    src_p, reg_p = prep(source), prep(registry)
    cand = candidate_pairs_linkage(
        src_p, reg_p, "file_id", "minhash", cfg,
        cap_buckets=True, size_col="n_shingles", hash_bands=True,
    )
    ver = jaccard_verify(
        cand, src_p, "file_id", "sh_hashes", cfg, docs_b=reg_p
    )
    return ver.select(
        F.col("id_a").alias("source_id"),
        F.col("id_b").alias("registry_id"),
        "jaccard",
    )
