"""Incremental batch append: fold a NEW batch of files into an existing
dedup run without re-shingling the corpus.

The reference re-runs a whole region when new source rows arrive
(runfile.py's convert→match→cluster chain runs front-to-back every time);
at 10^12-file scale a daily increment must not pay a corpus re-scan.  This
module is the engine's one incremental path: given a completed
base run's StageStore (stages 00..05 durable in --workdir), only the new
files are hashed/normalized/shingled, candidate generation is restricted
to pairs that TOUCH a new representative (band join new-side × all-side —
old×old collisions were already candidates in the base run and their
verified edges are on disk), and clustering reruns connected components
over the merged edge set — an edges-proportional cost, orders of magnitude
below re-shingling at realistic dup rates.

Each delta stage calls the pipeline's own stage function (plans/pipeline.py:
hash_input, norm_groups, prepare, minhash_signatures, short_simhash,
positional_prints, tag_candidates, verify_edges) on the batch, so hashing,
shingling, signatures, prints and edge thresholds have one definition on
both paths.  What append adds is the restriction to new representatives:
anti-joins against corpus state, new × all linkage joins for candidates,
and semi-join prefilters ahead of verification.

Exactness: assignments equal a from-scratch run over base ∪ batch
(tests/test_append.py asserts frame equality).  The argument:
- norm-group REPS are sticky (a group that existed in the base keeps its
  base rep even if the batch brings a smaller file_id).  Rep choice cannot
  change any downstream similarity: all members of a norm group share one
  `norm`, hence identical shingles, simhash, and prints — so the verified
  edge STRUCTURE, and therefore the file partition, is rep-invariant.
- candidate completeness: a full run's LSH candidate (x, y) with y new
  shares a band bucket, so the new×all band join finds it; old×old
  candidates are the base run's own candidate set, whose surviving edges
  are already in 05_edges.  Same per-side salted caps and the lossless
  size-ratio prefilter apply (cap saturation is the one place the two
  computations could pick different survivors from a degenerate bucket —
  the same caveat the cap carries inside one run).
- labels: cluster_id is canonicalized to min(file_id) over members, which
  is exactly what the full pipeline's min-rep labeling resolves to (reps
  are group-minimum ids there), so even labels match, not just structure.

Durability — the DELTA (LSM/snapshot) model: each append writes ONLY its
batch's delta stages (`e<n>_batch_files`, `e<n>_prepared_new`, ...) plus
the recomputed clustering (`e<n>_clusters`, `e<n>_assignments` — edge- and
hash-only tables), all through StageStore.run — token-validated, resumable
mid-append — then bumps the `_epoch` marker atomically.  The corpus state
at epoch n is the UNION of the base stages and every delta ≤ n, assembled
at read time; nothing corpus-sized is ever rewritten (a first cut promoted
full merged copies of every stage per epoch — measured SLOWER than a
from-scratch rerun at 20k files, because rewriting the corpus's shingle
arrays dwarfs the per-file work the append saves; at 100 TB it would be
disqualifying).  Re-appending an already-appended batch is a no-op (new
file_ids are anti-joined against the corpus first).  On an Iceberg
StageStore the same shape rides table APPENDs + snapshots instead of
delta dirs (sources/sinks.py, jar-gated).

The long-substring side pass IS maintained incrementally when the base run
produced it (auto-detected from the 08a/08 stages; every prior epoch must
have maintained it too): new representatives get positional prints, anchor
pairs are generated new-side × all-side with the occurrence cap and the
MOSS template filter computed over the WHOLE corpus (so the pair set equals
the full run's, restricted to pairs touching a new file), verified pairs
land as a per-epoch delta, and the reported side output is the union —
proven equal to the from-scratch pass in tests/test_append.py.  One scoped
divergence: already-reported old×old pairs were template-filtered with the
doc-frequencies of THEIR epoch; if new files later push a print over the
boilerplate threshold, a from-scratch run would drop some of those old
pairs while the incremental view keeps them (frequencies freeze per
increment — the same class of caveat as cap saturation, affecting only the
heuristic boilerplate guard, never clustering).  compact() HEALS this
divergence: it recomputes the distinct-document frequencies over the
merged corpus and re-filters/re-verifies the retained pair set
(_recompacted_substring_pairs), so a compacted dir's substring stage
equals the from-scratch pass even when a print crossed the boilerplate
threshold mid-chain (tests/test_append.py plants exactly that).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CascadeConfig
from ..operators.connected_components import connected_components
from ..operators.minhash_lsh import candidate_pairs_linkage
from ..operators.simhash import simhash_candidate_pairs_linkage
from ..operators.suffix import (
    fingerprint_anchor_pairs_linkage,
    verify_long_substring_anchored,
)
from ..sources.sinks import StageStore, read_stage_file
from .pipeline import (
    balance_source,
    hash_input,
    minhash_signatures,
    norm_groups,
    positional_prints,
    prepare,
    representatives,
    short_simhash,
    tag_candidates,
    verify_edges,
)

# base stage → the per-epoch delta stage holding that table's new rows
BASE_STAGES = [
    "00_input", "01_norm_reps", "02_prepared",
    "03a_signatures", "04a_simhash", "05_edges",
]
DELTA_OF = {
    "00_input": "batch_files",
    "01_norm_reps": "new_groups",
    "02_prepared": "prepared_new",
    "03a_signatures": "signatures_new",
    "04a_simhash": "short_new",
    "05_edges": "new_edges",
    "08a_fingerprints_pos": "fps_new",
    "08_substring_pairs": "substring_new",
}


def _delta_name(stage: str, epoch: int) -> str:
    return f"e{epoch}_{DELTA_OF[stage]}"


# --------------------------------------------------------------- config pin
# A workdir records the pipeline config its chain was built with, so append
# and compact can refuse a mismatched cfg instead of silently re-filtering
# or re-verifying under different geometry (round-5 ADVICE: compact()
# defaulted to CODE_CONFIG regardless of the chain's --preset).

def write_config_marker(root: str, cfg: CascadeConfig) -> None:
    """Persist the chain's config at <root>/_config (atomic).  Called at
    base-run time; an existing marker is overwritten — the StageStore
    fingerprint already forces full recompute under a changed config, so
    whatever chain lives in the dir after that run IS the new config's."""
    import dataclasses
    import json
    import os

    payload = {"fields": dataclasses.asdict(cfg), "digest": config_digest(cfg)}
    tmp = os.path.join(root, "_config.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f, sort_keys=True)
    os.replace(tmp, os.path.join(root, "_config"))


def config_digest(cfg: CascadeConfig) -> str:
    import dataclasses
    import json

    return hashlib.sha256(
        json.dumps(dataclasses.asdict(cfg), sort_keys=True).encode()
    ).hexdigest()


def load_config_marker(root: str) -> CascadeConfig | None:
    """The chain's recorded config, or None for a pre-marker workdir."""
    import json
    import os

    path = os.path.join(root, "_config")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        payload = json.load(f)
    cfg = CascadeConfig(**payload["fields"])
    if config_digest(cfg) != payload.get("digest"):
        raise RuntimeError(f"corrupt config marker at {path}")
    return cfg


def _validate_chain_config(root: str, cfg: CascadeConfig, op: str) -> None:
    stored = load_config_marker(root)
    if stored is not None and config_digest(stored) != config_digest(cfg):
        raise RuntimeError(
            f"{op} called with a config that does not match the one "
            f"{root}'s chain was built with ({stored!r} vs {cfg!r}); "
            "pass the chain's own preset/config — re-filtering under "
            "different geometry would corrupt the stage contract"
        )


def _read_state(base: StageStore, stage: str, epoch: int, cols=None) -> DataFrame:
    """Corpus state of `stage` at `epoch`: base table ∪ every delta ≤ epoch.
    Deltas are batch-sized, so assembling state is a cheap multi-parquet
    read — the whole point of the delta model."""
    df = base.read(stage)
    if cols:
        df = df.select(*cols)
    for e in range(1, epoch + 1):
        d = base.read(_delta_name(stage, e))
        df = df.unionByName(d.select(*cols) if cols else d)
    return df


def _substring_enabled(base: StageStore, epoch: int) -> bool:
    """The side pass is maintained iff the base produced it AND every prior
    epoch maintained it (a chain with a gap cannot produce the full union)."""
    return all(
        base.exists(stage if e == 0 else _delta_name(stage, e))
        for stage in ("08a_fingerprints_pos", "08_substring_pairs")
        for e in range(epoch + 1)
    )


def current_epoch(root: str) -> int:
    """Corpus epoch of a workdir, from its `_epoch` marker.

    A MISSING marker means epoch 0 (a plain base run never writes one) —
    but only if no promoted delta stages exist: an unreadable or deleted
    marker next to `e1_*` stage dirs must NOT silently resolve to 0, or a
    later append would rebuild epoch 1 from the base alone and drop the
    previously appended batch from corpus state.  Garbage marker content
    is likewise a hard error, not epoch 0."""
    import glob
    import os

    marker = os.path.join(root, "_epoch")
    try:
        with open(marker) as f:
            content = f.read().strip()
    except FileNotFoundError:
        if glob.glob(os.path.join(root, "e[0-9]*_*")):
            raise RuntimeError(
                f"{root} has promoted epoch stage dirs but no _epoch "
                "marker — the marker was deleted or the dir was partially "
                "copied; refusing to treat it as epoch 0 (that would drop "
                "appended batches from corpus state)"
            )
        return 0
    except OSError as e:
        raise RuntimeError(
            f"cannot read epoch marker {marker}: {e}; refusing to guess"
        ) from e
    try:
        return int(content)
    except ValueError as e:
        raise RuntimeError(
            f"corrupt epoch marker {marker}: {content!r} is not an integer"
        ) from e


def _bump_epoch(root: str, epoch: int) -> None:
    import os

    tmp = os.path.join(root, "_epoch.tmp")
    with open(tmp, "w") as f:
        f.write(str(epoch))
    os.replace(tmp, os.path.join(root, "_epoch"))  # atomic promotion


def _base_tokens_digest(base: StageStore, epoch: int) -> str:
    """Identity of the base state an append builds on: the stage tokens
    of every consumed stage.  A base recomputed from different
    input/config produces different tokens, so a stale append resume can
    never be served against a new base (the token contract extended
    across runs)."""
    h = hashlib.sha256()
    for stage in BASE_STAGES:
        names = [stage] + [_delta_name(stage, e) for e in range(1, epoch + 1)]
        for name in names:
            h.update(read_stage_file(base._token_path(name))[0].encode())
    return h.hexdigest()


def _pair_ids(pairs: DataFrame) -> DataFrame:
    """Distinct file_ids appearing on either side of (id_a, id_b) pairs."""
    return (
        pairs.select(F.col("id_a").alias("file_id"))
        .unionByName(pairs.select(F.col("id_b").alias("file_id")))
        .distinct()
    )


@dataclass
class AppendResult:
    assignments: DataFrame   # file_id, content_sha, cluster_id — base ∪ batch
    edges: DataFrame         # merged verified edge set
    new_edges: DataFrame     # edges introduced by this batch
    n_new: int               # batch files actually added
    n_skipped: int           # batch files already present (idempotent re-append)
    epoch: int               # corpus epoch after this append
    substring_pairs: DataFrame | None = None  # merged side output, when the
                                              # base run maintains the pass


def append_batch(
    new_files: DataFrame,
    cfg: CascadeConfig,
    root: str,
) -> AppendResult:
    spark = new_files.sparkSession
    _validate_chain_config(root, cfg, "append_batch")
    epoch = current_epoch(root)
    base = StageStore(spark, root)  # read-only view of the base stages

    cl_stage = "06_clusters" if epoch == 0 else f"e{epoch}_clusters"
    missing = [s for s in BASE_STAGES + [cl_stage] if not base.exists(s)] + [
        _delta_name(s, e)
        for e in range(1, epoch + 1) for s in BASE_STAGES
        if not base.exists(_delta_name(s, e))
    ]
    if missing:
        raise RuntimeError(
            f"append requires a completed base run in {root}; "
            f"missing stages at epoch {epoch}: {missing}"
        )

    files_A = _read_state(base, "00_input", epoch)
    groups_A = _read_state(base, "01_norm_reps", epoch)
    prepared_A = _read_state(base, "02_prepared", epoch)
    sigs_A = _read_state(base, "03a_signatures", epoch)
    short_A = _read_state(base, "04a_simhash", epoch)
    edges_A = _read_state(base, "05_edges", epoch)

    # the append's own resumable chain: batch identity + base identity.
    # Batch identity is content-derived (order/partition-independent sum of
    # bounded row hashes — bounded before summing, ANSI mode), so a
    # DIFFERENT batch of the same size can never resume this batch's
    # stages; one extra scan of the (small) batch buys that safety.
    ident = new_files.agg(
        F.coalesce(
            F.sum(F.pmod(
                F.xxhash64("repo", "path", "commit", "content"), F.lit(1 << 32)
            )), F.lit(0),
        ).alias("h"),
        F.count(F.lit(1)).alias("c"),
    ).first()
    n_batch_rows = ident["c"]
    batch_fp = hashlib.sha256(
        f"append:{ident['h']}:{n_batch_rows}:"
        f"{_base_tokens_digest(base, epoch)}".encode()
    ).hexdigest()
    store = StageStore(spark, root, fingerprint=batch_fp)
    nxt = epoch + 1

    src, src_parts, heavy_par = balance_source(new_files)

    # hash the batch; drop files already in the corpus (same (repo, path,
    # commit) → same file_id) so re-appending a batch is a no-op
    files_B = store.run(
        _delta_name("00_input", nxt),
        lambda: hash_input(src).join(files_A.select("file_id"), "file_id", "left_anti"),
    )
    n_new = files_B.count()
    if n_new == 0:
        # nothing to fold in — current state is already the answer (the
        # base 07 stage carries extra presentation columns at epoch 0)
        assignments = base.read(
            "07_assignments" if epoch == 0 else f"e{epoch}_assignments"
        ).select("file_id", "content_sha", "cluster_id")
        return AppendResult(
            assignments, edges_A, edges_A.limit(0),
            0, n_batch_rows, epoch,
            _read_state(base, "08_substring_pairs", epoch)
            if _substring_enabled(base, epoch) else None,
        )

    # norm groups: sticky reps for existing groups, min batch id for new ones
    new_groups = store.run(
        _delta_name("01_norm_reps", nxt),
        lambda: norm_groups(files_B).join(groups_A.select("_nmd5"), "_nmd5", "left_anti"),
    )

    # the entire per-row heavy path of the base pipeline, scoped to the
    # batch's new representatives
    prepared_new = store.run(
        _delta_name("02_prepared", nxt),
        lambda: prepare(representatives(src, src_parts, heavy_par, new_groups), cfg),
    )
    sigs_new = store.run(
        _delta_name("03a_signatures", nxt), lambda: minhash_signatures(prepared_new, cfg)
    )
    short_new = store.run(
        _delta_name("04a_simhash", nxt), lambda: short_simhash(prepared_new, cfg)
    )

    def _canonical(pairs: DataFrame) -> DataFrame:
        # new×all meets each new rep itself, and a new×new pair arrives in
        # both orientations; tag_candidates' groupBy dedups
        return pairs.filter(F.col("id_a") != F.col("id_b")).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )

    # candidates touching a new rep, both blocking paths, verified in one pass
    def _new_edges() -> DataFrame:
        # hash_bands: append completeness needs the same banding function a
        # full run uses; dedup=False — tag_candidates' groupBy dedups
        lsh = candidate_pairs_linkage(
            sigs_new, sigs_A.unionByName(sigs_new), "file_id", "minhash", cfg,
            cap_buckets=True, size_col="n_shingles",
            hash_bands=True, dedup=False,
        )
        shp = simhash_candidate_pairs_linkage(
            short_new, short_A.unionByName(short_new), "file_id", "simhash", cfg
        )
        cand = tag_candidates(
            _canonical(lsh), _canonical(shp)
        ).localCheckpoint(eager=True)  # consumed twice: id prefilter + verify
        feats = prepared_A.select("file_id", "sh_hashes").unionByName(
            prepared_new.select("file_id", "sh_hashes")
        )
        # semi-join prefilter: the verify join's pinned shuffle moves the
        # whole docs side, but an append only needs the features of ids in
        # candidate pairs — candidate-sized, not corpus-sized
        feats = feats.join(_pair_ids(cand), "file_id", "left_semi")
        return verify_edges(cand, feats, cfg)

    new_edges = store.run(_delta_name("05_edges", nxt), _new_edges)

    # ---- delta promotion: the batch stages above ARE epoch n+1's deltas;
    # only the clustering — which must see the merged graph — is written
    # full, and both its tables are hash-only (edges ≪ files; assignments
    # ~48 B/row).  Nothing corpus-sized is rewritten.
    files_all = files_A.unionByName(files_B)
    groups_all = groups_A.unionByName(new_groups)
    # new×new and new×old edges are disjoint from the base's old×old set
    edges_all = edges_A.unionByName(new_edges)

    # long-substring side pass, incrementally (when the chain maintains it):
    # prints for the new reps only; anchor pairs new-side × all-side with
    # corpus-global occurrence cap + template filter; old×old pairs are the
    # base/delta stages already on disk
    substring_view = None
    if _substring_enabled(base, epoch):
        # every fps table in a workdir (base + deltas) is pre-capped by
        # positional_prints, so the linkage anchor pass skips its
        # corpus-wide occurrence window
        fps_new = store.run(
            _delta_name("08a_fingerprints_pos", nxt),
            lambda: positional_prints(prepared_new, cfg),
        )

        def _substr_new() -> DataFrame:
            fps_all = _read_state(base, "08a_fingerprints_pos", epoch).unionByName(fps_new)
            cand = fingerprint_anchor_pairs_linkage(
                fps_all,
                new_groups.select(F.col("nrep_id").alias("file_id")),
                "file_id", "fps_pos", cfg, template_filter=True,
                max_occ_per_doc=0,  # pre-capped in the kernel
            )
            # pairs that are also near-dup edges are already reported there.
            # localCheckpoint: consumed twice (id prefilter + verify join) —
            # without it the anchor-pair join would run twice.
            fresh = cand.join(
                edges_all.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
            ).localCheckpoint(eager=True)
            texts = prepared_A.select("file_id", "norm").unionByName(
                prepared_new.select("file_id", "norm")
            )
            # semi-join prefilter, as for the verify features: the verify
            # join's pinned shuffle would otherwise move the corpus-sized
            # norm-text table every append — it only needs the texts of
            # ids that appear in a candidate pair
            texts = texts.join(_pair_ids(fresh), "file_id", "left_semi")
            return verify_long_substring_anchored(
                fresh, texts, "file_id", "norm", cfg
            )

        substr_new = store.run(_delta_name("08_substring_pairs", nxt), _substr_new)
        substring_view = _read_state(base, "08_substring_pairs", epoch).unionByName(
            substr_new
        )

    def _clusters() -> DataFrame:
        """Incremental connected components: a component's membership can
        only change if a NEW edge touches it, so solve CC on the affected
        subgraph (old components containing a new-edge endpoint, plus the
        new edges) and carry every other component's labels through
        unchanged.  Label semantics are preserved — unaffected components
        already carry their min-member label, affected ones get it from
        the fresh CC — so the result equals CC over the full merged graph
        at subgraph cost."""
        old_cl = base.read(cl_stage)
        seed = (
            new_edges.select(F.col("id_a").alias("id"))
            .unionByName(new_edges.select(F.col("id_b").alias("id")))
            .distinct()
        )
        touched = old_cl.join(seed, "id", "left_semi").select("cluster_id").distinct()
        affected = old_cl.join(touched, "cluster_id", "left_semi").select("id")
        # an old edge lies inside exactly one component, so one endpoint
        # decides membership of the whole edge
        sub = edges_A.join(
            affected.withColumnRenamed("id", "id_a"), "id_a", "left_semi"
        ).unionByName(new_edges)
        solved = connected_components(sub, "id_a", "id_b")
        kept = old_cl.join(touched, "cluster_id", "left_anti")
        return kept.unionByName(solved)

    clusters = store.run(f"e{nxt}_clusters", _clusters)

    def _assign() -> DataFrame:
        nm = (
            files_all.join(groups_all, "_nmd5")
            .join(clusters.withColumnRenamed("id", "nrep_id"), "nrep_id", "left")
            .select(
                "file_id", "content_sha",
                F.coalesce(F.col("cluster_id"), F.col("nrep_id")).alias("cluster_id"),
            )
        )
        # canonical labels — min member file_id, which is what the full
        # pipeline's min-rep labeling resolves to (reps are group minima
        # there; sticky reps here may not be, so resolve explicitly)
        canon = nm.groupBy("cluster_id").agg(F.min("file_id").alias("_canon"))
        return nm.join(canon, "cluster_id").select(
            "file_id", "content_sha", F.col("_canon").alias("cluster_id")
        )

    assignments = store.run(f"e{nxt}_assignments", _assign)
    _bump_epoch(root, nxt)
    return AppendResult(
        assignments, edges_all, new_edges, n_new, n_batch_rows - n_new, nxt,
        substring_view,
    )


def compact(
    spark, root_src: str, root_dst: str, cfg: CascadeConfig | None = None
) -> dict:
    """Merge a delta-chained workdir into a fresh epoch-0 workdir — the
    LSM compaction step.  Deltas keep appends cheap but each epoch adds a
    union branch to every state read; compaction pays the corpus rewrite
    ONCE, on demand, into root_dst (the source is never touched, so a
    crashed compaction cannot lose state — rerun it; Iceberg's
    rewrite_data_files is the snapshot-native form of the same move).

    The destination serves --append and reads; its stage tokens derive from
    the SOURCE's token digest (not from a job input fingerprint), so a
    from-scratch job pointed at root_dst recomputes rather than resuming —
    compacted dirs are append-owned by construction.

    Compaction also HEALS the append chain's one scoped substring-pass
    divergence (frozen per-epoch template frequencies): the MOSS
    boilerplate filter's distinct-document frequencies are recomputed over
    the merged corpus and the retained pair set is re-filtered/re-verified
    (see _recompacted_substring_pairs), so the compacted 08 stage equals
    the from-scratch pass FOR THAT divergence even when a print crossed
    the boilerplate threshold mid-chain (pairs suppressed/kept through
    epoch-frozen LSH-cap edge differences — the documented cap-saturation
    caveat — remain out of this heal's scope).  `cfg` must be the chain's
    pipeline config: cfg=None loads the workdir's recorded config marker
    (falling back to CODE_CONFIG only for pre-marker dirs), and a passed
    cfg is VALIDATED against the marker — a mismatch errors instead of
    silently re-filtering under the wrong geometry.
    """
    if cfg is None:
        cfg = load_config_marker(root_src)
        if cfg is None:
            from ..config import CODE_CONFIG

            cfg = CODE_CONFIG
    else:
        _validate_chain_config(root_src, cfg, "compact")
    epoch = current_epoch(root_src)
    base = StageStore(spark, root_src)
    cl_stage = "06_clusters" if epoch == 0 else f"e{epoch}_clusters"
    as_stage = "07_assignments" if epoch == 0 else f"e{epoch}_assignments"
    fp = "compact:" + _base_tokens_digest(base, epoch)
    dst = StageStore(spark, root_dst, fingerprint=fp)
    write_config_marker(root_dst, cfg)  # compacted dirs carry the pin too
    for stage in BASE_STAGES:
        dst.run(stage, lambda s=stage: _read_state(base, s, epoch))
    dst.run("06_clusters", lambda: base.read(cl_stage))
    dst.run(
        "07_assignments",
        lambda: base.read(as_stage).select("file_id", "content_sha", "cluster_id"),
    )
    if _substring_enabled(base, epoch):
        fps_all = dst.run(
            "08a_fingerprints_pos",
            lambda: _read_state(base, "08a_fingerprints_pos", epoch),
        )
        dst.run(
            "08_substring_pairs",
            lambda: _recompacted_substring_pairs(
                _read_state(base, "08_substring_pairs", epoch),
                fps_all,
                _read_state(base, "02_prepared", epoch, cols=["file_id", "norm"]),
                cfg,
            ),
        )
    n = dst.read("00_input").count()
    return {"epochs_compacted": epoch, "files": n, "dst": root_dst}


def _recompacted_substring_pairs(
    pairs: DataFrame,
    fps_all: DataFrame,
    texts: DataFrame,
    cfg: CascadeConfig,
    max_occ_per_doc: int = 16,
) -> DataFrame:
    """Re-filter the retained substring pair set under MERGED-corpus
    template frequencies — the compaction step that equalizes the append
    chain with a from-scratch run FOR THE FROZEN-FREQUENCY divergence
    (pairs suppressed or kept through epoch-frozen LSH-cap edge
    differences — the cap-saturation caveat — are out of scope here).

    Why this is sufficient for exactness: distinct-document frequencies
    are MONOTONE in the corpus (appending files never lowers a print's
    doc-count), so the merged-frequency boilerplate filter is at least as
    strict as the filter any epoch applied — the from-scratch pair set is
    a SUBSET of the retained one, and compaction only ever needs to drop
    or re-verify, never to add.  Partition:

    - a retained pair NONE of whose shared prints is now over-threshold
      has exactly the anchor set a from-scratch run would build (every
      shared print was under-threshold at its epoch too), so its recorded
      lcs_len is already the from-scratch value → passes through;
    - a pair sharing >= 1 now-over-threshold print ("suspect") is
      re-derived from scratch: anchors from the occurrence-capped,
      merged-frequency-filtered prints, then anchored re-verification —
      pairs whose support was ONLY boilerplate prints drop out, pairs
      with residual genuine overlap keep their (possibly reduced)
      exact lcs_len.

    Costs are compaction-shaped: one corpus-wide hash-only groupBy for the
    frequencies (compaction already rewrites the corpus), and pair work
    bounded by the retained pair set, not the corpus."""
    fpsx = fps_all.select(
        F.col("file_id").alias("_id"), F.explode("fps_pos").alias("p")
    ).select("_id", F.col("p.fp").alias("fp"), F.col("p.pos").alias("pos"))
    freq = fpsx.groupBy("fp").agg(F.countDistinct("_id").alias("_df"))
    over = freq.filter(F.col("_df") > cfg.max_bucket_size).select("fp")

    # suspect pairs: share >= 1 now-over-threshold print.  Driven from the
    # PAIRS side (round-5 ADVICE): join pairs → prints of id_a, semi-join
    # on (id_b, fp) — intermediates stay bounded by |pairs| × prints-per-
    # doc.  The old over_fps self-join on fp materialized ~k² rows for a
    # boilerplate print shared by k pair-member docs, exactly on the
    # boilerplate-heavy corpora where prints go over threshold.
    over_fps = (
        fpsx.join(_pair_ids(pairs).withColumnRenamed("file_id", "_id"), "_id", "left_semi")
        .join(over, "fp", "left_semi")
        .select("_id", "fp")
        .distinct()
    )
    sus = (
        pairs.select("id_a", "id_b")
        .join(
            over_fps.select(F.col("_id").alias("id_a"), "fp"), "id_a"
        )
        .join(
            over_fps.select(F.col("_id").alias("id_b"), "fp"),
            ["id_b", "fp"], "left_semi",
        )
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=True)  # consumed by anti-join + semi-join + verify
    )
    clean = pairs.join(sus, ["id_a", "id_b"], "left_anti")

    # re-derive the suspect pairs exactly as a from-scratch run would:
    # occurrence cap first, then the merged-corpus template filter (the
    # same order fingerprint_anchor_pairs applies), anchors restricted to
    # the suspect pairs, anchored exact verification.  The cap is a
    # per-document property, so restricting to suspect ids BEFORE the
    # window (round-5 ADVICE) gives the identical result at suspect-
    # bounded cost — no corpus-wide window sort per compaction.
    sus_ids = _pair_ids(sus).withColumnRenamed("file_id", "_id")
    w = Window.partitionBy("_id", "fp").orderBy("pos")
    sus_fps = (
        fpsx.join(sus_ids, "_id", "left_semi")
        .withColumn("_occ", F.row_number().over(w))
        .filter(F.col("_occ") <= max_occ_per_doc)
        .drop("_occ")
        .join(over, "fp", "left_anti")
    )
    left = sus_fps.select(F.col("_id").alias("id_a"), "fp", F.col("pos").alias("pos_a"))
    right = sus_fps.select(F.col("_id").alias("id_b"), "fp", F.col("pos").alias("pos_b"))
    anchors = (
        left.join(right, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(sus, ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.collect_list(F.struct("pos_a", "pos_b")).alias("anchors"))
    )
    sus_texts = texts.join(_pair_ids(sus), "file_id", "left_semi")
    reverified = verify_long_substring_anchored(
        anchors, sus_texts, "file_id", "norm", cfg
    )
    return clean.unionByName(reverified)
