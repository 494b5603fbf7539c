"""Capture .explain('formatted') output for the headline doc queries and the
pipeline's hot stages.  Run from the root of the checkout to capture; the
suffix tags the files (e.g. before/after a change, each from its own
checkout).

Usage: python tools/capture_plans.py <outdir> <suffix>
  e.g. python tools/capture_plans.py plans/r06 after
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)

    from project_cascade_spark.config import CODE_CONFIG
    from project_cascade_spark.datagen import generate_code_files
    from project_cascade_spark.plans.pipeline import dedup_pipeline
    from project_cascade_spark.queries import build_queries
    from project_cascade_spark.session import build_session
    from project_cascade_spark.sources.tables import load_code_files

    spark = build_session("capture-plans", master="local[4]")
    sf = "/root/testdata/sf0.001"

    def dump(name: str, df) -> None:
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(explain_str(df))
        print("wrote", path)

    qs = build_queries()
    for name in ("doc_minhash_pairs", "doc_near_dup_clusters", "link_pairs"):
        dump(name, qs[name](spark, sf))

    # pipeline stage plans on a small synth corpus.  store=None uses
    # localCheckpoint truncation, so capture the COMPOSED lazy plan of the
    # stages of interest by rebuilding them without eager checkpoints where
    # the plan shape matters.
    pdf, _ = generate_code_files(200, seed=42)
    df = load_code_files(spark, pdf)
    res = dedup_pipeline(df, CODE_CONFIG, store=None, with_substring_pass=True)
    dump("pipeline_assignments", res.assignments)
    dump("pipeline_substring_pairs", res.substring_pairs)

    # un-truncated views of the hot stages (prepared -> signatures ->
    # candidates -> verified edges, and the anchor pairs), built from the
    # pipeline's own stage functions without its checkpoints
    from project_cascade_spark.operators.minhash_lsh import candidate_pairs
    from project_cascade_spark.operators.simhash import simhash_candidate_pairs
    from project_cascade_spark.operators.suffix import fingerprint_anchor_pairs
    from project_cascade_spark.plans.pipeline import (
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

    cfg = CODE_CONFIG
    src, src_parts, heavy_par = balance_source(df)
    groups = norm_groups(hash_input(src))
    prepared = prepare(representatives(src, src_parts, heavy_par, groups), cfg)
    dump("pipeline_prepared", prepared)

    cand = candidate_pairs(
        minhash_signatures(prepared, cfg), "file_id", "minhash", cfg,
        cap_buckets=True, size_col="n_shingles", hash_bands=True, dedup=False,
    )
    dump("pipeline_lsh_candidates", cand)
    short_pairs = simhash_candidate_pairs(
        short_simhash(prepared, cfg), "file_id", "simhash", cfg
    ).select("id_a", "id_b")
    dump("pipeline_verify", verify_edges(tag_candidates(cand, short_pairs), prepared, cfg))

    anch = fingerprint_anchor_pairs(
        positional_prints(prepared, cfg), "file_id", "fps_pos", cfg,
        template_filter=True, max_occ_per_doc=0,
    )
    dump("pipeline_anchor_pairs", anch)
    spark.stop()


if __name__ == "__main__":
    main()
