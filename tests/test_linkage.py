"""Two-table linkage mode (reference csvlink source-vs-registry,
data_matching.py:146-198): cross-table candidates only, planted dups found,
within-table dups NOT paired."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from project_cascade_spark.config import CascadeConfig
from project_cascade_spark.functions.text import normalize_ws, word_shingles
from project_cascade_spark.operators.minhash_lsh import (
    add_minhash,
    candidate_pairs_linkage,
)
from project_cascade_spark.operators.verify import jaccard_verify

CFG = CascadeConfig()  # word 3-shingles, 64 perm, 16x4, tau=0.8
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BASE = ("the quick brown fox jumps over the lazy dog while the rain "
        "falls softly on the quiet village roofs every single evening")


def _shingled(spark, rows):
    df = spark.createDataFrame(rows, "id long, text string")
    return (
        df.withColumn("norm", normalize_ws(F.col("text")))
        .withColumn("shingles", word_shingles(F.col("norm"), CFG.shingle_k))
    )


@pytest.fixture(scope="module")
def linkage_frames(spark):
    # source (ids 0-9): row 1 duplicates registry row 101; rows 2 and 3 are
    # near-identical WITHIN the source (must NOT appear — linkage is
    # cross-table only); the rest are distinct filler.
    src_rows = [
        (0, "completely unrelated text about winter storms and heavy snow drifts"),
        (1, BASE),
        (2, BASE + " extra tail alpha"),
        (3, BASE + " extra tail alpha"),
    ] + [(4 + i, f"filler source document number {i} with its own distinct words "
                 f"nothing shared here at all {i * 17}") for i in range(6)]
    # registry (ids 100-109): 101 matches source 1; 102 matches nothing.
    reg_rows = [
        (100, "registry entry about maritime insurance claims and cargo"),
        (101, BASE),
        (102, "another standalone registry record with unique content"),
    ] + [(103 + i, f"registry filler record {i} entirely different vocabulary "
                   f"for padding purposes {i * 31}") for i in range(7)]
    return _shingled(spark, src_rows), _shingled(spark, reg_rows)


def test_linkage_finds_cross_table_dups_only(linkage_frames):
    src, reg = linkage_frames
    sig_s = add_minhash(src, "shingles", CFG)
    sig_r = add_minhash(reg, "shingles", CFG)
    cand = candidate_pairs_linkage(sig_s, sig_r, "id", "minhash", CFG)
    both = src.unionByName(reg)
    verified = jaccard_verify(cand, both, "id", "shingles", CFG)
    pairs = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    # planted cross-table dups present (src 1, 2, 3 all ~= reg 101)
    assert (1, 101) in pairs
    # every pair is (source id, registry id) — no within-table pairs
    assert all(a < 100 <= b for a, b in pairs)
    # the within-source near-dup pair (2, 3) must not leak through
    assert (2, 3) not in pairs and (3, 2) not in pairs


def test_linkage_self_degenerates_to_dedup(linkage_frames):
    """left == right reproduces the self-join candidates (plus mirrored
    orientation and self-hits, which the verify threshold and caller-side
    id ordering remove) — SURVEY's claim that csvlink degenerates to
    self-dedup, now backed by an API."""
    src, _ = linkage_frames
    sig = add_minhash(src, "shingles", CFG)
    from project_cascade_spark.operators.minhash_lsh import candidate_pairs

    self_pairs = {(r["id_a"], r["id_b"])
                  for r in candidate_pairs(sig, "id", "minhash", CFG).collect()}
    link = candidate_pairs_linkage(sig, sig, "id", "minhash", CFG)
    link_pairs_set = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
                      for r in link.filter(F.col("id_a") != F.col("id_b")).collect()}
    assert link_pairs_set == self_pairs


def test_linkage_respects_size_prefilter_and_cap(linkage_frames):
    src, reg = linkage_frames
    cfg = CascadeConfig(max_bucket_size=4, cap_salts=2)
    sig_s = add_minhash(src.withColumn("n_sh", F.size("shingles")), "shingles", cfg)
    sig_r = add_minhash(reg.withColumn("n_sh", F.size("shingles")), "shingles", cfg)
    cand = candidate_pairs_linkage(
        sig_s, sig_r, "id", "minhash", cfg, cap_buckets=True, size_col="n_sh"
    )
    # still finds the identical planted pair (identical size passes the
    # ratio prefilter; identical content shares every band)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (1, 101) in pairs


def test_link_tables_end_to_end(spark):
    """Full source-vs-registry surface (plans.link_tables): planted
    cross-table near-dups are matched; ids may overlap across tables."""
    import pandas as pd

    from project_cascade_spark.config import CODE_CONFIG
    from project_cascade_spark.datagen import generate_code_files
    from project_cascade_spark.plans.pipeline import link_tables
    from project_cascade_spark.sources.tables import load_code_files

    pdf, _ = generate_code_files(300, seed=7)
    # registry = every file; source = a 50-file slice of the SAME corpus
    # (identical content ⇒ every source file must match its registry twin)
    reg = load_code_files(spark, pdf)
    src = load_code_files(spark, pdf.iloc[:50].copy())
    out = link_tables(src, reg, CODE_CONFIG).toPandas()
    src_ids = set(
        load_code_files(spark, pdf.iloc[:50].copy())
        .select("file_id").toPandas()["file_id"]
    )
    # every source file finds at least its identical registry twin
    matched_sources = set(out["source_id"])
    assert src_ids <= matched_sources
    # identical pairs verify at jaccard 1.0
    self_pairs = out[out["source_id"] == out["registry_id"]]
    assert len(self_pairs) == 50
    assert (self_pairs["jaccard"] == 1.0).all()


def test_link_job_cli(tmp_path):
    """The spark-submit surface: link synth source vs synth registry."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "project_cascade_spark.jobs.link_job",
         "--source", "synth:60:7", "--registry", "synth:60:7",
         "--master", "local[4]", "--report"],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    # identical synth corpora: every file matches itself, so matches >= 60
    assert rep["matches"] >= 60
