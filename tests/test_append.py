"""Incremental batch append (plans/append.py): assignments after folding a
batch into a base run must EQUAL a from-scratch run over base ∪ batch —
label-exact, not just partition-equal — and re-appending is a no-op."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

from project_cascade_spark.config import CODE_CONFIG
from project_cascade_spark.datagen import generate_code_files
from project_cascade_spark.plans.append import append_batch, current_epoch
from project_cascade_spark.plans.pipeline import dedup_pipeline
from project_cascade_spark.sources.sinks import StageStore
from project_cascade_spark.sources.tables import load_code_files

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _split(pdf):
    """Interleaved split so planted dup groups straddle the boundary —
    batch files must JOIN existing clusters, BRIDGE old clusters, and form
    new ones, not just append singletons."""
    idx = np.arange(len(pdf))
    return pdf[idx % 3 != 0].reset_index(drop=True), pdf[idx % 3 == 0].reset_index(drop=True)


def _assign_pdf(df):
    return (
        df.select("file_id", "cluster_id").toPandas()
        .sort_values("file_id").reset_index(drop=True)
    )


def test_append_matches_full_run(spark, tmp_path):
    pdf, _truth = generate_code_files(320)
    a, b = _split(pdf)
    wd = str(tmp_path / "wd")

    full = _assign_pdf(
        dedup_pipeline(
            load_code_files(spark, pdf), CODE_CONFIG, with_substring_pass=False
        ).assignments
    )

    store = StageStore(spark, wd, fingerprint="base-a")
    dedup_pipeline(
        load_code_files(spark, a), CODE_CONFIG, store=store,
        with_substring_pass=False,
    ).assignments.count()

    res = append_batch(load_code_files(spark, b), CODE_CONFIG, wd)
    assert res.epoch == 1 and current_epoch(wd) == 1
    assert res.n_new == len(b) and res.n_skipped == 0
    inc = _assign_pdf(res.assignments)

    # label-exact equality with the from-scratch run over the union
    assert len(inc) == len(full) == len(pdf)
    assert (inc["file_id"].values == full["file_id"].values).all()
    assert (inc["cluster_id"].values == full["cluster_id"].values).all()

    # the batch actually interacted with the base: some new edges touch
    # an old rep (joined/bridged clusters), not only new×new
    old_ids = set(
        r["file_id"] for r in
        load_code_files(spark, a).select("file_id").collect()
    )
    ne = res.new_edges.select("id_a", "id_b").collect()
    assert len(ne) > 0
    assert any(r["id_a"] in old_ids or r["id_b"] in old_ids for r in ne)


def test_append_idempotent_and_resumable(spark, tmp_path):
    pdf, _ = generate_code_files(150)
    a, b = _split(pdf)
    wd = str(tmp_path / "wd")
    store = StageStore(spark, wd, fingerprint="base-a")
    dedup_pipeline(
        load_code_files(spark, a), CODE_CONFIG, store=store,
        with_substring_pass=False,
    ).assignments.count()

    r1 = append_batch(load_code_files(spark, b), CODE_CONFIG, wd)
    # re-appending the same batch: no new files, epoch unchanged, and the
    # assignments served are the promoted epoch's
    r2 = append_batch(load_code_files(spark, b), CODE_CONFIG, wd)
    assert r2.n_new == 0 and r2.n_skipped == len(b)
    assert r2.epoch == r1.epoch == current_epoch(wd)
    assert _assign_pdf(r2.assignments).equals(_assign_pdf(r1.assignments))


def test_append_job_cli(tmp_path):
    """The spark-submit surface: base run, then --append with a second
    batch over the same workdir."""
    pdf, _ = generate_code_files(180)
    a, b = _split(pdf)
    a_path, b_path = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    a.to_parquet(a_path), b.to_parquet(b_path)
    wd = str(tmp_path / "wd")

    def run(*extra):
        out = subprocess.run(
            [sys.executable, "-m", "project_cascade_spark.jobs.dedup_job",
             "--master", "local[4]", "--workdir", wd, "--report",
             "--no-substring-pass", *extra],
            capture_output=True, text=True, check=True, cwd=REPO, timeout=600,
        )
        return json.loads(
            [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        )

    base = run("--input", a_path)
    assert base["files"] == len(a)
    inc = run("--input", b_path, "--append")
    assert inc["files"] == len(pdf)
    assert inc["new_files"] == len(b) and inc["skipped_existing"] == 0
    assert inc["epoch"] == 1

    # compaction surface: no --input, source untouched, dst at epoch 0
    rep = run("--compact-to", str(tmp_path / "wd2"))
    assert rep["epochs_compacted"] == 1 and rep["files"] == len(pdf)
    from project_cascade_spark.plans.append import current_epoch as ce

    assert ce(str(tmp_path / "wd2")) == 0 and ce(wd) == 1


def test_compact_then_append_matches_full_run(spark, tmp_path):
    """Chain base → append → COMPACT → append; the final assignments must
    still equal a from-scratch run over all three slices, and the
    compacted dir must serve appends exactly like the delta-chained one."""
    from project_cascade_spark.plans.append import compact

    pdf, _ = generate_code_files(300)
    idx = np.arange(len(pdf))
    a = pdf[idx % 3 == 0].reset_index(drop=True)
    b = pdf[idx % 3 == 1].reset_index(drop=True)
    c = pdf[idx % 3 == 2].reset_index(drop=True)
    wd, wd2 = str(tmp_path / "wd"), str(tmp_path / "wd_compacted")

    full = _assign_pdf(
        dedup_pipeline(
            load_code_files(spark, pdf), CODE_CONFIG, with_substring_pass=False
        ).assignments
    )

    store = StageStore(spark, wd, fingerprint="base-a")
    dedup_pipeline(
        load_code_files(spark, a), CODE_CONFIG, store=store,
        with_substring_pass=False,
    ).assignments.count()
    append_batch(load_code_files(spark, b), CODE_CONFIG, wd)

    rep = compact(spark, wd, wd2)
    assert rep["epochs_compacted"] == 1
    assert rep["files"] == len(a) + len(b)
    assert current_epoch(wd2) == 0

    res = append_batch(load_code_files(spark, c), CODE_CONFIG, wd2)
    assert res.epoch == 1
    inc = _assign_pdf(res.assignments)
    assert len(inc) == len(full) == len(pdf)
    assert (inc["file_id"].values == full["file_id"].values).all()
    assert (inc["cluster_id"].values == full["cluster_id"].values).all()


def test_append_substring_pass_matches_full_run(spark, tmp_path):
    """When the base run maintains the long-substring side pass, an append
    maintains it too, and the merged side output equals the from-scratch
    pass over the union."""
    pdf, _ = generate_code_files(240)
    a, b = _split(pdf)
    wd = str(tmp_path / "wd")

    def _sub_pdf(df):
        return (
            df.select("id_a", "id_b", "lcs_len").toPandas()
            .sort_values(["id_a", "id_b"]).reset_index(drop=True)
        )

    full_store = StageStore(spark, str(tmp_path / "full"), fingerprint="a-and-b")
    full_res = dedup_pipeline(
        load_code_files(spark, pdf), CODE_CONFIG, store=full_store,
        with_substring_pass=True,
    )
    full_sub = _sub_pdf(full_res.substring_pairs)

    store = StageStore(spark, wd, fingerprint="base-a")
    dedup_pipeline(
        load_code_files(spark, a), CODE_CONFIG, store=store,
        with_substring_pass=True,
    ).assignments.count()

    res = append_batch(load_code_files(spark, b), CODE_CONFIG, wd)
    assert res.substring_pairs is not None
    inc_sub = _sub_pdf(res.substring_pairs)

    assert len(full_sub) > 0  # datagen plants shared-block groups
    assert inc_sub.equals(full_sub)

    # assignments stay label-exact with the pass enabled too
    assert _assign_pdf(res.assignments).equals(_assign_pdf(full_res.assignments))

    # every per-row delta stage holds exactly the from-scratch stage's rows
    # for the batch's new reps (batch-only norm groups have the same rep on
    # both sides, so the equality is exact)
    inc_store = StageStore(spark, wd)
    for delta, stage in [
        ("e1_prepared_new", "02_prepared"),
        ("e1_signatures_new", "03a_signatures"),
        ("e1_short_new", "04a_simhash"),
        ("e1_fps_new", "08a_fingerprints_pos"),
    ]:
        got = inc_store.read(delta)
        want = full_store.read(stage).join(got.select("file_id"), "file_id", "left_semi")
        assert got.count() == want.count() > 0, delta
        assert got.exceptAll(want).count() == 0, delta
        assert want.exceptAll(got).count() == 0, delta


def test_compact_recomputes_template_filter(spark, tmp_path):
    """Round-4 verdict #4 planted case: a winnow print UNDER the MOSS
    boilerplate threshold in the base epoch is pushed OVER it by the
    appended batch.  The pre-compact view keeps the base's pair (its
    epoch's frequencies are frozen — the documented divergence); compact()
    recomputes doc-frequencies over the merged corpus and re-filters, so
    the compacted 08 stage equals the from-scratch run's pair set."""
    import numpy as np
    import pandas as pd

    from project_cascade_spark.config import CascadeConfig
    from project_cascade_spark.plans.append import compact

    cfg = CascadeConfig(
        shingle_mode="char",
        winnow_k=8, winnow_w=8, min_common_substring=15,
        max_bucket_size=4,          # tiny boilerplate threshold
        jaccard_threshold=0.8,
    )
    rng = np.random.RandomState(11)

    def words(n):
        return " ".join(
            "w%06d%04d" % (rng.randint(0, 10**6), i) for i in range(n)
        )

    # planted blocks, long enough that interior winnow windows are
    # context-independent (>> (k + w) chars)
    block_t = " ".join("tshared%04d" % i for i in range(30))   # goes boilerplate
    block_u = " ".join("ucontrol%04d" % i for i in range(30))  # stays rare

    docs = []

    def emit(content):
        i = len(docs)
        docs.append((f"org{i}/r{i}", f"src/f{i}.py", f"{i:010x}", "py", content))

    emit(words(120) + " " + block_t)   # A
    emit(words(120) + " " + block_t)   # B — base pair on T
    emit(words(120) + " " + block_u)   # C
    emit(words(120) + " " + block_u)   # D — control pair on U
    for _ in range(12):
        emit(words(130))               # unique filler
    n_base = len(docs)
    for _ in range(12):                # the batch floods T past df=4
        emit(words(120) + " " + block_t)

    cols = ["repo", "path", "commit", "lang", "content"]
    pdf = pd.DataFrame(docs, columns=cols)
    base_pdf, batch_pdf = pdf.iloc[:n_base], pdf.iloc[n_base:]

    def sub_pdf(df):
        return (
            df.select("id_a", "id_b", "lcs_len").toPandas()
            .sort_values(["id_a", "id_b"]).reset_index(drop=True)
        )

    full = dedup_pipeline(
        load_code_files(spark, pdf), cfg, with_substring_pass=True
    )
    full_sub = sub_pdf(full.substring_pairs)

    wd, wd2 = str(tmp_path / "wd"), str(tmp_path / "wd_c")
    store = StageStore(spark, wd, fingerprint="base")
    dedup_pipeline(
        load_code_files(spark, base_pdf), cfg, store=store,
        with_substring_pass=True,
    ).assignments.count()
    res = append_batch(load_code_files(spark, batch_pdf), cfg, wd)
    pre = sub_pdf(res.substring_pairs)

    ids = {
        r["path"]: r["file_id"] for r in
        load_code_files(spark, pdf).select("path", "file_id").collect()
    }
    ab = tuple(sorted((ids["src/f0.py"], ids["src/f1.py"])))
    cd = tuple(sorted((ids["src/f2.py"], ids["src/f3.py"])))
    pre_pairs = set(zip(pre["id_a"], pre["id_b"]))
    full_pairs = set(zip(full_sub["id_a"], full_sub["id_b"]))

    # the divergence is real: pre-compact keeps the base's T pair, the
    # from-scratch run has template-filtered it out; the control pair
    # survives in both
    assert ab in pre_pairs and ab not in full_pairs
    assert cd in pre_pairs and cd in full_pairs

    compact(spark, wd, wd2, cfg)
    compacted = sub_pdf(StageStore(spark, wd2).read("08_substring_pairs"))
    assert compacted.equals(full_sub)


def test_epoch_marker_robustness(tmp_path):
    """A missing marker is epoch 0 only for a plain base dir; promoted
    delta stages without a marker, an unreadable marker, or garbage
    content must fail loudly instead of silently dropping epochs."""
    import pytest

    root = str(tmp_path / "wd")
    os.makedirs(root)
    assert current_epoch(root) == 0          # plain base dir, no marker

    with open(os.path.join(root, "_epoch"), "w") as f:
        f.write("not-a-number")
    with pytest.raises(RuntimeError, match="corrupt epoch marker"):
        current_epoch(root)

    os.remove(os.path.join(root, "_epoch"))
    os.makedirs(os.path.join(root, "e1_batch_files"))
    with pytest.raises(RuntimeError, match="no _epoch marker"):
        current_epoch(root)


def test_config_marker_pins_chain_config(spark, tmp_path):
    """Round-6 (round-5 ADVICE): a workdir records the config its chain was
    built with; append/compact with a mismatched cfg must error instead of
    silently re-filtering under the wrong geometry, and compact(cfg=None)
    must load the recorded config rather than defaulting."""
    import pytest

    from project_cascade_spark.config import DEFAULT_CONFIG
    from project_cascade_spark.plans.append import (
        compact,
        config_digest,
        load_config_marker,
        write_config_marker,
    )

    pdf, _ = generate_code_files(120)
    a, b = _split(pdf)
    wd = str(tmp_path / "wd")
    store = StageStore(spark, wd, fingerprint="base-a")
    dedup_pipeline(
        load_code_files(spark, a), CODE_CONFIG, store=store,
        with_substring_pass=False,
    ).assignments.count()
    write_config_marker(wd, CODE_CONFIG)
    assert config_digest(load_config_marker(wd)) == config_digest(CODE_CONFIG)

    with pytest.raises(RuntimeError, match="does not match"):
        append_batch(load_code_files(spark, b), DEFAULT_CONFIG, wd)
    with pytest.raises(RuntimeError, match="does not match"):
        compact(spark, wd, str(tmp_path / "wd_c0"), DEFAULT_CONFIG)

    # matching config passes, and cfg=None loads the marker; the compacted
    # dir carries the pin forward
    append_batch(load_code_files(spark, b), CODE_CONFIG, wd).assignments.count()
    dst = str(tmp_path / "wd_c")
    rep = compact(spark, wd, dst, cfg=None)
    assert rep["files"] == len(pdf)
    assert config_digest(load_config_marker(dst)) == config_digest(CODE_CONFIG)
