"""The fast set-based exact LCS must agree with the suffix-array/Kasai
reference implementation, and the anchored (positional-winnowing) Spark
path must agree with the gram-set path end to end."""

import random

from pyspark.sql import functions as F

from project_cascade_spark.config import CascadeConfig
from project_cascade_spark.operators.suffix import (
    _anchored_lcs,
    _lcs_via_suffix_array,
    add_fingerprints,
    add_fingerprints_pos,
    common_substring_len,
    fingerprint_anchor_pairs,
    fingerprint_candidate_pairs,
    verify_long_substring,
    verify_long_substring_anchored,
)


def test_lcs_methods_agree_on_random_strings():
    rng = random.Random(7)
    alphabet = "abcd "
    for _ in range(40):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(20, 300)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(20, 300)))
        # plant a shared block in half the cases
        if rng.random() < 0.5:
            block = "".join(rng.choice("xyz") for _ in range(rng.randint(10, 60)))
            ia = rng.randint(0, len(a))
            ib = rng.randint(0, len(b))
            a = a[:ia] + block + a[ia:]
            b = b[:ib] + block + b[ib:]
        truth = _lcs_via_suffix_array(a, b)
        for min_len in (1, 5, 20):
            got = common_substring_len(a, b, min_len)
            if truth >= min_len:
                assert got == truth, (a, b, min_len)
            else:
                assert got == 0


def test_lcs_edge_cases():
    assert common_substring_len("", "", 1) == 0
    assert common_substring_len("abc", "abc", 1) == 3
    assert common_substring_len("abc", "abc", 4) == 0
    assert common_substring_len("abcdef", "xxcdexx", 3) == 3


def _all_anchors(a: str, b: str, k: int):
    """Every aligned k-gram occurrence pair — a superset of what winnowing
    emits, so _anchored_lcs over it must equal the true LCS whenever
    LCS >= k."""
    pos = {}
    for i in range(len(a) - k + 1):
        pos.setdefault(a[i:i + k], []).append(i)
    out = []
    for j in range(len(b) - k + 1):
        for i in pos.get(b[j:j + k], ()):
            out.append({"pos_a": i, "pos_b": j})
    return out


def test_anchored_lcs_agrees_with_suffix_array():
    rng = random.Random(11)
    alphabet = "abcd "
    k = 5
    for _ in range(60):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(20, 300)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(20, 300)))
        if rng.random() < 0.6:
            block = "".join(rng.choice("xyz") for _ in range(rng.randint(8, 60)))
            ia, ib = rng.randint(0, len(a)), rng.randint(0, len(b))
            a = a[:ia] + block + a[ia:]
            b = b[:ib] + block + b[ib:]
        truth = _lcs_via_suffix_array(a, b)
        got = _anchored_lcs(a, b, _all_anchors(a, b, k), k)
        if truth >= k:
            assert got == truth, (a, b)
        else:
            assert got < k


def test_anchored_lcs_repetitive_and_collision_anchors():
    # repeated text: many anchors on the same diagonal — dedup must not
    # change the answer
    a = "xy" * 200 + "TAIL"
    b = "xy" * 150 + "DIFF"
    k = 6
    truth = _lcs_via_suffix_array(a, b)
    assert _anchored_lcs(a, b, _all_anchors(a, b, k), k) == truth
    # a fake anchor whose k-grams do NOT match (hash collision stand-in)
    # must be ignored, not extended
    assert _anchored_lcs("abcdefgh", "ABCDEFGH", [{"pos_a": 0, "pos_b": 0}], 4) == 0


def test_anchor_cap_bounds_within_doc_repetition(spark):
    """Round-3 verdict fix: a gram repeated r times WITHIN each of two docs
    yields r² anchors for that one pair unless capped.  Plant exactly that
    (a 60-char 'q' run → ~53 occurrences of one print per doc) PLUS a true
    shared block of distinct grams, and check (a) the anchor list shrinks
    by orders of magnitude under the cap, (b) the block's lcs_len stays
    EXACT — its prints occur once per doc, untouched by the cap."""
    cfg = CascadeConfig(winnow_k=8, winnow_w=9, min_common_substring=16,
                        max_bucket_size=50)
    rng = random.Random(5)
    block = "SHARED BLOCK " * 8            # 104 chars of distinct grams
    run = "q" * 60                         # one gram, ~53 occurrences

    def body():
        return "".join(rng.choice("abcdefg ") for _ in range(120))

    rows = [
        (0, body() + run + body() + block + body()),
        (1, body() + run + body() + block + body()),
    ]
    docs = spark.createDataFrame(rows, "id long, norm string")
    fps = add_fingerprints_pos(docs, "norm", cfg)

    def max_anchors(cap):
        pairs = fingerprint_anchor_pairs(
            fps, "id", "fps_pos", cfg, template_filter=True,
            max_occ_per_doc=cap,
        )
        return pairs.select(F.max(F.size("anchors"))).first()[0], pairs

    uncapped_n, _ = max_anchors(0)
    capped_n, capped_pairs = max_anchors(4)
    assert uncapped_n >= 1000, uncapped_n          # the blow-up is real
    assert capped_n <= 100, capped_n               # ...and the cap kills it
    # exactness survives: the true LCS is the 104-char block (> the 60-char
    # run), and its once-per-doc prints are untouched by the cap
    got = {
        (r["id_a"], r["id_b"]): r["lcs_len"]
        for r in verify_long_substring_anchored(
            capped_pairs, docs, "id", "norm", cfg
        ).collect()
    }
    truth = _lcs_via_suffix_array(rows[0][1], rows[1][1])
    assert truth >= len(block)
    assert got == {(0, 1): truth}


def test_anchored_spark_path_matches_gram_set_path(spark):
    """Full pipeline-shaped comparison on planted shared blocks: positional
    prints → anchor pairs → anchored verify must produce exactly the same
    (id_a, id_b, lcs_len) rows as the non-positional gram-set path."""
    cfg = CascadeConfig(winnow_k=8, winnow_w=9, min_common_substring=16,
                        max_bucket_size=50)
    rng = random.Random(3)
    block = "SHARED BLOCK " * 8  # 104 chars, well over min_common_substring
    rows = []
    for i in range(30):
        body = "".join(rng.choice("abcdefg ") for _ in range(rng.randint(80, 200)))
        if i % 3 == 0:  # plant the block in every third doc
            cut = rng.randint(0, len(body))
            body = body[:cut] + block + body[cut:]
        rows.append((i, body))
    docs = spark.createDataFrame(rows, "id long, norm string")

    fps_old = add_fingerprints(docs, "norm", cfg)
    cand_old = fingerprint_candidate_pairs(
        fps_old, "id", "fingerprints", cfg, template_filter=True
    )
    want = {
        (r["id_a"], r["id_b"], r["lcs_len"])
        for r in verify_long_substring(cand_old, docs, "id", "norm", cfg).collect()
    }

    fps_new = add_fingerprints_pos(docs, "norm", cfg)
    cand_new = fingerprint_anchor_pairs(fps_new, "id", "fps_pos", cfg,
                                        template_filter=True)
    got = {
        (r["id_a"], r["id_b"], r["lcs_len"])
        for r in verify_long_substring_anchored(
            cand_new, docs, "id", "norm", cfg
        ).collect()
    }
    assert want, "planted blocks must produce pairs"
    assert got == want
