"""project_cascade_spark — a from-scratch PySpark-native near-duplicate
detection + clustering engine.

Re-expresses the clean → block/match → cluster → assign → cascade-filter →
stats pipeline of the reference (spendnetwork/Project_Cascade, read-only at
/root/reference) with idiomatic Spark: DataFrame/SQL expressions for
everything Catalyst can optimize, Arrow-batched pandas UDFs for the numeric
kernels (MinHash permutations, SimHash bit-counting, winnowing rolling
hashes), and iterative DataFrame joins (large-star/small-star) for connected
components.  No per-row Python UDFs anywhere in the hot path.

Layout
------
config.py                shared constants (hash prime, permutation params,
                         LSH geometry) — single source of truth used by the
                         Spark expressions, the pandas UDF kernels AND the
                         DuckDB oracle SQL generator, so they cannot drift.
functions/               column-level builders (normalization, shingling,
                         hashing) + pandas UDF kernels.
operators/               dataflow stages: minhash_lsh, simhash, suffix
                         (winnowing / long-common-substring), verify
                         (Jaccard), connected_components, assign,
                         cascade_filter, dedup, similarity, textstats.
sources/                 schema-pinned readers + checkpointed sinks with a
                         stage-state table (resume semantics of the
                         reference's os.path.exists guards,
                         reference: Regional_Run_Files/data_matching.py:47-73).
plans/                   end-to-end pipeline orchestration, incremental
                         batch append and compaction.
datagen.py               deterministic code_files generator with planted
                         near-dup groups (ground truth for recall tests).
oracle.py                DuckDB-dialect SQL generators mirroring every
                         operator, for the driver's correctness gate.
_zipimport.py            stat guard on zipimporter.invalidate_caches: stops
                         each Python worker task re-reading pyspark.zip.
"""

from . import _zipimport  # noqa: F401  (installs the worker-side zip cache guard)

__version__ = "0.1.0"
