"""Checkpointed stage sinks with validated resume + per-partition lineage.

Reference semantics: every stage writes its output and is skipped on re-run
if the output exists (os.path.exists guards,
Regional_Run_Files/data_matching.py:47-73, data_processing.py:168,274 —
SURVEY S9), and checkpoints are INVALIDATED when their inputs change (the
reference's ClearFiles, setup.py:57-98).  Here the same contract,
Spark-shaped:

- each stage writes atomically to <root>/<stage>/ as parquet, or — when a
  registered Iceberg catalog is passed and the runtime jar is on the
  classpath — as an Iceberg table via `createOrReplace` (atomic snapshot
  swap), with the committed snapshot_id recorded in `_state` and lineage
  drawn from Iceberg's own `.files` metadata table (tests/test_iceberg.py;
  the test skips in this sandbox, which bundles no runtime jar);
- resume is token-validated, not existence-only: every stage dir carries a
  `_cascade_token` = sha256(pipeline fingerprint : stage name).  Re-running
  with a different --input or config changes the fingerprint, so every
  stage recomputes instead of silently serving stale data; deleting one
  stage dir recomputes exactly that stage (the deterministic recompute
  re-produces the same token, so downstream stages stay valid).  What a
  stage computes from its upstream stages is fixed by the code, so the
  token needs no upstream part: it does not depend on which other stages
  ran, or in what order — toggling the substring pass invalidates nothing,
  and independent stages may run() concurrently from a thread pool;
- a `_state` parquet table records (stage, n_rows, wall_s) per completed
  stage — the `_pipeline_state` analogue;
- a `_lineage` parquet table records per-output-file row counts per stage
  (north_rule: "per-partition lineage + metrics").  Counts come from the
  parquet FOOTERS of the just-written files — metadata only, zero data
  re-scan (the previous implementation re-scanned each stage output twice;
  at 100 TB that triples stage I/O).

Resume contract is pytest-covered: tests/test_resume.py (unit) and the
subprocess spark-submit round trip in tests/test_resume.py::test_job_resume.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession


class StageStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        fingerprint: str = "",
        iceberg_catalog: str | None = None,
        namespace: str = "cascade_stages",
    ):
        """iceberg_catalog: name of a registered Iceberg catalog (see
        session.enable_iceberg_catalog).  When set, stages are Iceberg
        tables written with createOrReplace (atomic snapshot swap) and the
        _state row records the committed snapshot id; `root` still holds
        the token files and the _state/_lineage parquet.  Requires the
        iceberg-spark-runtime jar (session.iceberg_available)."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.catalog = iceberg_catalog
        self.namespace = namespace
        if iceberg_catalog is not None:
            from ..session import iceberg_available

            if not iceberg_available(spark):
                raise RuntimeError(
                    "iceberg_catalog requested but no iceberg-spark-runtime "
                    "jar is on the classpath (add --packages "
                    "org.apache.iceberg:iceberg-spark-runtime-<ver>)"
                )
            spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {iceberg_catalog}.{namespace}"
            )
        self._fingerprint = fingerprint  # input identity + config
        self.computed: list[str] = []   # stages computed (not resumed) this run
        # concurrent run() calls write distinct stage dirs, but share the
        # _state/_lineage append tables: two appending jobs share
        # <table>/_temporary and the first commit deletes it
        self._lock = threading.Lock()
        os.makedirs(self.root, exist_ok=True)

    def _path(self, stage: str) -> str:
        return f"{self.root}/{stage}"

    def _ident(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}"

    def _token_path(self, stage: str) -> str:
        if self.catalog:
            return os.path.join(self.root, f"{stage}._cascade_token")
        return os.path.join(self._path(stage), "_cascade_token")

    def exists(self, stage: str) -> bool:
        if self.catalog:
            return self.spark.catalog.tableExists(self._ident(stage))
        return os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def _valid(self, stage: str, expected: str) -> bool:
        """Stage output present AND produced under the same token."""
        if not self.exists(stage):
            return False
        try:
            with open(self._token_path(stage)) as f:
                return f.read().strip() == expected
        except OSError:
            return False

    def _footer_counts(self, path: str) -> list[tuple[str, int]]:
        """(file, n_rows) per output part from parquet footers — metadata
        only.  Falls back to one Spark scan for non-local filesystems."""
        try:
            import pyarrow.parquet as pq

            out = []
            for name in sorted(os.listdir(path)):
                if name.endswith(".parquet"):
                    out.append(
                        (name, pq.ParquetFile(os.path.join(path, name)).metadata.num_rows)
                    )
            return out
        except (OSError, ImportError):
            from pyspark.sql import functions as F

            rows = (
                self.spark.read.parquet(path)
                .groupBy(F.input_file_name().alias("f"))
                .count()
                .collect()
            )
            return [(r["f"], r["count"]) for r in rows]

    def _write_iceberg(self, stage: str) -> tuple[list[tuple[str, int]], int | None]:
        """(per-file lineage, snapshot_id) from Iceberg's own metadata
        tables — like the parquet-footer path, zero data re-scan."""
        ident = self._ident(stage)
        per_file = [
            (r["file_path"], int(r["record_count"]))
            for r in self.spark.sql(
                f"SELECT file_path, record_count FROM {ident}.files"
            ).collect()
        ]
        snap = self.spark.sql(
            f"SELECT snapshot_id FROM {ident}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return per_file, (int(snap[0]["snapshot_id"]) if snap else None)

    def write(self, stage: str, df: DataFrame, token: str | None = None) -> DataFrame:
        t0 = time.time()
        snapshot_id = None
        if self.catalog:
            # atomic snapshot swap: readers see the old table until commit
            df.writeTo(self._ident(stage)).using("iceberg").createOrReplace()
            per_file, snapshot_id = self._write_iceberg(stage)
        else:
            path = self._path(stage)
            df.write.mode("overwrite").parquet(path)
            per_file = self._footer_counts(path)
        n = sum(c for _, c in per_file)
        lineage = self.spark.createDataFrame(
            [(stage, f, c) for f, c in per_file],
            "stage string, part string, n_rows long",
        )
        state = self.spark.createDataFrame(
            [(stage, n, time.time() - t0, snapshot_id)],
            "stage string, n_rows long, wall_s double, snapshot_id long",
        )
        with self._lock:
            lineage.write.mode("append").parquet(f"{self.root}/_lineage")
            state.write.mode("append").parquet(f"{self.root}/_state")
        if token is not None:
            with open(self._token_path(stage), "w") as f:
                f.write(token)
        return self.read(stage)

    def read(self, stage: str) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(self._ident(stage))
        return self.spark.read.parquet(self._path(stage))

    def run(self, stage: str, fn) -> DataFrame:
        """Compute-or-resume with invalidation: resume only when the stage's
        recorded token matches sha256(fingerprint:stage); otherwise
        recompute and overwrite.  Safe to call from several threads for
        distinct stages."""
        expected = hashlib.sha256(f"{self._fingerprint}:{stage}".encode()).hexdigest()
        if self._valid(stage, expected):
            return self.read(stage)
        with self._lock:
            self.computed.append(stage)
        return self.write(stage, fn(), token=expected)

    def state(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/_state")

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/_lineage")
