"""spark-submit entry point for the dedup pipeline.

    spark-submit --py-files cascade.zip project_cascade_spark/jobs/dedup_job.py \
        --input <parquet path | iceberg table | synth:N> \
        --workdir /tmp/cascade_run --report

The reference's CLI analogue: runfile.py's argparse entry
(/root/reference/runfile.py:77-118,257-261).  Stages checkpoint through a
StageStore in --workdir, so re-running the same command resumes from the
last completed stage (reference resume semantics, data_matching.py:47-73).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def input_fingerprint(input_arg: str, preset: str, cfg) -> str:
    """Identity of (input data, config) for resume invalidation (reference
    ClearFiles semantics, setup.py:57-98).  For a local path the digest
    covers file names/sizes/mtimes, so editing the input in place also
    invalidates; synth inputs are deterministic so the spec string is
    enough."""
    import hashlib
    import os

    h = hashlib.sha256(f"{input_arg}|{preset}|{cfg!r}".encode())
    if os.path.isdir(input_arg):
        # recursive walk: partitioned parquet nests part files in subdirs,
        # and editing one in place changes no top-level name/size/mtime —
        # every file's relative path + size + mtime must feed the digest
        # for the "editing the input invalidates" contract to hold.
        for dirpath, dirnames, filenames in sorted(os.walk(input_arg)):
            dirnames.sort()
            rel = os.path.relpath(dirpath, input_arg)
            for name in sorted(filenames):
                st = os.stat(os.path.join(dirpath, name))
                h.update(f"{rel}/{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    elif os.path.isfile(input_arg):
        st = os.stat(input_arg)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="cascade near-dup pipeline")
    p.add_argument("--input", default=None,
                   help="parquet path, iceberg table, or synth:<n_files> "
                        "(required except with --compact-to)")
    p.add_argument("--workdir", default=None,
                   help="stage-store root (enables checkpoint/resume)")
    p.add_argument("--master", default=None, help="spark master override")
    p.add_argument("--preset", default="code", choices=["code", "default"])
    p.add_argument("--no-substring-pass", action="store_true")
    p.add_argument("--append", action="store_true",
                   help="treat --input as a NEW batch and fold it into the "
                        "existing run in --workdir: only the batch is "
                        "shingled, candidates are restricted to pairs "
                        "touching a new file, clustering reruns over the "
                        "merged edge set, and the merged corpus is promoted "
                        "as the next epoch of the workdir (idempotent: "
                        "re-appending the same batch is a no-op)")
    p.add_argument("--compact-to", default=None, metavar="NEWDIR",
                   help="LSM compaction: merge --workdir's base + delta "
                        "epochs into a fresh epoch-0 workdir at NEWDIR "
                        "(source untouched — crash-safe), then exit")
    p.add_argument("--configs", default=None,
                   help="comma-separated JSON band-config files: sweep the "
                        "cascade filter over each and report the best "
                        "(reference runfile.py's outermost config loop)")
    p.add_argument("--report", action="store_true",
                   help="print a one-line JSON run report")
    args = p.parse_args(argv)

    from project_cascade_spark.config import CODE_CONFIG, DEFAULT_CONFIG
    from project_cascade_spark.plans.pipeline import dedup_pipeline
    from project_cascade_spark.session import build_session
    from project_cascade_spark.sources.sinks import StageStore, stage_records
    from project_cascade_spark.sources.tables import load_code_files

    cfg = CODE_CONFIG if args.preset == "code" else DEFAULT_CONFIG
    if args.input is None and not args.compact_to:
        p.error("--input is required (except with --compact-to)")
    # flag-compatibility guards: modes that would silently IGNORE a flag
    # the user passed must say so (round-4 ADVICE) — error when the flag
    # asks for work the mode cannot do, warn when it merely restates an
    # auto-detected decision
    if args.compact_to and args.append:
        p.error("--compact-to and --append are mutually exclusive")
    if args.configs and (args.append or args.compact_to):
        p.error("--configs runs a band-config sweep over a full pipeline "
                "run; it is not supported with --append/--compact-to")
    if args.no_substring_pass and (args.append or args.compact_to):
        print(
            "warning: --no-substring-pass is ignored here — append/compact "
            "auto-detect substring maintenance from the base run's stages "
            "(a substring-maintaining base keeps maintaining the pass)",
            file=sys.stderr,
        )
    if args.compact_to and args.input:
        p.error("--compact-to takes no --input (it merges --workdir's "
                "existing epochs; nothing new is read)")
    spark = build_session("cascade-dedup", master=args.master)
    t0 = time.time()

    if args.compact_to:
        if not args.workdir:
            p.error("--compact-to requires --workdir (the source to compact)")
        from project_cascade_spark.plans.append import compact

        rep = compact(spark, args.workdir, args.compact_to, cfg)
        if args.report:
            print(json.dumps({**rep, "wall_s": round(time.time() - t0, 2)}))
        spark.stop()
        return 0

    if args.input.startswith("synth:"):
        from project_cascade_spark.datagen import generate_code_files

        pdf, _truth = generate_code_files(int(args.input.split(":", 1)[1]))
        df = load_code_files(spark, pdf)
    else:
        df = load_code_files(spark, args.input)

    if args.append:
        if not args.workdir:
            p.error("--append requires --workdir (the base run to fold into)")
        from project_cascade_spark.plans.append import append_batch

        res = append_batch(df, cfg, args.workdir)
        from pyspark.sql import functions as F

        stats = res.assignments.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        ).crossJoin(res.edges.agg(F.count(F.lit(1)).alias("n_edges"))).first()
        n_substr = (
            res.substring_pairs.count()
            if res.substring_pairs is not None else None
        )
        wall = time.time() - t0
        if args.report:
            print(json.dumps({
                "files": stats["n_files"],
                "clusters": stats["n_clusters"],
                "dup_edges": stats["n_edges"],
                "substring_pairs": n_substr,
                "new_files": res.n_new,
                "skipped_existing": res.n_skipped,
                "epoch": res.epoch,
                "wall_s": round(wall, 2),
            }))
        spark.stop()
        return 0

    store = None
    if args.workdir:
        store = StageStore(
            spark, args.workdir,
            fingerprint=input_fingerprint(args.input, args.preset, cfg),
        )
        # pin the chain's config in the workdir so a later --append or
        # --compact-to with a different preset errors instead of silently
        # re-filtering under the wrong geometry
        from project_cascade_spark.plans.append import write_config_marker

        write_config_marker(args.workdir, cfg)
    res = dedup_pipeline(
        df, cfg, store=store, with_substring_pass=not args.no_substring_pass
    )

    # all report counts in ONE action (the assignments sub-tree is the
    # expensive one; count + distinct-count share its single computation,
    # and the edge/substring branches interleave in the same job instead
    # of paying three more flat job tails)
    from pyspark.sql import functions as F

    stats = res.assignments.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    ).crossJoin(res.edges.agg(F.count(F.lit(1)).alias("n_edges")))
    if res.substring_pairs is not None:
        stats = stats.crossJoin(
            res.substring_pairs.agg(F.count(F.lit(1)).alias("n_substr"))
        )
    row = stats.first()
    n_files, n_clusters, n_edges = row["n_files"], row["n_clusters"], row["n_edges"]
    n_substr = row["n_substr"] if res.substring_pairs is not None else 0

    sweep_report = None
    if args.configs:
        import os

        from project_cascade_spark.operators.cascade_filter import (
            parse_band_config,
            sweep_band_configs,
        )

        configs = []
        for path in args.configs.split(","):
            with open(path) as fh:
                configs.append(parse_band_config(
                    json.load(fh),
                    default_name=os.path.splitext(os.path.basename(path))[0],
                ))
        sweep_stats, best = sweep_band_configs(
            res.edges, df, "file_id", F.length("content"), configs
        )
        if store:
            # durable per-config stats table, resumed like any other stage;
            # the sweep's own identity (the config set) goes into the stage
            # NAME — the store fingerprint covers (input, preset, pipeline
            # config) only, and a different --configs list must recompute,
            # not resume a stale table
            import hashlib

            sweep_id = hashlib.sha256(
                json.dumps(configs, sort_keys=True).encode()
            ).hexdigest()[:12]
            stats_df = sweep_stats
            sweep_stats = store.run(f"09_config_sweep_{sweep_id}", lambda: stats_df)
        sweep_report = {
            "configs": [name for name, _ in configs],
            "best_config": best.first()["best_config"],
            "stats": [r.asDict() for r in sweep_stats.collect()],
        }

    wall = time.time() - t0
    if args.report:
        print(json.dumps({
            "files": n_files,
            "clusters": n_clusters,
            "dup_edges": n_edges,
            "substring_pairs": n_substr,
            "wall_s": round(wall, 2),
            "files_per_sec": round(n_files / wall, 1),
            "resumable": bool(args.workdir),
            "computed_stages": store.computed if store else None,
            "stages": [{k: v for k, v in r.items() if k != "parts"}
                       for r in stage_records(args.workdir)] if store else None,
            "config_sweep": sweep_report,
        }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
