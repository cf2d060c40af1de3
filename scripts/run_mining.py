"""spark-submit entrypoint for the co-location mining pipeline.

Usage (local example; on a cluster swap --master and add executors):

    bash scripts/make_pyfiles.sh        # builds dist/engine_pyfiles.zip
    spark-submit --master 'local[32]' \
        --py-files dist/engine_pyfiles.zip \
        scripts/run_mining.py \
        --input /root/reference/data/sample_data.csv --format csv \
        --distance 5 --min-prevalence 0.6 \
        --output /tmp/colocation_out \
        [--checkpoint-dir /tmp/ckpt] [--resume] [--max-k 4] \
        [--cell-size C] [--salt-threshold N] [--salt-buckets B]

Inputs: ``--format csv`` (reference CSV layout), ``--format parquet``
(instance table ``feature,id,x,y``), or ``--format images`` (image+caption
table; instances derived with payload verification).  Outputs: a parquet
pattern table plus a text report mirroring the reference's results.txt
(src/main.cpp:84-122 fields: config echo, instance count, wall time,
pattern count, numbered canonical pattern list).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

# location-proof import: under spark-submit the engine arrives via
# --py-files; run standalone, the package sits next to scripts/
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--format", choices=["csv", "parquet", "images"], default="csv")
    ap.add_argument("--distance", type=float, required=True)
    ap.add_argument("--min-prevalence", type=float, required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--max-k", type=int, default=None)
    ap.add_argument("--cell-size", type=float, default=None)
    ap.add_argument("--salt-threshold", type=int, default=50_000)
    ap.add_argument("--salt-buckets", type=int, default=8)
    ap.add_argument("--tiles", action="store_true", help="also write per-cell tile counts")
    ap.add_argument(
        "--plan",
        choices=["levelwise", "subtree", "auto"],
        default="auto",
        help="physical mining plan: level-wise, Algorithm-3 per-subtree "
        "(concurrent feature-rooted loops), or auto (measured-best by "
        "input size; on --resume follows the existing checkpoint layout). "
        "Both plans support --checkpoint-dir/--resume.",
    )
    args = ap.parse_args()
    if args.resume and not args.checkpoint_dir:
        # without manifests to read, every plan would silently remine
        # from scratch — refuse loudly instead
        ap.error("--resume requires --checkpoint-dir")

    # under spark-submit the session already exists; standalone it is built
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("colocation-mining").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.cells import (
        compute_bounds,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.stars import (
        feature_rank,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.tiles import (
        tile_counts,
    )

    if args.format == "csv":
        from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.sources.csv_source import (
            load_instances_csv,
        )

        instances = load_instances_csv(spark, args.input)
    elif args.format == "parquet":
        instances = spark.read.parquet(args.input).select("feature", "id", "x", "y")
    else:
        from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.sources.image_table import (
            derive_instances,
            read_image_table,
        )

        instances = derive_instances(read_image_table(spark, args.input))

    cfg = eng.ColocationConfig(
        neighbor_distance=args.distance,
        min_prevalence=args.min_prevalence,
        max_pattern_size=args.max_k,
        cell_size=args.cell_size,
        salt_threshold=args.salt_threshold,
        salt_buckets=args.salt_buckets,
        checkpoint_dir=args.checkpoint_dir,
    )

    instances = instances.persist()
    n_instances = instances.count()
    t0 = time.time()
    miner = eng.ColocationMiner(spark, cfg)
    if args.plan == "subtree":
        res = miner.mine_subtrees(instances, resume=args.resume)
    elif args.plan == "auto":
        res = miner.mine_auto(
            instances, resume=args.resume, n_instances=n_instances
        )
    else:
        res = miner.mine(instances, resume=args.resume)
    wall = time.time() - t0

    os.makedirs(args.output, exist_ok=True)
    res.patterns_df(spark).write.mode("overwrite").parquet(
        os.path.join(args.output, "patterns.parquet")
    )
    if args.tiles:
        grid = compute_bounds(instances, cfg.effective_cell_size())
        tile_counts(instances, grid).write.mode("overwrite").parquet(
            os.path.join(args.output, "tiles.parquet")
        )

    # Report layout mirrors the reference's results.txt field-for-field
    # (src/main.cpp:88-122: header, dataset/config echo, execution time at
    # 3 dp, peak memory, pattern count, numbered "[i] {A, B}" list).  Peak
    # memory is the driver's peak RSS (the reference reports the Windows
    # PeakWorkingSetSize; ru_maxrss is the Linux equivalent).
    import resource

    peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
    rank = feature_rank(res.counts)
    rendered = res.render(rank)
    with open(os.path.join(args.output, "results.txt"), "w") as f:
        f.write("=== FINAL REPORT ===\n")
        f.write(f"Dataset Path:      {args.input}\n")
        f.write(f"Total Instances:   {n_instances}\n")
        f.write(f"Neighbor Distance: {args.distance}\n")
        f.write(f"Min Prevalence:    {args.min_prevalence}\n")
        f.write("----------------------------------------\n")
        f.write(f"Execution Time: {wall:.3f} s\n")
        f.write(f"Peak Memory Usage: {peak_mb} MB\n")
        f.write(f"Patterns Found: {len(rendered)}\n")
        f.write("----------------------------------------\n")
        if rendered:
            for i, p in enumerate(rendered, 1):
                f.write(f"[{i}] {p}\n")
        else:
            f.write("No patterns found.\n")
        # engine-side extras the reference does not have (kept below the
        # reference-parity block so diffs against results.txt stay aligned)
        f.write("----------------------------------------\n")
        f.write(f"neighbor_pairs={res.pair_count}\n")
        f.write(f"delta={res.delta:.5f}\nplan={args.plan}\n")
    print(
        f"mined {len(rendered)} patterns from {n_instances} instances "
        f"({res.pair_count} pairs) in {wall:.1f}s -> {args.output}"
    )


if __name__ == "__main__":
    sys.exit(main())
