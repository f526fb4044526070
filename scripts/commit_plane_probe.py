"""Commit-plane probe: metadata behavior of N delta rounds at bench scale.

Round-4's manifest sharding claims commits write O(touched buckets) metadata
and snapshot size stays O(buckets) regardless of accumulated files. The
pytest pins it at toy scale (tests/test_icetable.py); this probe evidences
it at the bench fixture's scale (2M rows, 128 buckets): it copies the
fixture, then runs N rounds of {select → state transitions + synthetic new
URLs → append_bucketed_delta → per-bucket tiered partial compaction (the
crawl's rule: IceTable.buckets_over_file_limit)},
printing per round the delta rows, commit wall time, manifest bytes written,
touched-bucket count, and snap-N.json size.

Usage: python scripts/commit_plane_probe.py [--rounds 8] [--budget 50000]
       [--files-per-bucket 8]
Prints one JSON line at the end (suitable for BASELINE.md / SURVEY quotes).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--budget", type=int, default=50_000)
    ap.add_argument("--files-per-bucket", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from paperchase_crawler_spark.operators.frontier_select import (
        compacted_frontier,
        compute_frontier_zones,
        frontier_bucket_col,
        select_frontier_round,
    )
    from paperchase_crawler_spark.sources.icetable import IceTable
    from scripts.bench_scaling import fixture_path, gen_frontier

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("commit-plane-probe")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "32g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    src = fixture_path(os.path.join(REPO, "BENCH", "fixtures"),
                       2_000_000, 400_000, 64, 2)
    gen_frontier(src, 2_000_000, 400_000, 64, 2, spark=spark)
    work = tempfile.mkdtemp(prefix="commit_probe_")
    table = os.path.join(work, "frontier")
    shutil.copytree(src, table)
    tbl = IceTable(table)
    nb, salts, max_tokens = 64, 2, 8

    hosts = 400_000
    hs = spark.range(hosts).select(
        F.concat(F.lit("host"), F.col("id"), F.lit(".example")).alias("host"),
        F.lit(1).alias("crawl_delay_rounds"),
        (2 + F.col("id") % 4).cast("int").alias("tokens_per_round"),
        F.lit(-1000000).alias("last_round"),
    )

    def zone_fn(files):
        return compute_frontier_zones(spark, files, max_tokens)

    cols = [
        "canon_url", "url_hash", "host", "depth", "disc_seq",
        "priority", "state", "round_disc", "round_done",
    ]
    next_seq = 2_000_000
    rounds_out = []
    for r in range(1, args.rounds + 1):
        t0 = time.time()
        ranked, info = select_frontier_round(
            spark, tbl, hs, r, args.budget, max_tokens, salts
        )
        sel = ranked.select(*[c for c in cols if c not in ("state", "round_done")])
        updated = (
            sel.withColumn("state", F.lit("fetched"))
            .withColumn("round_done", F.lit(r).cast("int"))
            .select(*cols)
        )
        n_new = args.budget // 2
        new = spark.range(next_seq, next_seq + n_new).select(
            F.concat(F.lit("https://host"), F.col("id") % hosts,
                     F.lit(".example/p"), F.col("id")).alias("canon_url"),
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
            F.concat(F.lit("host"), F.col("id") % hosts, F.lit(".example")).alias("host"),
            F.lit(2).cast("int").alias("depth"),
            F.col("id").alias("disc_seq"),
            F.lit(-2.0).alias("priority"),
            F.lit("queued").alias("state"),
            F.lit(r).alias("round_disc"),
            F.lit(None).cast("int").alias("round_done"),
        )
        next_seq += n_new
        delta = updated.unionByName(new.select(*cols))
        staged = (
            delta.withColumn("__rev", F.lit(tbl._next_sid()).cast("int"))
            .withColumn("__fb", frontier_bucket_col(nb, salts))
            .repartition(nb * salts, F.col("__fb"))
            .sortWithinPartitions("depth", "disc_seq")
        )
        t_sel = time.time() - t0
        t0 = time.time()
        tbl.append_bucketed_delta(staged, meta={"round": r}, zone_fn=zone_fn)
        t_commit = time.time() - t0
        row = {
            "round": r,
            "tau": info.get("tau"),
            "scanned_buckets": info.get("scanned_buckets"),
            "t_select_s": round(t_sel, 2),
            "t_commit_s": round(t_commit, 2),
            "touched_buckets": tbl.last_touched_buckets,
            "manifest_bytes": tbl.last_manifest_bytes,
            "snap_bytes": tbl.last_snap_bytes,
            "data_bytes": tbl.last_commit_bytes,
        }
        compacted = False
        hot = tbl.buckets_over_file_limit(args.files_per_bucket)
        if hot:
            t0 = time.time()
            merged = compacted_frontier(
                spark, tbl, next_rev=tbl._next_sid(), buckets=hot
            )
            tbl.overwrite_buckets_partial(
                merged, hot, meta={"op": "compaction"}, zone_fn=zone_fn
            )
            row["t_compact_s"] = round(time.time() - t0, 2)
            row["compact_touched"] = tbl.last_touched_buckets
            compacted = True
        row["compacted"] = compacted
        rounds_out.append(row)
        print(json.dumps(row), flush=True)

    retained = tbl.expire_snapshots(keep_last=3)
    n_manifests = len(os.listdir(tbl.manifest_dir))
    summary = {
        "metric": "commit_plane_probe",
        "rounds": rounds_out,
        "snap_bytes_first": rounds_out[0]["snap_bytes"],
        "snap_bytes_last": rounds_out[-1]["snap_bytes"],
        "snapshots_expired": retained,
        "manifests_after_retention": n_manifests,
        "total_rows": tbl.snapshot()["total_rows"],
    }
    print(json.dumps(summary), flush=True)
    shutil.rmtree(work)
    spark.stop()


if __name__ == "__main__":
    main()
