"""Per-bucket tiered compaction and exact zone summaries.

The frontier and seen tables compact a bucket only once it holds more than
``files_per_bucket`` files, so deltas stay on disk for several rounds. The
zone summaries the pruned SELECT plans on must then describe the MERGED
queue, not the sum of files (a base row stays ``queued`` in its file after a
later delta marks it ``fetched``)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from oracle.crawler import crawl as oracle_crawl
from paperchase_crawler_spark import simweb
from paperchase_crawler_spark.plans.crawl import CrawlRunner, run_crawl
from paperchase_crawler_spark.sources.icetable import IceTable

SEEDS = simweb.seed_urls(8)


def _ordering(runner):
    return [
        (r["seq"], r["round"], r["canon_url"])
        for r in runner.ordering_df().orderBy("seq").collect()
    ]


def _seen(runner):
    return {r["url_hash"] for r in runner.seen_df().collect()}


def test_zone_summaries_equal_merged_queue(spark, tmp_path):
    """After every round, Σ summary n_queued and the per-depth depth_hist
    equal the merged frontier's queued rows, while deltas accumulate
    uncompacted under the default tier."""
    runner = CrawlRunner(
        spark, str(tmp_path / "zs"), round_budget=60, with_bytes=False,
        frontier_buckets=16,
    )
    runner.init_from_seeds(simweb.seed_urls(400))
    for r in range(1, 7):
        runner.run_round()
        summ = runner.frontier.bucket_summaries()
        assert all(s["zoned"] for s in summ.values())
        got_hist: Counter = Counter()
        for s in summ.values():
            got_hist.update({int(d): n for d, n in s["depth_hist"].items()})
        want_hist = {
            row["depth"]: row["n"]
            for row in runner.frontier_df()
            .filter(F.col("state") == "queued")
            .groupBy("depth")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        n_queued = sum(s["n_queued"] for s in summ.values())
        assert n_queued == sum(want_hist.values()), f"round {r}"
        assert dict(got_hist) == want_hist, f"round {r}"
        merged_rows = sum(s["merged_rows"] for s in summ.values())
        assert merged_rows == runner.frontier_df().count(), f"round {r}"
    # the default tier kept every round's delta: no compaction happened
    assert "replace" not in {
        runner.frontier.snapshot(s)["op"] for s in runner.frontier.snapshot_ids()
    }


def test_pruned_select_never_falls_back_under_default_tiering(spark, tmp_path):
    """The pruning-engaged 8-round crawl: with deltas left uncompacted the
    planner must still see the true queue, so no round falls back to the
    full scan, and the crawl stays oracle-equal."""
    seeds = simweb.seed_urls(64)
    rounds, budget = 8, 10
    oracle = oracle_crawl(seeds, rounds=rounds, round_budget=budget)
    runner = CrawlRunner(
        spark, str(tmp_path / "pf"), round_budget=budget, with_bytes=False,
        frontier_buckets=4,
    )
    runner.init_from_seeds(seeds)
    infos = []
    for _ in range(rounds):
        runner.run_round()
        infos.append(runner.crawl_log.snapshot()["meta"]["select_pruning"])
    assert all(i["fallback"] is False for i in infos), infos
    assert any(i["tau"] for i in infos), infos  # pruning really engaged
    assert _ordering(runner) == oracle.ordering
    assert _seen(runner) == oracle.seen


def test_summary_unzoned_when_done_exceeds_queued():
    """A delta retiring more rows at a depth than the bucket holds queued
    breaks the exactness invariant: the bucket must be reported unzoned (so
    the planner scans it) rather than clamped to an empty, skippable one."""
    zone = {"n_queued": 2, "min_depth": 0, "min_seq": 0, "n_hosts": 1,
            "depth_hist": {"0": 2}, "sel_hist": {"0": 2}, "done_hist": {}}
    entry = {
        "base": ["b"], "delta": ["d"], "row_counts": {"b": 2, "d": 3},
        "zones": {
            "b": zone,
            "d": {**zone, "n_queued": 0, "depth_hist": {}, "sel_hist": {},
                  "done_hist": {"0": 3}},
        },
    }
    assert IceTable._summarize(entry)["zoned"] is False
    entry["zones"]["d"]["done_hist"] = {"0": 2}
    entry["row_counts"]["d"] = 2
    s = IceTable._summarize(entry)
    assert s["zoned"] and s["n_queued"] == 0 and s["merged_rows"] == 2


def test_rebucket_sizes_on_merged_rows_under_default_tier(spark, tmp_path):
    """Uncompacted deltas hold second versions of fetched rows: the
    re-bucket check must size on merged rows, not on the sum of files, and a
    split under the default tier keeps the crawl oracle-equal across a
    resume."""
    wd = str(tmp_path / "rm")
    runner = CrawlRunner(
        spark, wd, round_budget=120, with_bytes=False, frontier_buckets=2,
    )
    runner.init_from_seeds(SEEDS)
    runner.run(2)
    summ = runner.frontier.bucket_summaries()
    assert all(s["n_delta_files"] for s in summ.values())  # nothing compacted
    most_merged = max(s["merged_rows"] for s in summ.values())
    assert max(s["rows"] for s in summ.values()) > most_merged
    # a target every bucket's MERGED rows fit: no rewrite may happen
    runner.rows_per_bucket_target = most_merged
    sid = runner.frontier.current_snapshot_id()
    runner._maybe_split_buckets()
    assert runner.frontier.current_snapshot_id() == sid
    assert runner.frontier_buckets == 2
    # a target they outgrow: the split happens mid-crawl, crawl stays exact
    runner.rows_per_bucket_target = 40
    runner.run(1)
    assert runner.frontier_buckets > 2
    resumed = CrawlRunner.resume(spark, wd)
    assert resumed.frontier_buckets == runner.frontier_buckets
    assert resumed.files_per_bucket == 8
    resumed.run(1)
    oracle = oracle_crawl(SEEDS, rounds=4, round_budget=120)
    assert _ordering(resumed) == oracle.ordering
    assert _seen(resumed) == oracle.seen


def test_eager_compaction_resume_after_crash(spark, tmp_path):
    """files_per_bucket=1 compacts every touched bucket every round; a crash
    mid-round still rolls back and the resumed crawl is oracle-equal."""
    oracle = oracle_crawl(SEEDS, rounds=3, round_budget=120)
    wd = str(tmp_path / "ec")
    runner = CrawlRunner(
        spark, wd, round_budget=120, with_bytes=False, files_per_bucket=1
    )
    runner.init_from_seeds(SEEDS)
    runner.run(1)
    assert "replace" in {
        runner.frontier.snapshot(s)["op"] for s in runner.frontier.snapshot_ids()
    }
    runner.ordering.append(
        spark.createDataFrame(
            [(999999, 99, "https://junk.example/x")],
            "seq long, round int, canon_url string",
        )
    )
    resumed = CrawlRunner.resume(spark, wd)
    assert resumed.files_per_bucket == 1
    resumed.run(2)
    assert _ordering(resumed) == oracle.ordering
    assert _seen(resumed) == oracle.seen


def test_failed_corpus_chain_leaves_corpus_rows(spark, tmp_path):
    """A commit chain failure aborts the round before its checkpoint; the
    in-memory corpus row counter must not count images that never landed."""
    runner = run_crawl(
        spark, str(tmp_path / "cf"), SEEDS, rounds=1, round_budget=120,
        with_bytes=False,
    )
    before = runner._corpus_rows

    def boom(df, meta=None):
        raise RuntimeError("corpus chain failed")

    runner.corpus.append = boom
    with pytest.raises(RuntimeError, match="corpus chain failed"):
        runner.run_round()
    assert runner._corpus_rows == before
