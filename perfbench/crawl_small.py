"""crawl_small: a simweb crawl through the engine's own round code.

200 seeds, budget 150, image bytes on and the ``run_crawl`` defaults (Bloom
off, so the seen check is the exact full scan). One iteration runs
``init_from_seeds``, one round, ``CrawlRunner.resume`` on a fresh object,
then one more round, and checks ordering, the seen set and the corpus
against ``oracle/crawler.py`` at 2 rounds, across the resume.

Each round fetches 150 URLs, so the per-round fixed cost dominates: Spark
job launches, the seven commit chains (frontier compaction fires every round
at this size) and the checkpoint.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from perfbench.sparkenv import CORES
from perfbench.summary import median, timing_line

# below every round's eligible supply (>= 200 seeds in round 1, >300 URLs
# after), so each round fetches exactly BUDGET URLs whatever the seed
BUDGET = 150
ROUNDS_BEFORE_RESUME = 1
ROUNDS_AFTER_RESUME = 1
POLITENESS_CLASSES = 12
ROUND_TABLES = (
    "frontier", "seen", "corpus", "ordering", "crawl_log", "host_touch",
    "bloom_shards",
)


def _stratified_hosts(rng: random.Random, n_hosts: int, n: int) -> list[int]:
    """n distinct host ids, spread evenly over the 12 politeness classes
    (simweb: tokens = 2 + id % 4, delay = 1 + id % 3), in random order. Every
    seed then draws the same politeness mix, which keeps the URLs a crawl
    fetches within a few percent across seeds."""
    out: list[int] = []
    for r in range(POLITENESS_CLASSES):
        cls = range(r, n_hosts, POLITENESS_CLASSES)
        out += rng.sample(cls, n // POLITENESS_CLASSES + (r < n % POLITENESS_CLASSES))
    rng.shuffle(out)
    return out


@contextmanager
def _no_span(name: str):
    yield {"name": name, "attrs": {}}


class CrawlSmall:
    name = "crawl_small"

    def __init__(self, run_dir: str, seed: int, toy: bool):
        from paperchase_crawler_spark import simweb

        rng = random.Random(seed)
        n_seeds, n_warm = (20, 5) if toy else (200, 10)
        hosts = _stratified_hosts(rng, simweb.HOSTS, n_seeds)
        self.seeds = [f"https://{simweb.host_name(z)}/page/0" for z in hosts]
        warm_hosts = rng.sample(range(simweb.HOSTS), n_warm)
        self.warm_seeds = [f"https://{simweb.host_name(z)}/page/0" for z in warm_hosts]
        self.work = os.path.join(run_dir, "work")
        self.spark = None
        self.oracle = None
        self.round_s: dict[bool, list[float]] = {False: [], True: []}
        self.urls_per_s: dict[bool, list[float]] = {False: [], True: []}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # (iteration, round) -> outlinks extracted, from the committed crawl_log
        self.outlinks: dict[tuple[int, int], int] = {}

    # -- set-up ------------------------------------------------------------------

    def reference(self) -> None:
        """The oracle crawl the engine must equal (pure Python, untimed)."""
        from oracle.crawler import crawl

        self.oracle = crawl(
            self.seeds, ROUNDS_BEFORE_RESUME + ROUNDS_AFTER_RESUME, BUDGET
        )

    def prepare(self) -> float:
        """Per-iteration input preparation: a fresh, empty work directory."""
        t0 = time.perf_counter()
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        return time.perf_counter() - t0

    def warm_up(self, spark) -> None:
        """Untimed: a small crawl through init, one round and resume (resume
        itself launches no Spark job)."""
        from paperchase_crawler_spark.plans.crawl import CrawlRunner

        self.spark = spark
        wd = os.path.join(self.work, "warm")
        runner = CrawlRunner(spark, wd, BUDGET)
        runner.init_from_seeds(self.warm_seeds)
        runner.run_round()
        CrawlRunner.resume(spark, wd)
        shutil.rmtree(wd)

    # -- measured iteration --------------------------------------------------------

    def iteration(self, it: int, tracer) -> float:
        """One init → rounds → resume → rounds pass; returns its wall time."""
        from paperchase_crawler_spark.plans.crawl import CrawlRunner

        span = tracer.span if tracer is not None else _no_span
        traced = tracer is not None
        wd = os.path.join(self.work, f"it{it}")
        urls = 0
        t0 = time.perf_counter()
        try:
            runner = CrawlRunner(self.spark, wd, BUDGET)
            self.attempted += 1
            with span("crawl.init_from_seeds"):
                runner.init_from_seeds(self.seeds)
            for _ in range(ROUNDS_BEFORE_RESUME):
                urls += self._round(runner, span, traced)
            self.attempted += 1
            with span("crawl.resume"):
                runner = CrawlRunner.resume(self.spark, wd)
            for _ in range(ROUNDS_AFTER_RESUME):
                urls += self._round(runner, span, traced)
        except Exception:
            self.failed += 1
            self.failures.append(f"iteration {it} raised")
            traceback.print_exc(file=sys.stderr)
            return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        self.urls_per_s[traced].append(urls / wall)
        self._check(runner, it)
        if traced:
            for sid in runner.crawl_log.snapshot_ids():
                meta = runner.crawl_log.snapshot(sid)["meta"]
                if meta.get("partitions"):
                    self.outlinks[(it, meta["round"])] = sum(
                        p["n_outlinks"] for p in meta["partitions"]
                    )
        shutil.rmtree(wd)
        return wall

    def _round(self, runner, span, traced: bool) -> int:
        self.attempted += 1
        t0 = time.perf_counter()
        with span("crawl.run_round") as rec:
            out = runner.run_round()
        self.round_s[traced].append(time.perf_counter() - t0)
        rec["attrs"].update(out)
        return out["n_selected"]

    def _check(self, runner, it: int) -> None:
        """Ordering, seen set and corpus rows must equal the oracle's."""
        o = self.oracle
        order = [
            (r["seq"], r["round"], r["canon_url"])
            for r in runner.ordering_df().orderBy("seq").collect()
        ]
        seen = {r["url_hash"] for r in runner.seen_df().select("url_hash").collect()}
        corpus = {
            r["image_id"]: (r["caption"], r["phash"], r["w"], r["h"], r["fmt"])
            for r in runner.corpus_df()
            .select("image_id", "caption", "phash", "w", "h", "fmt")
            .collect()
        }
        want = {
            c["image_id"]: (c["caption"], c["phash"], c["w"], c["h"], c["fmt"])
            for c in o.corpus
        }
        bad = [
            name
            for name, ok in (
                ("ordering", order == o.ordering),
                ("seen", seen == o.seen),
                ("corpus", len(corpus) == len(o.corpus) and corpus == want),
            )
            if not ok
        ]
        if bad:
            # every round fed the mismatching tables
            self.failed += ROUNDS_BEFORE_RESUME + ROUNDS_AFTER_RESUME
            self.failures.append(f"iteration {it}: {', '.join(bad)} != oracle")

    def check(self) -> None:
        """Nothing left to check: each iteration was checked as it ended."""

    def fixture_files(self) -> dict[str, int]:
        """The seed list is the whole input; no fixture files."""
        return {}

    # -- results ---------------------------------------------------------------------

    def step_samples(self, traced: bool) -> list[float]:
        return self.round_s[traced]

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return {
            "step_s": (median(self.round_s[False]), "s"),
            "throughput_per_s": (median(self.urls_per_s[False]), "1/s"),
        }

    def report(self) -> list[str]:
        return [
            timing_line("round_s", self.round_s[False]),
            f"  {'crawl_urls_per_s':<22} median={median(self.urls_per_s[False]):.2f} 1/s"
            f"  n={len(self.urls_per_s[False])}",
        ]

    def per_layer(self, tracer, jobs: dict) -> dict[str, float]:
        spans = tracer.spans
        by_id = {s["id"]: s for s in spans}

        def dur(s):
            return s["end"] - s["start"]

        def round_of(s):
            p = s["parent"]
            while p is not None:
                if by_id[p]["name"] == "crawl.run_round":
                    return p
                p = by_id[p]["parent"]
            return None

        def subtree(s, key):
            return sum(jobs.get(g, {}).get(key, 0) for g in tracer.subtree_groups(s["id"]))

        rounds = [s for s in spans if s["name"] == "crawl.run_round"]
        acc: dict[int, dict[str, float]] = {r["id"]: defaultdict(float) for r in rounds}
        fallbacks = 0
        for s in spans:
            rid = round_of(s)
            if rid is None:
                continue
            a, name, d = acc[rid], s["name"], dur(s)
            at = s["attrs"]
            if name.startswith("icetable."):
                a[f"icetable.{at['table']}.commit_s"] += d
                a["files_added"] += at["files_added"]
                a["metadata_bytes"] += at["metadata_bytes"]
                if at["op"] == "compaction":
                    a["compactions"] += 1
                    a["compact_s"] += d
                    a["bytes_rewritten"] += at["bytes_written"]
                else:
                    a["bytes_appended"] += at["bytes_written"]
            elif name == "select_frontier_round":
                info = at["info"]
                a["select_s"] += d
                a["select_jobs"] += subtree(s, "jobs")
                a["rows_scanned_frac"] = (
                    info["est_rows_scanned"] / info["total_queued"]
                    if info.get("total_queued") else 1.0
                )
                fallbacks += bool(info.get("fallback"))
            elif name == "filter_new":
                a["seen_filter_s"] += d
                a["files_read"] += at["files_read"]
                a["buckets_read_frac"] = 1.0  # the exact path reads every bucket
            elif name == "filter_new_bucketed":
                info = at["info"]
                a["seen_filter_s"] += d
                a["files_read"] += info["files_read"]
                a["buckets_read_frac"] = info["suspect_buckets"] / info["total_buckets"]
            elif name == "seen.bloom_build":
                a["bloom_build_s"] += d
            elif name == "with_global_rank":
                # the take-ordered path's lazy localCheckpoint still plans
                # its input, and AQE runs the shuffle stages below it to do
                # so; the final sort-and-rank stage runs later, in
                # expand_seen's state-count job
                a["rank_s"] += d
                a["rank_jobs"] += subtree(s, "jobs")

        per_round = []
        for r in rounds:
            a, out = acc[r["id"]], r["attrs"]
            a["jobs"] = subtree(r, "jobs")
            a["core_busy"] = subtree(r, "task_ms") / 1000 / (dur(r) * CORES)
            for ph in ("select", "fetch_meta", "expand_seen", "commit"):
                a[f"phase_{ph}"] = out.get("phase_sec", {}).get(ph, 0.0)
            fm = a["phase_fetch_meta"]
            a["fetch_urls_per_s"] = out["n_selected"] / fm if fm else 0.0
            cs = a["icetable.corpus.commit_s"]
            a["fetch_images_per_s"] = out["n_images"] / cs if cs and out["n_images"] else 0.0
            per_round.append(a)

        new_frac = []
        for r in rounds:
            n = self.outlinks.get((r["iteration"], r["attrs"]["round"]))
            if n:
                new_frac.append(r["attrs"]["n_new"] / n)

        def med(key):
            return median([a[key] for a in per_round])

        appended = sum(a["bytes_appended"] for a in per_round)
        rewritten = sum(a["bytes_rewritten"] for a in per_round)
        out = {
            "crawl.init_s": median([dur(s) for s in spans if s["name"] == "crawl.init_from_seeds"]),
            "crawl.resume_s": median([dur(s) for s in spans if s["name"] == "crawl.resume"]),
            "crawl.select_s": med("phase_select"),
            "crawl.fetch_meta_s": med("phase_fetch_meta"),
            "crawl.expand_seen_s": med("phase_expand_seen"),
            "crawl.commit_s": med("phase_commit"),
            "crawl.jobs_per_round": med("jobs"),
            "crawl.core_busy_frac": med("core_busy"),
            "select.s": med("select_s"),
            "select.jobs": med("select_jobs"),
            "select.rows_scanned_frac": med("rows_scanned_frac"),
            "select.fallbacks": fallbacks / max(1, len(rounds)),
            "icetable.compactions": med("compactions"),
            "icetable.compact_s": med("compact_s"),
            "icetable.files_added": med("files_added"),
            "icetable.bytes_appended": med("bytes_appended"),
            "icetable.bytes_rewritten": med("bytes_rewritten"),
            "icetable.write_amp": rewritten / appended if appended else 0.0,
            "icetable.metadata_bytes": med("metadata_bytes"),
            "fetch.urls_per_s": med("fetch_urls_per_s"),
            "fetch.images_per_s": med("fetch_images_per_s"),
            "seen.filter_s": med("seen_filter_s"),
            "seen.bloom_build_s": med("bloom_build_s"),
            "seen.buckets_read_frac": med("buckets_read_frac"),
            "seen.files_read": med("files_read"),
            "expand.new_frac": median(new_frac),
            "rank.s": med("rank_s"),
            "rank.jobs": med("rank_jobs"),
        }
        for t in ROUND_TABLES:
            out[f"icetable.{t}.commit_s"] = med(f"icetable.{t}.commit_s")
        return out

    def max_task_groups(self, tracer) -> set[str]:
        """Longest-task lookups cost one REST call per stage; the crawl
        metrics do not use them."""
        return set()
