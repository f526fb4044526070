"""corpus_ops: the 11 training-data driver queries over ``documents`` and
``embeddings``, each written to the noop sink.

The inputs are a row sample, drawn by the workload seed, of the sf0.1
``documents`` (5000 rows) and ``embeddings`` (2000 rows) tables of the
repository's test data, copied byte for byte into ``perfbench/data``. The
sample keeps every near-duplicate group whole, so it has the full tables'
near-duplicate rate (see README.md for the comparison). The untimed warm-up
collects every query's result and checks it against its DuckDB
``oracle_sql()`` twin on the same files; the timed passes then run the
identical queries to the noop sink.

This workload exercises the dedup, ANN and text operators and bypasses the
crawl path, the frontier select and the table commits entirely.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from perfbench.sparkenv import CORES
from perfbench.summary import median, timing_line

FAMILIES = {
    "dedup": [
        "q_dedup_jaccard", "q_dedup_minhash_lsh", "q_dedup_simhash",
        "q_dedup_image_phash", "q_dedup_clusters",
    ],
    "ann": ["q_ann_bruteforce", "q_ann_lsh", "q_ann_ivf"],
    "text": ["q_text_quality", "q_langid", "q_fingerprint"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
# longest first, so the concurrent warm-up ends with short queries
_SLOWEST = ["q_dedup_clusters", "q_dedup_jaccard", "q_ann_ivf"]
WARM_ORDER = _SLOWEST + [q for q in QUERIES if q not in _SLOWEST]
EMBED_QUERIES = set(FAMILIES["ann"])

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# (documents, embeddings) rows drawn per run: 30% of sf0.1, or sf0.001's
# 500 documents for the smoke test
SAMPLE_ROWS = {False: (1500, 600), True: (500, 200)}
# the pair threshold of the jaccard query, over the same word 3-grams
NEAR_DUP_JACCARD = 0.5


def near_dup_groups(texts: list[str]) -> list[list[int]]:
    """Row indices grouped so that any two rows whose word 3-gram sets
    (single-space tokens, as the dedup operators split them) have Jaccard
    >= NEAR_DUP_JACCARD share a group; every other row is a group alone."""
    import numpy as np

    n = len(texts)
    sizes = np.zeros(n, np.int64)
    by_gram: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        w = t.split(" ")
        grams = {" ".join(w[k:k + 3]) for k in range(len(w) - 2)}
        sizes[i] = len(grams)
        for g in grams:
            by_gram.setdefault(g, []).append(i)
    # every row pair sharing a 3-gram, as a * n + b; the number of times a
    # pair occurs is the size of the two rows' intersection
    by_freq: dict[int, list[list[int]]] = {}
    for ids in by_gram.values():
        if len(ids) > 1:
            by_freq.setdefault(len(ids), []).append(ids)
    pairs = [np.zeros(0, np.int64)]
    for f, lists in by_freq.items():
        rows = np.array(lists, np.int64)
        a, b = np.triu_indices(f, 1)
        pairs.append((rows[:, a] * n + rows[:, b]).ravel())
    keys, inter = np.unique(np.concatenate(pairs), return_counts=True)
    a, b = keys // n, keys % n
    near = inter >= NEAR_DUP_JACCARD * (sizes[a] + sizes[b] - inter)

    parent = list(range(n))

    def root(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for x, y in zip(a[near].tolist(), b[near].tolist()):
        parent[root(x)] = root(y)
    groups: dict[int, list[int]] = {}
    for i in range(n):
        groups.setdefault(root(i), []).append(i)
    return list(groups.values())


def sample_tables(seed: int, n_docs: int, n_vecs: int):
    """(documents, embeddings) row samples as pyarrow tables, a pure function
    of seed. Documents are drawn a near-duplicate group at a time, in a
    seeded order, until ``n_docs`` rows (a few more when the last group
    drawn has several); embeddings row by row. Ids are then renumbered."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(DATA, "documents.parquet"))
    emb = pq.read_table(os.path.join(DATA, "embeddings.parquet"))
    groups = near_dup_groups(docs.column("text").to_pylist())
    rng = random.Random(seed)
    rng.shuffle(groups)
    keep: list[int] = []
    for g in groups:
        if len(keep) >= n_docs:
            break
        keep += g
    vecs = rng.sample(range(emb.num_rows), n_vecs)
    return _renumber(docs.take(sorted(keep)), "doc_id"), _renumber(
        emb.take(sorted(vecs)), "vec_id"
    )


def _renumber(table, id_col: str):
    """Ids 0..n-1 in the sampled rows' original order, dense like the full
    tables': several queries pick rows by id (vec_id < 5, 6 and 8 are the
    ANN queries, LSH planes and IVF centroids; q_dedup_clusters chains
    doc_id to doc_id + 1 in runs of five)."""
    import pyarrow as pa

    i = table.schema.get_field_index(id_col)
    return table.set_column(
        i, table.schema.field(i), pa.array(range(table.num_rows), pa.int64())
    )


def _canon_cell(v):
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if v is None:
        return None
    if isinstance(v, float):
        # + 0.0 folds -0.0 into 0.0: equal values, but their reprs differ
        return "NaN" if math.isnan(v) else round(v, 6) + 0.0
    return v


def result_digest(pdf) -> tuple[list[str], int, str]:
    """(sorted column names, row count, order-insensitive value digest)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_canon_cell(x) for x in row) for row in pdf[cols].itertuples(index=False)),
        key=repr,
    )
    return cols, len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


@contextmanager
def _no_span(name: str):
    yield {"name": name, "attrs": {}}


class CorpusOps:
    name = "corpus_ops"

    def __init__(self, run_dir: str, seed: int, toy: bool):
        self.seed = seed
        self.n_docs, self.n_vecs = SAMPLE_ROWS[toy]
        self.fixture = os.path.join(run_dir, "fixture")
        self.spark = None
        self.queries = None
        self.warm_results: dict[str, object] = {}
        self.pass_s: dict[bool, list[float]] = {False: [], True: []}
        self.family_s: dict[str, list[float]] = {f: [] for f in FAMILIES}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # -- set-up ------------------------------------------------------------------

    def reference(self) -> None:
        """Nothing up front: the DuckDB twins run after the timed passes."""

    def prepare(self) -> float:
        """Per-run input preparation: draw the row sample and write the
        fixture."""
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        os.makedirs(self.fixture, exist_ok=True)
        docs, emb = sample_tables(self.seed, self.n_docs, self.n_vecs)
        self.n_docs, self.n_vecs = docs.num_rows, emb.num_rows
        pq.write_table(docs, os.path.join(self.fixture, "documents.parquet"))
        pq.write_table(emb, os.path.join(self.fixture, "embeddings.parquet"))
        return time.perf_counter() - t0

    def fixture_files(self) -> dict[str, int]:
        return {
            f: os.path.getsize(os.path.join(self.fixture, f))
            for f in sorted(os.listdir(self.fixture))
        }

    def warm_up(self, spark) -> None:
        """Untimed: every query once, four at a time, collecting each result
        for the DuckDB check. Running them concurrently keeps the cold
        (JIT, codegen, worker start) pass to ~21 s instead of ~31 s."""
        import __spark_entry__ as entry

        self.spark = spark
        self.queries = entry.queries()

        def collect(q):
            return self.queries[q](spark, self.fixture).toPandas()

        with ThreadPoolExecutor(CORES) as pool:
            futures = {q: pool.submit(collect, q) for q in WARM_ORDER}
            for q, fut in futures.items():
                self.attempted += 1
                try:
                    self.warm_results[q] = fut.result()
                except Exception:
                    self.failed += 1
                    self.failures.append(f"{q} raised in the checked pass")
                    traceback.print_exc(file=sys.stderr)

    # -- measured iteration --------------------------------------------------------

    def iteration(self, it: int, tracer) -> float:
        """One timed pass over the 11 queries; returns its wall time."""
        span = tracer.span if tracer is not None else _no_span
        traced = tracer is not None
        took: dict[str, float] = {}
        t_iter = time.perf_counter()
        for fam, qs in FAMILIES.items():
            for q in qs:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with span(f"query.{q}") as rec:
                        rec["attrs"]["family"] = fam
                        df = self.queries[q](self.spark, self.fixture)
                        df.write.format("noop").mode("overwrite").save()
                except Exception:
                    self.failed += 1
                    self.failures.append(f"{q} raised in iteration {it}")
                    traceback.print_exc(file=sys.stderr)
                took[q] = time.perf_counter() - t0
        self.pass_s[traced].append(sum(took.values()))
        if not traced:
            for fam, qs in FAMILIES.items():
                self.family_s[fam].append(sum(took[q] for q in qs))
        return time.perf_counter() - t_iter

    # -- checks ----------------------------------------------------------------------

    def check(self) -> None:
        """Each collected result must hash-equal its DuckDB twin."""
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            for t in ("documents", "embeddings"):
                path = os.path.join(self.fixture, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q, pdf in self.warm_results.items():
                got = result_digest(pdf)
                want = result_digest(con.execute(sql[q]).df())
                if got != want:
                    self.failed += 1
                    self.failures.append(
                        f"{q}: {got[1]} rows {got[2][:12]} != duckdb {want[1]} rows {want[2][:12]}"
                    )
        finally:
            con.close()

    # -- results ---------------------------------------------------------------------

    def step_samples(self, traced: bool) -> list[float]:
        return self.pass_s[traced]

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        rows = self.n_docs * (len(QUERIES) - len(EMBED_QUERIES)) + self.n_vecs * len(
            EMBED_QUERIES
        )
        step = median(self.pass_s[False])
        return {
            "step_s": (step, "s"),
            "throughput_per_s": (rows / step if step else 0.0, "1/s"),
        }

    def report(self) -> list[str]:
        lines = [timing_line(f"{f}_s", xs) for f, xs in self.family_s.items()]
        lines.append(timing_line("pass_s", self.pass_s[False]))
        lines.append(f"  input: documents={self.n_docs} rows, embeddings={self.n_vecs} rows")
        return lines

    def per_layer(self, tracer, jobs: dict) -> dict[str, float]:
        acc: dict[str, dict[str, list[float]]] = {}
        for s in tracer.spans:
            if not s["name"].startswith("query."):
                continue
            q = s["name"][len("query."):]
            d = s["end"] - s["start"]
            agg = {"jobs": 0, "task_ms": 0.0, "shuffle_bytes": 0, "max_task_ms": 0.0}
            for g in tracer.subtree_groups(s["id"]):
                j = jobs.get(g)
                if j:
                    agg["jobs"] += j["jobs"]
                    agg["task_ms"] += j["task_ms"]
                    agg["shuffle_bytes"] += j["shuffle_bytes"]
                    agg["max_task_ms"] = max(agg["max_task_ms"], j["max_task_ms"])
            a = acc.setdefault(q, {k: [] for k in ("s", "jobs", "shuffle", "max_task", "busy")})
            a["s"].append(d)
            a["jobs"].append(agg["jobs"])
            a["shuffle"].append(agg["shuffle_bytes"])
            a["max_task"].append(agg["max_task_ms"] / 1000)
            a["busy"].append(agg["task_ms"] / 1000 / (d * CORES))
        out: dict[str, float] = {}
        for fam, qs in FAMILIES.items():
            for q in qs:
                a = acc.get(q, {k: [] for k in ("s", "jobs", "shuffle", "max_task", "busy")})
                out[f"{fam}.{q}_s"] = median(a["s"])
                out[f"{fam}.{q}.jobs"] = median(a["jobs"])
                out[f"{fam}.{q}.shuffle_bytes"] = median(a["shuffle"])
                out[f"{fam}.{q}.max_task_s"] = median(a["max_task"])
                out[f"{fam}.{q}.core_busy_frac"] = median(a["busy"])
        return out

    def max_task_groups(self, tracer) -> set[str]:
        groups: set[str] = set()
        for s in tracer.spans:
            if s["name"].startswith("query."):
                groups |= tracer.subtree_groups(s["id"])
        return groups
