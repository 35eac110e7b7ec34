"""The benchmark's workloads: inputs made from the seed, the timed
operation, and the output checks.

Every workload is a closed loop with one client (the benchmark's driver
thread): the next operation is issued after the previous one returns.
A workload object owns its Spark work directory and exposes

- ``setup()``: build the starting state (timed as part of ``setup_s``,
  with the ``warmup_ops`` untimed operations that follow it);
- ``prepare(i)``: untimed work before operation ``i`` (choosing churn
  batches from the serial oracle's state);
- ``op(i, span)``: the timed operation; returns its outputs; ``span(name)``
  opens a trace span (a no-op outside traced operations);
- ``check_op(i, out)``: untimed; advances the oracle and compares the
  operation's outputs; returns the failures found;
- ``engine_outputs()`` and ``check_final(got)``: untimed; read the end
  state back and compare digests of it with the oracle.

The sizes below are chosen so that one run of a listed workload (session
start, set-up, a warm-up operation, the timed operations and the checks)
ends in about a minute on a 4-core host; ``scale`` shrinks them for tests.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

from etlpy_spark.crawl.frontier import CrawlConfig, SparkCrawler
from etlpy_spark.sources.synthetic_web import WebConfig, make_url, seed_urls

from perfbench.serial_crawl import SerialCrawl


def digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            fp = os.path.join(dp, fn)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


# -- crawl workloads --------------------------------------------------------


@dataclass
class CrawlShape:
    web: dict
    seeds: str  # "per_host": seed_urls(n_per_host=budget); "universe": every page
    churn: int = 0  # recrawl and forget batch size per operation (0 = none)
    n_shards: int = 16


CRAWL_SHAPES = {
    # Backlogged frontier: many hosts, a politeness budget far below the
    # pending rows, one small image per page over a small universe. Almost
    # every link is new (Bloom-negative short-circuit); imagecodec does
    # little. Every round fetches n_hosts x budget URLs (~1.5k), so rounds
    # do equal work; at this size the per-round fixed cost dominates, and
    # 8 shards (not bench.py's 16) keep a warm-up round and two timed
    # rounds inside the time budget.
    "frontier_steady": CrawlShape(
        web=dict(n_hosts=150, n_cats=4, pages_per_cat=2000, politeness_budget=12,
                 max_links=3, max_images=1, skew_host0=8, image_universe=20_000),
        seeds="per_host",
        n_shards=8,
    ),
    # Few pages, several large forced-PNG images each, a universe so large
    # that refs are unique: decode, pHash and the image write dominate.
    "image_merge": CrawlShape(
        web=dict(n_hosts=16, n_cats=2, pages_per_cat=400, politeness_budget=3,
                 max_links=2, max_images=4, image_universe=10_000_000,
                 dim_scale=4, force_fmt="png"),
        seeds="per_host",
    ),
    # Small web whose link targets wrap; every page is seeded, so probes
    # are mostly positive and the exact anti-join runs. Each operation
    # re-enqueues and forgets a batch before the round: writes and deletes
    # beside reads, tombstones up to compaction, a filter rebuild per
    # round. Per-round fixed cost dominates.
    "recrawl_churn": CrawlShape(
        web=dict(n_hosts=48, n_cats=2, pages_per_cat=24, politeness_budget=6,
                 max_links=3, max_images=1, skew_host0=1, image_universe=3_000),
        seeds="universe",
        churn=48,
        n_shards=8,
    ),
}


def scaled_web(shape: CrawlShape, seed: int, scale: float) -> WebConfig:
    w = dict(shape.web)
    w["n_hosts"] = max(4, int(w["n_hosts"] * scale))
    return WebConfig(seed=seed, **w)


def make_seeds(shape: CrawlShape, web: WebConfig, seed: int) -> list[str]:
    if shape.seeds == "per_host":
        return seed_urls(web, n_per_host=web.politeness_budget)
    urls = [
        make_url(k, c, n)
        for k in range(web.n_hosts)
        for c in range(web.n_cats)
        for n in range(1, web.pages_per_cat + 1)
    ]
    random.Random(seed).shuffle(urls)
    return urls


class CrawlWorkload:
    counters = ("urls", "images")
    op_name = "round"
    # one untimed round finishes the set-up: the first round after seed
    # init runs cold (30-50 % slower than the next ones, and more variable),
    # and on recrawl_churn it fetches the pages the timed rounds recrawl
    # and forget
    warmup_ops = 1

    def __init__(self, spark, name: str, seed: int, scale: float, nproc: int, workdir: str):
        self.spark, self.seed, self.nproc, self.workdir = spark, seed, nproc, workdir
        self.shape = CRAWL_SHAPES[name]
        self.churn = max(1, int(self.shape.churn * scale)) if self.shape.churn else 0
        self.web = scaled_web(self.shape, seed, scale)
        self.seeds = make_seeds(self.shape, self.web, seed)
        self.crawler = None
        self.serial = None
        self.batches: dict[int, tuple[list, list]] = {}

    def config(self) -> CrawlConfig:
        return CrawlConfig(web=self.web, n_shards=self.shape.n_shards,
                           n_buckets=self.nproc, write_metrics=False)

    def setup(self) -> None:
        wd = os.path.join(self.workdir, "crawl")
        self.crawler = SparkCrawler(self.spark, wd, self.config())
        self.crawler.init_from_seeds(self.seeds)
        self.serial = SerialCrawl(self.web)
        self.serial.init_from_seeds(self.seeds)

    def prepare(self, i: int) -> None:
        b = self.churn
        if not b:
            return
        # churn targets: seen and not pending (fetched or robots-blocked
        # earlier), so no target can be rediscovered by a link while it is
        # queued twice
        pending = self.serial.pending()
        cands = sorted(u for u in self.serial.res.seen if u not in pending)
        if not cands:
            return
        rng = random.Random(self.seed * 1_000_003 + i)
        picked = rng.sample(cands, min(2 * b, len(cands)))
        self.batches[i] = (picked[:b], picked[b:])

    def op(self, i: int, span) -> dict:
        out = {}
        if i in self.batches:
            recrawl, forget = self.batches[i]
            out["recrawled"] = self.crawler.recrawl(recrawl)
            out["forgotten"] = self.crawler.forget(forget)
        out["round"] = self.crawler.run_round()
        return out

    def check_op(self, i: int, out: dict) -> list[str]:
        fails = []
        if i in self.batches:
            recrawl, forget = self.batches.pop(i)
            exp = self.serial.recrawl(recrawl)
            if out["recrawled"] != exp:
                fails.append(f"op {i}: recrawl enqueued {out['recrawled']}, oracle {exp}")
            exp = self.serial.forget(forget)
            if out["forgotten"] != exp:
                fails.append(f"op {i}: forget retracted {out['forgotten']}, oracle {exp}")
        exp = self.serial.round()
        got = {k: out["round"].get(k) for k in exp}
        if got != exp:
            fails.append(f"op {i}: round metrics {got} != oracle {exp}")
        return fails

    def count(self, out: dict) -> dict:
        r = out["round"]
        return {"urls": int(r["fetched"]), "images": int(r["new_images"])}

    def engine_outputs(self) -> dict:
        """Crawl log, seen set and image (id, pHash) rows as the engine
        committed them — read after the timed section."""
        cr = self.crawler
        imgs = cr.images.read().select("image_id", "phash").collect()
        return {
            "crawl_log": cr.crawl_log_list(),
            "seen": cr.seen_urls_list(),
            "images": {r.image_id: r.phash for r in imgs},
        }

    def check_final(self, got: dict) -> list[str]:
        return check_crawl_outputs(got, self.serial.res)

    def state_bytes(self) -> int:
        return dir_bytes(self.crawler.workdir)

    def layer_state(self) -> dict:
        """End-state per-layer figures: filter bytes on disk and the
        tombstones not yet compacted away (frontier and seen tables)."""
        cr = self.crawler
        tomb = 0
        for table in (cr.frontier, cr.seen):
            v = table.current_version()
            stats = table.snapshot(v).mor_stats if v is not None else None
            tomb += int((stats or {}).get("tomb", 0))
        filt = dir_bytes(cr.seen_bits.table.path) + dir_bytes(cr.image_bits.table.path)
        return {"crawl.seen.filter_mb": (filt / 1e6, "MB"),
                "sources.catalog.tombstone_rows": (tomb, "count")}


def check_crawl_outputs(got: dict, oracle) -> list[str]:
    """Order-sensitive digest of the crawl log; digests of the seen set and
    of image ids + pHash; each against the serial oracle."""
    fails = []
    log_lines = [f"{s}\t{u}" for s, u in got["crawl_log"]]
    exp_lines = [f"{s}\t{u}" for s, u in oracle.crawl_log]
    if digest(log_lines) != digest(exp_lines):
        n = next((k for k, (a, b) in enumerate(zip(log_lines, exp_lines)) if a != b),
                 min(len(log_lines), len(exp_lines)))
        fails.append(f"crawl log differs from the oracle at row {n} "
                     f"({len(log_lines)} rows vs {len(exp_lines)})")
    if digest(sorted(got["seen"])) != digest(sorted(oracle.seen)):
        fails.append(f"seen set differs ({len(got['seen'])} urls vs {len(oracle.seen)})")
    img = [f"{k}\t{v}" for k, v in sorted(got["images"].items())]
    exp = [f"{k}\t{v['phash']}" for k, v in sorted(oracle.images.items())]
    if digest(img) != digest(exp):
        fails.append(f"image ids/pHash differ ({len(img)} rows vs {len(exp)})")
    return fails


# -- document dedup ---------------------------------------------------------

OFFSET = 100_000  # the near-copy id offset used by the program's driver queries
# doc_id and text of the program's sf0.1 test-data documents table (5000
# rows, 10-100 words each over a 31-word vocabulary)
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents.parquet")


def sample_doc_ids(seed: int, n: int) -> list[int]:
    """``n`` document ids chosen by ``seed``, in ascending order."""
    import pyarrow.parquet as pq

    ids = pq.read_table(DOCUMENTS, columns=["doc_id"]).column(0).to_pylist()
    return sorted(random.Random(seed).sample(ids, min(n, len(ids))))


def load_documents(ids: list[int]):
    """The documents with the given ids, as a pandas frame."""
    import pyarrow.parquet as pq

    pdf = pq.read_table(DOCUMENTS).to_pandas()
    return pdf[pdf.doc_id.isin(set(ids))].sort_values("doc_id").reset_index(drop=True)


def normalize_pairs(df) -> list[tuple]:
    return sorted(
        (int(a), int(b), round(float(j), 6))
        for a, b, j in zip(df["id_a"], df["id_b"], df["jaccard"])
    )


# Exact Jaccard pairs over docs + near copies (the same source and shingle
# definition as the program's oracle SQL for both pair-mining driver
# queries), with the intersection sizes counted through a join on the
# shingle instead of list_intersect over all n^2 document pairs.
JACCARD_SQL = f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + {OFFSET}, text || ' zzz' FROM documents
), words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM src
), sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM words, unnest(generate_series(1, len(w) - 2)) t(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT id_a, id_b, CAST(k AS DOUBLE) / (na.n + nb.n - k) AS j
  FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
)
SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM jac WHERE j >= 0.6
"""


def oracle_pairs(docs, sql: str = JACCARD_SQL) -> list[tuple]:
    """Run the exact pair oracle in DuckDB over the generated documents."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("documents", docs)
        return normalize_pairs(con.execute(sql).df())
    finally:
        con.close()


N_DOCS = 200


class DedupWorkload:
    counters = ("docs",)
    op_name = "op"
    # a first pass compiles code and starts Python workers that every later
    # pass reuses (15-25 s on 4 cores); one untimed pass over the same
    # documents pays it as part of the set-up
    warmup_ops = 1

    def __init__(self, spark, name: str, seed: int, scale: float, nproc: int, workdir: str):
        self.spark = spark
        self.ids = sample_doc_ids(seed, max(50, int(N_DOCS * scale)))
        self.n = len(self.ids)
        self._expected = None

    def setup(self) -> None:
        """Read the sampled documents through Spark and add the near copies
        the driver queries add."""
        from pyspark.sql import functions as F

        d = self.spark.read.parquet(DOCUMENTS).select("doc_id", "text")
        docs = d.filter(F.col("doc_id").isin(self.ids))
        copies = docs.select((F.col("doc_id") + OFFSET).alias("doc_id"),
                             F.concat(F.col("text"), F.lit(" zzz")).alias("text"))
        self.docs = docs.unionByName(copies)

    def prepare(self, i: int) -> None:
        # both operators persist their candidate pairs and leave them
        # cached; without this every pass after the first would read the
        # previous pass's candidates instead of mining them
        self.spark.catalog.clearCache()

    def op(self, i: int, span) -> dict:
        """Both pair-mining queries, each forced by its collect inside the
        layer's span (the operators are lazy: building the DataFrame alone
        runs almost nothing)."""
        from etlpy_spark.operators import dedup as dd

        with span("operators.dedup.minhash_lsh_pairs"):
            mh = dd.minhash_lsh_pairs(self.docs, k=64, bands=32, n=3, threshold=0.6).toPandas()
        with span("operators.dedup.ngram_jaccard_pairs"):
            ng = dd.ngram_jaccard_pairs(self.docs, n=3, threshold=0.6).toPandas()
        return {"minhash": normalize_pairs(mh), "ngram": normalize_pairs(ng)}

    def check_op(self, i: int, out: dict) -> list[str]:
        if self._expected is None:
            self._expected = oracle_pairs(load_documents(self.ids))
        return check_pairs(out, self._expected, i)

    def count(self, out: dict) -> dict:
        return {"docs": 2 * self.n}  # docs + near copies

    def engine_outputs(self) -> dict:
        return {}

    def check_final(self, got: dict) -> list[str]:
        return []

    def state_bytes(self) -> int:
        """Bytes of the blocks the last pass left persisted (the operators'
        candidate pairs), in memory and on disk."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)

    def layer_state(self) -> dict:
        return {}


def check_pairs(out: dict, expected: list[tuple], i: int) -> list[str]:
    fails = []
    exp = set(expected)
    for q in ("minhash", "ngram"):
        got = out[q]
        if got != expected:
            missing, extra = len(exp - set(got)), len(set(got) - exp)
            fails.append(f"op {i}: {q} pairs differ from the DuckDB oracle "
                         f"({missing} missing, {extra} extra, {len(got)} vs {len(expected)})")
    return fails


WORKLOADS = {
    **{name: CrawlWorkload for name in CRAWL_SHAPES},
    "doc_dedup": DedupWorkload,
}
