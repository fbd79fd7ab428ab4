"""Benchmark workloads: a generated corpus, a crawl configuration, the
crawl legs to run on it, and the simulator's expected result.

Every input is a pure function of the workload and the ``--seed``
argument, which is passed to ``datagen`` as the corpus seed. The engine
sees only the generated corpus, seeds and rules; the crawl is driven
through the public API (``run_crawl`` / ``resume_crawl``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Optional, Set, Tuple

from go_crawler_spark.config import CrawlConfig
from go_crawler_spark.datagen import generate_corpus_dict, generate_pages_df, page_url

# a seed missing from the corpus (row-preserving skip path)
DEAD_SEED = "https://big.example.com/deadseed.html"
# statuses of rows that reached the fetcher (robots blocks never do)
FETCH_STATUSES = ("ok", "skipped_download")


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    branching: int
    words: Tuple[int, int]
    cfg: CrawlConfig
    # None: every page of the corpus is a seed, handed to the engine as a
    # DataFrame (the distributed seed path); else the seed URL list
    seeds: Optional[Tuple[str, ...]] = None
    robots: Tuple[Tuple[str, str], ...] = ()  # (host, disallow_prefix)
    max_rounds: int = 1000
    # rounds run_crawl runs before resume_crawl restores the crawl from
    # the checkpoint and runs the rest; None = a single run_crawl leg
    resume_after: Optional[int] = None


def workloads(nproc: int) -> Dict[str, Workload]:
    parts = dict(shuffle_partitions=nproc, frontier_buckets=nproc)
    ws = [
        # one BFS round over every page of a heavy corpus: the fetch join,
        # parse UDF, bloom prefilter, large enqueue path and checkpoint
        # bytes are per-row work; one round of driver overhead. 1,600 seeds
        # put the round on the large enqueue path (frontier * 64 rows =
        # 102,400 > operators.sequence.SMALL_INPUT_ROWS)
        Workload(
            name="frontier_bulk",
            n_pages=1600,
            branching=16,
            words=(800, 1600),
            cfg=CrawlConfig(
                max_count=4 * 1600,
                bloom_min_seen_rows=0,
                seeds_unique=True,
                **parts,
            ),
            max_rounds=1,
        ),
        # one round from 32 seeds, then resume_crawl restores the crawl
        # from its checkpoint. The per-host slot limit defers some of the
        # seeds of the host that owns half the pages, and robots rules block
        # others. Per-round driver coordination, politeness (salted windows,
        # robots), the small enqueue path and checkpoint restore dominate;
        # the seen filter keeps its default gate, so it stays dormant
        Workload(
            name="crawl_polite_resume",
            n_pages=40,
            branching=3,
            words=(250, 500),
            cfg=CrawlConfig(max_count=4 * 40, host_slots_per_round=5, **parts),
            seeds=tuple(page_url(i) for i in range(32)) + (DEAD_SEED,),
            robots=(("big.example.com", "/p1"), ("alpha.example.org", "/p2")),
            max_rounds=1,
            resume_after=1,
        ),
    ]
    return {w.name: w for w in ws}


def build_corpus(spark, w: Workload, seed: int):
    """The workload's corpus as a cached DataFrame (materialized)."""
    pages = generate_pages_df(
        spark, w.n_pages, seed=seed, branching=w.branching, words=w.words
    ).cache()
    pages.count()
    return pages


def crawl(spark, pages, w: Workload, workdir: str, timing: Optional[dict] = None):
    """Run the workload's crawl legs; returns the CrawlResult of the last
    leg and the seen-filter audit of all legs."""
    from pyspark.sql import functions as F

    from go_crawler_spark.plans.crawl import resume_crawl, run_crawl

    robots = (
        spark.createDataFrame(list(w.robots), "host string, disallow_prefix string")
        if w.robots else None
    )
    if w.seeds is not None:
        seeds = list(w.seeds)
    else:
        seeds = pages.filter(F.col("text") != "").select("url")
    first = w.max_rounds if w.resume_after is None else w.resume_after
    res = run_crawl(spark, pages, seeds, w.cfg, robots=robots, workdir=workdir,
                    max_rounds=first, timing=timing)
    audit = list(res.seen_filter)
    if w.resume_after is not None:
        res = resume_crawl(spark, pages, w.cfg, workdir, robots=robots,
                           max_rounds=w.max_rounds, timing=timing)
        audit += res.seen_filter
    return res, audit


@dataclass
class Tables:
    """A crawl's outcome as comparable row sets."""

    schedule: Set[tuple]  # (url, kind, depth, seq)
    fetched: Set[tuple]   # (url, round, status)
    seen: Set[str]

    def mismatched_rows(self, other: "Tables") -> int:
        return (len(self.schedule ^ other.schedule)
                + len(self.fetched ^ other.fetched)
                + len(self.seen ^ other.seen))


def engine_tables(res) -> Tuple[Tables, list, list]:
    """Collect a CrawlResult; also returns the raw schedule and fetched
    rows for the politeness counts."""
    sched = res.schedule.select("url", "kind", "depth", "seq", "enqueue_round").collect()
    fetched = res.fetched.select("url", "kind", "host", "round", "status").collect()
    tables = Tables(
        schedule={(r.url, r.kind, r.depth, r.seq) for r in sched},
        fetched={(r.url, r["round"], r.status) for r in fetched},
        seen={r.url for r in res.seen.collect()},
    )
    return tables, sched, fetched


def expected(w: Workload, seed: int) -> Tuple[Tables, Dict[str, bytes]]:
    """The simulator's result for the workload on ``seed``, cut to the
    rounds the engine runs, and the corpus as a url -> bytes dict."""
    from go_crawler_spark.simulator import simulate

    corpus = generate_corpus_dict(w.n_pages, seed, w.branching, w.words)
    if w.seeds is None:
        # the engine admits DataFrame seeds in (xxhash64(url), url) order
        from tools.xxh64 import xxh64_str

        urls = [page_url(i) for i in range(w.n_pages)]
        seeds = sorted(urls, key=lambda u: (xxh64_str(u), u))
    else:
        seeds = list(w.seeds)
    sim = simulate(corpus, seeds, w.cfg, robots=list(w.robots) or None)
    # rounds 0..R-1 fetch; their children are enqueued for rounds 1..R.
    # The budgets are large enough that no URL is refused, so the seen set
    # of a cut crawl is its enqueued URLs.
    last = w.max_rounds
    items = [it for it in sim.schedule if it.enqueue_round <= last]
    tables = Tables(
        schedule={(it.url, it.kind, it.depth, it.seq) for it in items},
        fetched={(it.url, it.fetch_round, it.status) for it in items
                 if 0 <= it.fetch_round < last},
        seen=(sim.seen if last >= len(sim.metrics)
              else {it.url for it in items}),
    )
    return tables, corpus
