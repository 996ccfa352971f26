"""The benchmark's two workloads and their correctness checks.

Every workload runs over a corpus from ``corpus.synth_corpus_df`` whose
shape is fixed per workload and size; the run seed only picks the crawl
seed URLs and the page sample used by the in-process checks. Each call
goes through a public engine entry point and ends with one Spark action
that counts the result and hashes it, so the timed region includes
materialising the output.

Why these two (see BENCHMARK.json for the one-line versions); each
optimisation the ROADMAP plans has one workload that exercises it and
one that bypasses it:

- ``extract_bulk``: one ``extract_corpus`` pass over the whole cached
  corpus. No rounds, no shuffles; the extraction kernel does nearly all
  the work, so a faster parse (direction 4) moves it and cheaper crawl
  rounds (direction 1) do not.
- ``crawl_durable``: a polite crawl (5 slots per host per round) with
  robots rules, salted politeness, dedup and a parquet ``TableIO`` state
  committed every round. Rounds admit tens to a few hundred pages, so
  each round's fixed cost (Spark jobs, Python tasks over mostly empty
  corpus partitions, commits) dominates and the kernel sits idle:
  direction 1 moves it, direction 4 does not, and seen-state changes
  (direction 3) must hold it steady.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

SPEC = {"payload": "div", "links": ["a@href"]}
FOLLOW = "li > a"
N_HOSTS = 64
DISALLOW_PREFIX = "/p/1"
ROBOTS_TXT = "User-agent: *\nDisallow: /p/1*\n"


@dataclass(frozen=True)
class Shape:
    pages: int        # corpus pages (5 KB each: weight=60 filler)
    partitions: int   # corpus partitions (fixed: sets per-round task count)
    seeds: int        # crawl seed URLs per host
    rounds: int       # crawl rounds per call
    concurrency: int  # politeness slots per host per round
    sample: int       # pages checked / probed in-process


SHAPES = {
    "full": {
        "extract_bulk": Shape(4000, 16, 0, 0, 0, 48),
        "crawl_durable": Shape(2000, 8, 2, 2, 5, 48),
    },
    # the harness self-test: every code path, a few seconds per call
    "tiny": {
        "extract_bulk": Shape(400, 8, 0, 0, 0, 8),
        "crawl_durable": Shape(400, 8, 1, 2, 2, 8),
    },
}

# ROADMAP directions each workload is meant to show or to hold steady
DIRECTIONS = {
    "extract_bulk": "direction 4 (selector-aware parse) moves it; "
                    "direction 1 (round sized to the fetch) must not",
    "crawl_durable": "direction 1 moves it; direction 4 must not; "
                     "direction 3 (delete unused seen backends) must not "
                     "regress it",
}


@dataclass
class CallResult:
    """What one timed workload call returns to the harness."""
    wall_s: float
    digest: str
    fetched: int
    parsed: int
    errors: int
    start_ms: float
    end_ms: float
    round_ends_ms: list[float] = field(default_factory=list)
    visit_meta: list[dict] = field(default_factory=list)
    metric_rows: list[dict] = field(default_factory=list)
    state_bytes: int = 0
    state_files: int = 0


def digest_of(records):
    """(row count, order-independent digest of (url, value_json)) in one
    Spark action: the sum of per-row 64-bit hashes, summed exactly as a
    decimal so it cannot overflow."""
    from pyspark.sql import functions as F
    row = records.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("url", "value_json").cast("decimal(38,0)"))
        .alias("h")).first()
    n = int(row["n"])
    return n, f"{n}:{int(row['h'] or 0)}"


def state_size(root: str) -> tuple[int, int]:
    total = files = 0
    for d, _, names in os.walk(root):
        for name in names:
            total += os.path.getsize(os.path.join(d, name))
            files += 1
    return total, files


class Workload:
    name = ""

    def __init__(self, shape: Shape, workdir: str):
        self.shape = shape
        self.workdir = workdir
        self.pages = None
        self._calls = 0

    # -- set-up --------------------------------------------------------
    def setup(self, spark) -> None:
        """Synthesize and cache the corpus (plus workload inputs)."""
        from osmospark.corpus import synth_corpus_df
        s = self.shape
        self.pages = synth_corpus_df(
            spark, s.pages, n_hosts=N_HOSTS, intra_links=4, cross_links=2,
            weight=60, partitions=s.partitions).cache()
        self.pages.count()

    def warm(self, spark) -> None:
        """One untimed call: starts the Python workers and compiles the
        JVM code of the call's plans."""
        self.call(spark)

    def choose(self, urls: list[str], seed: int) -> None:
        """Pick this run's seed URLs and page sample from the corpus."""
        rng = random.Random(seed)
        self.sample_urls = sorted(rng.sample(urls, self.shape.sample))
        self.seed_urls = self.pick_seeds(urls, rng)

    def pick_seeds(self, urls, rng) -> list[str]:
        return []

    # -- the timed call ------------------------------------------------
    def call(self, spark) -> CallResult:
        raise NotImplementedError

    # -- correctness checks outside the engine -------------------------
    def check(self, spark, res: CallResult) -> list[str]:
        """Return failed-check messages for one call (empty = passed)."""
        return []


class ExtractBulk(Workload):
    name = "extract_bulk"

    def call(self, spark) -> CallResult:
        from osmospark.frontier import FrontierEngine
        w0 = time.time()
        t0 = time.perf_counter()
        out = FrontierEngine(spark, self.pages).extract_corpus(SPEC)
        n, dig = digest_of(out)
        wall = time.perf_counter() - t0
        pages = self.shape.pages
        # one root record per page: a page without one failed extraction
        return CallResult(wall, dig, pages, n, pages - n,
                          w0 * 1000, time.time() * 1000)

    def check(self, spark, res: CallResult) -> list[str]:
        """A seeded page sample, extracted by Spark through
        ``extract_corpus`` and in-process through ``make_crawl_udf`` on a
        pandas batch, must give identical value_json."""
        import pandas as pd
        from pyspark.sql import functions as F
        from osmospark.extract import make_crawl_udf
        from osmospark.frontier import FrontierEngine
        sample = self.pages.filter(F.col("url").isin(self.sample_urls))
        got = {r["url"]: r["value_json"] for r in FrontierEngine(
            spark, sample).extract_corpus(SPEC).collect()}
        rows = sample.select("url", "html").collect()
        pdf = kernel_batch(rows)
        ref = pd.concat(list(make_crawl_udf(SPEC, None)(iter([pdf]))))
        ref = ref[ref["row_kind"] == "root"]
        want = dict(zip(ref["url"], ref["value_json"]))
        bad = [u for u in self.sample_urls if got.get(u) != want.get(u)]
        if len(want) != len(self.sample_urls) or bad:
            return [f"extract_bulk: {len(bad)} of {len(self.sample_urls)} "
                    "sampled pages differ from the in-process kernel"]
        return []


def kernel_batch(rows) -> "pd.DataFrame":
    """The pandas batch the crawl UDF receives for fetched pages."""
    import pandas as pd
    from osmospark.urlnorm import url_host, xxhash64_py
    urls = [r["url"] for r in rows]
    n = len(urls)
    return pd.DataFrame({
        "url": urls,
        "url_hash": [xxhash64_py(u.encode()) for u in urls],
        "host": [url_host(u) for u in urls],
        "depth": [0] * n,
        "referer": [None] * n,
        "html": [bytes(r["html"]) for r in rows],
        "page_status": [200] * n,
        "content_type": ["text/html"] * n,
    })


class CrawlDurable(Workload):
    """A polite, stateful crawl: every seed host gets ``concurrency``
    fetch slots per round, robots rules drop ``/p/1*``, and seen, records
    and frontier are committed to a fresh parquet ``TableIO`` each round,
    with the metrics table read back at the end."""
    name = "crawl_durable"

    def setup(self, spark) -> None:
        from osmospark.frontier.politeness import compile_robots
        hosts = [f"host{h:04d}.test" for h in range(N_HOSTS)]
        self.robots = compile_robots(spark.createDataFrame(
            [(h, ROBOTS_TXT) for h in hosts],
            "host string, robots_txt string")).cache()
        self.robots.count()
        super().setup(spark)

    def pick_seeds(self, urls, rng) -> list[str]:
        """``seeds`` random robots-allowed pages of every host, so every
        seed is admitted and round 0 has the same size for every seed."""
        by_host: dict[str, list[str]] = {}
        for u in urls:
            host, path = u.split("/", 3)[2], "/" + u.split("/", 3)[3]
            if not path.startswith(DISALLOW_PREFIX):
                by_host.setdefault(host, []).append(u)
        return [u for h in sorted(by_host)
                for u in rng.sample(sorted(by_host[h]), self.shape.seeds)]

    def call(self, spark) -> CallResult:
        from osmospark.frontier import FrontierEngine
        from osmospark.tableio import TableIO
        if self._calls:
            shutil.rmtree(self.state_root(), ignore_errors=True)
        self._calls += 1
        state = TableIO(self.state_root(), spark)
        eng = FrontierEngine(spark, self.pages, state, dedup=True,
                             politeness=True, politeness_salt_buckets=4,
                             concurrency=self.shape.concurrency,
                             robots_df=self.robots)
        ends: list[float] = []
        eng.on_round_end = lambda meta: ends.append(time.time() * 1000)
        w0 = time.time()
        t0 = time.perf_counter()
        records, meta = eng.run_crawl(
            self.seed_urls, FOLLOW, extract_spec=SPEC,
            max_depth=self.shape.rounds, max_rounds=self.shape.rounds)
        _, dig = digest_of(records)
        metric_rows = [r.asDict()
                       for r in state.read_all("metrics").collect()]
        wall = time.perf_counter() - t0
        res = CallResult(
            wall, dig,
            sum(r["fetched"] for r in metric_rows),
            sum(r["parsed"] for r in metric_rows),
            sum(r["errors"] for r in metric_rows),
            w0 * 1000, time.time() * 1000, ends, meta, metric_rows)
        res.state_bytes, res.state_files = state_size(state.root)
        self.last_records = records
        return res

    def state_root(self) -> str:
        return os.path.join(self.workdir, f"state{self._calls}")

    def check(self, spark, res: CallResult) -> list[str]:
        """No host fetches more than its slots in a round, and no record
        lies under the robots Disallow rule."""
        from pyspark.sql import functions as F
        fails = [f"crawl_durable: host {r['host']} fetched {r['fetched']} "
                 f"pages in round {r['round']} "
                 f"(> {self.shape.concurrency} slots)"
                 for r in res.metric_rows
                 if r["fetched"] > self.shape.concurrency]
        path = F.parse_url(F.col("url"), F.lit("PATH"))
        bad = self.last_records.filter(
            path.startswith(DISALLOW_PREFIX)).count()
        if bad:
            fails.append(f"crawl_durable: {bad} records under the robots "
                         f"Disallow {DISALLOW_PREFIX}*")
        return fails[:3]


WORKLOADS = {w.name: w for w in (ExtractBulk, CrawlDurable)}
