"""Pure helpers of the benchmark: the op mix, the job sequence, the
latency percentile rule and failure accounting.

Nothing here imports Spark, so the benchmark's own tests run without a
JVM.
"""

from __future__ import annotations

import math
import random
import statistics
from dataclasses import dataclass, field

# The sweep mix: a stratified sample of MIX_SIZE registry queries with
# operator modules (and ``pipelines``) as strata, allocated in
# proportion to module size by largest remainder -- the eight draws fall
# on the eight largest modules, which hold 175 of the 249 queries (ties
# between equal-sized modules go by name). Within a module the pick is
# its cheapest query that builds an artifact or tier entry when that
# costs 2 s or less on a cold store, else its lower-quartile query by
# cold cost (sf0.01, local[4] on a 4-core host). One exception: dedup's
# cheapest builder, lsh_quality_eval, took 12.8-15.7 s of a 28-34 s
# pass in a fresh process and alone moved ops/s by 17 % between
# identical runs, so dedup contributes its lower-quartile query.
#
# The sample and its order are fixed rather than drawn per seed. A pass
# over the mix takes 15-40 s and per-query cold cost spans 0.1-24 s, so a fresh
# draw per seed moved ops/s and the median op latency by 15-40 %
# between seeds; and in a fresh JVM an op's latency depends on its
# position (the first op pays up to 6 s of JIT and Python-worker start,
# lsh_quality_eval took 7.5-16.9 s across four seeded orders), so even
# a seeded order moved the median op latency by 2.5x. The sweep runs
# the mix in this order; the seed draws the job stream of jobs-mixed.
MIX_SIZE = 8
MIX: tuple[tuple[str, str], ...] = (
    ("analyze", "doc_length_histogram"),
    ("dedup", "simhash_fingerprints"),
    ("multimodal", "media_phash"),
    ("quality", "gopher_quality_flags"),
    ("relational", "orders_priority_grouping_sets"),
    ("similarity", "kmeans_refine"),
    ("timeseries", "events_rolling_active_users"),
    ("tpch", "q22_prospect_customers"),
)

# /api/query/<name> draws from these mix queries, which take 0.4-1.3 s
# once warm; kmeans_refine keeps its trained centroids in the artifact
# store, so the service's store is never empty.
JOB_QUERIES: tuple[str, ...] = (
    "doc_length_histogram",
    "gopher_quality_flags",
    "q22_prospect_customers",
    "kmeans_refine",
)

JOB_KINDS: tuple[str, ...] = (
    "extract_documents",
    "extract_pdf",
    "analyze_corpus",
    "query",
)


def module_of(fn) -> str:
    """Stratum of a registry callable: the last part of its module."""
    return fn.__module__.rsplit(".", 1)[-1]


def allocate(sizes: dict[str, int], n: int) -> dict[str, int]:
    """Proportional allocation of ``n`` draws over strata of the given
    sizes by largest remainder (ties broken by stratum name)."""
    total = sum(sizes.values())
    quota = {k: n * v / total for k, v in sizes.items()}
    out = {k: math.floor(q) for k, q in quota.items()}
    rest = n - sum(out.values())
    for k in sorted(quota, key=lambda k: (out[k] - quota[k], k))[:rest]:
        out[k] += 1
    return {k: v for k, v in out.items() if v}


@dataclass(frozen=True)
class JobSpec:
    kind: str
    query: str | None
    sample_seed: int


def job_sequence(seed: int, n: int) -> list[JobSpec]:
    """First ``n`` jobs of the seeded job stream: each block of four holds
    every job kind once in a seeded order; query names and extract
    sample seeds come from the same generator."""
    rng = random.Random(seed)
    queries: list[str] = []
    out: list[JobSpec] = []
    while len(out) < n:
        block = list(JOB_KINDS)
        rng.shuffle(block)
        for kind in block:
            query = None
            if kind == "query":
                if not queries:
                    queries = list(JOB_QUERIES)
                    rng.shuffle(queries)
                query = queries.pop()
            out.append(JobSpec(kind, query, rng.randrange(1 << 30)))
    return out[:n]


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond its
    nearest-rank value. Below 20 samples that percentile would not
    exceed the median, so the tail is the maximum (100) instead."""
    if n < 20:
        return 100
    return math.floor(100 * (n - 10) / n)


def nearest_rank(values: list[float], pct: int) -> float:
    s = sorted(values)
    rank = max(1, math.ceil(pct * len(s) / 100))
    return s[rank - 1]


def latency_summary(
    latencies: list[float], tail_samples: list[float] | None = None
) -> dict:
    """Median of the op latencies and the tail of ``tail_samples`` (the
    op latencies unless given), with the tail's percentile, its sample
    count and the number of samples beyond it."""
    samples = latencies if tail_samples is None else tail_samples
    pct = tail_percentile(len(samples))
    tail = nearest_rank(samples, pct)
    return {
        "p50": statistics.median(latencies),
        "tail": tail,
        "tail_pct": pct,
        "n": len(samples),
        "beyond_tail": sum(1 for v in samples if v > tail),
    }


@dataclass
class Outcome:
    """Result of one op. ``error`` is set when the op raised or timed
    out; ``wrong`` when it finished with an answer that failed its
    check."""

    name: str
    latency_s: float
    error: str | None = None
    wrong: str | None = None
    extra: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return self.error is None and self.wrong is None


def accounting(outcomes: list[Outcome]) -> dict:
    """Attempted, failed and the correct fraction over every op tried."""
    attempted = len(outcomes)
    failed = sum(1 for o in outcomes if not o.ok)
    return {
        "attempted": attempted,
        "failed": failed,
        "ok_frac": (attempted - failed) / attempted if attempted else 0.0,
    }


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile over the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
