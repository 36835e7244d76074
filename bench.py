"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) and reports
the MEDIAN — bench noise on this host is ±50% across runs (r01
verdict), so single samples aren't comparable round-to-round.

Self-defense against capture truncation (r03-r06: four consecutive
rounds of driver-side `parsed: null` because the full 176-query JSON
line is ~5.5 KB and the driver keeps only a ~2 KB stdout tail): the
FULL payload goes to a tracked file in the repo root —
BENCH_DRIVER.json for a default run (the per-round driver sweep;
its committed history is the driver-protocol record), or
BENCH_LOCAL.json when SPARK_GRAFT_BENCH_CANONICAL=1 marks the
builder's deliberate warm-store canonical run (r11 verdict item 5:
the two protocols used to fight over one file) — and stdout's
LAST line is a size-capped compact payload — same metric/value/unit/
sf envelope, `queries` trimmed to as many entries (bench order) as
fit under _COMPACT_LIMIT bytes, with `n`/`omitted` recording the
trim. Each query attempt runs under a cancellable Spark job group
with a wall-clock timeout so one hung plan cannot starve the payload.

Prints a short line then ONE compact JSON line (the parse target):
  {"metric": "...", "value": N, "n": ...}
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

PROTOCOL LABEL (r10 verdict item 2): every payload carries
``"mode": "inprocess"`` — one JVM sweeping the whole registry, which
is what the driver's round-to-round trend line measures. The label
stays so these payloads are told apart from older committed ones
that carry ``"mode": "chunked"`` (a since-removed fresh-JVM
diagnostic). The compact stdout payload also carries ``slowest`` —
the ten most expensive queries of the run — so driver rounds see the
heavy tail without reading BENCH_LOCAL.json.

ISOLATION PROTOCOL (the adjudication rule for apparent regressions —
r08/r09 verdicts accepted it twice): a ~250-query sweep accumulates
catalog/codegen/GC pressure that inflates IN-SUITE medians up to ~5x
over a query's true cost (r09: corpus_stats 3.35 s in-suite vs
0.59 s alone), and driver hosts vary ~1.4-2x uniformly. So before
bisecting any "regressed" query, re-measure it ALONE on an idle
host — ``SPARK_GRAFT_BENCH_ONLY=<name> python bench.py`` — and
compare against its historical band times the host factor (read the
factor off stable trivial queries in the same sweep). A BENCH_ONLY
run writes its payload to a temp sidecar, never to the committed
BENCH_LOCAL.json. In-suite hygiene between queries: release_cached() after
every query (DataFrame cache + localCheckpoint blocks; r04 measured
2.6 s -> 6.9 s drift without it) plus a JVM+Python GC breather every
_GC_EVERY queries (soft-reference/codegen-cache pressure the block
drops don't touch).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
# GC breather cadence (queries between JVM System.gc() calls); a full
# GC per query would cost more than it saves on a 250-query sweep.
_GC_EVERY = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_GC_EVERY", "20")))

# Legacy curated set (r01-r03), kept for metric continuity: the
# driver's headline_queries_total compares round-to-round, so the
# curated list still runs FIRST in this order. Every OTHER registry
# query is appended after it (alphabetically) so no query is
# bench-blind — the r03 regressions slipped into *benched* queries;
# the unbenched majority had no guard at all (r03 verdict item 5).
# Exclusions: none — every queries() entry returns a DataFrame and
# runs through the same noop sink.
HEADLINE = [
    "corpus_stats",
    "tokens_per_lang",
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "top_brands_by_revenue",
    "top_order_per_customer",
    "brand_small_quantity_revenue",
    "q8_market_share",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    "events_hourly",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "minhash_lsh_candidates",
    "simhash_fingerprints",
    "knn_bruteforce",
    "ann_ivf",
    "quality_scores",
    "ngram_decontamination",
    "extract_plan",
    "asof_view_before_purchase",
    "events_sessionized",
    "brand_price_stats",
    "orders_quarter_range_join",
    "events_cube",
    "doc_chunks",
    "tfidf_top_terms",
    "dsir_importance_weights",
    "bm25_doc_scores",
    "duplicate_spans",
    "lm_bigram_surprisal",
    "inverted_index",
    "pmi_top_pairs",
    "zipf_token_stats",
    "shard_assignments",
    "cross_source_dedup_candidates",
    # r03 additions: semantic dedup, PQ compression, BPE trainer step,
    # and the real-codec multimodal decode pipeline
    "semdedup_keep",
    "pq_codes",
    "bpe_merge_candidates",
    "media_feature_checksums",
    # r03 late additions: span removal (3-shuffle rebuild), the JL
    # projection tier, and the derived-partsupp TPC-H completions
    "span_scrubbed_docs",
    "ann_random_projection",
    "q2_min_price_supplier",
    "q4_order_priority_checking",
    "q16_supplier_part_counts",
    # r03 final additions: classifier gate, difficulty bucketing,
    # candidate-graph centrality, NFC canonicalization, outlier screen
    "quality_classifier_scores",
    "curriculum_phases",
    "dedup_graph_pagerank",
    "nfc_normalized_hashes",
    "embedding_outliers",
    # r03 last batch: positional phrase retrieval, per-source
    # distinguishing vocabulary, exact KS length drift
    "phrase_search",
    "source_log_odds_terms",
    "source_length_ks",
    "hybrid_search_rrf",
    "join_key_skew",
    "media_resize_checksums",
]


def _attempt(spark, name: str, fn, sf_dir: str, timeout_s: float) -> dict:
    """Run one query attempt in a cancellable job group.

    The noop write runs in an InheritableThread (propagates the job
    group to Spark's local properties); if it outlives ``timeout_s``
    the group is cancelled (interruptOnCancel) and the attempt is
    reported as a timeout instead of hanging the whole bench — the
    driver must always get its JSON line.
    """
    from pyspark import InheritableThread

    group = f"bench-{name}"
    result: dict = {}

    def _target() -> None:
        try:
            spark.sparkContext.setJobGroup(group, name, interruptOnCancel=True)
            df = fn(spark, sf_dir)
            # noop sink: full computation of every output column
            # without count()'s column pruning shortcutting the
            # expressions.
            df.write.format("noop").mode("overwrite").save()
            result["ok"] = True
        except Exception as exc:
            result["err"] = f"{type(exc).__name__}: {exc}"[:200]

    th = InheritableThread(target=_target, daemon=True)
    th.start()
    th.join(timeout_s)
    if th.is_alive():
        try:
            spark.sparkContext.cancelJobGroup(group)
        except Exception:
            pass
        th.join(10)
        result.pop("ok", None)
        # overwrite any cancellation trace the worker recorded while
        # unwinding — the timeout is the cause, the SparkException the
        # symptom
        result["err"] = f"Timeout: exceeded {timeout_s:.0f}s"
        result["timeout"] = True
        # A slowly-cancelling group's tasks could still occupy
        # executors while the NEXT query is being timed. Poll the
        # status tracker until the group's jobs drain (bounded); if
        # they don't, the caller marks the whole run's timings
        # suspect.
        result["drained"] = _drain_job_group(spark, group)
    return result


def _drain_job_group(spark, group: str, wait_s: float = 30.0) -> bool:
    """Wait (bounded) until no job in ``group`` is still RUNNING."""
    try:
        tracker = spark.sparkContext.statusTracker()
        deadline = time.time() + wait_s
        while time.time() < deadline:
            running = [
                j
                for j in tracker.getJobIdsForGroup(group)
                if (info := tracker.getJobInfo(j)) is not None
                and info.status == "RUNNING"
            ]
            if not running:
                return True
            time.sleep(0.5)
    except Exception:
        pass
    return False


def _bench_set(qs) -> list[str]:
    """Registry-complete bench order: curated HEADLINE first, then
    every remaining registry query alphabetically.
    SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run (local iteration);
    SPARK_GRAFT_BENCH_CURATED=1 runs just the legacy curated set."""
    out = list(HEADLINE)
    if not os.environ.get("SPARK_GRAFT_BENCH_CURATED"):
        out += sorted(k for k in qs if k not in HEADLINE)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        wanted = [w.strip() for w in only.split(",") if w.strip()]
        out = [n for n in out if n in wanted]
    return out


def _cold_store() -> bool:
    """SPARK_GRAFT_BENCH_COLD_STORE=1 (r12 verdict item 3): run the
    whole bench with the persistent artifact/tier store DISABLED, so
    every query pays its training/tier builds inside the timed region.
    The payload is tagged "store": "cold" and lands in BENCH_COLD.json
    — the sidecar number that shows what the warm store is worth;
    the unlabeled trend line stays the warm-store protocol."""
    return os.environ.get("SPARK_GRAFT_BENCH_COLD_STORE") == "1"


def main() -> None:
    if _cold_store():
        os.environ["SPARK_GRAFT_NO_TIER_CACHE"] = "1"

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    bench_set = _bench_set(qs)

    from parquet_extractor_spark.session import get_spark, release_cached

    spark = get_spark("bench")

    # Warm the JVM, codegen, and EVERY table's parquet footers so
    # per-query numbers measure the plans, not session bring-up —
    # otherwise whichever queries run first absorb the one-time costs
    # (count() on parquet is metadata-only, so this stays cheap).
    from parquet_extractor_spark.sources.tables import load_table

    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        load_table(spark, SF_DIR, t).count()

    # Same principle for the TRAINED artifacts (r11): they are
    # dataset-level products served from the persistent store, so a
    # cold store pays training here — once, labeled — instead of
    # booking it as the first consumer query's latency. A warm store
    # makes this a no-op of disk reads.
    t0 = time.time()
    _warm_trained_artifacts(spark)
    print(
        f"# artifact store warm-up: {time.time() - t0:.1f}s",
        file=sys.stderr,
    )

    # Wall-clock budget: the driver must always get its JSON line, so
    # past BUDGET_S of measured wall the remaining queries drop to one
    # run each (still benched, noisier), and past HARD_S they are
    # skipped and listed in the payload — graceful degradation instead
    # of a driver-side timeout that records nothing.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "540"))
    hard_s = float(os.environ.get("SPARK_GRAFT_BENCH_HARD_S", "900"))
    # Per-attempt wall-clock cap: one hung plan must not starve the
    # payload. 120s is >25× the slowest healthy query at sf0.1.
    query_timeout_s = float(
        os.environ.get("SPARK_GRAFT_BENCH_QUERY_TIMEOUT_S", "120")
    )
    bench_t0 = time.time()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    skipped: list[str] = []
    suspect = False
    done = 0
    for name in bench_set:
        fn = qs[name]
        elapsed = time.time() - bench_t0
        if elapsed > hard_s:
            skipped.append(name)
            continue
        runs = 1 if elapsed > budget_s else RUNS
        samples = []
        for _ in range(runs):
            t0 = time.time()
            res = _attempt(spark, name, fn, SF_DIR, query_timeout_s)
            if not res.get("ok"):  # error or timeout: drop the query, keep the run
                errors[name] = res.get("err", "unknown")
                print(f"# {name}: FAILED {errors[name]}", file=sys.stderr)
                # an undrained cancelled group may still hold executors
                # while later queries are timed — mark the run suspect
                if res.get("timeout") and not res.get("drained"):
                    suspect = True
                samples = []
                break
            samples.append(time.time() - t0)
        # Cached intermediates (persist + localCheckpoint blocks) from
        # this query must not bleed memory pressure into the next —
        # r04 measured dedup_canonical 2.6s->6.9s by sweep position
        # ~60 purely from accumulated blocks.
        release_cached(spark)
        # Periodic GC breather (header: isolation protocol): block
        # drops don't relieve JVM soft-reference/codegen-cache growth
        # or py4j handle backlog, which r09 measured inflating
        # in-suite medians up to 5x by sweep position ~700.
        done += 1
        if done % _GC_EVERY == 0:
            import gc

            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            time.sleep(0.2)
        if not samples:
            continue
        dt = statistics.median(samples)
        timings[name] = round(dt, 3)
        print(
            f"# {name}: median {dt:.2f}s of "
            f"{[round(s, 2) for s in samples]}",
            file=sys.stderr,
        )

    _emit_payload(timings, errors, skipped, suspect)


def _warm_trained_artifacts(spark) -> None:
    """Train (or disk-load) the shared dataset-level model artifacts
    the persistent store serves: IVF centroids, PQ head seeds +
    Lloyd-refined codebooks, the logreg classifier, the LM count
    tables, the Bloom bitset. Each is bounded and deterministic; a
    warm store turns every call into a JSON read. Defensive per-item:
    a missing table must not kill the bench run."""
    from parquet_extractor_spark.operators import (
        classifier,
        contamination,
        selection,
        similarity,
    )

    for label, fn in (
        ("centroids", lambda: similarity._centroid_vectors(spark, SF_DIR)),
        (
            "head_vectors",
            lambda: similarity._head_vectors(
                spark, SF_DIR, similarity.PQ_K
            ),
        ),
        (
            "refined_pq_books",
            lambda: similarity.refined_pq_books(spark, SF_DIR),
        ),
        ("logreg", lambda: classifier._train(spark, SF_DIR)),
        ("lm_counts", lambda: selection.lm_count_arrays(spark, SF_DIR)),
        (
            "bloom_bitset",
            lambda: contamination.build_bloom_bitset(spark, SF_DIR),
        ),
    ):
        try:
            fn()
        except Exception as exc:
            print(f"# warm-up {label} skipped: {exc}", file=sys.stderr)


def _local_json_path() -> str:
    """Full-payload destination for a top-level run. Two tracked
    protocols (r11 verdict item 5 — a driver round used to overwrite
    the canonical warm-host artifact in place):

    * default -> BENCH_DRIVER.json: whatever host/process runs the
      bench unannounced (the per-round driver sweep) lands here, so
      its committed history IS the driver-protocol record;
    * SPARK_GRAFT_BENCH_CANONICAL=1 -> BENCH_LOCAL.json: the
      builder's deliberate warm-store canonical runs, the trend line
      SCALE.md adjudicates against.
    """
    if _cold_store():
        name = "BENCH_COLD.json"
    elif os.environ.get("SPARK_GRAFT_BENCH_CANONICAL") == "1":
        name = "BENCH_LOCAL.json"
    else:
        name = "BENCH_DRIVER.json"
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), name
    )


def _payload_path() -> str:
    """Where THIS process writes its payload: BENCH_ONLY adjudication
    runs get a temp sidecar — only a full run writes the git-tracked
    payload file (r10 hygiene: isolated re-measures used to clobber
    the committed artifact and needed a git checkout afterwards)."""
    if os.environ.get("SPARK_GRAFT_BENCH_ONLY"):
        import tempfile

        try:
            uid = os.getuid()
        except AttributeError:
            uid = 0
        # uid+pid in the name: two users (or two concurrent
        # adjudication runs) never collide on a fixed shared-tmp
        # filename, and a planted symlink at a predictable path is
        # never followed (r11 advice)
        return os.path.join(
            tempfile.gettempdir(),
            f"spark-graft-bench-only-{uid}-{os.getpid()}.json",
        )
    return _local_json_path()


def _emit_payload(
    timings: dict[str, float],
    errors: dict[str, str],
    skipped: list[str],
    suspect: bool,
) -> None:
    """Write the payload file and print the two stdout lines (short
    summary + size-capped compact payload, the driver's parse
    target)."""
    total = round(sum(timings.values()), 3)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "mode": "inprocess",
        # "warm" = persistent artifact/tier store enabled (the trend
        # line); "cold" = SPARK_GRAFT_BENCH_COLD_STORE=1 sidecar, every
        # training/tier build paid in-region (r12 verdict item 3)
        "store": "cold" if _cold_store() else "warm",
        "queries": timings,
        "sf": sf_val,
    }
    if errors:
        payload["errors"] = errors
    if skipped:
        payload["skipped"] = skipped
    if suspect:
        payload["timings_suspect"] = True
    # Self-defense against driver-side capture truncation: persist the
    # full payload in-repo, print a short summary line, then print the
    # size-capped compact payload as the LAST stdout line (the
    # driver's parse target — the full 176-query line was ~5.5 KB and
    # overflowed its ~2 KB tail buffer in r03-r06).
    try:
        with open(_payload_path(), "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    except OSError as exc:
        print(f"# payload write failed: {exc}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "n": len(timings),
                "errors": len(errors),
                "skipped": len(skipped),
            }
        )
    )
    print(json.dumps(_compact(payload)))


_COMPACT_LIMIT = 1400  # bytes; driver tail buffer observed ~2 KB


def _compact(payload: dict) -> dict:
    """Trim `queries` (bench order, so the curated headline set
    survives) until the serialized line fits _COMPACT_LIMIT. The
    envelope keeps the driver contract keys; `n`/`omitted` record the
    trim; `slowest` carries the ten most expensive queries of the run
    (the heavy tail the bench-order trim would otherwise hide — r10
    verdict item 7); full per-query detail lives in
    BENCH_LOCAL.json."""
    out = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "mode": payload.get("mode", "inprocess"),
        "store": payload.get("store", "warm"),
        "sf": payload["sf"],
        "n": len(payload["queries"]),
        "omitted": 0,
        "full": os.path.basename(_payload_path()),
    }
    if "errors" in payload:
        out["errors"] = len(payload["errors"])
    if "skipped" in payload:
        out["skipped"] = len(payload["skipped"])
    if payload.get("timings_suspect"):
        out["timings_suspect"] = True
    out["slowest"] = dict(
        sorted(
            payload["queries"].items(), key=lambda kv: -kv[1]
        )[:10]
    )
    out["queries"] = {}
    for name, dt in payload["queries"].items():
        out["queries"][name] = dt
        if len(json.dumps(out)) > _COMPACT_LIMIT:
            del out["queries"][name]
            break
    out["omitted"] = out["n"] - len(out["queries"])
    return out


if __name__ == "__main__":
    main()
