"""Benchmark of the engine through its public entry points.

    python3 perfbench/run.py --workload sweep-cold --seed 1 --seconds 10 --trace 0

prints every end-to-end metric with its unit and the correctness
verdict, then, as the last line, one JSON object. ``--trace 1`` runs the
same workload with spans and the Spark event log on, prints the
per-layer table instead and writes the spans under
``.perfbench/results/``. BENCHMARK.json describes the workloads and
metrics.

Everything the run writes (artifact/tier store, sink output, Spark
local dir, warehouse, event log, temp files) lives under ``.perfbench/``
in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

PROCESS_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
DRIVER_MEM = "2g"
JOB_TIMEOUT_S = 120.0
POLL_S = 0.02
EXTRACT_DOCS = 20
PDF_DOCS = 10
QUERY_ROWS = 20

sys.path.insert(0, HERE)
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("sweep-cold", "jobs-mixed")


class Run:
    """One benchmark run: its directories, session and observations."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.tracer = layers.Tracer(trace)
        base = os.path.join(ROOT, ".perfbench")
        self.dir = os.path.join(base, "run")
        self.results = os.path.join(base, "results")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("store", "out", "local", "tmp", "warehouse", "events"):
            os.makedirs(os.path.join(self.dir, sub))
        os.makedirs(self.results, exist_ok=True)
        self.store = os.path.join(self.dir, "store")
        self.out = os.path.join(self.dir, "out")
        self.layer: dict[str, float] = {}
        self.self_times: dict[str, float] = {}
        self.spark = None
        self.rss: layers.RssSampler | None = None
        # every engine and Spark path points into the run directory
        cpus = str(len(os.sched_getaffinity(0)))
        os.environ.update(
            {
                "SPARK_GRAFT_ARTIFACT_DIR": self.store,
                "SPARK_GRAFT_WAREHOUSE": os.path.join(self.dir, "warehouse"),
                "SPARK_GRAFT_CPUS": cpus,
                # a fixed heap, not the engine's half-of-RAM default, so
                # peak RSS does not depend on the host's memory size
                "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
                "TMPDIR": os.path.join(self.dir, "tmp"),
                "XDG_CACHE_HOME": os.path.join(self.dir, "tmp"),
                "HOME": os.path.join(self.dir, "tmp"),
                # no hsperfdata files in the system temp dir from either
                # JVM (the spark-submit launcher and the driver)
                "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            }
        )
        self.cpus = int(cpus)

    # -- set-up ---------------------------------------------------------------

    def start_session(self):
        from parquet_extractor_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(self.dir, "tmp"),
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(self.dir, "events"),
                    "spark.eventLog.compress": "false",
                }
            )
        return get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=conf,
        )

    def set_up(self) -> None:
        """Start the session (the JVM launch) and scan every table once."""
        from parquet_extractor_spark.sources.tables import TABLES, load_table

        self.spark = self.start_session()
        for t in TABLES:
            load_table(self.spark, DATA, t).count()
        self.layer["session.launch_s"] = time.perf_counter() - PROCESS_START

    def end_timed_region(self) -> float:
        """Stop the memory sampler, so that the answer checks after the
        timed region do not count toward peak RSS; returns the seconds
        since process start."""
        if self.rss is not None:
            self.rss.stop()
        return time.perf_counter() - PROCESS_START

    def shut_down(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        children = layers.descendants(os.getpid())
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # the JVM's Python workers exit once it is gone; wait for them too
        deadline = time.monotonic() + 30
        for pid in children:
            while layers.alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if layers.alive(pid):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)

    def store_mb(self) -> float:
        return layers.tree_bytes(self.store)[1] / layers.MB


# -- sweeps ------------------------------------------------------------------


def load_oracle_helpers():
    """type_tag/norm_rows of tools/check_oracle.py, imported as-is."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location("check_oracle", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def oracle_connection():
    import duckdb
    from parquet_extractor_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(DATA, t)}.parquet'"
        )
    return con


def check_against_oracle(outcomes, oracles, co) -> None:
    """Mark each finished sweep op wrong when its rows differ from the
    DuckDB oracle under check_oracle's order-insensitive comparison."""
    con = oracle_connection()
    expected: dict[str, tuple] = {}
    for o in outcomes:
        if o.error is not None:
            continue
        if o.name not in expected:
            rel = con.sql(oracles[o.name])
            expected[o.name] = (
                list(rel.columns),
                [str(t) for t in rel.types],
                rel.fetchall(),
            )
        dcols, dtypes, drows = expected[o.name]
        scols, stypes, srows = o.extra.pop("result")
        stags = {c: co.type_tag(t) for c, t in zip(scols, stypes)}
        dtags = {c: co.type_tag(t) for c, t in zip(dcols, dtypes)}
        if sorted(scols) != sorted(dcols):
            o.wrong = f"columns {sorted(scols)} != {sorted(dcols)}"
        elif stags != dtags:
            o.wrong = f"type tags {stags} != {dtags}"
        elif len(srows) != len(drows):
            o.wrong = f"row count {len(srows)} != {len(drows)}"
        elif co.norm_rows(scols, srows) != co.norm_rows(dcols, drows):
            o.wrong = "values differ"
    con.close()


def sweep_op(run: Run, name: str, fn, opid: str, counters=None) -> stats.Outcome:
    """Construct and collect one registry query. With ``counters`` (the
    traced run) it also forces the physical plan as its own step and
    records spans and every layer."""
    spark = run.spark
    sc = spark.sparkContext
    traced = counters is not None
    tr = run.tracer if traced else layers.Tracer(False)
    extra: dict = {}
    if traced:
        store0 = layers.store_entries(run.store)
        cg0 = counters.codegen()
    t0 = time.perf_counter()
    try:
        with tr.span("op", opid):
            with tr.span("operators.construct"):
                if traced:
                    sc.setJobGroup(f"{opid}:construct", name)
                df = fn(spark, DATA)
            if traced:
                with tr.span("spark.plan"):
                    sc.setJobGroup(f"{opid}:plan", name)
                    df._jdf.queryExecution().executedPlan()
            with tr.span("spark.execute"):
                if traced:
                    sc.setJobGroup(f"{opid}:execute", name)
                rows = [tuple(r) for r in df.collect()]
        latency = time.perf_counter() - t0
    except Exception as exc:  # the op failed; count it and go on
        return stats.Outcome(name, time.perf_counter() - t0, error=repr(exc)[:300])
    extra["result"] = (
        df.columns,
        [f.dataType.simpleString() for f in df.schema.fields],
        rows,
    )
    if traced:
        extra["phases_ms"] = counters.phases_ms(df)
        cg1 = counters.codegen()
        extra["codegen"] = (cg1[0] - cg0[0], cg1[1] - cg0[1])
        extra["store"] = layers.store_delta(store0, layers.store_entries(run.store))
    return stats.Outcome(name, latency, extra=extra)


def sweep(run: Run) -> dict:
    """sweep-cold: one client, closed loop, one pass over the fixed mix
    on an empty store, ``release_cached`` between ops."""
    import __spark_entry__ as entry
    from parquet_extractor_spark.session import release_cached

    registry = entry.queries()
    oracles = entry.oracle_sql()
    order = [name for _, name in stats.MIX]
    run.set_up()
    spark = run.spark
    counters = layers.SparkCounters(spark) if run.trace else None

    outcomes: list[stats.Outcome] = []
    release_s = 0.0
    setup_s = time.perf_counter() - PROCESS_START
    for i, name in enumerate(order):
        opid = f"o{i}"
        outcomes.append(sweep_op(run, name, registry[name], opid, counters))
        t_rel = time.perf_counter()
        with run.tracer.span("session.release", opid):
            release_cached(spark)
        release_s += time.perf_counter() - t_rel
    elapsed = run.end_timed_region() - setup_s
    store_mb = run.store_mb()
    checked = list(outcomes)
    if run.trace:
        # One more, untimed pass on the store the timed pass filled: what
        # the same ops cost once every artifact and tier is a hit.
        store0 = layers.store_entries(run.store)
        warm = []
        # its own job group, or its jobs would count toward the last op
        spark.sparkContext.setJobGroup("warm", "warm pass")
        t0 = time.perf_counter()
        for name in order:
            warm.append(sweep_op(run, name, registry[name], "warm"))
            release_cached(spark)
        warm_s = time.perf_counter() - t0
        delta = layers.store_delta(store0, layers.store_entries(run.store))
        run.layer["store.warm_ops_per_s"] = len(warm) / warm_s
        run.layer["store.warm_op_p50_s"] = statistics.median(
            o.latency_s for o in warm
        )
        run.layer["store.warm_builds"] = (
            delta["artifacts.builds"] + delta["tiers.builds"]
        )
        checked += warm
    check_against_oracle(checked, oracles, load_oracle_helpers())

    latencies = [o.latency_s for o in outcomes]
    metrics = end_to_end(
        run, setup_s, len(outcomes), stats.latency_summary(latencies),
        outcomes, elapsed, store_mb,
    )
    if run.trace:
        run.layer["session.release_s"] = release_s / len(outcomes)
        sweep_layers(run, outcomes, elapsed)
    return {
        "metrics": metrics,
        "outcomes": checked,
        "ops": order,
        "latencies_s": [[o.name, o.latency_s] for o in outcomes],
        "elapsed_s": elapsed,
    }


def end_to_end(run, setup_s, n_ops, lat, outcomes, elapsed, store_mb) -> dict:
    """``lat`` is the stats.latency_summary of the timed ops."""
    acc = stats.accounting(outcomes)
    run.tail_info = {k: lat[k] for k in ("tail_pct", "n", "beyond_tail")}
    return {
        "setup_s": setup_s,
        "ops_per_s": n_ops / elapsed,
        "op_p50_s": lat["p50"],
        "op_tail_s": lat["tail"],
        "ok_frac": acc["ok_frac"],
        "peak_rss_mb": 0.0,  # filled in by main once the sampler stops
        "store_mb": store_mb,
    }


def sweep_layers(run: Run, outcomes, elapsed) -> None:
    """Per-op means of every layer of a traced sweep."""
    run.shut_down()  # closes the event log
    groups = layers.read_event_log(os.path.join(run.dir, "events"))
    n = len(outcomes)
    spans = run.tracer.spans
    steps = {"construct": "operators.construct", "plan": "spark.plan",
             "execute": "spark.execute"}
    step_span = {
        (s["op"], s["name"]): s for s in spans if s["name"] in steps.values()
    }
    seen: list[dict] = []
    eager = construct_jobs = 0
    for opid in {s["op"] for s in spans if s["name"] == "op"}:
        for step, layer in steps.items():
            g = groups.get(f"{opid}:{step}")
            if g is None:
                continue
            seen.append(g)
            for start, end in layers.merge_intervals(g["jobs"]):
                run.tracer.add("spark.job", *to_perf(start, end),
                               step_span[(opid, layer)])
            if step == "construct" and g["jobs"]:
                eager += 1
                construct_jobs += len(g["jobs"])
    tot: dict[str, float] = defaultdict(float)
    for o in outcomes:
        for k, v in o.extra.get("phases_ms", {}).items():
            tot[k] += v
        compiles, compile_s = o.extra.get("codegen", (0, 0.0))
        tot["compiles"] += compiles
        tot["compile_s"] += compile_s
        for k, v in o.extra.get("store", {}).items():
            tot[k] += v
    step_s = {
        layer: sum(s["end"] - s["start"] for s in spans if s["name"] == layer)
        for layer in steps.values()
    }
    run.layer.update(
        {
            "operators.construct_s": step_s["operators.construct"] / n,
            "operators.construct_jobs": construct_jobs / n,
            "operators.eager_ops": eager / n,
            "spark.plan_s": step_s["spark.plan"] / n,
            "spark.analysis_ms": tot["analysis"] / n,
            "spark.optimization_ms": tot["optimization"] / n,
            "spark.planning_ms": tot["planning"] / n,
            "spark.codegen_compiles": tot["compiles"] / n,
            "spark.codegen_compile_s": tot["compile_s"] / n,
            "spark.execute_s": step_s["spark.execute"] / n,
            **spark_layer(seen, n),
            "artifacts.builds": tot["artifacts.builds"] / n,
            "artifacts.mb": tot["artifacts.mb"] / n,
            "tiers.builds": tot["tiers.builds"] / n,
            "tiers.mb": tot["tiers.mb"] / n,
            "trace.ops_per_s": n / elapsed,
        }
    )
    run.self_times = layers.self_times(spans)


EVENT_COUNTERS = (
    "stages", "tasks", "task_s", "shuffle_read_b", "shuffle_write_b",
    "spill_b", "python_s",
)


def spark_layer(groups: list[dict], n: int) -> dict[str, float]:
    """Per-op means of the event-log counters of the given job groups."""
    tot = {k: sum(g[k] for g in groups) for k in EVENT_COUNTERS}
    return {
        "spark.jobs": sum(len(g["jobs"]) for g in groups) / n,
        "spark.stages": tot["stages"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.task_s": tot["task_s"] / n,
        "spark.shuffle_read_mb": tot["shuffle_read_b"] / layers.MB / n,
        "spark.shuffle_write_mb": tot["shuffle_write_b"] / layers.MB / n,
        "spark.spill_mb": tot["spill_b"] / layers.MB / n,
        "spark.python_s": tot["python_s"] / n,
    }


# Event-log times are epoch seconds; spans use perf_counter.
_EPOCH_TO_PERF = time.perf_counter() - time.time()


def to_perf(start: float, end: float) -> tuple[float, float]:
    return start + _EPOCH_TO_PERF, end + _EPOCH_TO_PERF


# -- job service -------------------------------------------------------------


def job_request(spec: stats.JobSpec, k: int) -> tuple[str, dict]:
    if spec.kind == "extract_documents":
        return "/api/extract/documents", {
            "sf_dir": DATA, "num_docs": EXTRACT_DOCS,
            "seed": spec.sample_seed, "subdir": f"md/{k}",
        }
    if spec.kind == "extract_pdf":
        return "/api/extract/pdf", {
            "sf_dir": DATA, "limit": PDF_DOCS, "subdir": f"pdf/{k}",
        }
    if spec.kind == "analyze_corpus":
        return "/api/analyze/corpus", {"sf_dir": DATA}
    return f"/api/query/{spec.query}", {"sf_dir": DATA, "limit": QUERY_ROWS}


def run_batch(run: Run, http, batch, opid: str):
    """Submit the batch's jobs back to back, then poll each unfinished one
    every POLL_S until all are terminal. Returns the batch latency and one
    outcome per job (its latency runs from its own submit)."""
    tr = run.tracer
    t0 = time.perf_counter()
    outs: list[stats.Outcome] = []
    pending: dict[str, stats.Outcome] = {}
    with tr.span("op", opid):
        for k, spec in batch:
            url, body = job_request(spec, k)
            t_sub = time.perf_counter()
            with tr.span("jobs.submit"):
                resp = http.post(url, json=body)
            job_id = (resp.get_json() or {}).get("job_id")
            o = stats.Outcome(spec.kind, 0.0, extra={
                "k": k, "job_id": job_id, "query": spec.query, "op": opid,
                "t_submit": t_sub, "polls": 0,
                "submit_ms": (time.perf_counter() - t_sub) * 1000.0,
            })
            outs.append(o)
            if job_id is None:
                o.error = f"submit answered http {resp.status_code}"
            else:
                pending[job_id] = o
        with tr.span("jobs.wait"):
            while pending:
                for job_id, o in list(pending.items()):
                    o.extra["polls"] += 1
                    job = http.get(f"/api/jobs/{job_id}").get_json()
                    now = time.perf_counter()
                    if job["status"] == "running" and now - t0 < JOB_TIMEOUT_S:
                        continue
                    o.latency_s = now - o.extra["t_submit"]
                    if job["status"] == "completed":
                        o.extra["result"] = job["result"]
                    else:
                        o.error = f"status {job['status']}: {job.get('error')}"
                    del pending[job_id]
                if pending:
                    time.sleep(POLL_S)
    return time.perf_counter() - t0, outs


def jobs_mixed(run: Run) -> dict:
    """jobs-mixed: one closed-loop client drives the REST job service for
    ``--seconds``; each op is a batch of four jobs, one of each kind,
    submitted together, so four jobs run concurrently in the session.
    Before timing, a warm-up runs every job kind and every pool query
    once, one job at a time."""
    import __spark_entry__ as entry
    from parquet_extractor_spark.jobs.service import create_app

    run.set_up()
    spark = run.spark
    app = create_app(spark, run.out)
    http = app.test_client()
    oracles = entry.oracle_sql()

    warmup = [stats.JobSpec(kind, None, 0) for kind in stats.JOB_KINDS[:3]]
    warmup += [stats.JobSpec("query", q, 0) for q in stats.JOB_QUERIES]
    t0 = time.perf_counter()
    # one job at a time, so the store entries are built without racing
    warm_jobs = []
    for k, spec in enumerate(warmup):
        warm_jobs += run_batch(run, http, [(k, spec)], f"w{k}")[1]
    warmup_s = time.perf_counter() - t0
    run.tracer.spans.clear()

    seq = stats.job_sequence(run.seed, 100_000)
    width = len(stats.JOB_KINDS)
    latencies: list[float] = []
    jobs: list[stats.Outcome] = []
    t_start = time.perf_counter()
    setup_s = t_start - PROCESS_START
    while time.perf_counter() - t_start < run.seconds:
        b = len(latencies)
        batch = [
            (len(warmup) + b * width + j, seq[b * width + j]) for j in range(width)
        ]
        latency, outs = run_batch(run, http, batch, f"b{b}")
        latencies.append(latency)
        jobs += outs
    elapsed = run.end_timed_region() - setup_s
    cached_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    store_mb = run.store_mb()
    check_jobs(run, warm_jobs + jobs, oracles)
    # the tail over single jobs: four per batch, enough samples for the
    # ten-beyond rule in a short run; the median over whole batches
    lat = stats.latency_summary(latencies, [o.latency_s for o in jobs])
    metrics = end_to_end(
        run, setup_s, len(latencies), lat, jobs, elapsed, store_mb
    )
    n = len(latencies)
    files = sum(o.extra.get("files", 0) for o in jobs)
    run.layer["sinks.files"] = files / n
    run.layer["sinks.mb_written"] = (
        sum(o.extra.get("bytes", 0) for o in jobs) / layers.MB / n
    )
    run.layer["sinks.docs_per_s"] = files / elapsed
    run.layer["jobs.warmup_s"] = warmup_s
    if run.trace:
        jobs_layers(run, jobs, n, elapsed, cached_rdds)
    return {
        "metrics": metrics,
        "outcomes": warm_jobs + jobs,
        "ops": [
            f"{o.name}:{o.extra['query']}" if o.extra["query"] else o.name
            for o in jobs
        ],
        "latencies_s": latencies,
        "elapsed_s": elapsed,
    }


def check_jobs(run: Run, outcomes, oracles) -> None:
    """Extract jobs must leave exactly the requested files; the corpus job
    must return the oracle's row; a query job its oracle's row count,
    capped by the requested limit."""
    con = oracle_connection()
    corpus = con.sql(oracles["corpus_stats"])
    corpus_row = dict(zip(corpus.columns, corpus.fetchone()))
    counts: dict[str, int] = {}
    for o in outcomes:
        if not o.ok:
            continue
        res, k = o.extra.pop("result"), o.extra["k"]
        if o.name in ("extract_documents", "extract_pdf"):
            want = EXTRACT_DOCS if o.name == "extract_documents" else PDF_DOCS
            sub = "md" if o.name == "extract_documents" else "pdf"
            got, size = layers.tree_bytes(os.path.join(run.out, sub, str(k)))
            o.extra["files"], o.extra["bytes"] = got, size
            if got != want or res.get("written") != want:
                o.wrong = f"{got} files, {res.get('written')} reported, {want} asked"
        elif o.name == "analyze_corpus":
            if not rows_equal(res, corpus_row):
                o.wrong = f"corpus stats {res} != {corpus_row}"
        else:
            q = o.extra["query"]
            if q not in counts:
                counts[q] = con.sql(
                    f"SELECT count(*) FROM ({oracles[q]})"
                ).fetchone()[0]
            want = min(QUERY_ROWS, counts[q])
            if res.get("n_rows") != want:
                o.wrong = f"{res.get('n_rows')} rows, oracle gives {want}"
    con.close()


def rows_equal(a: dict, b: dict) -> bool:
    if sorted(a) != sorted(b):
        return False
    for k in a:
        x, y = a[k], b[k]
        if isinstance(x, float) or isinstance(y, float):
            if abs(float(x) - float(y)) > 1e-6 * max(1.0, abs(float(y))):
                return False
        elif x != y:
            return False
    return True


def jobs_layers(run: Run, jobs, n_ops, elapsed, cached_rdds) -> None:
    """Per-op (per-batch) means of every layer of a traced jobs-mixed run."""
    run.shut_down()  # closes the event log
    groups = layers.read_event_log(os.path.join(run.dir, "events"))
    wait_span = {
        s["op"]: s for s in run.tracer.spans if s["name"] == "jobs.wait"
    }
    seen: list[dict] = []
    intervals: dict[str, list] = defaultdict(list)
    by_kind: dict[str, list[float]] = {k: [] for k in stats.JOB_KINDS}
    for o in jobs:
        by_kind[o.name].append(o.latency_s)
        g = groups.get(o.extra["job_id"])
        if g is not None:
            seen.append(g)
            intervals[o.extra["op"]].extend(g["jobs"])
    # the batch's four jobs overlap: one span per stretch of Spark work
    for opid, spans in intervals.items():
        for start, end in layers.merge_intervals(spans):
            run.tracer.add("spark.job", *to_perf(start, end), wait_span[opid])
    run.layer.update(
        {
            **spark_layer(seen, n_ops),
            "jobs.submit_ms": statistics.median(o.extra["submit_ms"] for o in jobs),
            "jobs.polls": sum(o.extra["polls"] for o in jobs) / len(jobs),
            "jobs.cached_rdds_after": cached_rdds,
            "trace.ops_per_s": n_ops / elapsed,
        }
    )
    for kind, lat in by_kind.items():
        run.layer[f"jobs.job_s.{kind}"] = statistics.median(lat) if lat else 0.0
    run.self_times = layers.self_times(run.tracer.spans)


# -- output -------------------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ok_frac": "fraction",
    "peak_rss_mb": "MB",
    "store_mb": "MB",
}


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        p
        for p in ("__spark_entry__.py", "parquet_extractor_spark", "tools/check_oracle.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: engine sources not found: {missing}", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        with layers.RssSampler() as rss:
            run.rss = rss
            body = (jobs_mixed if args.workload == "jobs-mixed" else sweep)(run)
    finally:
        run.shut_down()
    metrics = body["metrics"]
    metrics["peak_rss_mb"] = rss.peak / layers.MB
    outcomes = body["outcomes"]
    acc = stats.accounting(outcomes)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": bool(args.trace),
        "ops": body["ops"],
        "elapsed_s": body["elapsed_s"],
        "tail": run.tail_info,
        "latencies_s": body["latencies_s"],
        "metrics": metrics,
        "layers": run.layer,
        "failures": [
            {"op": o.name, "error": o.error, "wrong": o.wrong}
            for o in outcomes
            if not o.ok
        ],
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    print(f"workload {args.workload}  seed {args.seed}  checked {len(outcomes)}"
          f"  tail = p{run.tail_info['tail_pct']} of {run.tail_info['n']}"
          f" ({run.tail_info['beyond_tail']} beyond)")
    for f in record["failures"]:
        print(f"FAILED {f['op']}: {f['error'] or f['wrong']}")
    spec = benchmark_spec()
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {k: float(run.layer.get(k, 0.0)) for k in names}
        spans_path = os.path.join(run.results, f"spans-{tag}.jsonl")
        run.tracer.write(spans_path)
        selfs = run.self_times
        covered, wall = layers.subtree_self_sum(run.tracer.spans, "op")
        record["self_times_s"] = selfs
        record["self_time_coverage"] = covered / wall if wall else 0.0
        untraced = os.path.join(
            run.results, f"{args.workload}-seed{args.seed}-trace0.json"
        )
        overhead = "n/a (no untraced run of this seed)"
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]["ops_per_s"]
            record["tracing_overhead"] = 1 - values["trace.ops_per_s"] / base
            overhead = f"{record['tracing_overhead']:.1%} of untraced ops/s"
        for k in names:
            print(f"  {k:32s} {values[k]:14.4f} {units[k]}")
        print("  self time by layer (s):")
        for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
            print(f"    {k:30s} {v:10.3f}")
        print(f"  layers cover {record['self_time_coverage']:.4f} of op wall time;"
              f" tracing overhead {overhead}"
              f"; spans in {os.path.relpath(spans_path, ROOT)}")
        out_metrics = {k: {"value": values[k], "unit": units[k]} for k in names}
    else:
        for m in spec["end_to_end"]:
            print(f"  {m['name']:14s} {metrics[m['name']]:14.4f} {m['unit']}")
        out_metrics = {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    correct = acc["failed"] == 0
    print(f"  correct: {correct} ({acc['attempted'] - acc['failed']}"
          f"/{acc['attempted']} checked)")
    with open(os.path.join(run.results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({
        "correct": correct,
        "attempted": acc["attempted"],
        "failed": acc["failed"],
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
