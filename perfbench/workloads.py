"""The benchmark's workloads, each driven only through the engine's
public functions. Every workload returns a ``Result`` holding its
end-to-end metrics (as seen by a user), the per-layer metrics (filled
only in a traced run), counts of attempted and failed operations, and
details printed beside the result.

Each workload has three phases:
  setup  — session start, seeded input generation, setup build and
           warm-up (timed as ``setup_s``);
  timed  — closed-loop clients for ``seconds`` seconds;
  check  — every answer verified, outside any timed region.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from globalweather_etl_spark.plans import (
    build_warehouse,
    curate_documents,
    materialize_transactional,
    q1,
    q2,
    q3,
    q4,
    q5,
)
from globalweather_etl_spark.sources import (
    AS_OF_DATE,
    ConcurrentTransactionError,
    SnapshotCatalog,
    weather_staging_from_events,
)

from perfbench import checks, env, gen, stats
from perfbench.tracing import Rest, Tracer, attribute, layer_work

# Input sizes: ingest lands 20 days of 50k events (1M) over 10k postal
# codes; the curate corpus is sized to keep a whole run near a minute.
INGEST_DAYS, INGEST_PER_DAY, INGEST_POSTAL = 20, 50_000, 10_000
CURATE_DOCS = 1_500
INGEST_READERS = 2
# timed commits a run, after one warm-up commit; a commit takes ~15 s
# beside the readers on 4 cores, and a second made a run ~90 s, too long
# for the benchmark's time budget
INGEST_COMMITS = 1
WAREHOUSE_TABLES = ["stg_forecast_day", "fact_weather_day", "dim_date", "dim_location"]
_FACT_ONLY = {"q3": q3, "q4": q4, "q5": q5}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    details: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)


@dataclass
class Op:
    start: float
    end: float
    payload: dict = field(default_factory=dict)
    error: str | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Ctx:
    """What every workload gets from the runner."""

    def __init__(self, spark, tracer: Tracer, tmp: str, seed: int, seconds: float, session_s: float):
        self.spark = spark
        self.tracer = tracer
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.session_s = session_s

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)


def closed_loop(n_clients: int, seconds: float, body, busy=lambda: False) -> tuple[list[Op], float]:
    """``n_clients`` threads each call ``body(client, seq)`` back to back
    until ``seconds`` have passed and ``busy()`` is false (the op in
    flight finishes). Returns the ops and the phase start."""
    ops: list[Op] = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client(c: int) -> None:
        seq = 0
        while time.perf_counter() < deadline or busy():
            op = Op(time.perf_counter(), 0.0)
            try:
                op.payload = body(c, seq) or {}
            except Exception as exc:  # counted, never fatal to the loop
                op.error = f"{type(exc).__name__}: {exc}"[:300]
            op.end = time.perf_counter()
            with lock:
                ops.append(op)
            seq += 1

    threads = [
        threading.Thread(target=client, args=(c,), name=f"client-{c}", daemon=True)
        for c in range(n_clients)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return ops, t0


def per_second(ops: list[Op], t0: float, units=lambda op: 1) -> float:
    done = [op for op in ops if op.error is None]
    if not done:
        return 0.0
    return sum(units(op) for op in done) / (max(op.end for op in ops) - t0)


# ------------------------------------------------------------ dashboard mix


def request_stream(seed: int, client: int, n_days: int, n_cities: int = 11):
    """Seeded dashboard mix: 80% the five reference panels unfiltered,
    20% a 1-7 day date window (70%) or one city (30%). Drawn in blocks
    of five, each Q1-Q5 once in seeded order with one of them filtered:
    a run times only ~35 reads, and the panels' costs differ by up to
    2.5x, so with free draws each seed's mix would move the median."""
    rng = np.random.default_rng([seed, 9, client])
    while True:
        filtered = int(rng.integers(0, len(checks.KINDS)))
        for i, k in enumerate(rng.permutation(len(checks.KINDS))):
            kind = checks.KINDS[int(k)]
            if i != filtered:
                yield kind, None
            elif rng.random() < 0.7:
                length = int(rng.integers(1, 8))
                lo = int(rng.integers(0, n_days - length + 1))
                yield kind, ("days", gen.day(lo).isoformat(), gen.day(lo + length - 1).isoformat())
            else:
                yield kind, ("city", f"City_{int(rng.integers(0, n_cities))}")


def run_request(kind: str, filt, fact, dim_date, dim_location) -> list[tuple]:
    if filt is not None and filt[0] == "days":
        fact = fact.filter(
            F.col("DATE_KEY").between(
                F.lit(dt.date.fromisoformat(filt[1])), F.lit(dt.date.fromisoformat(filt[2]))
            )
        )
    elif filt is not None:
        fact = fact.join(
            dim_location.filter(F.col("CITY_NAME") == filt[1]).select("LOCATION_KEY"),
            "LOCATION_KEY",
            "left_semi",
        )
    if kind == "q1":
        df = q1(fact, dim_date)
    elif kind == "q2":
        df = q2(fact, dim_location)
    else:
        df = _FACT_ONLY[kind](fact)
    return [tuple(r) for r in df.collect()]


def traced_request(ctx: Ctx, rid: str, kind: str, filt, frames) -> list[tuple]:
    """One dashboard request under its spans; ``frames`` is a callable
    returning (fact, dim_date, dim_location) so a reader's snapshot pin
    and table opens are spans of the same request."""
    with ctx.tracer.span("request", request=rid):
        fact, dd, dl = frames()
        name = f"dashboard.{kind}" if filt is None else "dashboard.windowed"
        with ctx.tracer.span(name) as s:
            rows = run_request(kind, filt, fact, dd, dl)
            if s is not None:
                s.attrs["rows"] = len(rows)
    return rows


def _latency_metrics(res: Result, ops: list[Op], t0: float, units=lambda op: 1) -> None:
    ok = [op.ms for op in ops if op.error is None]
    res.metrics["latency_p50_ms"] = (stats.median(ok), "ms")
    res.metrics["throughput_per_s"] = (per_second(ops, t0, units), "1/s")
    res.details["latency_samples"] = len(ok)
    res.details["ops_ms"] = [round(x) for x in ok[:40]]


def _query_tail(res: Result, ops: list[Op]) -> None:
    """The highest percentile with MIN_BEYOND samples beyond it, or
    none when too few requests ran (a detail, never a failure)."""
    ok = [op.ms for op in ops if op.error is None]
    tail = stats.tail(ok)
    res.details["query_tail"] = {"pct": tail and tail[0], "ms": tail and tail[1], "samples": len(ok)}


def _read_memory(ctx: Ctx, res: Result) -> None:
    """Memory at the end of the timed phase, before the checks: the
    resident peak since env.reset_peaks, then the live heap."""
    rss = env.peak_rss_mb(ctx.spark)
    res.metrics["peak_rss_mb"] = (sum(rss.values()), "MB")
    res.details["peak_rss_mb"] = rss
    res.metrics["heap_live_mb"] = (env.heap_live_mb(ctx.spark), "MB")


def _count_errors(res: Result, ops: list[Op], what: str) -> None:
    res.attempted += len(ops)
    for op in ops:
        if op.error is not None:
            res.fail(f"{what}: {op.error}")


# ------------------------------------------------------------------ ingest


def ingest(ctx: Ctx) -> Result:
    """One writer lands a day plus a restatement of ~5% of an earlier
    day into the catalog's ``events`` table and republishes the whole
    star with materialize_transactional; INGEST_READERS readers run the
    dashboard mix on consistent snapshot pins meanwhile."""
    spark, tr, res = ctx.spark, ctx.tracer, Result()
    root = ctx.path("catalog")
    os.makedirs(ctx.path("landing"))

    def land(name: str, table: pa.Table) -> str:
        p = ctx.path("landing", f"{name}.parquet")
        pq.write_table(table, p)
        return p

    t = time.perf_counter()
    mirror = gen.initial_events(ctx.seed, INGEST_DAYS, INGEST_PER_DAY, INGEST_POSTAL)
    initial = land("initial", mirror)
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    catalog = SnapshotCatalog(spark, root)
    with tr.span("sources.events_append"):
        catalog.table("events").write(spark.read.parquet(initial), mode="overwrite")
    retries = [0]

    def publish():
        """(warehouse, versions) of one full republish from the events
        head, retried on a lost commit race."""
        for attempt in range(4):
            try:
                with tr.span("sources.snapshot_pin"):
                    pin = catalog.snapshot(["events"])
                with tr.span("sources.load_events"):
                    staging = weather_staging_from_events(catalog.table("events").read(pin["events"]))
                with tr.span("pipeline.build"):
                    wh = build_warehouse(spark, staging, AS_OF_DATE)
                with tr.span("pipeline.materialize", catch_untagged=True):
                    return materialize_transactional(wh, catalog)
            except ConcurrentTransactionError:
                if attempt == 3:
                    raise
                retries[0] += 1

    def pinned_frames(cat: SnapshotCatalog, pins: list):
        """The frames callable of one read: pin, then open the tables."""

        def frames():
            with tr.span("sources.snapshot_pin"):
                pin = cat.snapshot(WAREHOUSE_TABLES)
            pins.append(pin)
            with tr.span("sources.read_open"):
                return tuple(
                    cat.table(n).read(pin[n]) for n in ("fact_weather_day", "dim_date", "dim_location")
                )

        return frames

    published: list = []
    events_at: dict[int, pa.Table] = {}  # published fact version -> events
    restated = {"files_rewritten": [], "files_kept": []}

    def commit_batch(k: int, op: Op) -> None:
        """Land batch k (day INGEST_DAYS + k and a restatement of an
        earlier day), republish, and check the publish is visible.
        ``op`` times it from the batch's arrival."""
        nonlocal mirror
        index = INGEST_DAYS + k
        day_t = gen.day_events(ctx.seed, index, INGEST_PER_DAY, INGEST_POSTAL)
        # restate a day of the initial load: every restatement then
        # rewrites one of its files, and every run stores about as much
        rest = gen.restatement(ctx.seed, k, INGEST_DAYS, INGEST_PER_DAY, INGEST_POSTAL)
        day_p, rest_p = land(f"day{index}", day_t), land(f"restate{k}", rest.rows)
        after = pa.concat_tables([mirror, day_t])
        after = pa.concat_tables([after.filter(pa.array(~rest.matches(after))), rest.rows])
        op.start = time.perf_counter()
        with tr.span("ingest.commit", request=f"w{k}"):
            with tr.span("sources.events_append"):
                catalog.table("events").write(spark.read.parquet(day_p), mode="append")
            with tr.span("sources.replace_where"):
                out = catalog.table("events").replace_where(
                    spark.read.parquet(rest_p), F.expr(rest.condition_sql)
                )
            mirror = after
            wh, versions = publish()
            seen = catalog.snapshot(["fact_weather_day"])["fact_weather_day"]
            if seen < versions["fact_weather_day"]:
                raise AssertionError("published fact not visible to a new snapshot")
        op.end = time.perf_counter()
        published.append(wh)
        events_at[versions["fact_weather_day"]] = mirror
        restated["files_rewritten"].append(out["files_rewritten"])
        restated["files_kept"].append(out["files_kept"])

    wh, versions = publish()
    published.append(wh)
    events_at[versions["fact_weather_day"]] = mirror

    # ---- one writer, INGEST_READERS readers. The writer's first commit
    # is a warm-up that runs under the same reader load and ends setup:
    # the first commit under load runs 10-20% slower than later ones
    # (JIT). Then the timed phase opens: the writer makes INGEST_COMMITS
    # timed commits, and the readers run until they land, for at least
    # ``seconds``. A fixed count, not as many as fit in ``seconds``, so
    # every run stores the same data and times the same work.
    window: dict[str, float] = {}
    commits: list[Op] = []

    def writer() -> None:
        for k in range(1 + INGEST_COMMITS):
            op = Op(0.0, 0.0)
            try:
                commit_batch(k, op)
            except Exception as exc:
                op.end = time.perf_counter()
                op.error = f"{type(exc).__name__}: {exc}"[:300]
            commits.append(op)
            if k == 0:
                env.reset_peaks(spark)
                window["from"] = time.perf_counter()
                window["to"] = window["from"] + ctx.seconds

    catalogs = [SnapshotCatalog(spark, root) for _ in range(INGEST_READERS)]
    streams = [request_stream(ctx.seed, c, INGEST_DAYS) for c in range(INGEST_READERS)]

    def body(c: int, seq: int) -> dict:
        kind, filt = next(streams[c])
        pins: list = []
        rows = traced_request(ctx, f"r{c}-{seq}", kind, filt, pinned_frames(catalogs[c], pins))
        return {"kind": kind, "filt": filt, "rows": rows, "pin": pins[0]}

    # readers keep reading until the window closes and the writer's last
    # commit lands, so every commit runs under the same contention. All
    # reads in that time are timed: each run's reads then span the same
    # work, whole commits, however long the commits take.
    w = threading.Thread(target=writer, name="writer", daemon=True)
    w.start()
    ops, _ = closed_loop(
        INGEST_READERS, 0.0, body, busy=lambda: w.is_alive() or time.perf_counter() < window["to"]
    )
    w.join()
    _read_memory(ctx, res)
    timed_from = window["from"]
    deadline = max(window["to"], commits[-1].end)
    setup_s = ctx.session_s + gen_s + (timed_from - t)
    timed = [op for op in ops if timed_from <= op.start < deadline]
    timed_commits = [op for op in commits[1:] if op.error is None]
    # every file of the catalog: all ten published tables and events,
    # their manifests and logs, and the versions kept for time travel
    stored_mb = env.dir_mb(root)

    # ---- checks: every read's answer against DuckDB over the events
    # its pinned version was published from, torn reads on every pin,
    # and Q1-Q5 on the final pin
    t_checks = time.perf_counter()
    _count_errors(res, ops, "read")
    _count_errors(res, commits, "commit")
    oracles: dict[int, checks.Oracle] = {}

    def oracle_at(version: int) -> checks.Oracle:
        if version not in oracles:
            oracles[version] = checks.Oracle(events_at[version])
        return oracles[version]

    torn: dict = {}
    final = catalog.snapshot(WAREHOUSE_TABLES)
    try:
        for op in ops:
            if op.error is not None:
                continue
            p = op.payload
            version = p["pin"]["fact_weather_day"]
            if version not in events_at:
                res.fail(f"read pinned an unpublished fact version {version}")
                continue
            if not checks.rows_equal(p["rows"], oracle_at(version).expected(p["kind"], p["filt"])):
                res.fail(f"read {p['kind']} {p['filt']} at {p['pin']} differs from the DuckDB oracle")
            key = tuple(sorted(p["pin"].items()))
            if key not in torn:
                fact = catalog.table("fact_weather_day").read(version)
                staged = catalog.table("stg_forecast_day").quick_count(p["pin"]["stg_forecast_day"])
                torn[key] = checks.torn_read_ok(run_request("q4", None, fact, None, None), staged)
            if not torn[key]:
                res.fail(f"torn read at pin {p['pin']}")
        res.attempted += 1 + len(checks.KINDS)
        with tr.span("pipeline.validate"):
            null_fks = published[-1].validate()["null_fk_count"]
        if null_fks != 0:
            res.fail("final publish: NULL foreign keys")
        fact, dd, dl = (catalog.table(n).read(final[n]) for n in ("fact_weather_day", "dim_date", "dim_location"))
        for k in checks.KINDS:
            if not checks.rows_equal(run_request(k, None, fact, dd, dl), oracle_at(final["fact_weather_day"]).expected(k)):
                res.fail(f"final pin: {k} differs from the DuckDB oracle")
        res.details["fact_rows"] = oracle_at(final["fact_weather_day"]).fact_rows()
    finally:
        for o in oracles.values():
            o.close()
    res.details["distinct_pins"] = len(torn)

    res.details["phases_s"] = {"setup": setup_s, "load": t_checks - timed_from,
                               "checks": time.perf_counter() - t_checks}
    res.metrics["setup_s"] = (setup_s, "s")
    _latency_metrics(res, timed, timed_from)
    _query_tail(res, timed)
    res.metrics["freshness_s"] = (stats.median(op.end - op.start for op in timed_commits), "s")
    res.metrics["stored_mb"] = (stored_mb, "MB")
    res.details["commits"] = [round(op.end - op.start, 2) for op in commits]

    if tr.enabled:
        fact_files = catalog.table("fact_weather_day").read(final["fact_weather_day"]).inputFiles()
        res.details["layer_extras"] = {
            "sources.files_rewritten": (_mean(restated["files_rewritten"]), "count"),
            "sources.files_kept": (_mean(restated["files_kept"]), "count"),
            "sources.manifest_files": (float(len(fact_files)), "count"),
            "sources.commit_retries": (float(retries[0]), "count"),
        }
    return res


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


# ------------------------------------------------------------------ curate


def curate(ctx: Ctx) -> Result:
    spark, tr, res = ctx.spark, ctx.tracer, Result()
    t = time.perf_counter()
    corpus = gen.corpus(ctx.seed, CURATE_DOCS)
    pq.write_table(corpus.docs, ctx.path("docs.parquet"))
    pq.write_table(corpus.benchmark, ctx.path("bench.parquet"))
    gen_s = time.perf_counter() - t

    rest = Rest(spark) if tr.enabled else None
    cached: list[float] = []

    def one_pass(out: str) -> None:
        docs = spark.read.parquet(ctx.path("docs.parquet"))
        bench = spark.read.parquet(ctx.path("bench.parquet"))
        with tr.span("curation.curate"):
            result = curate_documents(docs, bench)
        with tr.span("curation.write"):
            result.curated.write.mode("overwrite").parquet(out)
        if rest is not None:
            cached.append(rest.cached_mb())
        result.unpersist()

    t = time.perf_counter()
    with tr.span("setup.warmup"):
        one_pass(ctx.path("curated", "warmup"))
    setup_s = ctx.session_s + gen_s + (time.perf_counter() - t)

    def body(c: int, seq: int) -> dict:
        out = ctx.path("curated", f"pass{seq}")
        with tr.span("request", request=f"p{seq}"):
            one_pass(out)
        return {"out": out}

    env.reset_peaks(spark)
    ops, t0 = closed_loop(1, ctx.seconds, body)
    _read_memory(ctx, res)
    _count_errors(res, ops, "curate")
    res.attempted += 1  # the warm-up pass's output is checked too
    kept: list[int] = []
    for op in ops + [Op(0.0, 0.0, {"out": ctx.path("curated", "warmup")})]:
        if op.error is not None:
            continue
        ids = pq.read_table(op.payload["out"], columns=["doc_id"]).column("doc_id").to_pylist()
        kept.append(len(ids))
        bad = checks.curate_violations(ids, corpus)
        if len(set(ids)) != len(ids) or not ids:
            res.fail(f"curated output {op.payload['out']} empty or has repeated ids")
        elif bad:
            res.fail(f"planted duplicates/contamination kept: {bad[:5]}")

    res.metrics["setup_s"] = (setup_s, "s")
    _latency_metrics(res, ops, t0, units=lambda op: CURATE_DOCS)
    res.metrics["freshness_s"] = (res.metrics["latency_p50_ms"][0] / 1e3, "s")
    res.metrics["stored_mb"] = (env.dir_mb(ctx.path("curated", "warmup")), "MB")
    res.details["kept_ratio"] = kept[0] / CURATE_DOCS if kept else 0.0
    res.details["planted"] = {
        "exact_dups": len(corpus.exact_dups),
        "near_dups": len(corpus.near_dups),
        "contaminated": len(corpus.contaminated),
    }
    if tr.enabled:
        res.details["layer_extras"] = {
            "curation.cached_mb": (max(cached) if cached else 0.0, "MB"),
            "curation.kept_ratio": (res.details["kept_ratio"], "ratio"),
        }
    return res


WORKLOADS = {"ingest": ingest, "curate": curate}


# --------------------------------------------------------- per-layer metrics


def per_layer(ctx: Ctx, res: Result) -> dict:
    """Every per-layer metric from the traced run's spans and the REST
    API's job/stage/SQL records. Layers a workload leaves idle read 0
    and are listed in details["idle_layers"]."""
    tr = ctx.tracer
    work = attribute(tr, Rest(ctx.spark))
    spans: dict[str, list] = {}
    for s in tr.spans:
        spans.setdefault(s.name, []).append(s)

    def med(name: str, scale: float) -> float:
        xs = [s.seconds for s in spans.get(name, [])]
        return stats.median(xs) * scale if xs else 0.0

    out: dict = {"session.start_s": (ctx.session_s, "s")}

    n_pipe = len(spans.get("pipeline.materialize", []))
    pw = layer_work(tr, work, ("pipeline.build", "pipeline.materialize", "pipeline.validate"))
    per = 1.0 / max(n_pipe, 1)
    out.update({
        "pipeline.build_ms": (med("pipeline.build", 1e3), "ms"),
        "pipeline.materialize_s": (med("pipeline.materialize", 1.0), "s"),
        "pipeline.validate_ms": (med("pipeline.validate", 1e3), "ms"),
        "pipeline.jobs": (pw.jobs * per, "count"),
        "pipeline.stages": (pw.stages * per, "count"),
        "pipeline.tasks": (pw.tasks * per, "count"),
        "pipeline.executor_cpu_s": (pw.cpu_s * per, "s"),
        "pipeline.shuffle_write_mb": (pw.shuffle_write_mb * per, "MB"),
        "pipeline.spill_mb": (pw.spill_mb * per, "MB"),
        "pipeline.output_mb": (pw.output_mb * per, "MB"),
        "pipeline.output_files": (pw.files_written * per, "count"),
    })

    dash_names = tuple(f"dashboard.{k}" for k in checks.KINDS) + ("dashboard.windowed",)
    dash_spans = [s for n in dash_names for s in spans.get(n, [])]
    dw = layer_work(tr, work, dash_names)
    nq = max(len(dash_spans), 1)
    rows_out = sum(s.attrs.get("rows", 0) for s in dash_spans)
    reqs = [s.seconds * 1e3 for s in spans.get("request", [])] if dash_spans else []
    tail = stats.tail(reqs)
    if reqs and tail is None:
        res.details["absent"] = {"dashboard.request_tail_ms": f"{len(reqs)} requests: too few for p75"}
    out.update({f"dashboard.{k}_ms": (med(f"dashboard.{k}", 1e3), "ms") for k in checks.KINDS})
    out.update({
        "dashboard.windowed_ms": (med("dashboard.windowed", 1e3), "ms"),
        "dashboard.request_tail_ms": (tail[1] if tail else 0.0, "ms"),
        "dashboard.jobs_per_query": (dw.jobs / nq, "count"),
        "dashboard.input_mb_per_query": (dw.input_mb / nq, "MB"),
        "dashboard.files_read_per_query": (dw.files_read / nq, "count"),
        "dashboard.rows_scanned_per_row_returned": (dw.input_rows / max(rows_out, 1), "ratio"),
        "dashboard.executor_cpu_ms_per_query": (dw.cpu_s * 1e3 / nq, "ms"),
        "dashboard.wait_ms": (dw.wait_ms / nq, "ms"),
    })

    out.update({
        "sources.snapshot_pin_ms": (med("sources.snapshot_pin", 1e3), "ms"),
        "sources.read_open_ms": (med("sources.read_open", 1e3), "ms"),
        "sources.events_append_s": (med("sources.events_append", 1.0), "s"),
        "sources.files_rewritten": (0.0, "count"),
        "sources.files_kept": (0.0, "count"),
        "sources.manifest_files": (0.0, "count"),
        "sources.commit_retries": (0.0, "count"),
    })

    n_cur = len(spans.get("curation.write", []))
    cw = layer_work(tr, work, ("curation.curate", "curation.write"))
    per = 1.0 / max(n_cur, 1)
    out.update({
        "curation.curate_s": (med("curation.curate", 1.0), "s"),
        "curation.write_s": (med("curation.write", 1.0), "s"),
        "curation.jobs": (cw.jobs * per, "count"),
        "curation.executor_cpu_s": (cw.cpu_s * per, "s"),
        "curation.shuffle_write_mb": (cw.shuffle_write_mb * per, "MB"),
        "curation.spill_mb": (cw.spill_mb * per, "MB"),
        "curation.cached_mb": (0.0, "MB"),
        "curation.kept_ratio": (0.0, "ratio"),
    })
    out.update(res.details.pop("layer_extras", {}))

    for name in ("latency_p50_ms", "throughput_per_s", "freshness_s"):
        value, unit = res.metrics[name]
        out[f"traced.{name}"] = (value, unit)

    res.details["idle_layers"] = sorted(
        layer for layer, names in (
            ("pipeline", ("pipeline.materialize",)),
            ("dashboard", dash_names),
            ("sources", ("sources.snapshot_pin", "sources.load_events")),
            ("curation", ("curation.write",)),
        )
        if not any(spans.get(n) for n in names)
    )
    res.details["self_time_s"] = {k: round(v, 3) for k, v in tr.self_time_by_layer().items()}
    return out
