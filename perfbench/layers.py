"""Installs spans around the program's layers from outside the program,
and turns the recorded spans into per-layer metrics.

``instrument_runner`` rebinds names in ``streaming.runner``'s module
namespace for the duration of a ``with`` block — the readers of
``sources.csv_feeds``, ``build_views``, ``verify_views``,
``merge_insert_if_absent``, ``TABLES`` (each star builder wrapped) and the
retry back-off ``_sleep`` — and restores every original on exit. No file
of the program changes.

Span tree of one logical hour (the bench opens ``hour`` itself)::

    hour
    ├── build_views
    │   └── source.read_gtfs, source.read_delays, source.read_vehicles,
    │       source.read_weather_raw
    ├── verify
    ├── build        (one per star table: driver-side plan construction)
    ├── offered      (counts the rows each merge is offered; tracing
    │                 overhead, left out of every total)
    └── merge        (one per star table that has rows)

The hour's own jobs (its self time) are the ``isEmpty`` probes between a
table's build and its merge, plus the retry loop.
"""

from __future__ import annotations

import os
import statistics
from contextlib import contextmanager

from tracer import Span, Tracer

STAR_TABLES = ("LineDim", "StopDim", "VehicleDim", "WeatherDim", "TimeDim", "DelayFact")
SOURCE_READERS = ("read_gtfs", "read_delays", "read_vehicles", "read_weather_raw")
SUFFIX_FAMILY = ("doc_suffix_array", "doc_exact_substr_spans")
ANN_FAMILY = ("embedding_pq_codebooks", "embedding_pq_search")
CATALOG_ENTRIES = SUFFIX_FAMILY + ANN_FAMILY


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


@contextmanager
def instrument_runner(tracer: Tracer):
    """Wrap the run loop's layer calls in spans; yields a dict that
    counts retries (calls of the runner's back-off sleep)."""
    from idh_etl_demo_spark.plans.star import TableSpec
    from idh_etl_demo_spark.streaming import runner

    saved = {n: getattr(runner, n) for n in
             SOURCE_READERS + ("build_views", "verify_views", "merge_insert_if_absent", "TABLES", "_sleep")}
    stats = {"retries": 0}

    def spanned(name, fn, **attrs):
        def call(*a, **kw):
            with tracer.span(name, **attrs):
                return fn(*a, **kw)
        return call

    def merge(spark, incoming, target_path, keys, *a, **kw):
        table = os.path.basename(target_path)
        with tracer.span("offered", table=table, overhead=True):
            offered = incoming.count()
        with tracer.span("merge", table=table, offered=offered) as s:
            s.attrs["appended"] = saved["merge_insert_if_absent"](spark, incoming, target_path, keys, *a, **kw)
        return s.attrs["appended"]

    def sleep(seconds):
        stats["retries"] += 1
        saved["_sleep"](seconds)

    for n in SOURCE_READERS:
        setattr(runner, n, spanned(f"source.{n}", saved[n]))
    runner.build_views = spanned("build_views", saved["build_views"])
    runner.verify_views = spanned("verify", saved["verify_views"])
    runner.merge_insert_if_absent = merge
    runner.TABLES = tuple(
        TableSpec(t.name, t.keys, spanned("build", t.build, table=t.name)) for t in saved["TABLES"]
    )
    runner._sleep = sleep
    try:
        yield stats
    finally:
        for n, v in saved.items():
            setattr(runner, n, v)


def runner_metrics(tracer: Tracer, hours: list[Span], retries: int) -> dict[str, float]:
    """Per-hour medians of the runner, star, merge and sources layers."""
    per: dict[str, list[float]] = {}

    def add(key, value):
        per.setdefault(key, []).append(value)

    appended = offered = 0
    noop_merge_s = merge_s = 0.0
    for h in hours:
        kids = tracer.children(h)
        named = lambda n: [k for k in kids if k.name == n]  # noqa: E731
        if not named("verify"):
            continue  # the hour failed before its units ran; counted as failed
        views, verify = named("build_views")[0], named("verify")[0]
        add("runner.build_views_s", views.seconds)
        add("runner.verify_s", verify.seconds)
        add("runner.verify_jobs", tracer.total(verify, "jobs"))
        add("runner.self_s", tracer.self_seconds(h))
        add("runner.jobs_per_hour", tracer.total(h, "jobs"))
        add("sources.s", sum(k.seconds for k in tracer.children(views)))
        add("sources.input_records", tracer.total(h, "input_records"))
        add("sources.input_bytes", tracer.total(h, "input_bytes"))
        builds = named("build")
        add("star.build_s", sum(b.seconds for b in builds))
        merges = {m.attrs["table"]: m for m in named("merge")}
        add("merge.jobs", sum(tracer.total(m, "jobs") for m in merges.values()))
        counted = {o.attrs["table"]: o for o in named("offered")}
        # a unit runs from its build call to its merge's return; a table
        # with no rows has no merge, so its unit ends where the next starts
        ends = [b.start for b in builds[1:]] + [h.end]
        for b, end in zip(builds, ends):
            t = b.attrs["table"]
            m = merges.get(t)
            unit = (m.end - b.start - counted[t].seconds) if m else (end - b.start)
            add(f"star.{t}.unit_s", unit)
            add(f"merge.{t}.s", m.seconds if m else 0.0)
            if m:
                appended += m.attrs["appended"]
                offered += m.attrs["offered"]
                merge_s += m.seconds
                noop_merge_s += m.seconds if m.attrs["appended"] == 0 else 0.0
    out = {k: median(v) for k, v in per.items()}
    out["runner.retries"] = float(retries)
    out["merge.rows_appended"] = float(appended)
    out["merge.rows_offered"] = float(offered)
    out["merge.append_ratio"] = appended / offered if offered else 0.0
    out["merge.noop_share"] = noop_merge_s / merge_s if merge_s else 0.0
    return out


def rerun_metrics(tracer: Tracer, hours: list[Span]) -> dict[str, float]:
    """Per-hour medians of a replay whose merges all append nothing."""
    lat, merge_s, jobs = [], [], []
    for h in hours:
        kids = tracer.children(h)
        lat.append(h.seconds - sum(k.seconds for k in kids if k.attrs.get("overhead")))
        merge_s.append(sum(k.seconds for k in kids if k.name == "merge"))
        jobs.append(tracer.total(h, "jobs"))
    return {
        "rerun.hour_p50_s": median(lat),
        "rerun.merge_s": median(merge_s),
        "rerun.jobs_per_hour": median(jobs),
    }


def entry_metrics(tracer: Tracer, entries: list[Span], cores: int) -> dict[str, float]:
    """Per-entry medians over passes, and per-family roll-ups."""
    per: dict[str, list[float]] = {}
    for e in entries:
        name = e.attrs["entry"]
        kids = {k.name: k for k in tracer.children(e)}
        if "exec" not in kids:
            continue  # the builder raised; counted as failed
        run_s = tracer.total(e, "executor_run_ms") / 1000.0
        for key, value in (
            ("build_s", kids["build"].seconds),
            ("exec_s", kids["exec"].seconds),
            ("jobs", tracer.total(e, "jobs")),
            ("shuffle_bytes", tracer.total(e, "shuffle_read_bytes") + tracer.total(e, "shuffle_write_bytes")),
            ("run_s", run_s),
            ("busy_share", run_s / (e.seconds * cores)),
            ("s", e.seconds),
        ):
            per.setdefault(f"entry.{name}.{key}", []).append(value)
    med = {k: median(v) for k, v in per.items()}
    out = {}
    for name in CATALOG_ENTRIES:
        for key in ("build_s", "exec_s", "jobs", "shuffle_bytes", "busy_share"):
            out[f"entry.{name}.{key}"] = med.get(f"entry.{name}.{key}", 0.0)
    for family, names in (("suffix", SUFFIX_FAMILY), ("ann", ANN_FAMILY)):
        secs = sum(med.get(f"entry.{n}.s", 0.0) for n in names)
        run = sum(med.get(f"entry.{n}.run_s", 0.0) for n in names)
        out[f"{family}.s"] = secs
        out[f"{family}.jobs"] = sum(med.get(f"entry.{n}.jobs", 0.0) for n in names)
        out[f"{family}.busy_share"] = run / (secs * cores) if secs else 0.0
    return out


def spark_metrics(tracer: Tracer, tops: list[Span], wall_s: float, cores: int) -> dict[str, float]:
    """Totals over the traced phase's top-level spans."""
    tot = lambda key: float(sum(tracer.total(s, key) for s in tops))  # noqa: E731
    run_s = tot("executor_run_ms") / 1000.0
    return {
        "spark.jobs": tot("jobs"),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.spill_bytes": tot("spill_bytes"),
        "spark.executor_run_s": run_s,
        "spark.busy_share": run_s / (wall_s * cores) if wall_s else 0.0,
        "spark.ungrouped_jobs": tot("ungrouped_jobs"),
    }


def target_footprint(warehouse: str) -> tuple[int, int]:
    """(files, bytes) of the published data files under a warehouse:
    names starting with ``_`` or ``.`` are invisible to readers and are
    left out, as Spark's file listing leaves them out."""
    files = size = 0
    for root, dirs, names in os.walk(warehouse):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
