"""The repo benchmark: one closed-loop caller on local[<cores>].

    python3 perfbench/run.py --workload ztm_catchup --seed 1 --seconds 16 --trace 0

Workloads:

- ``ztm_catchup``: a generated ZTM day replayed hour by hour through
  ``streaming.runner.run_hour`` into a fresh path-sink warehouse.
- ``catalog_ops``: passes over two suffix-array and two PQ catalog
  entries on generated ``documents`` / ``embeddings`` tables.

The work of a run is fixed by ``--seconds`` alone (``hours`` logical hours,
or ``passes`` catalog passes), so a faster program does the same work in
less time. Outputs are checked outside the timed phase; a failed check is
a failed unit and makes the command exit 1.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
timed phase untraced and then traced (for ``ztm_catchup``, followed by a
traced re-run of the same hours), and prints the per-layer metrics from
spans recorded around the program's layers (see layers.py). The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. Spans of a traced run are written to ``perfbench/.traces/``.
See README.md for the layer → metric → workload map.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

from layers import (
    CATALOG_ENTRIES,
    STAR_TABLES,
    entry_metrics,
    instrument_runner,
    median,
    rerun_metrics,
    runner_metrics,
    spark_metrics,
    target_footprint,
)
from tracer import BASE_GROUP, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ztm_catchup", "catalog_ops")
HOUR_NOMINAL_S = 8  # sizes a run: hours = seconds // this
PASS_NOMINAL_S = 8  # sizes a run: catalog passes = seconds // this
DRIVER_HEAP = "1g"
SETUP_REPS = 3  # input generation is timed this many times, median kept
N_DOCS = N_VECTORS = 500


def log(*what) -> None:
    print("perfbench:", *what, file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    """One run: a Spark session, a work directory and the counts of
    attempted and failed units."""

    def __init__(self, args, work: str, cores: int):
        self.args, self.work, self.cores = args, work, cores
        self.attempted = self.failed = 0
        self.setup_s = 0.0
        self.tracer = None

    # -- set-up ------------------------------------------------------------
    def start_session(self) -> None:
        from idh_etl_demo_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # the whole heap is committed and touched at start, so the
                # JVM's resident memory does not depend on when GC ran
                "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        # jobs of this thread carry a group; only jobs from threads that
        # do not inherit it run ungrouped (spark.ungrouped_jobs)
        self.spark.sparkContext.setJobGroup(BASE_GROUP, "")
        self.setup_s += time.perf_counter() - t0

    def generate(self, gen) -> str:
        """Run ``gen(dir)`` SETUP_REPS times into a fresh directory and
        charge the median to set-up."""
        times = []
        for _ in range(SETUP_REPS):
            out = os.path.join(self.work, "inputs")
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.perf_counter()
            gen(out)
            times.append(time.perf_counter() - t0)
        self.setup_s += median(times)
        return out

    def timed_setup(self, fn, *a):
        t0 = time.perf_counter()
        out = fn(*a)
        self.setup_s += time.perf_counter() - t0
        return out

    # -- ZTM -----------------------------------------------------------------
    def hours(self) -> list[dt.datetime]:
        from ztm_gen import DAY

        n = min(23, max(2, self.args.seconds // HOUR_NOMINAL_S))  # hour 23 is the warm-up
        return [dt.datetime(DAY.year, DAY.month, DAY.day, h) for h in range(n)]

    def replay(self, root: str, wh: str, hours, traced: bool) -> tuple[float, list[float], list[dict]]:
        """Run ``hours`` in order; returns (wall, per-hour latency, appended)."""
        from idh_etl_demo_spark.streaming.runner import run_hour

        lat, appended = [], []
        t_start = time.perf_counter()
        for h in hours:
            self.attempted += len(STAR_TABLES)
            t0 = time.perf_counter()
            try:
                if traced:
                    with self.tracer.span("hour", hour=h.hour):
                        res = run_hour(self.spark, root, wh, h)
                else:
                    res = run_hour(self.spark, root, wh, h)
            except Exception:  # noqa: BLE001 — a failed hour fails all its units
                self.fail(f"hour {h:%H}: {traceback.format_exc(limit=3)}", units=len(STAR_TABLES))
                res = {}
            lat.append(time.perf_counter() - t0)
            appended.append(res)
        return time.perf_counter() - t_start, lat, appended

    def ztm(self) -> tuple[float, float, dict]:
        import checks
        import ztm_gen
        from idh_etl_demo_spark.streaming import runner

        # a unit that keeps failing retries without the 30 s back-off, so a
        # broken program fails the run's checks inside its time limit
        runner._sleep = lambda seconds: None

        root = self.generate(lambda out: ztm_gen.generate(out, self.args.seed))
        hours = self.hours()
        # warm-up: hour 23 into a throwaway warehouse, then hour 23 again
        # onto it — the idempotency check, and a second warm hour. A traced
        # run re-runs every replayed hour instead, after its timed phases.
        warm, warm_wh = [hours[0].replace(hour=23)], os.path.join(self.work, "warm")
        self.timed_setup(self.replay, root, warm_wh, warm, False)
        if not self.args.trace:
            self.timed_setup(self.rerun, root, warm_wh, warm, False)

        wh = os.path.join(self.work, "wh-untraced")
        wall, lat, _ = self.replay(root, wh, hours, False)
        log("hour seconds", lat)
        self.checked(len(STAR_TABLES), checks.check_star(root, wh, hours))
        layer: dict[str, float] = {}
        if not self.args.trace:
            return wall, median(lat), layer

        wh = os.path.join(self.work, "wh-traced")
        with instrument_runner(self.tracer) as stats:
            traced_wall, _, _ = self.replay(root, wh, hours, True)
            catchup = self.top_spans()
            layer.update(runner_metrics(self.tracer, catchup, stats["retries"]))
            layer.update(spark_metrics(self.tracer, catchup, traced_wall, self.cores))
            files, size_b = target_footprint(wh)
            layer["merge.target_files"], layer["merge.target_bytes"] = float(files), float(size_b)
            self.rerun(root, wh, hours, True)
            layer.update(rerun_metrics(self.tracer, self.top_spans()[len(catchup):]))
        self.checked(len(STAR_TABLES), checks.check_star(root, wh, hours))
        layer["trace.overhead_s"] = traced_wall - wall
        return wall, median(lat), layer

    def rerun(self, root: str, wh: str, hours, traced: bool) -> None:
        """Replay ``hours`` again onto ``wh``: every table must append 0
        rows and the published files must stay as they were."""
        before = target_footprint(wh)
        _, _, res = self.replay(root, wh, hours, traced)
        after = target_footprint(wh)
        failures = [
            f"re-run of hour {h:%H} appended {grew}"
            for h, r in zip(hours, res)
            if (grew := {t: n for t, n in r.items() if n})
        ]
        if after != before:
            failures.append(f"re-run changed the target (files, bytes): {before} -> {after}")
        self.checked(len(hours) + 1, failures)

    def top_spans(self) -> list:
        return [s for s in self.tracer.spans if s.parent is None]

    # -- catalog -------------------------------------------------------------
    def catalog(self) -> tuple[float, float, dict]:
        import bench  # the repo's bench: its memo reset is the one the catalog needs
        import checks
        import corpus_gen
        from idh_etl_demo_spark.catalog import ENTRIES

        tables = self.generate(lambda out: corpus_gen.generate(out, self.args.seed, N_DOCS, N_VECTORS))
        # warm-up: one pass over the run's own tables, so the timed passes
        # do not pay the JVM's first compile of any entry's plans, nor the
        # compiles that only inputs of this size trigger
        for name in CATALOG_ENTRIES:
            bench._clear_session_caches()
            self.timed_setup(lambda n: ENTRIES[n].spark(self.spark, tables).toPandas(), name)

        passes = max(2, self.args.seconds // PASS_NOMINAL_S)
        walls, lat, layer = {}, {}, {}
        for traced in ([False, True] if self.args.trace else [False]):
            t_phase = 0.0
            for _ in range(passes):
                results = {}
                for name in CATALOG_ENTRIES:
                    self.attempted += 1
                    bench._clear_session_caches()
                    t0 = time.perf_counter()
                    try:
                        if traced:
                            with self.tracer.span("entry", entry=name):
                                with self.tracer.span("build"):
                                    df = ENTRIES[name].spark(self.spark, tables)
                                with self.tracer.span("exec"):
                                    results[name] = df.toPandas()
                        else:
                            results[name] = ENTRIES[name].spark(self.spark, tables).toPandas()
                    except Exception:  # noqa: BLE001 — a failed entry is a failed unit
                        self.fail(f"{name}: {traceback.format_exc(limit=3)}")
                    dt_s = time.perf_counter() - t0
                    t_phase += dt_s
                    if not traced:
                        lat.setdefault(name, []).append(dt_s)
                self.checked(len(results), checks.check_entries(results, tables))
            walls[traced] = t_phase
        log("entry seconds", lat)
        if self.args.trace:
            tops = self.top_spans()
            layer.update(entry_metrics(self.tracer, tops, self.cores))
            layer.update(spark_metrics(self.tracer, tops, walls[True], self.cores))
            layer["trace.overhead_s"] = walls[True] - walls[False]
        # a typical pass: each entry's median over the passes, summed
        wall = sum(median(v) for v in lat.values())
        return wall, median(x for v in lat.values() for x in v), layer

    # -- common ----------------------------------------------------------------
    def fail(self, what: str, units: int = 1) -> None:
        self.failed += units
        log("FAILED", what)

    def checked(self, n: int, failures: list[str]) -> None:
        """Count ``n`` checked units as attempted and one failed unit per
        failure message."""
        self.attempted += n
        for f in failures:
            self.fail(f)

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return _vm_hwm_mb(jvm) + _vm_hwm_mb("self")

    def run(self) -> dict:
        self.start_session()
        if self.args.trace:
            self.tracer = Tracer(self.spark)
        if self.args.workload == "catalog_ops":
            wall, unit_p50, layer = self.catalog()
        else:
            wall, unit_p50, layer = self.ztm()
        if self.args.trace:
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            self.tracer.dump(os.path.join(HERE, ".traces", f"{self.args.workload}-seed{self.args.seed}.json"))
            metrics = per_layer_metrics(layer)
        else:
            metrics = {
                "setup_s": {"value": self.setup_s, "unit": "s"},
                "wall_s": {"value": wall, "unit": "s"},
                "unit_p50_s": {"value": unit_p50, "unit": "s"},
                "peak_rss_mb": {"value": self.peak_rss_mb(), "unit": "MB"},
            }
        return {
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": metrics,
        }


def per_layer_metrics(measured: dict) -> dict:
    """Every per-layer metric BENCHMARK.json declares, with its unit; 0
    where this workload does not use the layer."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer"]
    return {m["name"]: {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="repo benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("BENCHMARK.json", "idh_etl_demo_spark/session.py", "tests/ztm_oracle.py", "tests/compare.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: nothing to measure")
            return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEMORY=DRIVER_HEAP,
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    sys.path.insert(0, ROOT)
    os.chdir(work)  # anything the session drops in its working directory stays in the work dir

    bench = Bench(args, work, cores)
    try:
        result = bench.run()
    finally:
        if getattr(bench, "spark", None) is not None:
            stop_spark(bench.spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
