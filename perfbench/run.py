#!/usr/bin/env python
"""Reactor benchmark: JSON message → point cloud, stats and histogram.

    python3 perfbench/run.py --workload reactor_bulk --seed 1 --seconds 8 --trace 0

Run from the repository root. Writes a seeded FCS corpus under
`.perfbench_work/`, starts one `local[nproc]` session, sends the
reactor one cold message, three warm-up messages and then warm messages
for `--seconds` seconds, checks every message's outputs against a
NumPy reference and prints, as the last stdout line, one JSON object
with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`) named in BENCHMARK.json. Exits 1 if any output was
wrong or any operation failed, 2 if the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

T_IMPORT = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Messages sent between the cold one and the timed window (checked, but
# not in warm_s): latency keeps falling for about three as the JVM's JIT
# settles (measured on reactor_bulk).
WARMUP = 3
MIN_WARM = 3  # warm samples per run, even if --seconds runs out first
# Corpus generation, parse_fcs_bytes and plan build are timed this many
# times per run and reported as the median.
REPEATS = 3
OUTPUTS = ("point_cloud", "stats", "histogram")
PREFIX_REPEATS = 2  # a prefix's time is the least of its runs


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.rows = 0  # point-cloud rows of the last checked message
        self.values: dict[str, float] = {}
        self.phases: dict[str, float] = {}  # wall seconds, for the info line
        self.spark = None
        self.tracer = None
        self.counters = None

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        from corpus import SHAPES, generate
        from fcs_etl_reactor_spark.session import get_spark, tune_for_input

        self.shape = SHAPES[self.args.workload]
        corpus_dir = os.path.join(self.work, "corpus")
        gen_s = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            self.corpus = generate(self.args.workload, self.args.seed, corpus_dir)
            gen_s.append(time.perf_counter() - t0)

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.args.trace:
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
        self.cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.cpus}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        self.master = self.spark.sparkContext.master
        self.phases["generate"] = sum(gen_s)
        t0 = time.perf_counter()
        tune_for_input(self.spark, corpus_dir)
        tune_s = time.perf_counter() - t0
        self.values["session.start_s"] = start_s
        self.values["setup_s"] = _median(gen_s) + start_s + tune_s
        if self.args.trace:
            from tracing import SparkCounters, Tracer

            self.tracer = Tracer()
            self.counters = SparkCounters(self.spark)

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # -- one timed operation -------------------------------------------
    def attempt(self, what: str, fn):
        """Run fn, counting it; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def message(self, trace_id: str | None = None) -> float:
        """Send one message, force its outputs, check them. Returns the
        latency; for a failed message, the time until it failed."""
        from checks import (check_histogram, check_point_cloud, check_point_cloud_totals,
                            check_stats, read_csv_dir)
        from corpus import message

        out_dir = os.path.join(self.work, "out") if self.shape.full_message else None
        msg = message(self.corpus, out_dir)
        t0 = time.perf_counter()
        self.attempted += 1
        try:
            if trace_id is None:
                got = self._send(msg)
            else:
                with self.counters.group(trace_id), self.tracer.span("message", trace_id) as root:
                    got = self._send(msg, trace_id, root["span_id"])
            dt = time.perf_counter() - t0
            if got is None:
                pc, stats, hist = (read_csv_dir(os.path.join(out_dir, n)) for n in OUTPUTS)
                errors = check_point_cloud(self.corpus, pc)
                self.rows = len(pc)
            else:
                stats, hist, totals = got
                errors = check_point_cloud_totals(self.corpus, totals)
                self.rows = totals["rows"]
            errors += check_stats(self.corpus, stats) + check_histogram(self.corpus, hist)
        except Exception:
            dt = time.perf_counter() - t0
            errors = [traceback.format_exc(limit=3)]
        if errors:
            self.failed += 1
            self.errors.extend(errors[:5])
        return dt

    def _send(self, msg: dict, trace_id: str | None = None, parent: int | None = None):
        """handle_message, then force lazy outputs: the point cloud with
        a noop sink (observing its totals), the small stats and
        histogram by collecting them. Returns None when the message
        exported its outputs, else (stats, histogram, point-cloud totals)."""
        from checks import observe_point_cloud
        from fcs_etl_reactor_spark.reactor import handle_message

        def span(name):
            return self.tracer.span(name, trace_id, parent) if trace_id else nullcontext()

        with span("reactor.handle_message"):
            result = handle_message(self.spark, msg)
        if result["written"]:
            return None
        outputs = result["outputs"]
        with span("force"):
            pc, obs = observe_point_cloud(outputs["point_cloud"])
            _noop(pc)
            stats = outputs["stats"].toPandas()
            hist = outputs["histogram"].toPandas()
        return stats, hist, obs.get

    # -- end-to-end ------------------------------------------------------
    def end_to_end(self) -> None:
        """Cold message, warm-up messages, then warm messages for
        --seconds seconds."""
        t0 = time.perf_counter()
        self.values["cold_s"] = self.message()
        self.phases["cold"] = time.perf_counter() - t0
        self.warmup_samples = [self.message() for _ in range(WARMUP)]
        self.phases["warmup"] = time.perf_counter() - t0 - self.phases["cold"]
        warm = []
        t_start = time.perf_counter()
        t_end = t_start + self.args.seconds
        while time.perf_counter() < t_end or len(warm) < MIN_WARM:
            warm.append(self.message())
        self.phases["window"] = time.perf_counter() - t_start
        self.values["warm_s"] = _median(warm)
        self.warm_samples = warm

    # -- traced ----------------------------------------------------------
    def traced(self) -> None:
        """Cold and warm-up messages, then untraced and traced warm
        messages in alternation (the difference is the tracing
        overhead), then the per-layer prefix runs."""
        self.message()
        self.warmup_samples = [self.message() for _ in range(WARMUP)]
        plain, traced, totals = [], [], []
        t_end = time.perf_counter() + self.args.seconds
        k = 0
        while time.perf_counter() < t_end or min(len(plain), len(traced)) < 2:
            if k % 4 in (0, 3):  # ABBA order, so JIT drift cancels
                plain.append(self.message())
            else:
                group = f"message-{k}"
                traced.append(self.message(trace_id=group))
                totals.append(self.counters.totals(group))
            k += 1
        self.warm_samples = plain + traced
        v = self.values
        v["trace.warm_s"] = _median(traced)
        v["trace.overhead_s"] = _median(traced) - _median(plain)
        for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
                    "executor_run_s", "executor_cpu_s"):
            v[f"engine.{key}"] = _median([t[key] for t in totals])
        v["sources.fcs.scan_amp"] = _median([t["input_bytes"] for t in totals]) / self.corpus.corpus_bytes
        v["operators.gates.pass_ratio"] = self.rows / self.corpus.events
        self.layers()

    def _prefix(self, name: str, df) -> tuple[float, dict]:
        """Force a plan prefix with a noop sink under its own job group;
        the counters are those of its last run."""
        times = []
        for i in range(PREFIX_REPEATS):
            group = f"layer.{name}.{i}"

            def run():
                with self.counters.group(group), self.tracer.span(group, group):
                    t0 = time.perf_counter()
                    _noop(df)
                    return time.perf_counter() - t0

            dt = self.attempt(group, run)
            times.append(dt if dt is not None else float("nan"))
        return min(times), self.counters.totals(group)

    def layers(self) -> None:
        from corpus import CHANNELS, message

        from fcs_etl_reactor_spark.io import write_csv
        from fcs_etl_reactor_spark.reactor import handle_message
        from fcs_etl_reactor_spark.sources.fcs import fcs_wide, parse_fcs_bytes, read_fcs_long
        from fcs_etl_reactor_spark.sources.fcs_datasource import register

        v, spark, c = self.values, self.spark, self.corpus

        blobs = []
        for path in c.files:
            with open(path, "rb") as fh:
                blobs.append(fh.read())
        decode = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            for blob in blobs:
                parse_fcs_bytes(blob)
            decode.append(time.perf_counter() - t0)
        v["sources.fcs.decode_s"] = _median(decode)

        builds, result = [], None
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            result = self.attempt("plan_build", lambda: handle_message(spark, message(c, None)))
            builds.append(time.perf_counter() - t0)
        v["reactor.plan_build_s"] = _median(builds)

        register(spark)
        v["sources.fcs_datasource.read_s"], _ = self._prefix(
            "datasource_read", spark.read.format("fcs").load(c.directory))
        if result is None:
            return  # the plan did not build: the layer metrics stay NaN
        outs = result["outputs"]

        # Prefixes of the reactor's plan: read and pivot are built here,
        # the gated point cloud, stats and histogram are the message's
        # own lazy outputs.
        read = read_fcs_long(spark, c.directory)
        t_read, n_read = self._prefix("read", read)
        t_wide, n_wide = self._prefix("pivot", fcs_wide(read, CHANNELS))
        if self.shape.full_message:
            t_gated, n_gated = self._prefix("compensate_gate", outs["point_cloud"])
        else:  # channels only: the point cloud is the pivot's plan
            t_gated, n_gated = t_wide, n_wide
        t_stats, n_stats = self._prefix("stats", outs["stats"])
        t_hist, _ = self._prefix("hist", outs["histogram"])

        v["sources.fcs.read_s"] = t_read
        v["sources.fcs.read_tasks"] = n_read["tasks"]
        v["sources.fcs.pivot_s"] = t_wide - t_read
        v["sources.fcs.pivot_shuffle_bytes"] = n_wide["shuffle_write_bytes"]
        v["operators.compensate_gate_s"] = t_gated - t_wide
        v["plans.fcs_pipeline.stats_s"] = t_stats - t_gated
        v["plans.fcs_pipeline.stats_shuffle_bytes"] = (
            n_stats["shuffle_write_bytes"] - n_gated["shuffle_write_bytes"])
        v["operators.beads.hist_s"] = t_hist - t_gated

        v["io.export_s"] = v["io.export_bytes"] = 0.0
        if self.shape.full_message:
            export_dir = os.path.join(self.work, "export")

            def forced(sink):
                with self.counters.group(f"layer.{sink}"), self.tracer.span(
                        f"layer.{sink}", f"layer.{sink}"):
                    t0 = time.perf_counter()
                    for name, df in outs.items():
                        if sink == "export":
                            write_csv(df, os.path.join(export_dir, name))
                        else:
                            _noop(df)
                    return time.perf_counter() - t0

            t_noop = self.attempt("layer.outputs", lambda: forced("outputs"))
            t_csv = self.attempt("layer.export", lambda: forced("export"))
            if t_noop is not None and t_csv is not None:
                v["io.export_s"] = t_csv - t_noop
                v["io.export_bytes"] = sum(
                    os.path.getsize(os.path.join(d, f))
                    for d, _, fs in os.walk(export_dir) for f in fs if f.startswith("part-"))

    def write_trace(self) -> str:
        path = os.path.join(WORK, f"trace-{self.args.workload}-seed{self.args.seed}.jsonl")
        self.tracer.write(path)
        return path


def _metric_specs(trace: int) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main(argv: list[str] | None = None) -> int:
    from corpus import SHAPES

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import fcs_etl_reactor_spark  # noqa: F401
        specs = _metric_specs(args.trace)
    except (ImportError, OSError) as exc:
        print(f"perfbench: no package to benchmark under {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    # Python workers import the package; Spark and Python temp files
    # stay inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from tracing import RssSampler

    run = Run(args, work)
    run.phases["start"] = time.perf_counter() - T_IMPORT
    # Peak RSS is a traced-run number: sampling /proc from this process
    # would add noise to the untraced, timed runs.
    with RssSampler() if args.trace else nullcontext() as rss:
        try:
            run.setup()
            if args.trace:
                run.traced()
                run.values["peak_rss_mb"] = rss.peak_mb
            else:
                run.end_to_end()
        finally:
            if run.spark is not None:
                t0 = time.perf_counter()
                run.stop()
                run.phases["stop"] = time.perf_counter() - t0
    trace_path = run.write_trace() if args.trace else None
    shutil.rmtree(work, ignore_errors=True)

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": run.cpus, "master": run.master,
        "corpus_bytes": run.corpus.corpus_bytes, "events": run.corpus.events,
        "warmup_samples": run.warmup_samples, "warm_samples": run.warm_samples,
        "phases_s": run.phases, "trace_file": trace_path,
        "errors": run.errors[:5],
    }
    print("perfbench " + json.dumps(info))
    correct = run.failed == 0
    metrics = {}
    for spec in specs:
        value = float(run.values.get(spec["name"], float("nan")))
        metrics[spec["name"]] = {"value": value, "unit": spec["unit"]}
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
