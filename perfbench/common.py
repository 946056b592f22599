"""What every workload shares: its run context, its result, and starting
and stopping the program's Spark session."""

from __future__ import annotations

import statistics
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.metrics import STAGE_FIELDS
from perfbench.oracle import Oracle
from perfbench.stats import stage_summary
from perfbench.spans import Tracer, in_window, status_records


@dataclass
class Ctx:
    work: Path          # this run's private directory, removed afterwards
    corpus: Path        # the generated corpus
    seed: int
    seconds: int
    cores: int
    tracer: Tracer
    oracle: Oracle
    t0: float = 0.0     # start of set-up: just before the program is imported
    spark_probe_s: float = 0.0


@dataclass
class Result:
    setup_s: float
    work_s: float                    # the measured phase's wall time
    ops_per_s: float
    op_p50_ms: float
    attempted: int
    failed: int
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def start_spark(ctx: Ctx, app: str):
    """The program's session, timed as the ``session.start`` span (first
    trivial action included, so JVM start-up is billed here)."""
    from graphdb_td2_spark.session import get_spark

    with ctx.tracer.span("session.start"):
        spark = get_spark(f"perfbench-{app}")
        spark.range(1).count()
    ctx.tracer.spark = spark
    return spark


def stop_spark(ctx: Ctx, spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit.
    A traced run first takes the JVM shuffle probe (``bench.run_spark_probe``),
    after every measured phase."""
    from pyspark import SparkContext

    if ctx.tracer.enabled:
        import bench

        try:
            ctx.spark_probe_s = bench.run_spark_probe(spark)
        except Exception:  # the probe only annotates the run
            traceback.print_exc()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def stage_layers(ctx: Ctx, spark, scopes: dict[str, tuple[list, int]]) -> dict[str, float]:
    """Per-layer stage roll-ups for a traced run. ``scopes`` maps a layer
    name to (its spans, the count to divide by). Also credits jobs to
    spans by job group. Reading the status store is timed as
    ``trace.read_s``."""
    t0 = time.time()
    records, jobs = status_records(spark)
    ctx.tracer.count_jobs(jobs)
    out: dict[str, float] = {}
    for scope, (spans, per) in scopes.items():
        wall = sum(s.seconds for s in spans)
        summary = stage_summary(in_window(records, spans), wall, ctx.cores, max(per, 1))
        for f, _, _ in STAGE_FIELDS:
            out[f"{scope}.{f}"] = summary[f]
    out["trace.read_s"] = time.time() - t0
    return out
