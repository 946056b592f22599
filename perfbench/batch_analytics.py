"""``batch_analytics``: a cold batch user. Set-up is the ETL a batch user
pays first (``get_spark`` → ``lake.build_lake`` →
``lake.warm_serving_artifacts``); the measured phase is one pass over
registry queries (``__spark_entry__.queries()``) in a fixed order,
grouped by the module that does their work, followed by the ingest
phase of ``perfbench/ivm_phase.py``. Each query is collected and then
compared with its ``oracle_sql()`` twin on DuckDB.
"""

from __future__ import annotations

import statistics
import sys
import time

from perfbench import ivm_phase
from perfbench.common import Ctx, Result, stage_layers, start_spark, stop_spark
from perfbench.metrics import BATCH_GROUPS


def run(ctx: Ctx, ivm_inputs: ivm_phase.Inputs) -> Result:
    tracer = ctx.tracer
    corpus_dir = str(ctx.corpus)

    import __spark_entry__
    from graphdb_td2_spark import lake

    spark = start_spark(ctx, "batch_analytics")
    outputs: dict[str, tuple] = {}
    try:
        with tracer.span("lake.build") as build:
            lake.build_lake(spark, corpus_dir)
        with tracer.span("lake.warm") as warm:
            lake.warm_serving_artifacts(spark, corpus_dir)
        setup_s = time.time() - ctx.t0

        queries = __spark_entry__.queries()
        with tracer.span("batch") as batch:
            for group, names in BATCH_GROUPS.items():
                with tracer.span(f"batch.{group}"):
                    for name in names:
                        with tracer.span(f"q.{name}"):
                            try:
                                df = queries[name](spark, corpus_dir)
                                outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
                            except Exception as exc:  # counted as a failed query
                                print(f"# {name} raised {exc!r}", file=sys.stderr)
                                outputs[name] = exc
        with tracer.span("ivm") as ingest:
            ivm_out = ivm_phase.run(ctx, spark, ivm_inputs)
        ivm_phase.collect_final(spark, ivm_out)
        layer = {}
        if tracer.enabled:
            scopes = {"lake": ([build, warm], 1)}
            scopes.update({f"batch.{g}": (tracer.find(f"batch.{g}"), 1) for g in BATCH_GROUPS})
            rounds = tracer.find("ivm.round")
            scopes["ivm"] = (rounds, len(rounds))
            layer = stage_layers(ctx, spark, scopes)
    finally:
        stop_spark(ctx, spark)

    failed = []
    for name, out in outputs.items():
        if isinstance(out, Exception) or not ctx.oracle.registry_matches(name, *out):
            failed.append(name)
    ivm_attempted, ivm_failed, ivm_layer = ivm_phase.score(ctx, ivm_inputs, ivm_out)
    layer.update(ivm_layer)
    q_secs = {sp.name[2:]: sp.seconds for sp in tracer.spans if sp.name.startswith("q.")}
    layer.update({
        "lake.build_s": build.seconds,
        "lake.warm_s": warm.seconds,
        **{f"batch.{g}_s": tracer.find(f"batch.{g}")[0].seconds for g in BATCH_GROUPS},
        **{f"q.{n}_s": s for n, s in q_secs.items()},
    })
    n_ok = len(outputs) - len(failed)
    return Result(
        setup_s=setup_s,
        work_s=batch.seconds + ingest.seconds,
        ops_per_s=n_ok / batch.seconds,
        op_p50_ms=1000.0 * statistics.median(q_secs.values()),
        attempted=len(outputs) + ivm_attempted,
        failed=len(failed) + ivm_failed,
        layer=layer,
        detail={"failed_queries": failed, "ivm_failed": ivm_failed},
    )
