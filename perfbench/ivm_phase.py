"""The ingest phase of ``batch_analytics``: writes beside reads on the
co-occurrence state that ``/recs`` reads (``streaming.ivm``).

The corpus's ``lineitem (l_orderkey, l_partkey)`` rows are split into
``N_FILES`` parquet files by a seeded hash of the row, so an order's items
straddle files. Each round lands ``FILES_PER_ROUND`` of them in the stream
directory and calls ``run_incremental_cooccurrence``, a scheduled
``availableNow`` run that resumes from its checkpoint under the module's
session-global AQE/shuffle-width flip; after each round
``READS_PER_ROUND`` product reads (``serve_product_cooccurrence``) and as
many customer reads (``serve_customer_cf``) query the maintained state.

Every read is checked against DuckDB over the rows ingested so far, and
the final ``maintained_counts`` against DuckDB pair counts over all
ingested rows.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import corpus
from perfbench.common import Ctx, median_or_zero
from perfbench.oracle import with_seed

N_FILES = 3
FILES_PER_ROUND = 1
READS_PER_ROUND = 1

PAIR_COUNTS_SQL = """
WITH contains AS (SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id FROM lineitem)
SELECT a.product_id AS product_a, b.product_id AS product_b, COUNT(*) AS n_orders
FROM contains a JOIN contains b ON a.order_id = b.order_id AND a.product_id < b.product_id
GROUP BY 1, 2
"""


@dataclass
class Inputs:
    files: list[Path]
    reads: list[tuple[int, int]]   # (product id, customer id) per read pair
    items: pa.Table                # every split row with its file number


@dataclass
class Outputs:
    answers: list[tuple]           # (round, kind, id, rows)
    state_dir: Path
    final: set[tuple] | None = None  # maintained_counts after the last round


def prepare(ctx: Ctx, sf: float) -> Inputs:
    """Write the split files and draw the read ids, both from the seed."""
    rng = np.random.default_rng([ctx.seed, 2])
    items = pq.read_table(ctx.corpus / "lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    which = rng.integers(0, N_FILES, len(items))
    landing = ctx.work / "landing"
    landing.mkdir()
    files = []
    for f in range(N_FILES):
        path = landing / f"part-{f:02d}.parquet"
        pq.write_table(items.filter(pa.array(which == f)), path)
        files.append(path)
    n = corpus.sizes(sf)
    reads = [
        (int(rng.integers(0, n["part"])), int(rng.integers(0, n["customer"])))
        for _ in range(N_FILES // FILES_PER_ROUND * READS_PER_ROUND)
    ]
    return Inputs(files, reads, items.append_column("file", pa.array(which)))


def run(ctx: Ctx, spark, inputs: Inputs) -> Outputs:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from graphdb_td2_spark.io import read_table
    from graphdb_td2_spark.streaming import ivm

    tracer = ctx.tracer
    stream_dir, state_dir = ctx.work / "stream", ctx.work / "state"
    stream_dir.mkdir()
    schema = T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
    ])
    placed = read_table(spark, str(ctx.corpus), "orders", ["o_orderkey", "o_custkey"]).select(
        F.col("o_orderkey").alias("order_id"), F.col("o_custkey").alias("customer_id")
    )
    answers = []
    for r in range(N_FILES // FILES_PER_ROUND):
        for f in inputs.files[r * FILES_PER_ROUND:(r + 1) * FILES_PER_ROUND]:
            shutil.move(f, stream_dir / f.name)
        with tracer.span("ivm.round"):
            ivm.run_incremental_cooccurrence(spark, str(stream_dir), str(state_dir), schema)
        for pid, cid in inputs.reads[r * READS_PER_ROUND:(r + 1) * READS_PER_ROUND]:
            with tracer.span("ivm.read.product"):
                rows = ivm.serve_product_cooccurrence(spark, str(state_dir), pid).collect()
            answers.append((r, "product", pid, rows))
            with tracer.span("ivm.read.customer"):
                rows = ivm.serve_customer_cf(spark, str(state_dir), placed, cid).collect()
            answers.append((r, "customer", cid, rows))
    return Outputs(answers, state_dir)


def collect_final(spark, out: Outputs) -> None:
    """Read the maintained view for the final check (after the timed phase)."""
    from graphdb_td2_spark.streaming import ivm

    out.final = {tuple(r) for r in ivm.maintained_counts(spark, str(out.state_dir)).collect()}


def score(ctx: Ctx, inputs: Inputs, out: Outputs) -> tuple[int, int, dict[str, float]]:
    """(attempted, failed, per-layer metrics). Each read is one check
    against DuckDB over the rows ingested by then; the final maintained
    counts are one more."""
    oracle = ctx.oracle
    oracle.con.register("split_items", inputs.items)
    sql = {"product": oracle.sql["recs_product_cooccurrence"],
           "customer": oracle.sql["recs_customer_cf"]}
    failed = 0
    for r in range(N_FILES // FILES_PER_ROUND):
        oracle.use_lineitem(
            f"(SELECT * FROM split_items WHERE file < {(r + 1) * FILES_PER_ROUND})"
        )
        for _, kind, key, rows in (a for a in out.answers if a[0] == r):
            want = oracle.rows(with_seed(sql[kind], key))[1]
            got = [(int(x["product_id"]), float(x["score"]), x["reason"]) for x in rows]
            failed += got != [(int(p), float(s), why) for p, s, why in want]
    failed += out.final != set(oracle.rows(PAIR_COUNTS_SQL)[1])

    tracer = ctx.tracer
    round_s = [s.seconds for s in tracer.find("ivm.round")]
    state_files = [p for p in out.state_dir.rglob("*") if p.is_file()]
    layer = {
        "ivm.first_round_s": round_s[0],
        "ivm.round_p50_s": median_or_zero(round_s[1:]),
        "ivm.round_max_s": max(round_s),
        "ivm.rows_per_s": len(inputs.items) / sum(round_s),
        "ivm.state_mb": sum(p.stat().st_size for p in state_files) / 2**20,
        "ivm.state_files": float(len(state_files)),
        "ivm.read_product_p50_ms": 1000.0 * median_or_zero(
            [s.seconds for s in tracer.find("ivm.read.product")]),
        "ivm.read_customer_p50_ms": 1000.0 * median_or_zero(
            [s.seconds for s in tracer.find("ivm.read.customer")]),
    }
    return len(out.answers) + 1, failed, layer
