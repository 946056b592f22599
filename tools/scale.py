"""Cross-scale check: time registry queries on a base corpus and on an
N-copy replica of it, and flag the super-linear scalers.

Usage: python tools/scale.py [--base DIR] [--copies N] [--out JSON] \
           query [query ...]

``--base`` defaults to ``SPARK_GRAFT_SF_DIR``, the corpus bench.py reads;
``--out`` defaults to ``SCALE_<basename>_x<N>.json``.

The replica is built once, under ``/tmp/spark_graft_<basename>_x<N>``, by
``replicate``: every row of a keyed table becomes N rows with all its keys
shifted by ``copy * OFF``. Every FK relationship (lineitem→orders/part/
supplier, orders→customer, ``events.props.k``→part) survives, so join
selectivities and per-key fan-outs match the base while totals grow N×.
Content columns are decorrelated across copies (documents word-rotated,
embeddings component-rotated), so the similarity operators see no
artificial N-cliques. ``region``/``nation`` stay as they are, as a real
scale-up keeps its dimensions.

Each ``(query, scale)`` cell runs in a fresh subprocess, so one cell's
session caches and JVM heap history cannot flatter or poison the next.
Each child takes the JVM shuffle probe first and records
``spark_probe_ok`` against ``tools/bench_calibration.json``. A cell whose
time ratio exceeds ``1.3 × N`` is flagged super-linear.

Whole-bench ratios: ``SPARK_GRAFT_SF_DIR=<replica> python bench.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

OFF = 100_000_000  # key shift per copy — far above any base key
FLAG_SLACK = 1.3  # N× data ⇒ more than 1.3·N× time = super-linear

KEY_SHIFTS: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_AS_IS = ["region", "nation"]


def _rotate(arr, r):
    """``arr`` rotated left by ``r`` positions (SQL expression strings)."""
    return (
        f"concat(slice({arr}, {r} + 1, size({arr}) - {r}), slice({arr}, 1, {r}))"
    )


def replicate(spark, base_dir: str, out_dir: str, n_copies: int) -> None:
    """Write the N-copy, FK-preserving replica of ``base_dir`` to
    ``out_dir``: one explode over a copy index per table, one output file
    per copy. Copy 0 equals the base."""
    from pyspark.sql import functions as F

    from graphdb_td2_spark.sources.parquet import read_table

    for table in COPY_AS_IS:
        read_table(spark, base_dir, table).write.mode("overwrite").parquet(
            f"{out_dir}/{table}.parquet"
        )
    copy = F.col("__copy").cast("long")
    for table, keys in KEY_SHIFTS.items():
        df = read_table(spark, base_dir, table).select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(n_copies - 1))).alias("__copy")
        )
        for key in keys:
            df = df.withColumn(key, F.col(key) + copy * F.lit(OFF))
        if table == "events":
            # props is {"k": <p_partkey>} — shift the product FK in the JSON
            k = F.get_json_object("props", "$.k").cast("long") + copy * F.lit(OFF)
            df = df.withColumn(
                "props", F.concat(F.lit('{"k": '), k.cast("string"), F.lit("}"))
            )
        if table == "embeddings":
            df = df.withColumn(
                "embedding",
                F.expr(_rotate("embedding", "(__copy % size(embedding))")),
            )
        if table == "documents":
            df = (
                df.withColumn("__w", F.split("text", " "))
                .withColumn(
                    "text",
                    F.array_join(
                        F.expr(_rotate("__w", "((__copy * 7) % size(__w))")), " "
                    ),
                )
                .drop("__w")
            )
        df.drop("__copy").repartition(n_copies).write.mode("overwrite").parquet(
            f"{out_dir}/{table}.parquet"
        )
        print(f"# {table}: x{n_copies}", file=sys.stderr)


def _child_replicate(base_dir: str, out_dir: str, n_copies: int) -> int:
    from graphdb_td2_spark.session import get_spark

    spark = get_spark("scale-replicate")
    replicate(spark, base_dir, out_dir, n_copies)
    Path(out_dir, "_REPLICA.json").write_text(
        json.dumps({"base": base_dir, "copies": n_copies}) + "\n"
    )
    spark.stop()
    return 0


def _child_cell(name: str, sf_dir: str) -> int:
    """Run one query in this process's own session and print one JSON
    line: ``sec``, ``rows``, ``spark_probe_sec``, ``spark_probe_ok``."""
    from bench import CALIBRATION_REF, probe_within_tolerance, run_spark_probe
    from graphdb_td2_spark.session import get_spark

    import __spark_entry__ as entry_mod

    probe_ref = json.loads(CALIBRATION_REF.read_text()).get("spark_probe_ref_sec")
    spark = get_spark("scale-cell")
    spark.range(1).count()
    probe = run_spark_probe(spark)
    rec = {
        "spark_probe_sec": probe,
        "spark_probe_ok": probe_ref is not None
        and probe_within_tolerance(probe, probe_ref),
    }
    fn = entry_mod.queries()[name]
    t0 = time.time()
    try:
        rec["rows"] = len(fn(spark, sf_dir).collect())
        rec["sec"] = round(time.time() - t0, 3)
    except Exception as exc:
        rec["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
    print(json.dumps(rec))
    spark.stop()
    return 0


def _run_child(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), *args],
        cwd=str(ROOT),
        capture_output=True,
        text=True,
    )


def _cell(name: str, sf_dir: str) -> dict:
    p = _run_child("--cell", name, sf_dir)
    try:
        return json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return {"error": (p.stderr or p.stdout)[-300:]}


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["--cell"]:
        return _child_cell(argv[1], argv[2])
    if argv[:1] == ["--replicate"]:
        return _child_replicate(argv[1], argv[2], int(argv[3]))

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--out", default=None)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args(argv)
    if not args.base:
        ap.error("--base is required when SPARK_GRAFT_SF_DIR is unset")
    if args.copies < 2:
        ap.error("--copies must be at least 2")
    import __spark_entry__ as entry_mod

    unknown = sorted(set(args.queries) - set(entry_mod.queries()))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")

    base = args.base.rstrip("/")
    n = args.copies
    replica = f"/tmp/spark_graft_{Path(base).name}_x{n}"
    if not Path(replica, "_REPLICA.json").exists():
        t0 = time.time()
        p = _run_child("--replicate", base, replica, str(n))
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            return 1
        print(f"# replica built in {time.time() - t0:.0f}s", file=sys.stderr)

    cells: dict[str, dict] = {"base": {}, "replica": {}}
    for name in args.queries:
        for label, sf_dir in (("base", base), ("replica", replica)):
            cells[label][name] = _cell(name, sf_dir)
            print(f"# {label} {name}: {cells[label][name]}", file=sys.stderr)

    flag_ratio = round(FLAG_SLACK * n, 2)
    ratios: dict[str, float | None] = {}
    for name in args.queries:
        b, r = cells["base"][name].get("sec"), cells["replica"][name].get("sec")
        ratios[name] = round(r / b, 2) if b and r else None
    out = {
        "base": base,
        "replica": replica,
        "copies": n,
        "cells": cells,
        "ratios": ratios,
        "flag_ratio": flag_ratio,
        "flagged_super_linear": [
            q for q, r in ratios.items() if r is not None and r > flag_ratio
        ],
    }
    out_json = args.out or f"SCALE_{Path(base).name}_x{n}.json"
    Path(out_json).write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
