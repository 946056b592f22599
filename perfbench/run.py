"""Benchmark entry point.

    python3 perfbench/run.py --workload <recs_serve|batch_analytics>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository. Each run is one cold
process: it generates its corpus from the seed, starts the program's
Spark session from nothing, and keeps every file it or Spark writes (cwd,
warehouse, Derby metastore, ``SPARK_LOCAL_DIRS``, ``TMPDIR``, IVM state)
in a private directory under ``.perfbench_work/`` that is deleted at the
end. The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). Details (host
probes, spans, failed checks) go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import corpus, metrics  # noqa: E402
from perfbench.common import Ctx  # noqa: E402
from perfbench.oracle import Oracle  # noqa: E402
from perfbench.rss import RssSampler, cpu_times, steal_frac  # noqa: E402
from perfbench.spans import TRACE_CONFS, Tracer  # noqa: E402
from perfbench.stats import fail_frac  # noqa: E402

# Corpus scale per workload, chosen so a run fits the time a run is given.
SF = {"recs_serve": 0.002, "batch_analytics": 0.002}
WORK_ROOT = ROOT / ".perfbench_work"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(SF))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: Path, trace: bool) -> None:
    """Point every place Spark, the JVM and Python write to into ``work``."""
    tmp, local = work / "tmp", work / "local"
    tmp.mkdir()
    local.mkdir()
    os.chdir(work)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # no JVM (the launcher or Spark's) may write perf data or temp files to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
        "spark.hadoop.hadoop.tmp.dir": str(tmp / "hadoop"),
        **(TRACE_CONFS if trace else {}),
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def run_workload(args: argparse.Namespace, work: Path) -> dict:
    """Generate the inputs, run the workload, take the host calibration and
    return the result line."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sf = SF[args.workload]
    corpus_dir = work / "corpus"
    corpus.write(corpus.generate(args.seed, sf), corpus_dir)

    oracle = Oracle(corpus_dir, corpus.TABLES)
    ctx = Ctx(work=work, corpus=corpus_dir, seed=args.seed,
              seconds=args.seconds, cores=cores, tracer=Tracer(enabled=bool(args.trace)),
              oracle=oracle)
    if args.workload == "batch_analytics":
        from perfbench import batch_analytics, ivm_phase

        ivm_inputs = ivm_phase.prepare(ctx, sf)
        workload = lambda: batch_analytics.run(ctx, ivm_inputs)  # noqa: E731
    else:
        from perfbench import recs_serve

        workload = lambda: recs_serve.run(ctx, sf)  # noqa: E731
    try:
        with RssSampler() as rss:
            cpu_before = cpu_times()
            ctx.t0 = time.time()  # set-up starts with importing the program
            result = workload()
            steal = steal_frac(cpu_before, cpu_times())
    finally:
        oracle.close()
    import bench  # imports the program, so only once set-up has been timed

    # taken after the JVM has exited, like bench.py's post-run calibration
    calibrate_s = bench.calibrate()
    e2e = {
        "setup_s": result.setup_s,
        "e2e_s": result.setup_s + result.work_s,
        "ops_per_s": result.ops_per_s,
        "op_p50_ms": result.op_p50_ms,
    }
    print("# detail " + json.dumps({
        "workload": args.workload, "seed": args.seed, "sf": sf, "cores": cores,
        "host.calibrate_s": calibrate_s, "host.spark_probe_s": ctx.spark_probe_s,
        "host.peak_rss_mb": rss.peak_mb, "host.steal_frac": steal,
        "e2e": e2e, **result.detail,
    }), file=sys.stderr)
    if args.trace:
        print("# spans " + json.dumps(ctx.tracer.dump()), file=sys.stderr)
        values = {name: 0.0 for name, _, _ in metrics.PER_LAYER}
        values.update(result.layer)
        values.update({
            "session.start_s": ctx.tracer.find("session.start")[0].seconds,
            "host.calibrate_s": calibrate_s,
            "host.spark_probe_s": ctx.spark_probe_s,
            "host.peak_rss_mb": rss.peak_mb,
            "host.steal_frac": steal,
            "checks.attempted": float(result.attempted),
            "checks.fail_frac": fail_frac(result.attempted, result.failed),
            "trace.spans": float(len(ctx.tracer.spans)),
            **{f"traced.{k}": v for k, v in e2e.items()},
        })
        spec = [(n, u) for n, u, _ in metrics.PER_LAYER]
    else:
        values = e2e
        spec = [(n, u) for n, u, _, _ in metrics.END_TO_END]
    unknown = set(values) - {n for n, _ in spec}
    if unknown:
        raise RuntimeError(f"metrics outside the declared set: {sorted(unknown)}")
    return {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in spec},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "graphdb_td2_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print("perfbench: the program (graphdb_td2_spark/, __spark_entry__.py) "
              f"is not in {ROOT}", file=sys.stderr)
        return 2
    work = WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        isolate(work, bool(args.trace))
        line = run_workload(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:  # another run's directory is still there
            pass
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
