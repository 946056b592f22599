"""``recs_serve``: the reference's user path. The program's HTTP server
(``serve.make_server`` + ``serve_forever_in_thread``) runs in process and
``nproc`` client threads drive ``GET /recs`` in a closed loop: each client
sends its next request only after the previous answer arrives.

Each client alternates ``product_id`` and ``customer_id`` requests (an
exact 50/50 mix), half the clients starting with each kind so the two
kinds stay in flight together instead of arriving in waves; ids follow a
Zipf-like skew over a seeded permutation of the id range, so a few ids
repeat and most do not. Set-up ends once one request of each kind has
been answered: the first of each kind persists that path's adjacency
views, a one-time cost of a fresh server. No call reaches ``build_lake``
or the graph, dedup, ANN or IVM layers.
"""

from __future__ import annotations

import http.client
import json
import threading
import time

import numpy as np

from perfbench import corpus
from perfbench.common import Ctx, Result, median_or_zero, stage_layers, start_spark, stop_spark
from perfbench.stats import class_median_ms, percentile, recs_answer_ok, tail_percentile

ZIPF_A = 1.2
REQUEST_TIMEOUT_S = 120
SEQ_LEN = 2000  # per client; far more than a run can send
# The fixed work that ends e2e_s: this many correct answers after set-up.
# The loop keeps running to --seconds for the throughput and latency
# figures; e2e_s stops at a fixed count so it does not depend on which
# requests happen to be in flight at the deadline.
E2E_ANSWERS = 16


def zipf_ids(rng: np.random.Generator, n_ids: int, count: int) -> list[int]:
    """``count`` ids in ``[0, n_ids)``: Zipf ranks over a random
    permutation of the range, redrawn when a rank falls outside it."""
    perm = rng.permutation(n_ids)
    ranks = rng.zipf(ZIPF_A, count * 4)
    ranks = ranks[ranks <= n_ids][:count]
    while len(ranks) < count:
        more = rng.zipf(ZIPF_A, count)
        ranks = np.concatenate([ranks, more[more <= n_ids]])[:count]
    return [int(perm[r - 1]) for r in ranks]


Request = tuple[str, int]


def request_plan(seed: int, sf: float, clients: int) -> tuple[list[Request], list[list[Request]]]:
    """The set-up requests (one of each kind) and each client's sequence."""
    rng = np.random.default_rng([seed, 1])
    n = corpus.sizes(sf)
    plans = []
    for i in range(clients):
        parts = zipf_ids(rng, n["part"], SEQ_LEN // 2)
        custs = zipf_ids(rng, n["customer"], SEQ_LEN // 2)
        seq = []
        for p, c in zip(parts, custs):
            pair = [("product_id", p), ("customer_id", c)]
            seq += pair if i % 2 == 0 else pair[::-1]
        plans.append(seq)
    warm = [("product_id", int(rng.integers(0, n["part"]))),
            ("customer_id", int(rng.integers(0, n["customer"])))]
    return warm, plans


def _get(port: int, param: str, key: int, rid: str, span_id: int) -> tuple[int | None, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    try:
        headers = {"X-Request-Id": rid, "X-Span-Id": str(span_id)}
        conn.request("GET", f"/recs?{param}={key}", headers=headers)
        resp = conn.getresponse()
        body = resp.read()
        return resp.status, json.loads(body) if resp.status == 200 else None
    except (OSError, http.client.HTTPException, ValueError):
        return None, None
    finally:
        conn.close()


def _traced_handler(base, tracer):
    """The program's handler inside a server-side span under the client's
    span, so each request's Spark jobs carry that span's job group."""

    class Handler(base):
        def do_GET(self):  # noqa: N802 (http.server API)
            parent = int(self.headers.get("X-Span-Id") or 0) or None
            with tracer.span("serve.handle", parent=parent,
                             request_id=self.headers.get("X-Request-Id")):
                super().do_GET()

    return Handler


def run(ctx: Ctx, sf: float) -> Result:
    tracer = ctx.tracer
    warm, plans = request_plan(ctx.seed, sf, ctx.cores)

    from graphdb_td2_spark import serve

    spark = start_spark(ctx, "recs_serve")
    try:
        with tracer.span("serve.start"):
            server = serve.make_server(spark, str(ctx.corpus))
            if tracer.enabled:
                server.RequestHandlerClass = _traced_handler(
                    server.RequestHandlerClass, tracer
                )
            serve.serve_forever_in_thread(server)
        port = server.server_address[1]
        first = []
        for k, req in enumerate(warm):
            with tracer.span("recs.first", request_id=f"warm-{k}") as sp:
                first.append(_get(port, *req, f"warm-{k}", sp.id))
        setup_s = time.time() - ctx.t0

        answers: list[dict] = []
        lock = threading.Lock()

        def client(i: int) -> None:
            for j, (param, key) in enumerate(plans[i]):
                if time.time() >= loop.start + ctx.seconds:
                    return
                rid = f"{i}-{j}"
                with tracer.span("recs.request", parent=loop.id, request_id=rid) as sp:
                    status, body = _get(port, param, key, rid, sp.id)
                with lock:
                    answers.append({"client": i, "param": param, "key": key,
                                    "status": status, "body": body,
                                    "start": sp.start, "end": sp.end})

        threads = [threading.Thread(target=client, args=(i,)) for i in range(ctx.cores)]
        with tracer.span("recs.loop") as loop:
            for t in threads:
                t.start()
            for t in threads:
                t.join(ctx.seconds + 2 * REQUEST_TIMEOUT_S)
        if any(t.is_alive() for t in threads):
            raise RuntimeError("a /recs client did not finish")
        layer = (
            stage_layers(ctx, spark, {"recs": ([loop], len(answers))})
            if tracer.enabled else {}
        )
        server.shutdown()
        server.server_close()
    finally:
        stop_spark(ctx, spark)
    return _score(ctx, loop, setup_s, first, warm, answers, layer)


def _client_rate(done: list[tuple[float, bool]], start: float) -> float:
    """One closed-loop client's correct answers per second, over whole
    product/customer cycles only: counting up to an odd answer would weigh
    the run by whichever kind happened to finish last."""
    done = sorted(done)
    whole = done[: len(done) - len(done) % 2] or done
    return sum(g for _, g in whole) / (whole[-1][0] - start)


def _score(ctx, loop, setup_s, first, warm, answers, layer) -> Result:
    """Check every answer against DuckDB and compute the metrics."""
    oracle = ctx.oracle
    expected: dict[tuple[str, int], list] = {}

    def ok(param, key, status, body) -> bool:
        if (param, key) not in expected:
            expected[(param, key)] = oracle.recs(param, key)
        items = body.get("items") if body else None
        return recs_answer_ok(status, items, expected[(param, key)])

    failed = sum(not ok(*req, *got) for req, got in zip(warm, first))
    per_client: dict[int, list] = {}
    lat: dict[str, list[float]] = {"product_id": [], "customer_id": []}
    took, overhead, primary, empty = [], [], 0, 0
    for a in answers:
        good = a["ok"] = ok(a["param"], a["key"], a["status"], a["body"])
        failed += 0 if good else 1
        per_client.setdefault(a["client"], []).append((a["end"], good))
        if not good:
            continue
        secs = a["end"] - a["start"]
        lat[a["param"]].append(secs)
        items = a["body"]["items"]
        took.append(a["body"]["took_ms"])
        overhead.append(secs * 1000.0 - a["body"]["took_ms"])
        primary += bool(items) and items[0]["reason"] == "co-occurrence"
        empty += not items
    rps = sum(_client_rate(done, loop.start) for done in per_client.values())
    all_lat = lat["product_id"] + lat["customer_id"]
    n_ok = len(all_lat)
    tail = tail_percentile(n_ok)
    layer.update({
        "recs.took_p50_ms": median_or_zero(took),
        "serve.overhead_p50_ms": median_or_zero(overhead),
        "recs.primary_hit_ratio": primary / n_ok if n_ok else 0.0,
        "recs.empty_frac": empty / n_ok if n_ok else 0.0,
        "recs.p50_ms": 1000.0 * median_or_zero(all_lat),
        "recs.tail_ms": 1000.0 * percentile(all_lat, tail) if tail else 0.0,
        "recs.tail_pct": tail or 0.0,
        "recs.product_p50_ms": 1000.0 * median_or_zero(lat["product_id"]),
        "recs.customer_p50_ms": 1000.0 * median_or_zero(lat["customer_id"]),
        "recs.requests": float(len(answers)),
    })
    ends = sorted(a["end"] for a in answers if a["ok"])
    work_s = (ends[E2E_ANSWERS - 1] if len(ends) >= E2E_ANSWERS else loop.end) - loop.start
    return Result(
        setup_s=setup_s,
        work_s=work_s,
        ops_per_s=rps,
        op_p50_ms=class_median_ms(lat),
        attempted=len(answers) + len(warm),
        failed=failed,
        layer=layer,
        detail={"requests": len(answers), "distinct_ids": len(expected)},
    )
