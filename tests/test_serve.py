"""End-to-end service test mirroring the reference's checks-container
sequence (``docker-compose.yml:71-105`` — health → source sanity → ETL →
load-effect count → recs), against the stdlib HTTP twin in ``serve.py``."""

from __future__ import annotations

import json
import logging
import urllib.request

import pytest
from pyspark.sql import functions as F

from graphdb_td2_spark.io import read_table
from graphdb_td2_spark.serve import make_server, serve_forever_in_thread


@pytest.fixture(scope="module")
def base_url(spark, sf_dir):
    server = make_server(spark, sf_dir)
    serve_forever_in_thread(server)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


def _get(url: str) -> dict:
    with urllib.request.urlopen(url, timeout=600) as resp:
        assert resp.status == 200
        return json.loads(resp.read())


def test_checks_container_sequence(spark, sf_dir, base_url):
    # ==> Checking /health (checks line 76-80)
    assert _get(f"{base_url}/health") == {"ok": True}

    # ==> source sanity (the psql SELECTs, lines 82-85, against parquet)
    orders = read_table(spark, sf_dir, "orders")
    assert len(orders.limit(5).collect()) == 5
    n_products = read_table(spark, sf_dir, "part").count()
    assert n_products > 0

    # ==> Trigger ETL (GET, synchronous; lines 87-92)
    etl = _get(f"{base_url}/etl")
    assert etl["ok"] is True

    # ==> load-effect count > 0 (the Neo4j MATCH (n) RETURN count(n),
    # lines 94-102 — here the ETL response carries the counts)
    assert etl["n_vertices"] > 0
    assert etl["n_edges"] > 0

    # ==> /recs semantics (app/main.py:23-135): product seed → items,
    # no seed → empty items, took_ms always present
    recs = _get(f"{base_url}/recs?product_id=1")
    assert isinstance(recs["took_ms"], int)
    assert recs["items"], "product 1 must yield co-occurrence recs"
    assert {"product_id", "score", "reason"} <= set(recs["items"][0])

    empty = _get(f"{base_url}/recs")
    assert empty["items"] == []
    assert isinstance(empty["took_ms"], int)

    # graceful degradation: junk input is 'no signal', never a 500
    junk = _get(f"{base_url}/recs?product_id=not-a-number")
    assert junk["items"] == []


def test_unknown_route_is_404(base_url):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{base_url}/nope")
    assert e.value.code == 404


def test_etl_failure_returns_500_not_hang(spark, caplog):
    """A broken corpus path surfaces as a 500 with ok:false — the checks
    sequence's --fail curl would exit nonzero instead of hanging. /recs
    keeps the reference's 200 + empty items, and logs why."""
    server = make_server(spark, "/nonexistent/sf_dir")
    serve_forever_in_thread(server)
    host, port = server.server_address
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"http://{host}:{port}/etl")
        assert e.value.code == 500
        body = json.loads(e.value.read())
        assert body["ok"] is False

        with caplog.at_level(logging.WARNING, logger="graphdb_td2_spark"):
            recs = _get(f"http://{host}:{port}/recs?product_id=1")
        assert recs["items"] == []
        degraded = [
            r for r in caplog.records if r.getMessage().startswith("recs degraded")
        ]
        assert len(degraded) == 1
        assert "product_id=1" in degraded[0].getMessage()
        assert degraded[0].exc_info is not None
    finally:
        server.shutdown()
