"""REST surface: discovery endpoints + query/sql POST over live HTTP
(reference api-jersey MahaResource routes)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest


@pytest.fixture(scope="module")
def rest(engine):
    from maha_spark.serving.rest import RestServer
    srv = RestServer(engine, registry_name="maha").start()
    yield srv
    srv.stop()


def _get(srv, path):
    with urllib.request.urlopen(srv.base_url + path, timeout=30) as r:
        return r.status, json.loads(r.read())


def _post(srv, path, body, ctype="application/json"):
    req = urllib.request.Request(
        srv.base_url + path, data=body.encode(),
        headers={"Content-Type": ctype}, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_discovery_endpoints(rest):
    st, cubes = _get(rest, "/registry/maha/cubes")
    assert st == 200 and "lineitem_stats" in cubes

    st, domain = _get(rest, "/registry/maha/domain")
    assert st == 200 and "lineitem_stats" in domain["cubes"]
    fields = domain["cubes"]["lineitem_stats"]["fields"]
    assert any(f["field"] == "Revenue" and f["type"] == "Fact"
               for f in fields)

    st, flat = _get(rest, "/registry/maha/flattenDomain")
    assert st == 200
    flat_cube = next(c for c in flat["cubes"]
                     if c["name"] == "lineitem_stats")
    assert "Revenue" in flat_cube["fields"]

    st, one = _get(rest, "/registry/maha/domain/cubes/lineitem_stats")
    assert st == 200 and one["name"] == "lineitem_stats"


def test_unknown_registry_and_cube_are_404(rest):
    try:
        urllib.request.urlopen(rest.base_url + "/registry/nope/cubes",
                               timeout=30)
        assert False, "expected 404"
    except urllib.error.HTTPError as e:
        assert e.code == 404
        assert "errorMsg" in json.loads(e.read())
    try:
        urllib.request.urlopen(
            rest.base_url + "/registry/maha/domain/cubes/nope", timeout=30)
        assert False, "expected 404"
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_query_post_returns_envelope(rest):
    st, out = _post(rest, "/registry/maha/schemas/internal/query",
                    json.dumps({
                        "cube": "lineitem_stats",
                        "selectFields": [{"field": "Nation Name"},
                                         {"field": "Revenue"}],
                        "filterExpressions": [
                            {"field": "Day", "operator": "between",
                             "from": "1995-01-01", "to": "2002-12-31"}],
                        "rowsPerPage": 5,
                    }))
    assert st == 200
    assert out["header"]["cube"] == "lineitem_stats"
    assert len(out["rows"]) == 5


def test_sql_post_same_envelope(rest):
    st, out = _post(rest, "/registry/maha/schemas/internal/sql",
                    'SELECT "Nation Name", "Revenue" FROM lineitem_stats '
                    "WHERE \"Day\" BETWEEN '1995-01-01' AND '2002-12-31' "
                    "LIMIT 5", ctype="text/plain")
    assert st == 200 and len(out["rows"]) == 5


def test_invalid_request_is_400_not_500(rest):
    st, out = _post(rest, "/registry/maha/schemas/internal/query",
                    json.dumps({"cube": "lineitem_stats",
                                "selectFields": [{"field": "No Such"}]}))
    assert st == 400 and "errorMsg" in out


def test_status_endpoint_surfaces_cache_telemetry(spark, sf_dir):
    """The /status route exposes result-cache hit rates and storage
    residency — a serving operator's view, no debugger required."""
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.tpch import build_registry
    from maha_spark.execution.result_cache import ResultCache
    from maha_spark.serving.rest import RestServer

    cache = ResultCache()
    eng = engine_for_dir(spark, build_registry(), sf_dir,
                         result_cache=cache)
    srv = RestServer(eng, registry_name="maha").start()
    try:
        st, body = _get(srv, "/registry/maha/status")
        assert st == 200
        assert body["registry"] == "maha"
        rc = body["resultCache"]
        assert rc == cache.stats()
        assert {"hits", "misses", "bypasses", "entries",
                "bytes", "evictions"} <= set(rc)
        for k in ("scopedCaches", "bindingCachedTables",
                  "persistedRdds", "dryRunsLogged", "codegenCompiles"):
            assert isinstance(body[k], int)
        assert body["codegenCompileMs"] >= 0

        req = json.dumps({
            "cube": "lineitem_stats",
            "selectFields": [{"field": "Nation Name"},
                             {"field": "Revenue"}],
            "filterExpressions": [{"field": "Day", "operator": "between",
                                   "from": "1995-01-01",
                                   "to": "2002-12-31"}],
            "rowsPerPage": 5})
        _post(srv, "/registry/maha/schemas/internal/query", req)
        _post(srv, "/registry/maha/schemas/internal/query", req)
        st, body = _get(srv, "/registry/maha/status")
        assert st == 200
        assert body["resultCache"]["hits"] >= 1
        assert body["resultCache"]["entries"] >= 1
    finally:
        srv.stop()


def test_status_without_result_cache_is_null(rest):
    st, body = _get(rest, "/registry/maha/status")
    assert st == 200
    assert body["resultCache"] is None or isinstance(
        body["resultCache"], dict)
