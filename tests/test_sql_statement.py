"""The planner renders each request as one parameterized Spark SQL
statement: request values are bound parameters (never statement text),
tables are versioned views, and concurrent requests render
independently."""

from __future__ import annotations

import json
import math
import os
import re
import sys
import threading

import pytest

DAY = {"field": "Day", "operator": "between",
       "from": "1995-01-01", "to": "2002-12-31"}


def rows_match(got, exp):
    got, exp = sorted(got, key=repr), sorted(exp, key=repr)
    assert len(got) == len(exp), (got, exp)
    for (gn, gv), (en, ev) in zip(got, exp):
        assert gn == en and math.isclose(gv, ev, rel_tol=1e-9), (gn, gv, ev)


#: string filter values that would break or inject into spliced SQL text
HOSTILE = ["it's", "back`tick", ":p0", "{x}", "a -- b", "x; y"]
#: a substring of each, for LIKE
HOSTILE_PARTS = ["t's", "k`t", ":p", "{x", "--", "; "]


@pytest.fixture(scope="module")
def hostile_dir(spark, sf_dir, tmp_path_factory):
    """sf_dir with the first nations renamed to ``HOSTILE`` values."""
    d = str(tmp_path_factory.mktemp("hostile"))
    for t in os.listdir(sf_dir):
        if t != "nation.parquet":
            os.symlink(os.path.join(sf_dir, t), os.path.join(d, t))
    import pyarrow.parquet as pq
    nation = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    names = nation.column("n_name").to_pylist()
    names[:len(HOSTILE)] = HOSTILE
    import pyarrow as pa
    nation = nation.set_column(nation.schema.get_field_index("n_name"),
                               "n_name", pa.array(names, pa.string()))
    pq.write_table(nation, os.path.join(d, "nation.parquet"))
    return d


@pytest.fixture(scope="module")
def hostile_engine(spark, hostile_dir):
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.tpch import build_registry
    return engine_for_dir(spark, build_registry(), hostile_dir)


@pytest.fixture(scope="module")
def hostile_duck(hostile_dir):
    import duckdb
    con = duckdb.connect()
    for t in ("nation", "customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(hostile_dir, t)}.parquet')")
    yield con
    con.close()


_ORACLE = """
    SELECT n.n_name, sum(l.l_extendedprice * (1 - l.l_discount))
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE CAST(l.l_shipdate AS DATE) BETWEEN DATE '1995-01-01'
                                         AND DATE '2002-12-31'
      AND {cond}
    GROUP BY 1"""


def _cases():
    for v, part in zip(HOSTILE, HOSTILE_PARTS):
        yield {"operator": "=", "value": v}, "n.n_name = ?", [v]
        yield ({"operator": "like", "value": part},
               "n.n_name LIKE '%' || ? || '%'", [part])
    yield ({"operator": "in", "values": HOSTILE + ["FRANCE"]},
           f"n.n_name IN ({', '.join('?' * (len(HOSTILE) + 1))})",
           HOSTILE + ["FRANCE"])


@pytest.mark.parametrize("flt,cond,args", list(_cases()))
def test_hostile_string_values_are_parameters(hostile_engine, hostile_duck,
                                              flt, cond, args):
    """Quotes, backticks, parameter markers, format braces, comment and
    statement separators in filter values match DuckDB's rows over the
    same data, and none of them reaches the statement text."""
    df = hostile_engine.dataframe({
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Nation Name"}, {"field": "Revenue"}],
        "filterExpressions": [DAY, {"field": "Nation Name", **flt}]})
    rows_match([tuple(r) for r in df.collect()],
               hostile_duck.execute(_ORACLE.format(cond=cond),
                                    args).fetchall())
    text, params = df.statement
    assert all(re.fullmatch(r"p[0-9]+", name) for name in params)
    values = re.sub(r":p[0-9]+\b", "", text)   # the markers themselves
    for v in args:
        assert v not in values
        assert v in params.values() or f"%{v}%" in params.values()


def test_debug_envelope_carries_the_statement(engine):
    """A debug request's header shows the rendered SQL over the request's
    views, with the filter values only in its parameters."""
    out = engine.execute(json.dumps({
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Nation Name"}, {"field": "Revenue"}],
        "filterExpressions": [DAY, {"field": "Return Flag", "operator": "in",
                                    "values": ["ACCEPTED", "NONE"]}],
        "debug": True}))
    debug = out["header"]["debug"]
    text, params = debug["sql"], debug["parameters"]
    for view in ("lineitem__v", "orders__v", "customer__v", "nation__v"):
        assert f"`{view}" in text
    # the Day bounds, and the flag labels decoded to stored values
    assert set(params.values()) == {"1995-01-01", "2002-12-31", "A", "N"}
    for v in params.values():
        assert repr(v) not in text and f"'{v}'" not in text
    assert all(f":{name}" in text for name in params)
    assert debug["plan"].startswith(("Aggregate", "Project", "GlobalLimit"))


def test_rewritten_dim_is_read_through_a_new_view(spark, sf_dir, tmp_path):
    """After a dim rewrite plus ``bump_table_version``, the next request
    reads the new rows through a newly registered view. The old view
    stays registered for statements already rendered against it, and is
    gone from the catalog after the next rewrite."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.tpch import build_registry
    from maha_spark.plans.versioning import bump_table_version

    d = str(tmp_path)
    for t in os.listdir(sf_dir):
        if t != "nation.parquet":
            os.symlink(os.path.join(sf_dir, t), os.path.join(d, t))
    ndir = os.path.join(d, "nation")
    os.makedirs(ndir)
    nation = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    pq.write_table(nation, os.path.join(ndir, "part-0.parquet"))
    eng = engine_for_dir(spark, build_registry(), d)
    req = {"cube": "lineitem_stats",
           "selectFields": [{"field": "Nation Name"}, {"field": "Revenue"}],
           "filterExpressions": [DAY]}

    def names_and_view():
        df = eng.dataframe(req)
        view = re.search(r"`(nation__v[0-9_]+)`", df.statement.text)
        return {r[0] for r in df.collect()}, view.group(1)

    before, old_view = names_and_view()
    renamed = [f"{n} v2" for n in nation.column("n_name").to_pylist()]
    pq.write_table(
        nation.set_column(nation.schema.get_field_index("n_name"), "n_name",
                          pa.array(renamed, pa.string())),
        os.path.join(ndir, "part-0.parquet"))
    bump_table_version(ndir)
    after, new_view = names_and_view()
    assert before and after == {f"{n} v2" for n in before}
    assert new_view != old_view
    assert spark.catalog.tableExists(old_view)
    assert spark.catalog.tableExists(new_view)
    bump_table_version(ndir)
    again, last_view = names_and_view()
    assert again == after and last_view not in (old_view, new_view)
    assert not spark.catalog.tableExists(old_view)
    assert spark.catalog.tableExists(new_view)


def test_concurrent_templates_match_serial(engine):
    """Two threads each run a different request 20 times; every answer
    equals the serial run's."""
    reqs = [json.dumps(r) for r in (
        {"cube": "lineitem_stats",
         "selectFields": [{"field": "Nation Name"}, {"field": "Revenue"}],
         "filterExpressions": [DAY, {"field": "Nation Name", "operator": "in",
                                     "values": ["FRANCE", "GERMANY"]}],
         "sortBy": [{"field": "Revenue", "order": "DESC"}]},
        {"cube": "lineitem_stats",
         "selectFields": [{"field": "Return Flag"}, {"field": "Line Count"}],
         "filterExpressions": [{"field": "Day", "operator": "between",
                                "from": "1996-01-01", "to": "1997-12-31"}],
         "curators": {"rowcount": {}}},
    )]

    def canon(env):
        return json.dumps([env["rows"], env.get("curators")],
                          sort_keys=True, default=str)

    serial = [canon(engine.execute(r)) for r in reqs]
    got: dict[int, set] = {0: set(), 1: set()}
    errors = []

    def run(i):
        try:
            for _ in range(20):
                got[i].add(canon(engine.execute(reqs[i])))
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    ts = [threading.Thread(target=run, args=(i,)) for i in (0, 1)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in ts:
            t.start()
        for t in ts:
            t.join(600)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ts) and not errors
    assert got == {0: {serial[0]}, 1: {serial[1]}}
