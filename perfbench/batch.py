"""Batch half: passes over a query mix from ``numaflow_spark.queries``.

One pass runs every query in the mix to a complete Arrow result on the
driver, in three timed steps per query: build the DataFrame (the
``QUERIES[name]`` call, including any eager checkpoints it takes), force
the executed plan, and collect the result as Arrow.
"""

from __future__ import annotations

import datetime
import time

from numaflow_spark.queries import QUERIES

from probes import Tracer


def run_query(spark, name: str, sf_dir: str, tracer: Tracer, group: str):
    """One query to a driver-side Arrow table; jobs are tagged with ``group``."""
    spark.sparkContext.setJobGroup(group, name)
    with tracer.span("query", query=name, group=group):
        with tracer.span("queries.build"):
            df = QUERIES[name](spark, sf_dir)
        with tracer.span("queries.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("queries.collect"):
            table = df.toArrow()
    return table


def run_pass(spark, mix, sf_dir: str, tracer: Tracer, tag: str):
    """Every query of the mix once; returns (wall seconds, {name: table})."""
    t0 = time.perf_counter()
    with tracer.span("pass", tag=tag):
        tables = {q: run_query(spark, q, sf_dir, tracer, f"{tag}:{q}") for q in mix}
    return time.perf_counter() - t0, tables


def _plain(v):
    # Arrow hands back zone-aware UTC datetimes where the oracle (and
    # ``collect()``) give naive UTC wall time.
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def check_against_oracle(tables: dict, sf_dir: str, table_names) -> dict[str, str | None]:
    """Compare each Arrow result with its DuckDB oracle twin on the
    normalised multiset of ``tools/check_queries.py``. Returns
    {query: None if equal else the reason}."""
    import duckdb

    from numaflow_spark.oracles import ORACLES
    from tools.check_queries import _multiset

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in table_names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    verdict: dict[str, str | None] = {}
    for name, table in tables.items():
        cols = table.column_names
        rows = [tuple(_plain(v) for v in r.values()) for r in table.to_pylist()]
        try:
            res = con.execute(ORACLES[name])
        except Exception as ex:  # noqa: BLE001 - one failing oracle is one failed check
            verdict[name] = f"oracle raised {type(ex).__name__}: {ex}"
            continue
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if sorted(cols) != sorted(dcols):
            verdict[name] = f"columns {sorted(cols)} != {sorted(dcols)}"
        elif len(rows) != len(drows):
            verdict[name] = f"rows {len(rows)} != {len(drows)}"
        elif _multiset(rows, [cols.index(c) for c in sorted(cols)]) != \
                _multiset(drows, [dcols.index(c) for c in sorted(dcols)]):
            verdict[name] = "values differ"
        else:
            verdict[name] = None
    con.close()
    return verdict
