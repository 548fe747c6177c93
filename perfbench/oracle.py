"""The DuckDB side of the output checks, computed in a child process.

Expected results are worked out before the Spark session starts, in a
process of their own (``in_child``), so neither DuckDB nor the data it
loads counts in the run's ``peak_rss_mb``. Rows come back already in
``tests.test_driver_contract.canon`` form.

The child is this file run as a script; it reads the function's name and
arguments from a pickle file and writes the result back to it:

    python3 perfbench/oracle.py IO_FILE
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import tempfile

# the upsert batch updates this share of the latest year's orders and inserts a third as many
MERGE_SHARE = 0.1
DELETE_FROM = "2001-06-01"  # the delete removes pending orders from this day on
DELETE_PRED = f"o_orderstatus = 'P' AND o_orderdate >= '{DELETE_FROM}'"
FINAL_AGG = (
    "SELECT count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS price, "
    "sum(o_orderkey) AS keys, count(DISTINCT o_custkey) AS custs FROM {t}"
)
EP_QUERIES = ("etl_laporan_keuangan", "etl_detail_notes")


def in_child(fn, *args):
    """``fn(*args)``, run in a fresh child process that has ended when this
    returns. A plain subprocess, not ``multiprocessing``: that would leave
    its resource-tracker process running past the end of the run."""
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "io.pkl")
        with open(path, "wb") as f:
            pickle.dump((fn.__name__, args), f)
        subprocess.run([sys.executable, os.path.abspath(__file__), path],
                       check=True, stdout=sys.stderr)
        with open(path, "rb") as f:
            return pickle.load(f)


def query_expectations(data_dir: str, names: list[str]) -> dict:
    """{query: (columns, canonical rows)} of the DuckDB oracle of each
    query in ``names`` that has one."""
    from dwh_with_dask_spark.plans import ORACLES
    from tests.conftest import make_duck
    from tests.test_driver_contract import canon

    duck = make_duck(data_dir)
    out = {}
    for n in names:
        if n in ORACLES:
            rel = duck.sql(ORACLES[n])
            out[n] = (rel.columns, canon(rel.fetchall(), rel.columns))
    return out


def warehouse_plan(orders_path: str, seed: int, batch_path: str) -> dict:
    """Write the seeded upsert batch to ``batch_path`` and return what the
    warehouse checks need: the years present, the EP1/EP3 oracles, the
    final orders aggregate from a DuckDB replay of the pass's ops, and
    the user byte counts.

    The batch falls on the latest year, so it rewrites one yearly
    directory. It updates a seeded sample of that year's orders, redrawing
    status, price and priority from other orders of the year, and inserts
    copies of sampled orders of the year under new keys."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from dwh_with_dask_spark.plans import ORACLES
    from tests.test_driver_contract import canon

    rng = np.random.default_rng(seed)
    base = pq.read_table(orders_path).sort_by("o_orderkey")
    year_of = pc.year(base["o_orderdate"]).to_numpy()
    years = sorted(int(y) for y in np.unique(year_of))
    in_year = np.flatnonzero(year_of == years[-1])
    n_upd = max(1, int(MERGE_SHARE * len(in_year)))
    n_ins = max(1, n_upd // 3)
    upd = base.take(np.sort(rng.choice(in_year, n_upd, replace=False)))
    donor = base.take(rng.choice(in_year, n_upd))
    for col in ("o_orderstatus", "o_totalprice", "o_orderpriority"):
        upd = upd.set_column(upd.schema.get_field_index(col), col, donor[col])
    ins = base.take(rng.choice(in_year, n_ins))
    new_keys = np.arange(n_ins) + int(pc.max(base["o_orderkey"]).as_py()) + 1
    key = base.schema.get_field_index("o_orderkey")
    ins = ins.set_column(key, "o_orderkey", pa.array(new_keys, base.schema.field(key).type))
    batch = pa.concat_tables([upd, ins]).replace_schema_metadata(None)
    pq.write_table(batch, batch_path)

    con = duckdb.connect()
    con.sql(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{orders_path}')")
    ep = {}
    for q in EP_QUERIES:
        tbl = con.sql(ORACLES[q]).arrow()
        rows = canon([tuple(r.values()) for r in tbl.to_pylist()], tbl.column_names)
        ep[q] = (rows, tbl.nbytes)
    con.sql("CREATE TABLE replay AS SELECT * FROM orders")
    con.sql(f"DELETE FROM replay WHERE o_orderkey IN (SELECT o_orderkey FROM '{batch_path}')")
    con.sql(f"INSERT INTO replay SELECT * FROM '{batch_path}'")
    con.sql(f"DELETE FROM replay WHERE {DELETE_PRED}")
    return {
        "years": years,
        "ep": ep,
        "final_agg": con.sql(FINAL_AGG.format(t="replay")).fetchone(),
        "orders_bytes": con.sql("SELECT * FROM orders").arrow().nbytes,
        "batch_bytes": batch.nbytes,
        "final_bytes": con.sql("SELECT * FROM replay").arrow().nbytes,
    }


def main(path: str) -> None:
    with open(path, "rb") as f:
        name, args = pickle.load(f)
    result = globals()[name](*args)
    with open(path, "wb") as f:
        pickle.dump(result, f)


if __name__ == "__main__":
    main(*sys.argv[1:])
