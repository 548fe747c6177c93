"""The benchmark's workloads.

An *op* is one registry query built and then materialised with
``bench.materialize``, or one load call into ``versioned``. A *pass* is
one run through a workload's op list, in an order drawn from the seed.

- ``interactive_sf0.1``: five headline queries at sf0.1.
- ``headline_sf0.1``: the 20 ``bench.HEADLINE`` queries at sf0.1.
- ``relational_sf1``: the relational and time-series headline queries
  at 10x that data.
- ``curation_sf0.1``: driver-loop curation operators.
- ``warehouse_load_sf0.1`` and ``warehouse_load_sf1``: the reference
  ETL's own job: the EP1/EP3 fixture pipelines committed to versioned
  tables, orders loaded as a backfill plus a yearly append with stats and
  membership indexes, a seeded upsert batch on the latest year, a delete,
  a pruned read and a compaction, every pass on fresh tables.

Query workloads check outputs against the DuckDB oracles on the warm-up
pass, and ops without an oracle by row count and digest, on the warm-up
pass and on one more untimed run after the measured passes.
The warehouse workload checks every table with ``versioned.fsck`` and
the final orders snapshot against a DuckDB replay of the same ops.
The DuckDB side of every check runs in a child process (``oracle``)
before the Spark session starts.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import bench
import oracle
from dwh_with_dask_spark import catalog, versioned
from dwh_with_dask_spark.operators import caching
from dwh_with_dask_spark.plans import QUERIES

# A cut of the headline that fits the benchmark's time budget: the
# relational core with the most catalog loads (q5, q8), embedding top-k
# (costly DataFrame construction), and audio near-dup detection, which persists
# through a cache scope and has no oracle, so it is checked by digest.
INTERACTIVE = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q8_market_share",
    "embedding_cosine_topk",
    "multimodal_audio_dedup",
]
RELATIONAL = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_filter",
    "q8_market_share",
    "window_running_total",
    "asof_join_events_orders",
    "tumbling_window_events",
    "hypertable_rollup_events",
    "json_props_events",
]
CURATION = [
    "corpus_prepare_pipeline_v4",
    "quality_classifier_scores",
    "pagerank_customer_supplier",
    "embedding_kcenter_coreset",
    "dedup_suffix_removal",
]


@dataclass
class Op:
    name: str
    kind: str  # "query", "write" or "read"
    build: Callable[[], object]
    run: Callable[[object], object]


def materialize(df) -> None:
    bench.materialize(df)
    caching.release_caches(df)


def collect(df) -> list:
    """Materialise by collecting, so the output can be checked without
    running the query twice."""
    rows = df.collect()
    caching.release_caches(df)
    return rows


def _canon(rows, cols):
    from tests.test_driver_contract import canon

    return canon([tuple(r) for r in rows], list(cols))


def digest(rows, cols) -> tuple[int, str]:
    """Row count and an order-independent digest; floats are rounded to
    10 significant digits so summation order cannot change it."""
    def norm(v):
        if isinstance(v, float):
            return f"{v:.10g}"
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    acc = 0
    for r in _canon(rows, cols):
        acc = (acc + int.from_bytes(hashlib.sha1(repr(norm(r)).encode()).digest()[:8], "big")) % 2**64
    return len(rows), f"{acc:016x}"


def oracle_mismatch(rows, cols, expect) -> str | None:
    """None when ``rows`` equal the oracle's (columns, canonical rows), else a reason."""
    exp_cols, exp_rows = expect
    if sorted(cols) != sorted(exp_cols):
        return f"columns {sorted(cols)} != {sorted(exp_cols)}"
    if len(rows) != len(exp_rows):
        return f"{len(rows)} rows != {len(exp_rows)}"
    if _canon(rows, cols) != exp_rows:
        return "values differ"
    return None


class QueryWorkload:
    """Registry queries on one data directory."""

    def __init__(self, queries: list[str], spark, data_dir: str, rng):
        self.queries, self.spark, self.data_dir, self.rng = queries, spark, data_dir, rng
        self.expected = oracle.in_child(oracle.query_expectations, data_dir, list(queries))
        self.digests: dict[str, tuple[int, str]] = {}

    def ops(self, pass_no: int) -> list[Op]:
        run = collect if pass_no == 0 else materialize  # the warm-up pass is checked
        return [
            Op(q, "query", lambda q=q: QUERIES[q](self.spark, self.data_dir), run)
            for q in self.rng.permutation(self.queries)
        ]

    def check(self, op: Op, df, rows) -> str | None:
        """Check one warm-up op: against its oracle, or else record its digest."""
        if op.name in self.expected:
            return oracle_mismatch(rows, df.columns, self.expected[op.name])
        self.digests[op.name] = digest(rows, df.columns)
        return None

    def after_pass(self, pass_no: int) -> dict[str, str]:
        """After the measured passes, run each op without an oracle once
        more, untimed, and require the warm-up pass's row count and digest."""
        bad = {}
        for name, want in self.digests.items() if pass_no else ():
            df = QUERIES[name](self.spark, self.data_dir)
            got = digest(df.collect(), df.columns)
            caching.release_caches(df)
            if got != want:
                bad[f"digest_{name}"] = f"{got} != warm-up pass {want}"
        return bad

    def extra_metrics(self) -> dict:
        return {}


# --------------------------------------------------------------------------
# warehouse_load_*
# --------------------------------------------------------------------------

ORDERS_KEY = ["o_orderkey"]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs)


class WarehouseWorkload:
    """The reference ETL's load job against ``versioned`` tables."""

    def __init__(self, spark, data_dir: str, seed: int, work_dir: str):
        self.spark = spark
        self.orders_path = catalog.table_path(data_dir, "orders")
        self.data_dir = data_dir
        self.work_dir = work_dir
        os.makedirs(work_dir, exist_ok=True)
        self.batch = os.path.join(work_dir, "merge_batch.parquet")
        self.plan = oracle.in_child(oracle.warehouse_plan, self.orders_path, seed, self.batch)
        self.years = self.plan["years"]
        self.tables: dict[int, dict[str, str]] = {}
        self.byte_counts = (0, 1, 0, 1)  # written, submitted, stored, logical; of the last checked pass

    def ops(self, pass_no: int) -> list[Op]:
        from pyspark.sql import functions as F

        spark = self.spark
        root = os.path.join(self.work_dir, f"pass{pass_no}")
        shutil.rmtree(root, ignore_errors=True)
        t = self.tables[pass_no] = {k: os.path.join(root, k) for k in ("laporan", "notes", "orders")}
        ops = [
            Op(f"commit_{q}", "write", lambda q=q: QUERIES[q](spark, self.data_dir),
               lambda df, k=k: versioned.versioned_commit(df, t[k]))
            for q, k in (("etl_laporan_keuangan", "laporan"), ("etl_detail_notes", "notes"))
        ]
        stats = {"stats_cols": ["o_orderdate", "o_orderkey"], "member_cols": ["o_orderpriority"]}

        def orders(lo, hi):
            return catalog.load_table(spark, self.data_dir, "orders").where(
                F.year("o_orderdate").between(int(lo), int(hi)))

        # earlier years as one backfill commit, the latest as a yearly append
        first, latest = self.years[0], self.years[-1]
        ops.append(Op(f"backfill_{first}_{latest - 1}", "write", lambda: orders(first, latest - 1),
                      lambda df: versioned.versioned_commit(df, t["orders"], **stats)))
        ops.append(Op(f"append_{latest}", "write", lambda: orders(latest, latest),
                      lambda df: versioned.versioned_commit(df, t["orders"], mode="append", **stats)))
        ops.append(Op("merge", "write", lambda: spark.read.parquet(self.batch),
                      lambda src: versioned.versioned_merge(spark, t["orders"], src, ORDERS_KEY)))
        ops.append(Op("delete", "write", lambda: None, lambda _: versioned.versioned_delete(
            spark, t["orders"], oracle.DELETE_PRED, prune={"o_orderdate": (oracle.DELETE_FROM, None)})))
        lo, hi = f"{latest}-01-01", f"{latest}-12-31 23:59:59"
        ops.append(Op(f"read_year_{latest}", "read", lambda: versioned.read_version(
            spark, t["orders"], prune={"o_orderdate": (lo, hi)})
            .where(F.col("o_orderdate").between(lo, hi))
            .groupBy("o_orderpriority").agg(F.count("*"), F.sum("o_totalprice")), materialize))
        ops.append(Op("optimize", "write", lambda: None,
                      lambda _: versioned.optimize_versioned(spark, t["orders"])))
        return ops

    def check(self, op: Op, df, out) -> str | None:
        return None  # the tables are checked after the pass

    def after_pass(self, pass_no: int) -> dict[str, str]:
        """Failed checks of the pass's tables, by name; records their byte counts."""
        t = self.tables[pass_no]
        bad = {}
        for k, path in t.items():
            if not versioned.fsck(path)["ok"]:
                bad[f"fsck_{k}"] = "fsck not ok"
        snap = versioned.read_version(self.spark, t["orders"])
        snap.createOrReplaceTempView("perfbench_snapshot")
        got = tuple(self.spark.sql(oracle.FINAL_AGG.format(t="perfbench_snapshot")).first())
        want_agg = tuple(self.plan["final_agg"])
        if got != want_agg:
            bad["final_snapshot"] = f"{got} != replay {want_agg}"
        ep = self.plan["ep"]
        for q, k in zip(oracle.EP_QUERIES, ("laporan", "notes")):
            df = versioned.read_version(self.spark, t[k])
            if _canon(df.collect(), df.columns) != ep[q][0]:
                bad[f"table_{k}"] = "differs from oracle"
        ep_bytes = sum(nbytes for _, nbytes in ep.values())
        user_in = self.plan["orders_bytes"] + self.plan["batch_bytes"] + ep_bytes
        stored = sum(_dir_bytes(os.path.join(path, d)) for path in t.values()
                     for d in versioned.manifest_dirs(path))
        user_now = self.plan["final_bytes"] + ep_bytes
        self.byte_counts = (_dir_bytes(os.path.dirname(t["orders"])), user_in, stored, user_now)
        return bad

    def extra_metrics(self) -> dict:
        w, u, s, n = self.byte_counts
        return {"bytes_written": w, "bytes_written_per_user_byte": w / u,
                "bytes_stored_per_user_byte": s / n}


QUERY_LISTS = {
    "interactive_sf0.1": INTERACTIVE,
    "headline_sf0.1": bench.HEADLINE,
    "relational_sf1": RELATIONAL,
    "curation_sf0.1": CURATION,
}


def make(name: str, spark, data_dir: str, seed: int, rng, work_dir: str):
    if name.startswith("warehouse_load"):
        return WarehouseWorkload(spark, data_dir, seed, work_dir)
    return QueryWorkload(QUERY_LISTS[name], spark, data_dir, rng)
