"""The benchmark's workloads and their output checks.

Each workload stages seeded inputs (``stage``), warms the session
(``warm``) and runs one measurement window (``window``): a one-off bulk
phase, then a closed loop of its unit operation, one client, until the
operations have taken ``seconds`` of measured time. Output checks run
between and after the timed intervals and never count toward them.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

CATALOG = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Read-only declared queries that are sub-second at sf0.1 (bench_detail.json),
# need no ``build:*`` artifact and start no Python worker: relational scans,
# joins and aggregates, CDC classification, validation, event windows and
# text statistics. Each one's result is checked against its DuckDB oracle.
# The list is ordered by first-execution latency in a fresh session (sf 0.02
# catalog, 4 cores); each run of STRATUM consecutive rows is one cost
# stratum.
QUERY_MIX = (
    "show_columns", "project_keys", "deterministic_sample", "point_lookup",
    "stratified_customer_sample", "dup_pk", "tail_sample", "count_rows",
    "paginate_orders", "null_pk_count", "insert_nullfilled", "scan_after_orders",
    "normalize_main_table", "forecast_revenue", "order_price_histogram", "train_test_split",
    "child_nested_object", "brand_type_share", "token_frequencies", "orders_status_cube",
    "distinct_users_exact", "delete_by_keys", "child_array_of_primitives", "customer_order_gaps",
    "user_value_running_total", "cdc_deleted_keys", "token_count_histogram", "length_bucketed_batches",
    "fk_orphans", "orders_priority_rollup", "events_value_delta", "text_stats",
    "dup_fk_lineitem", "child_array_of_objects", "events_tumbling_window", "lang_id",
    "cdc_new_rows", "orders_metrics_unpivot", "view_purchase_funnel", "embedding_norm_by_label",
    "top_orders_per_customer", "upsert_last_wins", "customer_profile", "source_vocab_stats",
    "orders_zorder_keys", "orders_status_pivot", "orders_grouping_sets", "doc_training_windows",
    "building_customers_with_orders", "customers_without_orders", "event_value_outliers", "doc_repetition_stats",
    "order_count_distribution", "variant_doc_extract", "events_sliding_window", "idle_rich_customers",
    "major_revenue_parts", "events_user_skew_profile", "top_supplier", "order_priority_exists",
    "clean_documents", "events_session_window", "disjunctive_part_revenue", "events_trailing_hour_avg",
    "validation_diffs", "invalid_props_quarantine", "customers_above_nation_avg", "late_shipment_priority",
    "customer_spend_percentile_by_nation", "cdc_updated_rows", "events_sessionized", "customer_segment_setops",
    "lateral_top_orders", "orders_asof_last_event", "linear_count_by", "small_qty_part_revenue",
    "shipping_priority_top10", "weekly_active_users", "modal_returnflag_by_priority", "user_cohort_retention",
    "large_volume_customers", "event_mad_outlier_days", "supplier_count_by_part_attrs", "events_in_order_windows",
    "volume_shipping", "events_hourly_gapfill", "orders_constraint_audit", "cdc_classify",
    "events_type_drift_audit", "returned_revenue_top20", "validation_verdict", "supplier_nation_revenue",
    "part_profit_by_nation_year", "half_quantity_suppliers", "event_funnel_counts", "binned_quantiles_by",
    "nation_market_share", "local_supplier_volume", "incremental_nation_stats", "catalog_listing",
)

STRATUM = 5

# Catalog discoveries per query_mix window; ``bulk_s`` is their median.
# The first one compiles the plans and the next one or two still run
# partly interpreted, so the median of seven is a warm discovery.
DISCOVERIES = 7

# Share of the one-word-edited corpus copies the ingest gate must catch.
MIN_EDITED_RECALL = 0.8


def query_rounds(seed: int):
    """Rounds of the query mix: each round holds one row of every cost
    stratum, in seeded order, so every round costs about the same and a
    run's latency sample does not depend on which rows the seed drew.
    ``STRATUM`` rounds cover every row once."""
    r = gen.rng(seed, "query_mix")
    strata = [
        [QUERY_MIX[i + j] for j in r.permutation(STRATUM)]
        for i in range(0, len(QUERY_MIX), STRATUM)
    ]
    for k in range(STRATUM):
        yield [strata[i][k] for i in r.permutation(len(strata))]


@dataclass
class Window:
    """What one measurement window measured."""

    op_s: list[float] = field(default_factory=list)
    bulk_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _canon(v) -> str:
    """Cell canon of the engine's oracle comparison (tests/oracle_check.py)."""
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    try:
        import pandas as pd

        if pd.isna(v):
            return "<NULL>"
    except (TypeError, ValueError):
        pass
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def result_digest(frame) -> tuple[int, str]:
    """Row count and order-insensitive value hash of a pandas frame,
    columns taken in name order."""
    cols = sorted(frame.columns)
    rows = sorted(
        tuple(_canon(v) for v in row) for row in frame[cols].itertuples(index=False)
    )
    return len(rows), hashlib.md5(repr((cols, rows)).encode()).hexdigest()


def store_rows(path: str, cols: str, where: str = "true") -> set:
    """Distinct rows of a (hive-partitioned) parquet store, via DuckDB."""
    if not os.path.isdir(path):
        return set()
    files = os.path.join(path, "**", "*.parquet")
    return set(
        duckdb.sql(
            f"SELECT {cols} FROM read_parquet('{files}', hive_partitioning=true) "
            f"WHERE {where}"
        ).fetchall()
    )


def count_files(path: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t, out


class QueryMix:
    """Read-only declared queries in seeded order over the staged
    catalog, each forced through the noop sink. Bulk phase: catalog
    discovery (register every table, list collections, show columns)."""

    name = "query_mix"
    sf = 0.02

    def __init__(self, seed: int):
        self.seed = seed
        self.executed: set[str] = set()  # rows run by any window

    def stage(self, out_dir: str) -> None:
        self.catalog = out_dir
        gen.stage_catalog(self.seed, self.sf, out_dir)

    def warm(self, spark) -> None:
        from nosql_to_sql_migration_tool_spark.sources import registry

        noop(spark.range(100_000).selectExpr("sum(id)"))
        noop(registry.load_table(spark, self.catalog, "nation").groupBy("n_regionkey").count())

    def window(self, spark, seconds: float, store: str, tracer=None) -> Window:
        from nosql_to_sql_migration_tool_spark.queries import QUERIES
        from nosql_to_sql_migration_tool_spark.sources import registry

        w = Window()
        for _ in range(DISCOVERIES):
            w.attempted += 1
            dt, cols = _timed(self._discover, spark, registry)
            w.bulk_s.append(dt)
        expected = self._generated_columns()
        if cols != expected:
            w.fail(f"catalog discovery: {sorted(cols)} != {sorted(expected)}")

        clock = time.perf_counter
        for rows in query_rounds(self.seed):
            if sum(w.op_s) >= seconds:
                break
            for row in rows:
                self.executed.add(row)
                w.attempted += 1
                t0 = clock()
                span = tracer.open("queries", row) if tracer else None
                try:
                    df = QUERIES[row](spark, self.catalog)
                    t1 = clock()
                    if tracer:
                        df._jdf.queryExecution().executedPlan()
                    t2 = clock()
                    noop(df)
                except Exception as exc:  # a failing row is counted, not fatal
                    w.fail(f"{row}: {exc!r}"[:300])
                    continue
                finally:
                    if span is not None:
                        tracer.close(span)
                t3 = clock()
                w.op_s.append(t3 - t0)
                if tracer:
                    tracer.add("queries.construct_s", t1 - t0)
                    tracer.add("queries.plan_s", t2 - t1)
                    tracer.add("queries.execute_s", t3 - t2)
        return w

    def _discover(self, spark, registry) -> dict[str, list[str]]:
        registry.register_views(spark, self.catalog)
        out = {}
        for t in registry.list_collections(spark):
            cols = registry.show_columns(spark, spark.table(t)).collect()
            out[t] = [r["column_name"] for r in cols]
        return out

    def _generated_columns(self) -> dict[str, list[str]]:
        return {
            t: pq.read_schema(os.path.join(self.catalog, f"{t}.parquet")).names
            for t in CATALOG
        }

    def check(self, spark, w: Window) -> None:
        from nosql_to_sql_migration_tool_spark.queries import ORACLES, QUERIES

        con = duckdb.connect()
        for t in CATALOG:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.catalog, t)}.parquet'"
            )
        for row in sorted(self.executed):
            got = result_digest(QUERIES[row](spark, self.catalog).toPandas())
            want = result_digest(con.sql(ORACLES[row]).df())
            if got != want:
                w.fail(f"{row}: spark {got} != duckdb {want}")
        con.close()


class StoreCycle:
    """The write path. Bulk phase: the reference's migration dataflow
    (``workflow.full_migration`` of schemaless documents, the initial
    partitioned load of ``customer``) and the corpus band index
    (``dedup.build_band_index``); after the loop, a takedown sweep and
    the store compactions. Unit operation, a store cycle: one seeded CDC
    sync round (updates, inserts and deletes in three nations through
    ``workflow.incremental_migration``) and one gated 100-document ingest
    micro-batch (fresh documents plus planted edited near copies of
    corpus documents) folded into the inverted index."""

    name = "store_cycle"
    n_docs = 2_000
    n_customers = 5_000
    n_corpus_docs = 2_500
    max_cycles = 12
    takedown_share = 0.05

    def __init__(self, seed: int):
        self.seed = seed

    def stage(self, out_dir: str) -> None:
        self.dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        base = gen.customers(self.seed, self.n_customers)
        gen.write(base, os.path.join(out_dir, "customer.parquet"))
        # documents derive from a key-shifted customer copy through the
        # engine's own ragged-document layout (fixtures.RAGGED_DOCUMENTS_SQL)
        from nosql_to_sql_migration_tool_spark.fixtures import RAGGED_DOCUMENTS_SQL

        src = gen.customers(self.seed + 1, self.n_docs, key_offset=50_000_000)
        con = duckdb.connect()
        con.register("customer", src)
        docs = con.sql(f"SELECT * FROM ({RAGGED_DOCUMENTS_SQL}) ORDER BY doc_id").arrow()
        con.close()
        gen.write(docs, os.path.join(out_dir, "docs.parquet"))
        self.doc_keys = src.column("c_custkey").to_numpy()
        self.planted_changes = []
        for r, (snap, counts) in enumerate(
            gen.sync_rounds(self.seed, base, self.max_cycles)
        ):
            gen.write(snap, os.path.join(out_dir, f"round_{r:03d}.parquet"))
            self.planted_changes.append(counts)

        docs = gen.documents(self.seed, self.n_corpus_docs)
        corpus = docs.filter(np.asarray(docs.column("doc_id").to_numpy() % 5 != 0))
        gen.write(corpus, os.path.join(out_dir, "corpus.parquet"))
        self.exact_copies, self.edited_copies, self.fresh = [], [], []
        for b, (batch, exact, edited) in enumerate(
            gen.ingest_batches(self.seed, corpus, self.max_cycles)
        ):
            gen.write(batch, os.path.join(out_dir, f"batch_{b:03d}.parquet"))
            self.exact_copies.append(exact)
            self.edited_copies.append(edited)
            self.fresh.append(
                sorted(set(batch.column("doc_id").to_pylist()) - set(exact) - set(edited))
            )

    def warm(self, spark) -> None:
        noop(spark.range(100_000).selectExpr("sum(id)"))
        noop(spark.read.parquet(os.path.join(self.dir, "customer.parquet"))
             .groupBy("c_nationkey").count())

    def expected_tables(self) -> dict[str, int]:
        """Row counts of the migrated tables, from the document layout
        (fixtures.ragged_documents)."""
        k = self.doc_keys
        tag_docs = k[k % 4 == 1]
        return {
            "docs": len(k),
            "docs_address": int((k % 5 == 0).sum()),
            "docs_items": int((k % 6 == 2).sum() + (k % 12 == 2).sum()),
            "docs_tags": int((1 + tag_docs % 3).sum()),
        }

    def window(self, spark, seconds: float, store: str, tracer=None) -> Window:
        from nosql_to_sql_migration_tool_spark import workflow

        w = Window()
        target = os.path.join(store, "sync")
        stores = _Stores(os.path.join(store, "ingest"))
        corpus = spark.read.parquet(os.path.join(self.dir, "corpus.parquet"))

        def migrate():
            docs = spark.read.parquet(os.path.join(self.dir, "docs.parquet"))
            rep = workflow.full_migration(
                spark, docs, "doc", "doc_id", "docs", os.path.join(store, "migrate")
            )
            base = spark.read.parquet(os.path.join(self.dir, "customer.parquet"))
            workflow.incremental_migration(
                spark, base, "c_custkey", "customer", target, "c_nationkey"
            )
            stores.build(corpus)
            return rep

        w.attempted += 1
        bulk, rep = _timed(migrate)
        status = (rep.validation or {}).get("status")
        if status != "PASSED":
            w.fail(f"full migration verdict {status}")
        if rep.tables != self.expected_tables():
            w.fail(f"migrated tables {rep.tables} != {self.expected_tables()}")
        w.counts["migrate_write_amp"] = dir_bytes(
            os.path.join(store, "migrate")
        ) / os.path.getsize(os.path.join(self.dir, "docs.parquet"))

        sync_s, gate_s, changed, n = [], [], 0, 0
        while n < self.max_cycles and sum(w.op_s) < seconds:
            w.attempted += 1
            src = os.path.join(self.dir, f"round_{n:03d}.parquet")
            batch = os.path.join(self.dir, f"batch_{n:03d}.parquet")
            try:
                dt_sync, rep = _timed(
                    lambda: workflow.incremental_migration(
                        spark, spark.read.parquet(src), "c_custkey",
                        "customer", target, "c_nationkey",
                    )
                )
                dt_gate, _ = _timed(
                    lambda: stores.gate(spark, spark.read.parquet(batch), n, corpus)
                )
            except Exception as exc:  # later cycles build on this one
                w.fail(f"cycle {n}: {exc!r}"[:300])
                break
            w.op_s.append(dt_sync + dt_gate)
            sync_s.append(dt_sync)
            gate_s.append(dt_gate)
            planted = {k: v for k, v in self.planted_changes[n].items() if v}
            if rep.validation != planted:
                w.fail(f"round {n}: change counts {rep.validation} != {planted}")
            if _table_digest(os.path.join(target, "customer.parquet")) != _table_digest(src):
                w.fail(f"round {n}: target differs from the round's source")
            changed += sum(v for k, v in planted.items() if k != "UNCHANGED")
            n += 1
        w.counts["changed_rows"] = changed
        if sync_s:
            w.counts["sync_round_p50_s"] = statistics.median(sync_s)
            w.counts["gate_batch_p50_s"] = statistics.median(gate_s)

        acc = {r[0] for r in store_rows(stores.accepted, "doc_id")}
        quar = {r[0] for r in store_rows(stores.quarantine, "doc_id")}
        exact = {i for b in range(n) for i in self.exact_copies[b]}
        edited = {i for b in range(n) for i in self.edited_copies[b]}
        planted = exact | edited
        if acc & quar:
            w.fail(f"{len(acc & quar)} ids both accepted and quarantined")
        if not exact <= quar:
            w.fail(f"{len(exact - quar)} verbatim copies not quarantined")
        if not quar <= planted:
            w.fail(f"{len(quar - planted)} fresh documents quarantined")
        # the band index finds an edited copy with high probability, not
        # certainty (LSH recall < 1)
        if len(edited & quar) < MIN_EDITED_RECALL * len(edited):
            w.fail(f"only {len(edited & quar)}/{len(edited)} edited copies quarantined")
        w.counts["edited_copy_recall"] = len(edited & quar) / max(1, len(edited))
        candidates = {
            r[0] for r in store_rows(stores.accepted, "doc_id", "best_jaccard > 0")
        } | quar
        w.counts["verified"] = len(quar)
        w.counts["candidates"] = len(candidates)
        w.counts["files_written"] = stores.files()

        fresh = [i for b in range(n) for i in self.fresh[b]]
        r = gen.rng(self.seed, "takedown")
        k = max(1, int(len(fresh) * self.takedown_share))
        swept = r.choice(fresh, size=k, replace=False).tolist() + sorted(planted)[:2]
        ids = spark.createDataFrame([(int(i),) for i in swept], "doc_id long")
        w.attempted += 1
        dt, _ = _timed(stores.takedown, spark, ids)
        bulk += dt
        gone = set(swept)
        for path in (stores.accepted, stores.quarantine, stores.index):
            left = {r[0] for r in store_rows(path, "doc_id")} & gone
            if left:
                w.fail(f"{len(left)} swept ids still in {os.path.basename(path)}")

        before = stores.row_sets()
        w.attempted += 1
        dt, _ = _timed(stores.compact, spark)
        bulk += dt
        w.bulk_s.append(bulk)
        after = stores.row_sets()
        for key in before:
            if before[key] != after[key]:
                w.fail(f"compaction changed the {key} rows")
        w.counts["store_bytes_per_doc"] = stores.bytes() / max(1, len(acc - gone))
        return w

    def check(self, spark, w: Window) -> None:
        """Every check ran inside the window, between timed steps."""


def _table_digest(path: str) -> tuple:
    """Row count and order-insensitive hash of a customer-shaped table
    (a file or a partitioned directory), via DuckDB."""
    src = os.path.join(path, "**", "*.parquet") if os.path.isdir(path) else path
    return duckdb.sql(
        "SELECT count(*), sum(hash(c_custkey::BIGINT, c_name, "
        "c_nationkey::INTEGER, c_acctbal::DOUBLE, c_mktsegment)::HUGEINT) "
        f"FROM read_parquet('{src}', hive_partitioning=true)"
    ).fetchone()


class _Stores:
    """The ingest family's persisted stores under one directory."""

    def __init__(self, root: str):
        self.index = os.path.join(root, "band_index")
        self.accepted = os.path.join(root, "accepted")
        self.quarantine = os.path.join(root, "quarantine")
        self.inverted = os.path.join(root, "inverted")

    def build(self, corpus) -> None:
        from nosql_to_sql_migration_tool_spark.operators import dedup

        dedup.build_band_index(corpus, self.index)

    def gate(self, spark, batch, batch_id: int, corpus) -> None:
        """The unit operation: gate one micro-batch, then fold its
        accepted documents into the inverted index."""
        from pyspark.sql import functions as F

        from nosql_to_sql_migration_tool_spark.operators import inverted
        from nosql_to_sql_migration_tool_spark.streaming import ingest_stream

        ingest_stream.gate_batch(
            batch, batch_id, corpus, self.index, self.accepted, self.quarantine
        )
        took = spark.read.parquet(self.accepted).where(F.col("batch_id") == batch_id)
        inverted.update_inverted_index(
            took.select("doc_id", "text"), self.inverted, batch_id=batch_id
        )

    def takedown(self, spark, ids) -> None:
        from nosql_to_sql_migration_tool_spark.streaming import ingest_stream

        ingest_stream.takedown_docs(
            spark, ids, self.accepted, self.quarantine, self.index
        )

    def compact(self, spark) -> None:
        from nosql_to_sql_migration_tool_spark.operators import inverted
        from nosql_to_sql_migration_tool_spark.streaming import ingest_stream

        ingest_stream.compact_ingest_sinks(spark, self.accepted, self.quarantine)
        ingest_stream.compact_ingest_index(spark, self.index)
        inverted.compact_inverted_index(spark, self.inverted)

    def _all(self) -> tuple[str, ...]:
        return (self.index, self.accepted, self.quarantine, self.inverted,
                self.accepted + ".__ledger")

    def files(self) -> int:
        return sum(count_files(p) for p in self._all())

    def bytes(self) -> int:
        return sum(dir_bytes(p) for p in self._all())

    def row_sets(self) -> dict[str, set]:
        return {
            "accepted": store_rows(self.accepted, "doc_id, text, best_jaccard"),
            "quarantine": store_rows(self.quarantine, "doc_id, text, best_jaccard"),
            "index": store_rows(self.index, "band_idx, band_hash, doc_id"),
            "postings": store_rows(
                os.path.join(self.inverted, "postings"), "term, doc_id, tf, doc_len"
            ),
            "inverted docs": store_rows(os.path.join(self.inverted, "docs"), "doc_id"),
        }


WORKLOADS = {cls.name: cls for cls in (QueryMix, StoreCycle)}
