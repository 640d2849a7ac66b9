"""The workloads. Each builds its state from the seed in a private
warehouse during set-up, then runs a fixed list of ops per cycle. Package
functions are looked up through their modules at call time, so the traced
cycles' wrappers see every call."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
from reference import compare, duck, min_label_components


def _expect(want):
    return lambda got: compare(got, want)


class Workload:
    name = ""
    nominal_cycle_s = 1.0  # sets the cycle count for a run of --seconds
    warmup_cycles = 1
    rows_per_cycle = 0  # input rows one cycle consumes (unit in README)

    def __init__(self, spark, harness, workdir: str, seed: int):
        self.spark, self.h, self.dir, self.seed = spark, harness, workdir, seed
        os.makedirs(os.path.join(workdir, "in"), exist_ok=True)
        self.details: dict = {}  # extra entries for the run's details line

    def _write(self, name: str, table) -> str:
        path = os.path.join(self.dir, "in", f"{name}.parquet")
        pq.write_table(table, path)
        return path

    def references(self) -> None:
        """Reference results that do not depend on the run's progress; runs
        in a thread while the session starts and the warm-up runs."""

    def setup(self, engine) -> None:
        raise NotImplementedError

    def cycle(self, i: int) -> None:
        raise NotImplementedError

    def fresh_lag(self, ops: dict[str, float]) -> float:
        raise NotImplementedError

    def final_checks(self) -> None:
        """Untimed checks and records after the last cycle."""


# ------------------------------------------------------------------ ingest


class IngestRefresh(Workload):
    """Write side: append a held-out lineitem batch to a month-partitioned
    table, refresh an aggregate MV and a lineitem⋈orders MV, upsert into a
    table no MV reads, read the batch's changelog and the aggregate MV."""

    name = "ingest_refresh"
    nominal_cycle_s = 6.0
    N_ORDERS, N_BASE, N_BATCH, N_DAYS, UPSERT_MOD = 10_000, 8_000, 4_000, 360, 100
    AGG_SQL = (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty "
        "FROM {li} GROUP BY l_returnflag, l_linestatus"
    )
    JOIN_SQL = (
        "SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_orderstatus "
        "FROM {li} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_totalprice > 400000"
    )
    rows_per_cycle = N_BATCH + N_ORDERS // UPSERT_MOD

    def __init__(self, *a):
        super().__init__(*a)
        self.orders_tbl = datagen.orders(self.seed, self.N_ORDERS)
        self.orders_path = self._write("orders", self.orders_tbl)
        self.batch_paths = [self._batch(0)]
        self.consumed = 1  # batches appended so far
        self.flavors: list[list] = self.details.setdefault("refresh_flavors", [])
        self.prices = self.orders_tbl.to_pandas()[["o_orderkey", "o_totalprice"]].set_index("o_orderkey")
        self.base_prices = self.prices["o_totalprice"].copy()

    def _batch(self, b: int) -> str:
        n = self.N_BASE if b == 0 else self.N_BATCH
        return self._write(f"li{b}", datagen.lineitem(self.seed, b, n, self.N_ORDERS, 0, self.N_DAYS))

    def setup(self, eng) -> None:
        self.eng = eng
        read = self.spark.read.parquet
        li0 = read(self.batch_paths[0])
        orders = read(self.orders_path)
        self.li = eng.create_table("b.li", li0.schema, partition_by=[("l_shipdate", "month")])
        self.li.append(li0)
        eng.create_table("b.orders", orders.schema).append(orders)
        self.up = eng.create_table("b.up", orders.schema)
        self.up.append(orders)
        eng.create_materialized_view("b.mv_agg", self.AGG_SQL.format(li="b.li"))
        eng.create_materialized_view("b.mv_join", self.JOIN_SQL.format(li="b.li", orders="b.orders"))

    def cycle(self, i: int) -> None:
        from iceberg_rust_custom_spark.table import maintenance

        h, eng, b = self.h, self.eng, self.consumed
        read = self.spark.read.parquet
        self.batch_paths.append(self._batch(b))
        seq0 = self.li.metadata.last_sequence_number
        h.call("append", lambda: self.li.append(read(self.batch_paths[b])), self._check_append)
        self.consumed += 1
        paths = self.batch_paths[: self.consumed]
        flavors = [
            h.call("refresh_agg", lambda: eng.refresh_materialized_view("b.mv_agg"), _flavor_is("incremental-aggregate")),
            h.call("refresh_join", lambda: eng.refresh_materialized_view("b.mv_join"), _flavor_is(None)),
        ]
        self.flavors.append(flavors)
        hit = F.col("o_orderkey") % self.UPSERT_MOD == b % self.UPSERT_MOD
        h.call(
            "merge_upsert",
            lambda: maintenance.merge_upsert(
                self.up, read(self.orders_path).where(hit).withColumn("o_totalprice", F.col("o_totalprice") + float(b)), ["o_orderkey"]
            ),
        )
        keys = self.prices.index % self.UPSERT_MOD == b % self.UPSERT_MOD
        self.prices.loc[keys, "o_totalprice"] = self.base_prices[keys] + float(b)
        h.query(
            "changes",
            lambda: self.li.changes(seq0).groupBy("_change_type").count(),
            _expect(pd.DataFrame({"_change_type": ["insert"], "count": [self.N_BATCH]})),
        )
        h.query(
            "mv_scan",
            lambda: eng.scan_materialized_view("b.mv_agg").select("l_returnflag", "l_linestatus", "n", "sum_qty"),
            lambda got: compare(got, duck(self.AGG_SQL.format(li="li"), li=paths)),
        )

    def _check_append(self, table) -> str | None:
        summary = table.metadata.snapshot_for_ref().summary
        if summary.get("operation") != "append":
            return f"last snapshot is {summary}"
        return None

    def fresh_lag(self, ops):
        return ops["append"] + ops["refresh_agg"] + ops["refresh_join"]

    def final_checks(self) -> None:
        h, eng = self.h, self.eng
        paths = self.batch_paths[: self.consumed]
        h.check(
            "mv_join_equals_sql",
            lambda: compare(
                eng.scan_materialized_view("b.mv_join")
                .select("l_orderkey", "l_linenumber", "l_quantity", "o_orderstatus")
                .toPandas(),
                duck(self.JOIN_SQL.format(li="li", orders="orders"), li=paths, orders=[self.orders_path]),
            ),
        )
        h.check(
            "mv_agg_equals_sql",
            lambda: compare(
                eng.scan_materialized_view("b.mv_agg").select("l_returnflag", "l_linestatus", "n", "sum_qty").toPandas(),
                duck(self.AGG_SQL.format(li="li"), li=paths),
            ),
        )
        h.check(
            "upsert_table_state",
            lambda: compare(
                eng.load_table("b.up").scan().select("o_orderkey", "o_totalprice").toPandas(),
                self.prices.reset_index(),
            ),
        )


def _flavor_is(expected):
    def check(flavor):
        if expected is None:
            return None if flavor else f"refresh returned {flavor!r} on a stale MV"
        return None if flavor == expected else f"refresh took {flavor!r}, expected {expected!r}"

    return check


# -------------------------------------------------------------------- scan


class ScanCuration(Workload):
    """The read side, no writes. Each cycle runs five scans over tables the
    write path built (a month-partitioned lineitem table grown by small
    appends, one month each, orders, and a merge-on-read table with
    position deletes), then the LLM-curation operators over a replicated
    documents corpus. One process per workload costs a JVM start, a table
    build and a cold warm-up, so the two read-only halves share one."""

    name = "scan_curation"
    nominal_cycle_s = 3.0  # four cycles at --seconds 12: their median shrugs off one slow cycle
    warmup_cycles = 2  # its short cycles still speed up over the first two (JIT)
    N_ORDERS, N_APPENDS, N_APPEND_ROWS, N_MOR = 20_000, 6, 2_000, 8_000
    N_DOCS, REPLICAS = 150, 2
    PRUNED = "l_shipdate >= '2020-03-01' AND l_shipdate < '2020-04-01'"
    Q1 = (
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
        "SUM(l_extendedprice) AS sum_base_price, "
        "SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
        "COUNT(*) AS count_order FROM {li} WHERE l_shipdate < TIMESTAMP '2020-06-01' "
        "GROUP BY l_returnflag, l_linestatus"
    )
    JOIN = (
        "SELECT o.o_orderpriority, COUNT(*) AS n, SUM(l.l_extendedprice) AS revenue "
        "FROM {li} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_orderdate < TIMESTAMP '2021-01-01' GROUP BY o.o_orderpriority"
    )
    SCANS = ("pruned_scan", "q1", "join", "time_travel", "mor_scan")
    BY_FLAG = "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty FROM {li} {where} GROUP BY l_returnflag"
    # rows each cycle's five scans range over, before pruning, plus the
    # documents curated
    rows_per_cycle = (
        3 * N_APPENDS * N_APPEND_ROWS + N_ORDERS + N_APPENDS // 2 * N_APPEND_ROWS + N_MOR + N_DOCS * REPLICAS
    )

    def __init__(self, *a):
        super().__init__(*a)
        self.orders_path = self._write("orders", datagen.orders(self.seed, self.N_ORDERS))
        # month m's rows arrive in append m: ingest in time order
        self.append_paths = [
            self._write(f"li{m}", datagen.lineitem(self.seed, m, self.N_APPEND_ROWS, self.N_ORDERS, 30 * m, 30))
            for m in range(self.N_APPENDS)
        ]
        self.mor_path = self._write(
            "mor", datagen.lineitem(self.seed, 100, self.N_MOR, self.N_ORDERS, 0, 360)
        )
        self.docs_tbl = datagen.documents(self.seed, self.N_DOCS, self.REPLICAS)
        self.docs_path = self._write("documents", self.docs_tbl)

    def references(self) -> None:
        from iceberg_rust_custom_spark.queries import _lsh_oracle, _ngram_lm_oracle

        lis, half = self.append_paths, self.append_paths[: self.N_APPENDS // 2]
        docs = [self.docs_path]
        pairs = duck(_lsh_oracle(16, 8), documents=docs)
        ids = self.docs_tbl.column("doc_id").to_pylist()
        labels = min_label_components(ids, zip(pairs["id_a"], pairs["id_b"]))
        self.want = {
            "pruned_scan": duck(self.BY_FLAG.format(li="li", where=f"WHERE {self.PRUNED}"), li=lis),
            "q1": duck(self.Q1.format(li="li"), li=lis),
            "join": duck(self.JOIN.format(li="li", orders="orders"), li=lis, orders=[self.orders_path]),
            "time_travel": duck(self.BY_FLAG.format(li="li", where=""), li=half),
            "mor_scan": duck(self.BY_FLAG.format(li="li", where="WHERE NOT (l_quantity < 10)"), li=[self.mor_path]),
            "lsh_clusters": pd.DataFrame(
                {
                    "doc_id": ids,
                    "cluster_id": [labels[i] for i in ids],
                    "is_canonical": [labels[i] == i for i in ids],
                }
            ),
            "ngram_lm": duck(_ngram_lm_oracle(3), documents=docs),
        }

    def setup(self, eng) -> None:
        from iceberg_rust_custom_spark.table import maintenance

        self.eng = eng
        read = self.spark.read.parquet
        first = read(self.append_paths[0])
        li = eng.create_table("b.li", first.schema, partition_by=[("l_shipdate", "month")])
        for m, path in enumerate(self.append_paths):
            li.append(read(path), small_hint=True)
            if m == self.N_APPENDS // 2 - 1:
                self.mid_snapshot = li.metadata.snapshot_for_ref().snapshot_id
        orders = read(self.orders_path)
        eng.create_table("b.orders", orders.schema).append(orders)
        mor = eng.create_table("b.mor", first.schema)
        mor.append(read(self.mor_path))
        maintenance.delete_where(mor, "l_quantity < 10", mode="merge-on-read")
        self.docs = read(self.docs_path)

    @staticmethod
    def _by_flag(df):
        return df.groupBy("l_returnflag").agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))

    def cycle(self, i: int) -> None:
        from iceberg_rust_custom_spark.operators import dedup as D
        from iceberg_rust_custom_spark.operators import text as TX

        h, eng, w, d = self.h, self.eng, self.want, self.docs
        h.query("pruned_scan", lambda: self._by_flag(eng.load_table("b.li").scan(self.PRUNED)), _expect(w["pruned_scan"]))
        h.query("q1", lambda: eng.sql(self.Q1.format(li="b.li")), _expect(w["q1"]))
        h.query("join", lambda: eng.sql(self.JOIN.format(li="b.li", orders="b.orders")), _expect(w["join"]))
        h.query(
            "time_travel",
            lambda: self._by_flag(eng.load_table("b.li").scan(snapshot_id=self.mid_snapshot)),
            _expect(w["time_travel"]),
        )
        h.query("mor_scan", lambda: self._by_flag(eng.load_table("b.mor").scan()), _expect(w["mor_scan"]))
        h.query(
            "lsh_clusters",
            lambda: D.dedup_clusters(d, "doc_id", D.minhash_lsh_pairs(d, "doc_id", "text", num_hashes=16, bands=8)),
            _expect(w["lsh_clusters"]),
        )
        h.query("ngram_lm", lambda: TX.ngram_lm_scores(d, "doc_id", "text", ref_pred="lang = 'en'"), _expect(w["ngram_lm"]))

    def fresh_lag(self, ops):
        """Nothing is written, so this is the time until the cycle's five
        scan answers are back."""
        return sum(ops[q] for q in self.SCANS)

    def final_checks(self) -> None:
        """Scan reports of the cycles' predicate scans; the cycles are
        read-only, so one report per scan covers them all."""
        li, mor = self.eng.load_table("b.li"), self.eng.load_table("b.mor")
        reports = {
            "pruned_scan": li.scan_report(self.PRUNED),
            "q1": li.scan_report("l_shipdate < '2020-06-01'"),
            "mor_scan": mor.scan_report(),
        }
        live = li.scan_report()["files_planned"]
        self.details.update(
            scan_reports=reports,
            live_files=live,
            files_pruned_ratio=1.0 - reports["pruned_scan"]["files_planned"] / live,
        )


WORKLOADS = {w.name: w for w in (IngestRefresh, ScanCuration)}
