"""The three workloads. Each is one closed-loop client driving the engine's
public entry points:

- ``ingest``: ``ReferencePipeline.run_stream`` over pre-staged order files.
- ``lake_sql``: ``Engine.sql`` over lake tables, reads with some DML.
- ``curate``: the registry's LLM-data kernel queries (``registry.QUERIES``).

A workload object is built once per run. ``load(i)`` stages the seeded
inputs and loads the lake into fresh directories (the run calls it several
times and keeps the last), ``warm`` runs untimed ops on the kept state,
``measure`` runs rounds of ops until the time is up, and ``check``
compares the outputs with DuckDB.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from common import Ops, fresh_dir

SIZES = {
    "full": {
        "ingest": {"rows_per_file": 2000, "staged_files": 24, "files_per_round": 4,
                   "customers": 200, "nations": 100},
        "lake_sql": {"sf": 0.05, "append_commits": 4},
        "curate": {"docs": 1000, "vectors": 1000, "dup_frac": 0.2},
    },
    "smoke": {
        "ingest": {"rows_per_file": 200, "staged_files": 12, "files_per_round": 2,
                   "customers": 50, "nations": 40},
        "lake_sql": {"sf": 0.001, "append_commits": 2},
        "curate": {"docs": 100, "vectors": 100, "dup_frac": 0.2},
    },
}


class ResultRows:
    """A collected query result in the shape ``oracle_harness.compare``
    reads (``columns`` and ``collect()``), so the check judges the exact
    rows the timed op produced without running the query again."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def _duck(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# ---------------------------------------------------------------- ingest


class Ingest:
    """The reference pipeline (faker orders → lookup-join enrichment →
    hot store + ``nation_revenue`` MERGE → tier commit) as Structured
    Streaming ``availableNow`` runs reading one staged file per tick, with
    the reference's batch reads of the lake copy (README.md:280-292: top-5
    nations, order count and price total) through ``Engine.sql``.

    A round moves a few pre-staged files into the source dir, runs the
    query to completion from the shared checkpoint, then runs the reads.
    Ticks (timed by the query's own progress) and reads are the ops."""

    name = "ingest"
    op_prefix = "tick"  # kinds of op behind op_p50_s / op_tail_s
    READS = (
        "SELECT nation_name, revenue FROM nation_revenue"
        " ORDER BY revenue DESC, nation_name LIMIT 5",
        "SELECT COUNT(1) AS cnt, SUM(total_price) AS price FROM enriched_orders",
    )

    def __init__(self, spark, run_dir: str, seed: int, size: dict):
        self.spark, self.run_dir, self.seed, self.size = spark, run_dir, seed, size
        self.ops = Ops()
        self.progress: list[dict] = []

    def _stage_orders(self, n_files: int) -> None:
        """Write ``n_files`` parquet files of seeded faker orders to the
        holding dir; file k holds ids [base + k·n, base + (k+1)·n)."""
        from pyspark.sql import functions as F

        from fluss_iceberg_spark.sources import faker

        n = self.size["rows_per_file"]
        lo = self.seed * 10_000_000
        # the faker dates orders back from today; pin them so a seed always
        # gives the same bytes
        table = faker._apply(
            self.spark.range(lo, lo + n_files * n), faker._order_columns(F.col("id"))
        ).withColumn("order_date", F.lit("2024-01-01").cast("date")).toArrow()
        for k in range(n_files):
            pq.write_table(table.slice(k * n, n), os.path.join(self.hold, f"orders-{k:05d}.parquet"))
        self.held = sorted(os.listdir(self.hold))

    def _release(self, n: int) -> int:
        """Move the next ``n`` held files into the source dir."""
        batch, self.held = self.held[:n], self.held[n:]
        for name in batch:
            os.replace(os.path.join(self.hold, name), os.path.join(self.src, name))
        return len(batch)

    def _dim(self, catalog, name: str, key: str, cols_fn, n: int, salt: int):
        """A PK lake table upserted with the latest (highest id) row per key
        of ``n`` seeded faker rows."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from fluss_iceberg_spark.sources import faker

        lo = self.seed * 10_000 + salt
        raw = faker._apply(self.spark.range(lo, lo + n), {"id": F.col("id"), **cols_fn(F.col("id"))})
        pq.write_table(raw.toArrow(), os.path.join(self.stage, f"{name}_raw.parquet"))
        t = catalog.create_table(name, raw.drop("id").schema, primary_key=[key], n_buckets=4)
        latest = Window.partitionBy(key).orderBy(F.col("id").desc())
        t.merge(
            raw.withColumn("__rn", F.row_number().over(latest)).filter("__rn = 1").drop("__rn", "id")
        )
        return t

    def load(self, i: int) -> None:
        from pyspark.sql import types as T

        from fluss_iceberg_spark.engine import Engine
        from fluss_iceberg_spark.sources import faker
        from fluss_iceberg_spark.streaming.pipeline import ReferencePipeline

        base = fresh_dir(os.path.join(self.run_dir, f"ingest-{i}"))
        self.stage = fresh_dir(os.path.join(base, "stage"))
        self.src = fresh_dir(os.path.join(base, "src"))
        self.hold = fresh_dir(os.path.join(base, "hold"))
        self.ckpt = os.path.join(base, "checkpoint")
        self.eng = Engine(self.spark, os.path.join(base, "warehouse"))
        catalog = self.eng.catalog
        self.customers = self._dim(catalog, "customer", "cust_key", faker._customer_columns,
                                   self.size["customers"], 1)
        self.nations = self._dim(catalog, "nation", "nation_key", faker._nation_columns,
                                 self.size["nations"], 5_000)
        self.pipe = ReferencePipeline(self.spark, catalog)
        self._stage_orders(self.size["staged_files"])
        self.schema = T.StructType.fromJson(
            self.spark.read.parquet(self.hold).schema.jsonValue()
        )

    def warm(self) -> None:
        self._round(Ops(), self.size["files_per_round"])

    def _run_available_now(self) -> list[dict]:
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        q = self.pipe.run_stream(
            stream, self.customers.read(), self.nations.read(), self.ckpt,
            trigger={"availableNow": True},
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def _round(self, ops: Ops, n_files: int) -> int:
        """One round; returns the order rows committed."""
        ops.round += 1
        n = self._release(n_files)
        try:
            prog = self._run_available_now()
        except Exception as e:  # noqa: BLE001 - the run's ticks count as failed
            ops.fail("tick", e, n)
            return 0
        for p in prog:
            start = _iso_epoch(p["timestamp"])
            ops.add("tick", start, start + p["durationMs"]["triggerExecution"] / 1000)
        if len(prog) != n:
            ops.fail("tick", RuntimeError(f"{len(prog)} of {n} files ticked"), n - len(prog))
        self.progress += prog
        for text in self.READS:
            ops.run("read", lambda t: self.eng.sql(t).collect(), text)
        return sum(p["numInputRows"] for p in prog)

    def measure(self, seconds: float) -> dict:
        """Rounds until the time is up; the rate is the median of the
        rounds' rates (order rows committed over round wall time)."""
        self.progress = []
        rates, rows = [], 0
        t0 = time.time()
        while time.time() - t0 < seconds and self.held:
            t = time.time()
            n = self._round(self.ops, self.size["files_per_round"])
            rates.append(n / (time.time() - t))
            rows += n
        return {
            "elapsed_s": time.time() - t0,
            "items": rows,
            "rounds": len(rates),
            "files_left": len(self.held),
            "throughput": ("rows_per_s", statistics.median(rates), "rows/s"),
        }

    def check(self) -> list[tuple[str, bool, str]]:
        from tests.oracle_harness import compare

        con = _duck({
            "orders": os.path.join(self.src, "*.parquet"),
            "customer_raw": os.path.join(self.stage, "customer_raw.parquet"),
            "nation_raw": os.path.join(self.stage, "nation_raw.parquet"),
        })
        con.execute("""
            CREATE VIEW enriched_orders AS
            WITH c AS (SELECT * FROM customer_raw QUALIFY row_number() OVER
                       (PARTITION BY cust_key ORDER BY id DESC) = 1),
                 n AS (SELECT * FROM nation_raw QUALIFY row_number() OVER
                       (PARTITION BY nation_key ORDER BY id DESC) = 1)
            SELECT o.total_price, n.name AS nation_name
            FROM orders o LEFT JOIN c ON o.cust_key = c.cust_key
                          LEFT JOIN n ON c.nation_key = n.nation_key
        """)
        con.execute("""
            CREATE VIEW nation_revenue AS SELECT nation_name,
                   CAST(SUM(total_price) AS DECIMAL(15,2)) AS revenue
            FROM enriched_orders GROUP BY 1
        """)
        totals = "SELECT COUNT(1) AS n, SUM(total_price) AS price FROM enriched_orders"
        self.pipe.enriched.union_read().createOrReplaceTempView("lakebench_enriched")
        out = [
            ("nation_revenue", *compare(self.pipe.revenue.read(), con,
                                        "SELECT * FROM nation_revenue")),
            ("enriched_orders rows and price sum (hot + lake)", *compare(
                self.spark.sql(totals.replace("enriched_orders", "lakebench_enriched")),
                con, totals)),
        ]
        out += [(text, *compare(self.eng.sql(text), con, text)) for text in self.READS]
        return out


def _iso_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------- lake_sql

READ_QUERIES = (
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue", "tpch_q10_returned_items",
    "tpch_q12_priority_by_returnflag", "tpch_q14_promo_effect", "tpch_q18_large_orders",
    "ref_count_orders", "ref_max_orderdate",
)


class LakeSql:
    """The Trino role: a seeded sequence of ``Engine.sql`` statements over
    lake tables. A round is a fixed multiset (10 registry oracle reads, 4
    point lookups, 2 ``VERSION AS OF`` reads, 2 key UPDATEs and one
    DELETE + re-INSERT pair) in seeded order with seeded keys; a statement
    is the op. DELETE/INSERT re-add the deleted row from the loaded
    version, so table sizes stay constant."""

    name = "lake_sql"
    op_prefix = ""  # kinds of op behind op_p50_s / op_tail_s

    def __init__(self, spark, run_dir: str, seed: int, size: dict):
        from fluss_iceberg_spark import registry

        registry.load_all()
        self.reads = {n: registry.ORACLES[n].strip() for n in READ_QUERIES}
        self.spark, self.run_dir, self.seed, self.size = spark, run_dir, seed, size
        self.ops = Ops()
        self.rng = np.random.default_rng([seed, 3])
        self.dml_log: list[str] = []
        self.read_texts: dict[str, None] = {}

    def load(self, i: int) -> None:
        from fluss_iceberg_spark.engine import Engine
        from fluss_iceberg_spark.sources.tpch import load_table, register_views

        base = fresh_dir(os.path.join(self.run_dir, f"lake_sql-{i}"))
        tables = gen.tpch_tables(self.seed, self.size["sf"])
        self.data = gen.write_tables(tables, os.path.join(base, "data"))
        self.n_orders = tables["orders"].num_rows
        self.n_cust = tables["customer"].num_rows
        self.eng = Engine(self.spark, os.path.join(base, "warehouse"))
        register_views(self.spark, self.data, ("region", "nation", "supplier", "part"))
        cust = load_table(self.spark, self.data, "customer")
        self.eng.create_table("customer", cust.schema, primary_key=["c_custkey"]).merge(cust)
        n = self.size["append_commits"]
        for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            df = load_table(self.spark, self.data, name)
            t = self.eng.create_table(name, df.schema)
            for part in range(n):
                t.append(df.filter(f"{key} % {n} = {part}"))
        self.loaded = {
            t: self.eng.load_table(t).current_version() for t in ("orders", "customer")
        }
        self.dml_log.clear()
        self.read_texts.clear()

    def warm(self) -> None:
        warm_ops = Ops()
        for kind, text in self._round(np.random.default_rng([self.seed, 4])):
            warm_ops.run(kind, self._exec, kind, text)

    def _round(self, rng) -> list[tuple[str, str]]:
        ok = lambda: int(rng.integers(0, self.n_orders))  # noqa: E731
        ck = lambda: int(rng.integers(0, self.n_cust))  # noqa: E731
        vo, vc = self.loaded["orders"], self.loaded["customer"]
        units = [[("read", q)] for q in self.reads.values()]
        units += [[("read", f"SELECT * FROM orders WHERE o_orderkey = {ok()}")] for _ in range(2)]
        units += [[("read", f"SELECT * FROM customer WHERE c_custkey = {ck()}")] for _ in range(2)]
        units.append([("read", "SELECT COUNT(1) AS n, CAST(SUM(CAST(o_totalprice AS "
                       f"DECIMAL(15,2))) AS DOUBLE) AS total FROM orders VERSION AS OF {vo}")])
        units.append([("read", f"SELECT * FROM customer VERSION AS OF {vc} WHERE c_custkey = {ck()}")])
        units += [[("write", f"UPDATE customer SET c_acctbal = c_acctbal + 1 WHERE c_custkey = {ck()}")]
                  for _ in range(2)]
        k = ok()
        units.append([
            ("write", f"DELETE FROM orders WHERE o_orderkey = {k}"),
            ("write", f"INSERT INTO orders SELECT * FROM orders VERSION AS OF {vo} WHERE o_orderkey = {k}"),
        ])
        return [s for j in rng.permutation(len(units)) for s in units[j]]

    def _exec(self, kind: str, text: str):
        if kind == "write":
            self.dml_log.append(text)
        else:
            self.read_texts[text] = None
        return self.eng.sql(text).collect()

    def measure(self, seconds: float) -> dict:
        t0 = time.time()
        while time.time() - t0 < seconds:
            self.ops.round += 1
            for kind, text in self._round(self.rng):
                self.ops.run(kind, self._exec, kind, text)
        elapsed = time.time() - t0
        n = len(self.ops.samples)
        return {"elapsed_s": elapsed, "items": n,
                "throughput": ("stmts_per_s", n / elapsed, "stmt/s")}

    def _duck_text(self, text: str) -> str:
        for t, v in self.loaded.items():
            text = text.replace(f"{t} VERSION AS OF {v}", f"{t}_v0")
        return text

    def check(self) -> list[tuple[str, bool, str]]:
        from tests.oracle_harness import compare

        files = {t: os.path.join(self.data, f"{t}.parquet") for t in
                 ("region", "nation", "supplier", "part", "customer", "orders", "lineitem")}
        files.update({f"{t}_v0": files[t] for t in self.loaded})
        con = _duck(files)
        for stmt in self.dml_log:
            con.execute(self._duck_text(stmt))
        out = []
        for text in self.read_texts:
            ok, msg = compare(self.eng.sql(text), con, self._duck_text(text))
            label = next((n for n, q in self.reads.items() if q == text), text)
            out.append((label, ok, msg))
        return out


# ---------------------------------------------------------------- curate

CURATE_QUERIES = (
    "dedup_minhash_lsh", "dedup_embedding_cosine", "multimodal_ahash_dedup",
    "multimodal_png_pixel_stats", "multimodal_audio_spectrum", "dedup_cdc_chunks",
)


class Curate:
    """The Python-kernel layer: passes of the six oracle-backed LLM-data
    kernel queries (seeded order per pass) over a seeded ``documents`` /
    ``embeddings`` sample with unique ids and a stated near-duplicate
    share. One kernel query (plan build + collect) is the op."""

    name = "curate"
    op_prefix = ""  # kinds of op behind op_p50_s / op_tail_s

    def __init__(self, spark, run_dir: str, seed: int, size: dict):
        from fluss_iceberg_spark import registry

        registry.load_all()
        self.queries = {n: registry.QUERIES[n] for n in CURATE_QUERIES}
        self.oracles = {n: registry.ORACLES[n] for n in CURATE_QUERIES}
        self.spark, self.run_dir, self.seed, self.size = spark, run_dir, seed, size
        self.ops = Ops()
        self.rng = np.random.default_rng([seed, 5])
        self.last: dict[str, ResultRows] = {}

    def load(self, i: int) -> None:
        base = fresh_dir(os.path.join(self.run_dir, f"curate-{i}"))
        s = self.size
        self.data = gen.write_tables(
            gen.curation_tables(self.seed, s["docs"], s["vectors"], s["dup_frac"]),
            os.path.join(base, "data"),
        )

    def warm(self) -> None:
        warm_ops = Ops()
        for name in CURATE_QUERIES:
            warm_ops.run(name, self._exec, name)

    def _exec(self, name: str) -> None:
        df = self.queries[name](self.spark, self.data)
        self.last[name] = ResultRows(df.columns, df.collect())

    def measure(self, seconds: float) -> dict:
        """Passes (each kernel once, in seeded order) until the time is up,
        stopping between ops after the first pass. A pass costs the sum of
        the kernels' median times, so the rate is docs over that sum."""
        t0 = time.time()
        while self.ops.round == 0 or time.time() - t0 < seconds:
            self.ops.round += 1
            for j in self.rng.permutation(len(CURATE_QUERIES)):
                if self.ops.round > 1 and time.time() - t0 >= seconds:
                    break
                self.ops.run(CURATE_QUERIES[j], self._exec, CURATE_QUERIES[j])
        medians = self._kernel_medians()
        return {"elapsed_s": time.time() - t0, "ops": len(self.ops.samples),
                "passes": self.ops.round,
                "throughput": ("docs_per_s", self.size["docs"] / sum(medians), "docs/s")}

    def _kernel_medians(self) -> list[float]:
        return [statistics.median(self.ops.times(n)) for n in CURATE_QUERIES if self.ops.times(n)]

    def op_p50(self) -> float:
        """The median of the kernels' median times: each kernel weighs the
        same, and one slow op does not move it."""
        return statistics.median(self._kernel_medians())

    def op_tail(self) -> float:
        """The slowest kernel's median time (the last pass may be partial,
        so the slowest op of each pass is not comparable across passes)."""
        return max(self._kernel_medians())

    def check(self) -> list[tuple[str, bool, str]]:
        from tests.oracle_harness import compare

        con = _duck({t: os.path.join(self.data, f"{t}.parquet") for t in ("documents", "embeddings")})
        out = []
        for name in CURATE_QUERIES:
            if name not in self.last:
                out.append((name, False, "no successful run to check"))
                continue
            ok, msg = compare(self.last[name], con, self.oracles[name])
            out.append((name, ok, msg))
        return out


WORKLOADS = {w.name: w for w in (Ingest, LakeSql, Curate)}
