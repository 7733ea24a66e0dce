"""The benchmark's three workloads.

Each workload is a list of operations run by one client in a closed
loop: an operation starts only when the previous one has finished.

- `analytics` and `curation` are 16 registered queries each. One
  operation builds the query's DataFrame, plans it and writes every
  row to the `noop` sink. Each output is checked once per run, before
  the timed window, against the query's DuckDB oracle.
- `incremental` is the write path. Each round applies a seeded delta to
  a Derby source and then calls bounds discovery, the merge and append
  ingests and one near-duplicate admission step. After the last round
  the tables are exported and imported back.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd

import gen

ANALYTICS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q18_large_orders", "q21_waiting_suppliers",
    "top_orders_per_priority", "part_type_volume_broadcast", "latest_per_key",
    "incremental_merge_consolidate", "sessionize", "daily_event_stats",
    "asof_last_purchase", "conversion_funnel_within", "rfm_scores",
    "event_transition_matrix",
]
CURATION = [
    "minhash_lsh_pairs", "near_dup_clusters", "incremental_dedup_near",
    "simhash_near_dup_pairs_capped", "dedup_exact", "text_stats",
    "c4_quality_signals", "code_detect_signals", "tokenizer_fertility",
    "quality_classifier_score", "repetition_signals", "embedding_topk_cosine",
    "hybrid_rrf_topk", "chunk_documents", "ngram_contamination",
    "training_data_prep",
]

# A corpus this small keeps the DuckDB oracles of the 16 curation
# queries to about two seconds a run.
CURATION_DOCS = 300
CURATION_VECS = 2_000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    """`analytics` or `curation`: registered queries over generated
    parquet tables."""

    MIN_PASSES = 2
    FINAL_OPS: list[str] = []

    def __init__(self, name: str, names: list[str], seed: int):
        import __spark_entry__ as entry

        self.name, self.names, self.seed = name, names, seed
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.data_dir = None

    def size(self) -> str:
        if self.name == "analytics":
            n = gen.SF01_ROWS
            return (f"lineitem {n['lineitem']:,} rows, orders {n['orders']:,}, "
                    f"events {n['events']:,}")
        return f"documents {CURATION_DOCS:,} rows, embeddings {CURATION_VECS:,}"

    def setup(self, spark, work: str) -> None:
        self.data_dir = os.path.join(work, "data")
        os.makedirs(self.data_dir)
        if self.name == "analytics":
            gen.write_dimensions(self.data_dir, self.seed)
            gen.write_facts(self.data_dir, self.seed)
        else:
            gen.write_corpus(self.data_dir, self.seed, CURATION_DOCS, CURATION_VECS)

    def ops(self) -> list[str]:
        return list(self.names)

    def before_pass(self, spark) -> None:
        pass

    def run_op(self, spark, op: str, tracer) -> None:
        """One timed operation. Its output is checked in `check`."""
        fn = self.queries[op]
        with tracer.span("operators.build"):
            df = fn(spark, self.data_dir)
        tracer.note_jobs(spark, "operators.build_jobs")
        with tracer.span("spark.plan"):
            if tracer.enabled:
                df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec"):
            _noop(df)

    def check(self, spark) -> list[str]:
        """Every query's full output against its DuckDB oracle; returns
        one line per query that failed or mismatched."""
        from check_oracle import compare
        from hive_exporter_spark.sources.files import TESTDATA_TABLES

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.check_s = {"spark": 0.0, "duckdb": 0.0}
        bad = []
        for op in self.names:
            try:
                t0 = time.perf_counter()
                got = self.queries[op](spark, self.data_dir).toPandas()
                t1 = time.perf_counter()
                want = con.sql(self.oracles[op]).df()
                self.check_s["spark"] += t1 - t0
                self.check_s["duckdb"] += time.perf_counter() - t1
                problems = compare(op, got, want)
            except Exception as exc:  # noqa: BLE001 - an error is a failed check
                problems = [f"{type(exc).__name__}: {exc}"]
            if problems:
                bad.append(f"{op}: {'; '.join(problems)[:300]}")
        con.close()
        return bad


# --- incremental -----------------------------------------------------------

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
SOURCE_ROWS = 25_000
NEW_PER_ROUND = 250
MODIFY_MOD = 100       # one residue class mod 100: ~250 live rows a round
TOMBSTONE_MOD = 1_000  # ~25 rows a round
STREAM_DOCS = 1_000
STREAM_DUP_SHARE = 0.05
# The admitted-count check expects every near-duplicate caught. At 30
# tokens MinHash LSH misses a pair with probability ~1e-5 (seed 2008
# misses one); at 60 tokens ~7e-8.
STREAM_TOKENS = 60
SOURCE_COLS = ["OKEY", "CKEY", "STATUS", "PRICE", "ODATE", "LAST_MOD", "DELETED"]


class IncrementalWorkload:
    """Rounds of CDC ingest from an embedded Derby source plus one
    streaming admission step, then an export/import round trip."""

    MIN_PASSES = 4
    ROUND_OPS = ["jdbc_bounds", "ingest_merge", "ingest_append", "stream_step"]
    FINAL_OPS = ["export_parquet", "export_csv", "import_parquet", "import_csv"]

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng([seed, 7])
        self.db = "bench"
        self.round = 0
        self.failures: list[str] = []
        self.layer_stats: dict[str, float] = {}

    def size(self) -> str:
        return (f"source {SOURCE_ROWS:,} rows; per round +{NEW_PER_ROUND:,} new, "
                f"~{SOURCE_ROWS // MODIFY_MOD:,} modified, ~{SOURCE_ROWS // TOMBSTONE_MOD} "
                f"tombstoned; {STREAM_DOCS:,} docs per admission step")

    # The source lives in pandas too, so the expected results are known
    # without asking the program.
    def _source_frame(self, keys: np.ndarray, last_mod: int) -> pd.DataFrame:
        rng, n = self.rng, len(keys)
        day0 = np.datetime64("1995-01-01")
        return pd.DataFrame({
            "OKEY": keys.astype("int64"),
            "CKEY": rng.integers(0, gen.SF01_ROWS["customer"], n).astype("int64"),
            "STATUS": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "PRICE": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "ODATE": (day0 + rng.integers(0, 2404, n).astype("timedelta64[D]"))
            .astype("datetime64[us]"),
            "LAST_MOD": np.full(n, last_mod, dtype="int64"),
            "DELETED": pd.array([pd.NA] * n, dtype="Int32"),
        })

    def setup(self, spark, work: str) -> None:
        from hive_exporter_spark.streaming.state import init_state_root
        from pyspark.sql import types as T

        self.work = work
        self.url = "jdbc:derby:memory:src;create=true"
        self.spark_schema = T.StructType([
            T.StructField("OKEY", T.LongType()), T.StructField("CKEY", T.LongType()),
            T.StructField("STATUS", T.StringType()), T.StructField("PRICE", T.DoubleType()),
            T.StructField("ODATE", T.TimestampType()), T.StructField("LAST_MOD", T.LongType()),
            T.StructField("DELETED", T.IntegerType())])
        self.state = self._source_frame(np.arange(SOURCE_ROWS), 0)
        self.versions = [self.state.assign(ROUND=0)]
        self._jdbc_write(spark, self.state, "ORDERS_SRC", "overwrite")
        self.state_root = os.path.join(work, "near_state")
        init_state_root(self.state_root)
        self.doc_base = (self.seed % 100_000) * 10_000_000
        self.templates_seen: set[int] = set()
        self.export_dir = os.path.join(work, "export")

    def _jdbc_write(self, spark, frame: pd.DataFrame, table: str, mode: str) -> None:
        (spark.createDataFrame(frame, schema=self.spark_schema)
         .write.format("jdbc").option("url", self.url).option("driver", DERBY_DRIVER)
         .option("dbtable", table).mode(mode).save())

    def _derby(self, spark, sql: str) -> int:
        conn = spark.sparkContext._jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            return conn.createStatement().executeUpdate(sql)
        finally:
            conn.close()

    def before_pass(self, spark) -> None:
        """Round r's seeded change set, applied to Derby and mirrored in
        pandas: new keys above the high-water mark, modified live rows
        with a newer LAST_MOD, and a few tombstones (DELETED = 1; NULL
        means live)."""
        self.round += 1
        r, st = self.round, self.state
        mod_c = int(self.rng.integers(0, MODIFY_MOD))
        tomb_c = int(self.rng.integers(0, TOMBSTONE_MOD))
        live = st["DELETED"].isna()
        modified = live & (st["OKEY"] % MODIFY_MOD == mod_c)
        st.loc[modified, "PRICE"] = st.loc[modified, "PRICE"] + 1.25
        st.loc[modified, "LAST_MOD"] = r
        self._derby(spark, f"UPDATE ORDERS_SRC SET PRICE = PRICE + 1.25, LAST_MOD = {r} "
                           f"WHERE DELETED IS NULL AND MOD(OKEY, {MODIFY_MOD}) = {mod_c}")
        tomb = live & (st["OKEY"] % TOMBSTONE_MOD == tomb_c)
        st.loc[tomb, "DELETED"] = 1
        st.loc[tomb, "LAST_MOD"] = r
        self._derby(spark, f"UPDATE ORDERS_SRC SET DELETED = 1, LAST_MOD = {r} "
                           f"WHERE DELETED IS NULL AND MOD(OKEY, {TOMBSTONE_MOD}) = {tomb_c}")
        hwm = int(st["OKEY"].max())
        new = self._source_frame(np.arange(hwm + 1, hwm + 1 + NEW_PER_ROUND), r)
        self._jdbc_write(spark, new, "ORDERS_SRC", "append")
        self.state = st = pd.concat([st, new], ignore_index=True)
        delta = st[st["LAST_MOD"] == r]
        self.versions.append(delta.assign(ROUND=r))
        # Text size of the rows the two ingests take in, the base of
        # ingest.write_amp.
        self._add("delta_bytes", len(delta.to_csv(index=False, header=False))
                  + len(new.to_csv(index=False, header=False)))
        self.expect = {
            "merge": (len(st), int((st["LAST_MOD"] == r).sum()), int(st["DELETED"].isna().sum())),
            "append": (len(st), NEW_PER_ROUND, len(st)),
        }
        self._next_batch(spark)

    def first_round(self, spark) -> None:
        """Round 0: the initial load, before the timed window."""
        st = self.state
        self.expect = {"merge": (len(st), len(st), len(st)),
                       "append": (len(st), len(st), len(st))}
        self._next_batch(spark)

    def _next_batch(self, spark) -> None:
        from bench_stream_admission import N_TEMPLATES, synth_batch

        lo = self.doc_base + self.round * STREAM_DOCS
        ids = np.arange(lo, lo + STREAM_DOCS)
        dup = ids % 1000 < int(STREAM_DUP_SHARE * 1000)
        tpl = set((ids[dup] % N_TEMPLATES).tolist())
        self.expect["admitted"] = int((~dup).sum()) + len(tpl - self.templates_seen)
        self.templates_seen |= tpl
        self.batch = synth_batch(spark, lo, lo + STREAM_DOCS, STREAM_DUP_SHARE, STREAM_TOKENS)

    def ops(self) -> list[str]:
        return list(self.ROUND_OPS)

    def _tag(self) -> str:
        return f"r{self.round:05d}"

    def run_op(self, spark, op: str, tracer):
        """One timed operation. Returns the untimed part, if any: the
        check of the operation's result and the layer counters."""
        from hive_exporter_spark.catalog import TableName
        from hive_exporter_spark.operators import ingest
        from hive_exporter_spark.sources import jdbc
        from hive_exporter_spark.streaming.streams import near_dedup_state_step

        if op == "jdbc_bounds":
            with tracer.span("sources.jdbc.bounds"):
                cfg = jdbc.discover_bounds(spark, jdbc.JdbcSourceConfig(
                    url=self.url, driver=DERBY_DRIVER, table="ORDERS_SRC",
                    partition_column="OKEY",
                    num_partitions=spark.sparkContext.defaultParallelism))
            # The source DataFrame both ingests consume: its build and
            # plan are this workload's operators.build and spark.plan.
            with tracer.span("operators.build"):
                self.source = jdbc.reader(spark, cfg).load()
            with tracer.span("spark.plan"):
                if tracer.enabled:
                    self.source._jdf.queryExecution().executedPlan()
        elif op == "ingest_merge":
            with tracer.span("ingest.merge"):
                rep = ingest.incremental_merge(
                    spark, self.source, TableName(self.db, "orders"),
                    key_columns=["OKEY"], last_modified_column="LAST_MOD",
                    incremental_column="OKEY", batch_tag=self._tag(),
                    deleted_column="DELETED")
            return lambda: self._report("merge", rep)
        elif op == "ingest_append":
            with tracer.span("ingest.append"):
                rep = ingest.incremental_append(
                    spark, self.source, TableName(self.db, "orders_log"),
                    "OKEY", batch_tag=self._tag())
            return lambda: self._report("append", rep)
        elif op == "stream_step":
            with tracer.span("streaming.step"):
                admitted, stats = near_dedup_state_step(
                    self.batch, self.state_root, collect_stats=tracer.enabled)
                _noop(admitted)
            return lambda: self._after_step(admitted, stats)
        elif op.startswith("export_"):
            fmt = op.split("_", 1)[1]
            with tracer.span("sinks.export"):
                from hive_exporter_spark.sinks import export_tables
                export_tables(spark, self._tables(), os.path.join(self.export_dir, fmt),
                              fmt=fmt, parallelism=1)
            return lambda: self._after_export(fmt)
        elif op.startswith("import_"):
            fmt = op.split("_", 1)[1]
            with tracer.span("sinks.import"):
                from hive_exporter_spark.sinks import import_tables
                root = os.path.join(self.export_dir, fmt)
                paths = [os.path.join(root, t) for t in self._tables()]
                schema = None
                if fmt == "csv":
                    schema = spark.table(f"{self.db}.orders")._jdf.schema().toDDL()
                import_tables(spark, paths, f"{self.db}_{fmt}", fmt=fmt, schema=schema)
        else:
            raise ValueError(op)

    def _after_step(self, admitted, stats) -> None:
        n = admitted.count()
        if n != self.expect["admitted"]:
            self.failures.append(f"round {self.round}: admitted {n}, "
                                 f"expected {self.expect['admitted']}")
        if stats:
            self._add("streaming.state_bytes", stats["state_bytes_total"], last=True)
            self._add("streaming.state_eligible_bytes", stats["state_bytes_eligible"])
            self._add("streaming.state_total_bytes", stats["state_bytes_total"])
        self._add("streaming.admitted", n)
        self._add("streaming.docs", STREAM_DOCS)
        admitted.unpersist()
        self.batch.unpersist()

    def _after_export(self, fmt: str) -> None:
        files, size = _dir_files(os.path.join(self.export_dir, fmt))
        self._add("sinks.files_written", files)
        self._add("sinks.bytes_written", size)

    def _tables(self) -> list[str]:
        return [f"{self.db}.orders", f"{self.db}.orders_log"]

    def _add(self, key: str, value: float, last: bool = False) -> None:
        self.layer_stats[key] = value if last else self.layer_stats.get(key, 0) + value

    def _report(self, which: str, rep) -> None:
        got = (rep.source_count, rep.ingested_count, rep.destination_count)
        if got != self.expect[which]:
            self.failures.append(f"round {self.round} {which}: report {got}, "
                                 f"expected {self.expect[which]}")
        self._add("ingest.rows_ingested", rep.ingested_count)

    def check(self, spark) -> list[str]:
        """The consolidated table against latest-per-key over every
        generated source version minus tombstones, computed in DuckDB;
        the append table against the first version of every key; the
        export/import round trip row for row."""
        from check_oracle import compare

        bad = list(self.failures)
        versions = pd.concat(self.versions, ignore_index=True)
        versions["TAG"] = versions["ROUND"].map(lambda r: f"r{r:05d}")
        con = duckdb.connect()
        con.register("versions", versions)
        cols = ", ".join(SOURCE_COLS)
        want_merge = con.sql(
            f"SELECT {cols}, TAG AS dl_ingest_date FROM versions "
            "QUALIFY row_number() OVER (PARTITION BY OKEY ORDER BY LAST_MOD DESC) = 1 "
            "AND DELETED IS NULL").df()
        want_append = con.sql(
            f"SELECT {cols}, TAG AS dl_ingest_date FROM versions "
            "QUALIFY row_number() OVER (PARTITION BY OKEY ORDER BY LAST_MOD) = 1").df()
        con.close()
        tables = {"orders": want_merge, "orders_log": want_append}
        for table, want in tables.items():
            got = spark.table(f"{self.db}.{table}").toPandas()
            problems = compare(table, got, want)
            if problems:
                bad.append(f"{table}: {'; '.join(problems)[:300]}")
            for fmt in ("parquet", "csv"):
                if not os.path.isdir(os.path.join(self.export_dir, fmt)):
                    continue
                back = spark.table(f"{self.db}_{fmt}.{table}").toPandas()
                problems = compare(table, back, got)
                if problems:
                    bad.append(f"{table} {fmt} round trip: {'; '.join(problems)[:300]}")
        return bad


def _dir_files(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
