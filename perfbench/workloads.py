"""The benchmark's two workloads over one seeded feature store.

Every input comes from ``sources/datagen.py`` at the run's seed; the
library only ever receives the generated tables, spines and batches.

Both workloads seed their store with one refresh (:meth:`Context.refresh`,
the reference's nightly job): it rebuilds the five reference feature
tables through the ``pipelines.reference_sources`` adapters, overwrites
each with ``FeatureStoreManager.save`` and checks it with
``validation.check_expectations``. It runs once, in the set-up; the traced
run reports its per-layer metrics.

- ``training_assembly``: the read side. Each op draws a fresh seeded spine
  and runs ``create_training_set`` with five ``FeatureLookup`` s (the
  one-shuffle ``point_in_time_multi_join`` path) into a noop sink. The
  store it reads was seeded by one refresh plus the same merge batches
  ``daily_upsert`` applies, so reads see the layout the write path leaves.
- ``daily_upsert``: the write side. Each op merges a batch that restates
  ~5% of customers on the latest month and adds ~5% new keys one month
  later into all five tables with ``save_many(mode="merge")``. The batch
  is written to parquet before the op is timed.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from databricks_demo_feature_store_spark.featurestore.manager import (
    FeatureStoreManager,
    FeatureTableSpec,
    store_doctor,
)
from databricks_demo_feature_store_spark.featurestore.training import (
    FeatureLookup,
    create_training_set,
)
from databricks_demo_feature_store_spark.pipelines import reference_sources as rs
from databricks_demo_feature_store_spark.sources import datagen
from databricks_demo_feature_store_spark.validation.expectations import (
    Expectation,
    check_expectations,
)

MONTHS = 24
#: demographic snapshots cover the generated history (datagen.BASE_MONTH
#: is the last month)
START_DATE, END_DATE = "2022-02-01", datagen.BASE_MONTH
KEY, TS = "pk_customer", "tpk_release_dt"
#: share of customers restated, and share given a new key, per merge batch
UPSERT_SHARE = 0.05
#: share of customer-months drawn into a training spine
SPINE_SHARE = 1.0 / 3.0
#: merge batches applied to the store before training_assembly reads it
SEED_BATCHES = 1

SOURCES = ("clientes", "pagos", "productos", "buro_credito", "transacciones")

ADAPTERS = {
    "fs_cus_demographic": lambda t: rs.demographic_features_from_clientes(
        t["clientes"], START_DATE, END_DATE
    ),
    "fs_cus_payment_behavior": lambda t: rs.payment_features_from_pagos(t["pagos"]),
    "fs_cus_transactions": lambda t: rs.transaction_features_from_transacciones(
        t["transacciones"]
    ),
    "fs_cus_credit_risk": lambda t: rs.credit_features_from_buro(t["buro_credito"]),
    "fs_cus_holding_products": lambda t: rs.holdings_features_from_productos(
        t["productos"]
    ),
}
TABLES = tuple(ADAPTERS)
SPECS = {
    name: FeatureTableSpec(
        name=name, primary_keys=(KEY, TS), timestamp_keys=(TS,), description=name
    )
    for name in TABLES
}
EXPECTATIONS = [Expectation(KEY, "not_null"), Expectation(TS, "not_null")]


def uniform(seed: int, tag: str, *cols: Column) -> Column:
    """Deterministic hash uniform in [0, 1), independent of partitioning."""
    return F.pmod(F.xxhash64(F.lit(seed), F.lit(tag), *cols), F.lit(1 << 30)) / float(1 << 30)


def parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def parquet_glob(path: str) -> str:
    return os.path.join(path, "*.parquet")


# ---------------------------------------------------------------------------
# shared context
# ---------------------------------------------------------------------------


class Context:
    """Everything a workload needs: session, store, seed, sizes, tracer."""

    def __init__(self, spark: SparkSession, work: str, seed: int, customers: int, tracer, duck):
        self.work = work
        self.duck = duck  # DuckDB connection for untimed bookkeeping and the oracle
        self.seed = seed
        self.customers = customers
        self.src_root = os.path.join(work, "src")
        self.store_root = os.path.join(work, "store")
        self.bind(spark, tracer)

    def bind(self, spark: SparkSession, tracer) -> None:
        """Attach a (new) session and tracer; the files on disk stay."""
        self.spark = spark
        self.tracer = tracer
        self.manager = FeatureStoreManager(spark, self.store_root)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def sources(self) -> dict[str, DataFrame]:
        return {t: self.spark.read.parquet(os.path.join(self.src_root, t)) for t in SOURCES}

    def generate_sources(self) -> int:
        """Write the five seeded reference tables; returns their row count."""
        spark, n, seed = self.spark, self.customers, self.seed

        def write(name: str, df: DataFrame) -> None:
            df.write.mode("overwrite").parquet(os.path.join(self.src_root, name))

        def payments_then_bureau() -> None:
            write("pagos", datagen.gen_pagos(spark, n, MONTHS, seed=seed))
            # bureau rows derive from the written payments, not a second
            # evaluation of the payments plan (same rows: it is seeded)
            pagos = spark.read.parquet(os.path.join(self.src_root, "pagos"))
            write("buro_credito", datagen.gen_buro(pagos, seed))

        jobs = [
            lambda: write("clientes", datagen.gen_clientes(spark, n, seed)),
            payments_then_bureau,
            lambda: write("productos", datagen.gen_productos(spark, n, MONTHS, seed)),
            lambda: write("transacciones", datagen.gen_transacciones(spark, n, MONTHS, seed)),
        ]
        # the generator's month-history plans are huge and run once per
        # run: compiling them whole-stage costs more than it saves. Their
        # cost is mostly the cold JVM's, which the tables share better
        # when generated side by side.
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        try:
            with ThreadPoolExecutor(len(jobs)) as pool:
                for f in [pool.submit(job) for job in jobs]:
                    f.result()
        finally:
            spark.conf.unset("spark.sql.codegen.wholeStage")
        return sum(self.count(os.path.join(self.src_root, t)) for t in SOURCES)

    def count(self, path: str) -> int:
        """Rows of the parquet table at ``path`` (DuckDB, no Spark job)."""
        return self.duck.execute(f"SELECT count(*) FROM read_parquet('{parquet_glob(path)}')").fetchone()[0]

    def refresh(self) -> int:
        """Rebuild, overwrite and validate all five feature tables; returns
        the rows written. Raises when an expectation fails."""
        tables = self.sources()
        rows = 0
        with self.span("refresh"):
            for name, build in ADAPTERS.items():
                with self.span(f"pipelines.{name}.build"):
                    df = build(tables)
                with self.span(f"store.{name}.save"):
                    self.manager.save(df, SPECS[name], mode="overwrite")
                with self.span("validation.check", table=name):
                    result = check_expectations(self.manager.read(name), EXPECTATIONS).collect()
                failed = [r["rule"] for r in result if not r["passed"]]
                if failed:
                    raise AssertionError(f"{name}: expectations failed: {failed}")
                rows += result[0]["n_rows"]
        return rows

    def table_rows(self) -> dict[str, int]:
        """Row count per table, read by DuckDB; raises on duplicate or
        null primary keys."""
        out = {}
        for t in TABLES:
            n, distinct, nulls = self.duck.execute(
                f"SELECT count(*), count(DISTINCT ({KEY}, {TS})), "
                f"count(*) FILTER (WHERE {KEY} IS NULL OR {TS} IS NULL) "
                f"FROM read_parquet('{parquet_glob(self.manager.path(t))}')"
            ).fetchone()
            if n != distinct or nulls:
                raise AssertionError(f"{t}: {n - distinct} duplicate keys, {nulls} null keys")
            out[t] = n
        return out

    def doctor_rows(self) -> dict[str, int]:
        """Row count per table from ``store_doctor``; raises on PK faults."""
        out = {}
        for r in store_doctor(self.manager).collect():
            if r["n_pk_violations"] or r["n_null_pk"]:
                raise AssertionError(
                    f"{r['table']}: {r['n_pk_violations']} PK violations, "
                    f"{r['n_null_pk']} null PKs"
                )
            out[r["table"]] = r["n_rows"]
        return out


@dataclass
class OpResult:
    rows: int  # useful output rows
    new_bytes: int = 0  # the op's new data, the write-amplification base
    extra: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# merge batches (daily_upsert ops, training_assembly setup)
# ---------------------------------------------------------------------------


class Batches:
    """Seeded merge batches, written by DuckDB from a snapshot of each
    table's latest seeded month. Batch ``i`` restates ``UPSERT_SHARE`` of
    that month's rows (every double column scaled by 1.01) and adds as
    many new keys ``i + 1`` months later, so every batch of a table has
    the same size and its new keys never collide with an earlier batch's.
    Rows are picked by seeded order, not by a hash threshold, so the batch
    size does not vary with the seed."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.size = {}
        self.columns = {}
        for t in TABLES:
            src = parquet_glob(ctx.manager.path(t))
            ctx.duck.execute(
                f"CREATE OR REPLACE TABLE base_{t} AS SELECT * FROM read_parquet('{src}') "
                f"WHERE {TS} = (SELECT max({TS}) FROM read_parquet('{src}'))"
            )
            n = ctx.duck.execute(f"SELECT count(*) FROM base_{t}").fetchone()[0]
            self.size[t] = max(1, round(UPSERT_SHARE * n))
            self.columns[t] = ctx.duck.execute(f"DESCRIBE base_{t}").fetchall()

    def path(self, i: int, table: str) -> str:
        return os.path.join(self.ctx.work, "batches", str(i), table)

    def write(self, i: int) -> dict:
        """Write batch ``i`` for every table; returns per-table rows and
        new keys and the batch's parquet bytes."""
        ctx = self.ctx
        for t in TABLES:
            cols = {name: typ for name, typ, *_ in self.columns[t]}
            scaled = [f"CAST({c} * 1.01 AS {typ}) AS {c}" for c, typ in cols.items() if typ in ("DOUBLE", "FLOAT")]
            moved = f"CAST({TS} + INTERVAL {i + 1} MONTH AS {cols[TS]}) AS {TS}"

            def pick(tag: str, replace: list[str]) -> str:
                proj = f"* REPLACE ({', '.join(replace)})" if replace else "*"
                return (
                    f"(SELECT {proj} FROM base_{t} ORDER BY "
                    f"hash({ctx.seed}, '{tag}', {i}, {KEY}), {KEY} LIMIT {self.size[t]})"
                )

            os.makedirs(self.path(i, t), exist_ok=True)
            ctx.duck.execute(
                f"COPY ({pick('restate', scaled)} UNION ALL {pick('new', scaled + [moved])}) "
                f"TO '{os.path.join(self.path(i, t), 'part-0.parquet')}' (FORMAT PARQUET)"
            )
        return {
            "rows": {t: 2 * self.size[t] for t in TABLES},
            "new_keys": dict(self.size),
            "bytes": sum(parquet_bytes(self.path(i, t)) for t in TABLES),
        }

    def items(self, i: int) -> list:
        return [(self.ctx.spark.read.parquet(self.path(i, t)), SPECS[t]) for t in TABLES]

    def merge(self, items: list) -> None:
        with self.ctx.span("store.merge"):
            self.ctx.manager.save_many(items, mode="merge")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """A workload: store set-up, then ops timed one at a time.

    ``prepare`` runs untimed before each op, ``run`` is the timed op,
    ``check`` verifies its output (untimed) and ``oracle`` compares the
    first timed op against DuckDB over the same parquet files."""

    name = ""
    #: untimed ops between the set-up and the timed loop (part of setup_s)
    warmup_ops = 3

    def setup(self, ctx: Context) -> None:
        pass

    def prepare(self, ctx: Context, i: int) -> None:
        pass

    def run(self, ctx: Context, i: int) -> OpResult:
        raise NotImplementedError

    def check(self, ctx: Context, i: int, res: OpResult) -> None:
        pass

    def oracle_prepare(self, ctx: Context, i: int) -> None:
        pass

    def oracle(self, ctx: Context, i: int, res: OpResult, duck) -> None:
        pass


def make_spine(spark: SparkSession, customers: int, seed: int, i: int) -> DataFrame:
    """Spine ``i``: ~SPINE_SHARE of customer-months, each labelled at a
    seeded second of the month's 15th day."""
    first = F.add_months(F.to_date(F.lit(datagen.BASE_MONTH)), -(MONTHS - 1))
    grid = spark.range(1, customers + 1).select(
        F.col("id").alias("cid"), F.explode(F.sequence(F.lit(0), F.lit(MONTHS - 1))).alias("m")
    )
    month_start = F.unix_seconds(F.to_timestamp(F.add_months(first, F.col("m"))))
    offset = F.floor(uniform(seed, f"spine-ts/{i}", F.col("cid"), F.col("m")) * 86400)
    return grid.where(uniform(seed, f"spine/{i}", F.col("cid"), F.col("m")) < SPINE_SHARE).select(
        (F.col("cid") * 100 + F.col("m")).alias("label_id"),
        F.col("cid").cast("int").alias(KEY),
        F.timestamp_seconds(month_start + F.lit(14 * 86400) + offset).alias("label_ts"),
    )


LOOKUPS = [FeatureLookup(table=t, lookup_keys=(KEY,)) for t in TABLES]


class TrainingAssembly(Workload):
    name = "training_assembly"
    # the first op in a JVM runs 1.5-2x as long as the later ones; with a
    # C1-only JIT the op time is flat from the second op on
    warmup_ops = 2

    def setup(self, ctx):
        ctx.refresh()
        batches = Batches(ctx)
        for i in range(SEED_BATCHES):
            batches.write(i)
            batches.merge(batches.items(i))

    def training_set(self, ctx, i) -> DataFrame:
        spine = make_spine(ctx.spark, ctx.customers, ctx.seed, i)
        return create_training_set(ctx.manager, spine, LOOKUPS, spine_time="label_ts")

    def run(self, ctx, i):
        with ctx.span("training.build"):
            ts = self.training_set(ctx, i)
        obs = Observation(f"training-{i}")
        with ctx.span("training.exec"):
            ts.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
        return OpResult(obs.get["n"], extra={"columns": len(ts.columns)})

    def check(self, ctx, i, res):
        spine_rows = make_spine(ctx.spark, ctx.customers, ctx.seed, i).count()
        res.extra["spine_rows"] = spine_rows
        if res.rows != spine_rows:
            raise AssertionError(f"training rows {res.rows} != spine rows {spine_rows}")

    def oracle(self, ctx, i, res, duck):
        out = os.path.join(ctx.work, "oracle")
        make_spine(ctx.spark, ctx.customers, ctx.seed, i).write.mode("overwrite").parquet(
            os.path.join(out, "spine")
        )
        spark_ts = self.training_set(ctx, i)
        spark_ts.write.mode("overwrite").parquet(os.path.join(out, "training"))
        joins = "".join(
            f" ASOF LEFT JOIN read_parquet('{parquet_glob(ctx.manager.path(t))}') f{k}"
            f" ON s.{KEY} = f{k}.{KEY} AND s.label_ts >= f{k}.{TS}"
            for k, t in enumerate(TABLES)
        )
        payload = ", ".join(f"f{k}.* EXCLUDE ({KEY}, {TS})" for k in range(len(TABLES)))
        expected = (
            f"SELECT s.*, {payload} FROM read_parquet('{parquet_glob(os.path.join(out, 'spine'))}') s"
            + joins
        )
        got = f"SELECT * FROM read_parquet('{parquet_glob(os.path.join(out, 'training'))}')"
        compare_multisets(duck, got, expected, spark_ts.columns, "training set")


class DailyUpsert(Workload):
    name = "daily_upsert"

    def setup(self, ctx):
        ctx.refresh()
        self.batches = Batches(ctx)
        self.rows = ctx.table_rows()
        self.pending: dict = {}

    def prepare(self, ctx, i):
        self.pending = self.batches.write(i)
        self.pending["items"] = self.batches.items(i)

    def run(self, ctx, i):
        p = self.pending
        self.batches.merge(p.pop("items"))
        return OpResult(sum(p["rows"].values()), p["bytes"], extra={"batch": p})

    def check(self, ctx, i, res):
        before, batch = self.rows, res.extra["batch"]
        self.rows = ctx.table_rows()
        wrong = {
            t: (before[t], batch["new_keys"][t], self.rows[t])
            for t in TABLES
            if self.rows[t] != before[t] + batch["new_keys"][t]
        }
        if wrong:
            raise AssertionError(f"rows after merge != before + new keys: {wrong}")

    def oracle_prepare(self, ctx, i):
        for t in TABLES:
            dst = os.path.join(ctx.work, "oracle", "old", t)
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(ctx.manager.path(t), dst)

    def oracle(self, ctx, i, res, duck):
        for t in TABLES:
            old = parquet_glob(os.path.join(ctx.work, "oracle", "old", t))
            batch = parquet_glob(self.batches.path(i, t))
            cols = ctx.manager.read(t).columns
            sel = ", ".join(cols)
            expected = (
                f"SELECT {sel} FROM read_parquet('{old}') o ANTI JOIN read_parquet('{batch}') b"
                f" USING ({KEY}, {TS}) UNION ALL SELECT {sel} FROM read_parquet('{batch}')"
            )
            got = f"SELECT * FROM read_parquet('{parquet_glob(ctx.manager.path(t))}')"
            compare_multisets(duck, got, expected, cols, f"merged {t}")
        doctor = ctx.doctor_rows()
        if doctor != self.rows:
            raise AssertionError(f"store_doctor rows {doctor} != DuckDB rows {self.rows}")


def compare_multisets(duck, got: str, expected: str, columns, what: str) -> None:
    """Raise unless the two queries return the same rows, duplicates
    included, over ``columns``."""
    sel = ", ".join(f'"{c}"' for c in columns)
    g, e = f"(SELECT {sel} FROM ({got}))", f"(SELECT {sel} FROM ({expected}))"
    n_got, n_exp = (duck.execute(f"SELECT count(*) FROM {q}").fetchone()[0] for q in (g, e))
    extra = duck.execute(f"SELECT count(*) FROM ({g} EXCEPT ALL {e})").fetchone()[0]
    missing = duck.execute(f"SELECT count(*) FROM ({e} EXCEPT ALL {g})").fetchone()[0]
    if n_got != n_exp or extra or missing:
        raise AssertionError(
            f"{what}: DuckDB oracle mismatch: {n_got} rows vs {n_exp} expected, "
            f"{extra} unexpected, {missing} missing"
        )


WORKLOADS = {w.name: w for w in (TrainingAssembly, DailyUpsert)}
