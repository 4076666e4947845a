"""The benchmark's closed-loop workloads.

Each workload has the same life cycle: ``prepare`` (source reads,
schema inference and an untimed warm-up that JIT-compiles the code
paths; counted in set-up), ``run`` (the timed phase: a fixed number of
units, ETL batches or query passes, in an order drawn from the seed) and
``check`` (DuckDB output checks, after the timed phase). One client
thread drives every call; the engine sees only the generated inputs.
"""

from __future__ import annotations

import random
import tempfile
import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import functions as F

from aws_glue_redshift_datawarehouse_etl_pipeline_spark import queries as Q
from aws_glue_redshift_datawarehouse_etl_pipeline_spark.operators.field_ops import apply_mapping
from aws_glue_redshift_datawarehouse_etl_pipeline_spark.plans.star_loader import (
    DimensionSpec,
    FactSpec,
    load_dimension,
    load_fact,
)
from aws_glue_redshift_datawarehouse_etl_pipeline_spark.sources.txlog import (
    TransactionalCatalog,
)
from harness import Op, Recorder, SparkProbe, dir_bytes
from oracle import FAILED, KNOWN, OK, TABLES, QueryOracle, connect, fingerprint, same_rows


@dataclass
class Env:
    """What a workload needs from the run: session, probe, recorder."""

    spark: object
    probe: SparkProbe
    rec: Recorder
    rng: random.Random
    work_dir: str
    cpus: int


def _timed_op(env: Env, kind: str, unit: int, fn):
    """Run one operation under its job group; a raised error is a failed
    operation, never a timing."""
    group = f"u{unit}.{len(env.rec.ops)}.{kind}"
    start = time.perf_counter()
    try:
        with env.probe.group(group):
            out = fn()
    except Exception as exc:  # noqa: BLE001 — a failing op is counted, not fatal
        env.rec.ops.append(Op(kind, time.perf_counter() - start, unit, False, repr(exc)[:300]))
        env.probe.release_storage()
        return None, len(env.rec.ops) - 1
    env.rec.ops.append(Op(kind, time.perf_counter() - start, unit))
    env.rec.count("cache.leaked_rdds", env.probe.persisted_rdds())
    if env.probe.trace:
        jobs = env.probe.jobs_in(group)
        env.rec.count("spark.jobs", jobs)
        env.rec.spans[f"jobs.{kind}"].append(jobs)
    env.probe.release_storage()
    return out, len(env.rec.ops) - 1


# ---------------------------------------------------------------------------
# Curation: the registry's dedup and similarity queries
# ---------------------------------------------------------------------------


class Curation:
    """Passes over the registry's dedup and similarity queries. Each
    operation is the registry call (construction, including any eager
    jobs) plus ``toArrow()`` of the complete result."""

    QUERIES = (
        "dedup_exact_documents", "minhash_lsh_dedup_documents",
        "minhash_lsh_dedup_transitive_fast", "embedding_cosine_topk",
        "embedding_near_dup_bucketed_pairs", "contamination_check_documents",
        "semantic_dedup_production", "token_budget_per_source",
    )

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.results: list[tuple[int, str, pa.Table]] = []
        self.reference: dict[str, pa.Table] = {}

    def prime(self, env: Env) -> None:
        """Schema inference for every source table (set-up work)."""
        for name in TABLES:
            Q.t(env.spark, self.sf_dir, name)

    def prepare(self, env: Env) -> None:
        """One untimed warm-up pass. Its results are the reference the
        timed passes of the queries without an oracle must match."""
        Q.register_all()
        self.prime(env)
        for name in self.QUERIES:
            table = Q.QUERIES[name](env.spark, self.sf_dir).toArrow()
            env.probe.release_storage()
            if name not in Q.ORACLE:
                self.reference[name] = table

    def _one(self, env: Env, unit: int, name: str) -> None:
        spark = env.spark
        built = {}

        def op():
            t0 = time.perf_counter()
            df = Q.QUERIES[name](spark, self.sf_dir)
            t1 = time.perf_counter()
            table = df.toArrow()
            built["construct"] = t1 - t0
            built["action"] = time.perf_counter() - t1
            built["df"] = df
            return table

        table, idx = _timed_op(env, name, unit, op)
        if table is None:
            return
        env.rec.spans["queries.construct_s"].append(built["construct"])
        env.rec.spans["queries.action_s"].append(built["action"])
        env.rec.spans[f"construct.{name}"].append(built["construct"])
        if env.probe.trace:
            env.probe.add_catalyst(built["df"])
        self.results.append((idx, name, table))

    def run(self, env: Env, units: int) -> list[float]:
        unit_s = []
        for unit in range(units):
            order = list(self.QUERIES)
            env.rng.shuffle(order)
            start = time.perf_counter()
            for name in order:
                self._one(env, unit, name)
            unit_s.append(time.perf_counter() - start)
        return unit_s

    def check(self, env: Env) -> None:
        oracle = QueryOracle(self.sf_dir, Q.ORACLE, env.cpus)
        try:
            seen = {n: fingerprint(oracle.con, t) for n, t in self.reference.items()}
            for idx, name, table in self.results:
                if oracle.has(name):
                    status, why = oracle.check(name, table)
                else:
                    fp = fingerprint(oracle.con, table)
                    first = seen.setdefault(name, fp)
                    status, why = (OK, "") if fp == first else (FAILED, f"fingerprint {fp} != {first}")
                if status == FAILED:
                    env.rec.fail(idx, f"{name}: {why}")
                elif status == KNOWN:
                    env.rec.known(idx, f"{name}: {why}")
        finally:
            oracle.close()
        self.results.clear()


# ---------------------------------------------------------------------------
# Warehouse ETL: the paper's incremental star-schema load on the governed
# (commit-log) catalog, with row-level DML and time-travel reads
# ---------------------------------------------------------------------------

FACT = "fact_order_line"
N_BANDS = 8
# The re-send rate and the DML window size are arbitrary choices, not
# taken from a measured workload: large enough that every batch rejects
# re-sent rows and every statement rewrites files, small enough that the
# loads, not the DML, carry most of a batch's rows.
RESEND_MOD = 20  # one re-sent line in 20 from an earlier band
DML_WINDOW = 40  # order keys touched by one UPDATE / DELETE / MERGE
MERGE_NEW_KEY_OFFSET = 10**9  # order keys no source row uses

# (source table, spec): the reference pipeline's dimension loads
DIM_SPECS = (
    ("customer", DimensionSpec(
        table="dim_customer",
        mappings=[
            ("c_custkey", "bigint", "customer_key", "bigint"),
            ("c_name", "string", "customer_name", "string"),
            ("c_mktsegment", "string", "market_segment", "string"),
            ("c_nationkey", "int", "nation_key", "int"),
        ],
        keys=["customer_key"],
        sort_keys=["customer_key"],
    )),
    ("nation", DimensionSpec(
        table="dim_nation",
        mappings=[
            ("n_nationkey", "int", "nation_key", "int"),
            ("n_name", "string", "nation_name", "string"),
            ("n_regionkey", "int", "region_key", "int"),
        ],
        keys=["nation_key"],
        sort_keys=["nation_key"],
    )),
    ("part", DimensionSpec(
        table="dim_part",
        mappings=[
            ("p_partkey", "bigint", "part_key", "bigint"),
            ("p_name", "string", "part_name", "string"),
            ("p_brand", "string", "brand", "string"),
            ("p_retailprice", "double", "retail_price", "double"),
        ],
        keys=["part_key"],
        sort_keys=["part_key"],
    )),
)
FACT_SPEC = FactSpec(
    table=FACT,
    left_keys=["l_orderkey"],
    right_keys=["o_orderkey"],
    mappings=[
        ("l_orderkey", "bigint", "order_key", "bigint"),
        ("l_linenumber", "int", "line_number", "int"),
        ("l_partkey", "bigint", "part_key", "bigint"),
        ("o_custkey", "bigint", "customer_key", "bigint"),
        ("l_quantity", "double", "quantity", "double"),
        ("l_extendedprice", "double", "extended_price", "double"),
        ("o_orderdate", "timestamp", "order_ts", "timestamp"),
    ],
    anti_keys=["order_key", "line_number", "part_key", "customer_key"],
    sort_keys=["order_key"],
)
# the rows each dimension is offered: those the batch's facts reference
DIM_WHERE = {
    "customer": "c_custkey IN (SELECT o_custkey FROM orders WHERE {orders})",
    "nation": "TRUE",
    "part": "p_partkey IN (SELECT l_partkey FROM lineitem WHERE {lines})",
}
SOURCES = ("customer", "nation", "part", "orders", "lineitem")


@dataclass
class Batch:
    """One ETL batch, fully determined by the seed and the source sizes.
    Its predicates are SQL that Spark and DuckDB read alike; lines
    outside the band's own key range ``[lo, hi]`` are re-sent."""

    lo: int
    hi: int
    lines: str
    orders: str
    dml: list[tuple[str, int, int]]  # (kind, lo, hi) in execution order


def plan_batches(rng: random.Random, n_orders: int, n_batches: int) -> list[Batch]:
    """Bands in seeded order; each batch after the first re-sends a
    seeded 1-in-RESEND_MOD sample of an earlier band's lines (never
    ones a DELETE removed) and ends with UPDATE, DELETE and MERGE on
    three disjoint key windows of its own band, in seeded order."""
    width = n_orders // N_BANDS
    bands = list(range(N_BANDS))
    rng.shuffle(bands)
    done: list[int] = []
    deleted: list[tuple[int, int]] = []
    out = []
    for band in bands[:n_batches]:
        lo, hi = band * width, (band + 1) * width - 1
        lines = f"(l_orderkey BETWEEN {lo} AND {hi})"
        orders = f"(o_orderkey BETWEEN {lo} AND {hi})"
        if done:
            r = rng.choice(done)
            rlo, rhi = r * width, (r + 1) * width - 1
            keep = "".join(f" AND l_orderkey NOT BETWEEN {a} AND {b}" for a, b in deleted)
            lines += (
                f" OR (l_orderkey BETWEEN {rlo} AND {rhi} AND (l_orderkey * 7 + "
                f"l_linenumber) % {RESEND_MOD} = {rng.randrange(RESEND_MOD)}{keep})"
            )
            orders += f" OR (o_orderkey BETWEEN {rlo} AND {rhi})"
        slot = width // 3
        starts = [lo + i * slot + rng.randrange(slot - DML_WINDOW) for i in range(3)]
        kinds = ["update", "delete", "merge"]
        rng.shuffle(kinds)
        dml = [(k, s, s + DML_WINDOW - 1) for k, s in zip(kinds, starts)]
        deleted += [(a, b) for k, a, b in dml if k == "delete"]
        done.append(band)
        out.append(Batch(lo, hi, lines, orders, dml))
    return out


class TimedCatalog:
    """The governed catalog, with each commit the star loader makes
    timed from outside (``write_table`` is the catalog's public seam)."""

    def __init__(self, inner: TransactionalCatalog, rec: Recorder):
        self.inner = inner
        self.rec = rec
        self.last_version: dict[str, int] = {}

    def table_exists(self, table: str) -> bool:
        return self.inner.table_exists(table)

    def read_table(self, table: str, version: int | None = None):
        return self.inner.read_table(table, version)

    def write_table(self, df, table: str, **kwargs) -> int:
        start = time.perf_counter()
        version = self.inner.write_table(df, table, **kwargs)
        self.rec.spans["txlog.append_s"].append(time.perf_counter() - start)
        self.last_version[table] = version
        return version


def _sums(df) -> tuple:
    """(rows, exact quantity sum, exact price sum) of a fact frame."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("quantity").cast("decimal(38,6)")).alias("qty"),
        F.sum(F.col("extended_price").cast("decimal(38,6)")).alias("price"),
    ).collect()[0]
    return (int(row["n"]), row["qty"], row["price"])


@dataclass
class Event:
    """One checked operation of the timed phase: its index in the
    recorder, what it did and what it returned."""

    op: int
    kind: str
    args: tuple
    got: object = None


class WarehouseEtl:
    """Seeded orderkey bands of the sf0.1 sources loaded batch by batch
    into a fresh ``TransactionalCatalog``."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.src: dict[str, object] = {}
        self.n_orders = 0
        self.phases: list[tuple[list[Event], pa.Table, dict[str, pa.Table]]] = []
        self.stats: list[dict[str, float]] = []

    def prime(self, env: Env) -> None:
        """Read the sources (schema inference is set-up work)."""
        for name in SOURCES:
            self.src[name] = env.spark.read.parquet(f"{self.sf_dir}/{name}.parquet")
        self.n_orders = self.src["orders"].count()

    def prepare(self, env: Env) -> None:
        self.prime(env)
        # warm-up: two batches on a throwaway catalog over narrow bands,
        # so the first-load and the anti-join paths are both compiled
        warm = Env(env.spark, SparkProbe(env.spark, False), Recorder(),
                   random.Random(0), env.work_dir, env.cpus)
        cat = TimedCatalog(TransactionalCatalog(env.spark, f"{env.work_dir}/warm"), warm.rec)
        self._cycle(warm, cat, plan_batches(warm.rng, self.n_orders // 64, 2))

    def run(self, env: Env, units: int) -> list[float]:
        root = tempfile.mkdtemp(prefix="warehouse-", dir=env.work_dir)
        cat = TimedCatalog(TransactionalCatalog(env.spark, root), env.rec)
        events, unit_s = self._cycle(env, cat, plan_batches(env.rng, self.n_orders, units))
        self._snapshot(cat, events)
        return unit_s

    def _cycle(self, env: Env, cat: TimedCatalog, batches: list[Batch]):
        events: list[Event] = []
        versions: list[int] = []
        unit_s = []
        for unit, batch in enumerate(batches):
            start = time.perf_counter()
            self._batch(env, cat, batch, unit, events, versions)
            unit_s.append(time.perf_counter() - start)
        return events, unit_s

    def _batch(self, env: Env, cat: TimedCatalog, b: Batch, unit: int,
               events: list[Event], versions: list[int]) -> None:
        lines = self.src["lineitem"].filter(F.expr(b.lines))
        orders = self.src["orders"].filter(F.expr(b.orders))
        offered = {
            "customer": self.src["customer"].join(
                orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi"
            ),
            "nation": self.src["nation"],
            "part": self.src["part"].join(
                lines.select(F.col("l_partkey").alias("p_partkey")), "p_partkey", "left_semi"
            ),
        }

        def op(kind, fn, args=()):
            out, idx = _timed_op(env, kind, unit, fn)
            if out is not None:
                events.append(Event(idx, kind, args, out))
            return out

        for src, spec in DIM_SPECS:
            op("load_dim", lambda s=src, sp=spec: load_dimension(offered[s], sp, cat), (src, spec, b))
        # the fact table's head version after the load rides with its result
        loaded = op(
            "load_fact",
            lambda: (load_fact(lines, orders, FACT_SPEC, cat), cat.last_version.get(FACT)),
            (b,),
        )
        if loaded is not None and loaded[1] not in versions:
            versions.append(loaded[1])
        table = cat.inner.table(FACT)
        for kind, lo, hi in b.dml:
            version = op(kind, self._dml(table, kind, lo, hi), (lo, hi))
            if version is not None:
                versions.append(version)
        op("read_head", lambda: self._head_read(cat))
        v = env.rng.choice(versions)
        op("read_asof", lambda: _sums(table.read(version=v)), (v,))

    def _dml(self, table, kind: str, lo: int, hi: int):
        cond = F.col("order_key").between(lo, hi)
        if kind == "update":
            return lambda: table.update(cond, {"quantity": F.col("quantity") + 1})
        if kind == "delete":
            return lambda: table.delete(cond)
        # upsert input: the window's lines with quantity + 2, plus as
        # many brand-new lines under order keys no source row uses
        rows = apply_mapping(
            self.src["lineitem"].filter(F.col("l_orderkey").between(lo, hi))
            .join(self.src["orders"], F.col("l_orderkey") == F.col("o_orderkey")),
            FACT_SPEC.mappings,
        ).withColumn("quantity", F.col("quantity") + 2)
        fresh = rows.withColumn("order_key", F.col("order_key") + MERGE_NEW_KEY_OFFSET)
        src = rows.unionByName(fresh)
        return lambda: table.merge(src, list(FACT_SPEC.anti_keys))

    def _head_read(self, cat: TimedCatalog) -> list[tuple]:
        """Revenue by nation: the fact joined to two dimensions."""
        rows = (
            cat.read_table(FACT)
            .join(cat.read_table("dim_customer").select("customer_key", "nation_key"), "customer_key")
            .join(cat.read_table("dim_nation").select("nation_key", "nation_name"), "nation_key")
            .groupBy("nation_name")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("quantity").cast("decimal(38,6)")).alias("qty"),
                F.sum(F.col("extended_price").cast("decimal(38,6)")).alias("price"),
            )
            .collect()
        )
        return sorted((r["nation_name"], int(r["n"]), r["qty"], r["price"]) for r in rows)

    def _snapshot(self, cat: TimedCatalog, events: list[Event]) -> None:
        """The txlog's on-disk shape and the final tables, read after
        the timed phase."""
        table = cat.inner.table(FACT)
        detail = table.detail()
        fact_dir = f"{cat.inner.root}/{FACT}"
        on_disk = dir_bytes(fact_dir)
        self.stats.append({
            "txlog.versions": float(detail["version"]),
            "txlog.live_files": float(detail["num_files"]),
            "txlog.log_mb": (on_disk - dir_bytes(fact_dir, exclude_dir="_txlog")) / 2**20,
            "txlog.stored_bytes_ratio": on_disk / max(1, detail["size_bytes"]),
        })
        dims = {spec.table: cat.read_table(spec.table).toArrow() for _, spec in DIM_SPECS}
        self.phases.append((events, table.read().toArrow(), dims))

    def check(self, env: Env) -> None:
        """Replay each timed phase on DuckDB and compare every load,
        read and the final tables."""
        for events, fact, dims in self.phases:
            replay = Replay(self.sf_dir, env.cpus)
            try:
                for ev in events:
                    why = replay.apply(ev)
                    if why is not None:
                        env.rec.fail(ev.op, why)
                env.rec.count("star_loader.offered", replay.offered)
                env.rec.count("star_loader.rejected", replay.rejected)
                for name, got in [(FACT, fact), *dims.items()]:
                    why = same_rows(replay.con, got, replay.table(name))
                    if why is not None and events:
                        env.rec.fail(events[-1].op, f"final {name} differs: {why}")
            finally:
                replay.con.close()
        self.phases.clear()


def _select(mappings, quantity_delta: int = 0) -> str:
    """apply_mapping's projection as DuckDB SQL."""
    cols = []
    for src, _, dst, dst_t in mappings:
        expr = f"CAST({src} AS {dst_t.upper()})"
        if dst == "quantity" and quantity_delta:
            expr += f" + {quantity_delta}"
        cols.append(f"{expr} AS {dst}")
    return ", ".join(cols)


class Replay:
    """The star loader's and the txlog's semantics applied in DuckDB to
    the same batches: anti-join inserts on the business key, UPDATE,
    DELETE, key-replacing MERGE, and an exact aggregate per version."""

    def __init__(self, sf_dir: str, threads: int):
        self.con = connect(sf_dir, threads)
        self.fact_select = _select(FACT_SPEC.mappings)
        self.con.execute(
            f"CREATE TABLE {FACT} AS SELECT {self.fact_select} FROM lineitem "
            f"JOIN orders ON l_orderkey = o_orderkey LIMIT 0"
        )
        for src, spec in DIM_SPECS:
            self.con.execute(
                f"CREATE TABLE {spec.table} AS SELECT {_select(spec.mappings)} FROM {src} LIMIT 0"
            )
        self.key_match = " AND ".join(f"t.{k} = n.{k}" for k in FACT_SPEC.anti_keys)
        self.by_version: dict[int, tuple] = {}
        self.offered = self.rejected = 0

    def table(self, name: str) -> pa.Table:
        return self.con.execute(f"SELECT * FROM {name}").fetch_arrow_table()

    def _count(self, sql: str) -> int:
        return self.con.execute(sql).fetchone()[0]

    def _insert_new(self, table: str, match: str) -> tuple[int, int]:
        """Insert the rows of ``offered`` whose key ``table`` lacks."""
        n_off = self._count("SELECT count(*) FROM offered")
        n_new = self._count(
            f"INSERT INTO {table} SELECT * FROM offered n "
            f"WHERE NOT EXISTS (SELECT 1 FROM {table} t WHERE {match})"
        )
        self.offered += n_off
        self.rejected += n_off - n_new
        return n_off, n_new

    def _sums(self) -> tuple:
        return self.con.execute(
            f"SELECT count(*), sum(CAST(quantity AS DECIMAL(38,6))), "
            f"sum(CAST(extended_price AS DECIMAL(38,6))) FROM {FACT}"
        ).fetchone()

    def apply(self, ev: Event) -> str | None:
        """Apply one operation; a reason when Spark's answer differs."""
        if ev.kind == "load_dim":
            src, spec, b = ev.args
            where = DIM_WHERE[src].format(lines=b.lines, orders=b.orders)
            self.con.execute(
                f"CREATE OR REPLACE TEMP TABLE offered AS "
                f"SELECT {_select(spec.mappings)} FROM {src} WHERE {where}"
            )
            key = spec.keys[0]
            want = self._insert_new(spec.table, f"t.{key} = n.{key}")
            got = (ev.got.incoming, ev.got.inserted)
            return None if got == want else f"{spec.table} offered/inserted {got} != {want}"
        if ev.kind == "load_fact":
            (b,), (result, version) = ev.args, ev.got
            self.con.execute(
                f"CREATE OR REPLACE TEMP TABLE offered AS SELECT {self.fact_select} "
                f"FROM (SELECT * FROM lineitem WHERE {b.lines}) "
                f"JOIN (SELECT * FROM orders WHERE {b.orders}) ON l_orderkey = o_orderkey"
            )
            resent = self._count(
                f"SELECT count(*) FROM offered WHERE order_key NOT BETWEEN {b.lo} AND {b.hi}"
            )
            n_off, n_new = self._insert_new(FACT, self.key_match)
            self.by_version[version] = self._sums()
            if result.inserted != n_new:
                return f"load_fact inserted {result.inserted} != {n_new}"
            if n_off - n_new != resent:
                return f"{resent - (n_off - n_new)} re-sent rows were inserted"
            return None
        if ev.kind in ("update", "delete", "merge"):
            lo, hi = ev.args
            window = f"order_key BETWEEN {lo} AND {hi}"
            if ev.kind == "update":
                self.con.execute(f"UPDATE {FACT} SET quantity = quantity + 1 WHERE {window}")
            elif ev.kind == "delete":
                self.con.execute(f"DELETE FROM {FACT} WHERE {window}")
            else:
                self.con.execute(
                    f"CREATE OR REPLACE TEMP TABLE n AS SELECT "
                    f"{_select(FACT_SPEC.mappings, quantity_delta=2)} FROM lineitem "
                    f"JOIN orders ON l_orderkey = o_orderkey WHERE l_orderkey BETWEEN {lo} AND {hi}"
                )
                self.con.execute(
                    f"INSERT INTO n SELECT * REPLACE (order_key + {MERGE_NEW_KEY_OFFSET} "
                    f"AS order_key) FROM n"
                )
                self.con.execute(
                    f"DELETE FROM {FACT} t WHERE EXISTS (SELECT 1 FROM n WHERE {self.key_match})"
                )
                self.con.execute(f"INSERT INTO {FACT} SELECT * FROM n")
            self.by_version[ev.got] = self._sums()
            return None
        if ev.kind == "read_head":
            want = [tuple(r) for r in self.con.execute(
                f"SELECT nation_name, count(*), sum(CAST(quantity AS DECIMAL(38,6))), "
                f"sum(CAST(extended_price AS DECIMAL(38,6))) FROM {FACT} "
                f"JOIN dim_customer USING (customer_key) JOIN dim_nation USING (nation_key) "
                f"GROUP BY nation_name ORDER BY nation_name"
            ).fetchall()]
            return None if ev.got == want else "head star-join read differs"
        # read_asof
        (version,) = ev.args
        want = self.by_version.get(version)
        return None if want is not None and tuple(ev.got) == tuple(want) else (
            f"read(version={version}) {ev.got} != {want}"
        )
