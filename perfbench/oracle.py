"""Output checks run after the timed phase, on DuckDB.

``QueryOracle`` checks a registry query by the package's own oracle
rules (``aws_glue_redshift_datawarehouse_etl_pipeline_spark.oracle``):
the same DuckDB views, the same canonical row order and the same exact
value compare. As there, a result that matches only within the 1e-9
epsilon is not correct. The one exception is a (query, column) pair in
``KNOWN_DEFECTS``: a result whose only difference is an epsilon-close
value in that column is reported as a known defect, neither correct nor
failed. ``same_rows`` is the exact multiset compare for the warehouse
tables, and ``fingerprint`` an order-independent digest for queries
without an oracle: their result must read the same in every pass.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa

from aws_glue_redshift_datawarehouse_etl_pipeline_spark.oracle import (
    TABLES,
    _canon,
    _frames_equal,
    duckdb_conn,
)

# On the generated sf0.1 tree, one row of embedding_cosine_topk differs
# from its oracle by about 2e-13 in every pass: Spark and DuckDB round
# a double product next to a DECIMAL(30,12) rounding boundary to
# different sides, so the registry's bit-identity claim for this query
# does not hold on every input.
KNOWN_DEFECTS = {("embedding_cosine_topk", "cosine")}

OK, KNOWN, FAILED = "ok", "known_defect", "failed"


def connect(sf_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    """The package oracle's connection (a view per source table)."""
    con = duckdb_conn(sf_dir)
    con.execute(f"SET threads={threads}")
    con.execute("SET TimeZone='UTC'")
    return con


def same_rows(con, got: pa.Table, want: pa.Table) -> str | None:
    """None when the two tables hold exactly the same multiset of rows
    over the same columns; otherwise a one-line reason."""
    if sorted(got.column_names) != sorted(want.column_names):
        return f"columns {sorted(got.column_names)} != {sorted(want.column_names)}"
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} != {want.num_rows}"
    cols = ", ".join(f'"{c}"' for c in sorted(want.column_names))
    con.register("got_t", got)
    con.register("want_t", want)
    try:
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM got_t "
            f"EXCEPT ALL SELECT {cols} FROM want_t)"
        ).fetchone()[0]
    finally:
        con.unregister("got_t")
        con.unregister("want_t")
    return None if extra == 0 else f"{extra} rows differ"


def fingerprint(con, table: pa.Table) -> tuple[int, int]:
    """(row count, sum of per-row hashes): equal for equal multisets."""
    con.register("fp_t", table)
    try:
        n, h = con.execute(
            "SELECT count(*), coalesce(sum(hash(fp_t)::HUGEINT), 0) FROM fp_t"
        ).fetchone()
    finally:
        con.unregister("fp_t")
    return int(n), int(h)


class QueryOracle:
    """The registry's DuckDB oracle over one parquet tree."""

    def __init__(self, sf_dir: str, oracle_sql: dict[str, str], threads: int):
        self.con = connect(sf_dir, threads)
        self.sql = oracle_sql
        self._expected: dict[str, pd.DataFrame] = {}

    def has(self, name: str) -> bool:
        return name in self.sql

    def expected(self, name: str) -> pd.DataFrame:
        if name not in self._expected:
            self._expected[name] = _canon(self.con.execute(self.sql[name]).fetch_df())
        return self._expected[name]

    def check(self, name: str, got: pa.Table) -> tuple[str, str]:
        """(OK | KNOWN | FAILED, reason) for one result of ``name``."""
        want = self.expected(name)
        have = got.to_pandas()
        if sorted(have.columns) != sorted(want.columns):
            return FAILED, f"columns {sorted(have.columns)} != {sorted(want.columns)}"
        have = _canon(have)
        exact, why = _frames_equal(have, want, exact=True)
        if exact:
            return OK, ""
        approx, _ = _frames_equal(have, want, exact=False)
        if not approx:
            return FAILED, why
        known = [col for query, col in KNOWN_DEFECTS if query == name]
        if known and _frames_equal(have.drop(columns=known), want.drop(columns=known), exact=True)[0]:
            return KNOWN, f"approx-only in {known}: {why}"
        return FAILED, f"approx-only: {why}"

    def close(self) -> None:
        self.con.close()
