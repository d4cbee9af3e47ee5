"""Driver-mimic: every queries()[name] must match oracle_sql()[name] on
DuckDB over the same parquet (row count + schema + order-insensitive
values), the way the per-round CORRECTNESS check runs (SURVEY.md §5.3).

ANSI-ON GATE: the driver evaluates queries() in ITS session, where Spark 4
defaults ``spark.sql.ansi.enabled=true``; the engine factory pins it false
(session.py). Round 2 shipped a query that was green under the engine
session and red under the driver's (ANSI element_at on an empty array) —
so this module forces ANSI ON around every Spark-side execution. Nothing
in the catalog may rely on non-ANSI semantics.

TYPE-STRICT GATE: the driver's value hash is TYPE-sensitive at the Arrow
level. Three straight rounds shipped a red row this module's old
``_normalize`` (astype("int64"), check_dtype=False) could not see — r03's
was a DuckDB ``SUM(BIGINT) → HUGEINT`` (arrow decimal128) vs Spark's
bigint, numerically identical cell-for-cell. The compare therefore now
asserts Arrow-level type equality per column under a minimal, documented
canonicalization (string width, timestamp tz/unit — transport
representation only), and deliberately does NOT canonicalize across
numeric families: an uncast DuckDB SUM must FAIL here, the way it fails
the driver (regression: ``test_uncast_oracle_sum_fails``).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa
import pytest

import __spark_entry__ as entrymod
from colymer_acquirers_spark.queries import oracle_sql

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(autouse=True)
def ansi_on(spark):
    """Run every test in this module under driver-like ANSI semantics."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield
    spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon_type(t: pa.DataType) -> pa.DataType:
    """Minimal transport-representation canonicalization.

    Collapses only differences the driver's Arrow transport itself erases
    (evidence: every green r03 row spans these): DuckDB's large_string vs
    Spark's string, Spark's session-tz timestamp vs DuckDB's naive one,
    list offset width. Numeric families are NOT collapsed — decimal128
    (DuckDB HUGEINT) vs int64 stays a mismatch, int32 vs int64 stays a
    mismatch; those are exactly the classes the driver hashes differently.
    """
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return pa.string()
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        # date32 merges with timestamp: r03 evidence — date_bucket_agg
        # (Spark date_trunc → timestamp[us], DuckDB date_trunc → DATE)
        # hashed GREEN under the driver, i.e. its pandas-level transport
        # turns both into datetime64. decimal128 → object(Decimal) does
        # NOT merge with int64 there, which is why HUGEINT stayed red.
        return pa.timestamp("us")
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return pa.list_(_canon_type(t.value_type))
    return t


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _assert_pair_matches(spark_tbl: pa.Table, duck_tbl: pa.Table, name: str):
    """The driver-faithful compare: Arrow types first, then values."""
    a_types = {f.name: _canon_type(f.type) for f in spark_tbl.schema}
    b_types = {f.name: _canon_type(f.type) for f in duck_tbl.schema}
    assert a_types == b_types, (
        f"{name}: Arrow type mismatch (driver hash is type-sensitive): "
        f"spark={a_types} oracle={b_types}"
    )
    def _cast_canon(t: pa.Table) -> pa.Table:
        return t.cast(pa.schema([pa.field(f.name, _canon_type(f.type)) for f in t.schema]))

    a = _normalize(_cast_canon(spark_tbl).to_pandas())
    b = _normalize(_cast_canon(duck_tbl).to_pandas())
    assert list(a.columns) == list(b.columns), (list(a.columns), list(b.columns))
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)


PAIRS = sorted(set(entrymod.queries()) & set(oracle_sql()))


@pytest.mark.parametrize("name", PAIRS)
def test_pair(spark, duck, name):
    spark_tbl = entrymod.queries()[name](spark, SF_DIR).toArrow()
    duck_tbl = duck.sql(oracle_sql()[name]).arrow()
    _assert_pair_matches(spark_tbl, duck_tbl, name)


def test_crawl_schedule_entry_leaves_no_cache(spark):
    """The crawl-schedule entry registers its rank cache, so dropping the
    catalog's live caches leaves no persisted RDD behind."""
    from colymer_acquirers_spark.queries import _drop_live_caches

    rdds = spark.sparkContext._jsc.getPersistentRDDs
    _drop_live_caches()
    before = set(rdds().keySet())
    entrymod.queries()["crawl_one_round_schedule"](spark, SF_DIR).collect()
    _drop_live_caches()
    assert set(rdds().keySet()) - before == set()


def test_uncast_oracle_sum_fails(spark, duck):
    """Regression for the r01/r02/r03 blind-spot class: a DuckDB aggregate
    whose Arrow type drifts from Spark's (HUGEINT/decimal128 vs bigint)
    must fail THIS gate even when every value is numerically identical."""
    spark_tbl = spark.sql(
        "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (SELECT 1 AS x UNION ALL SELECT 2)"
    ).toArrow()
    duck_tbl = duck.sql(
        "SELECT SUM(x) AS s FROM (SELECT 1 AS x UNION ALL SELECT 2 AS x)"
    ).arrow()
    # sanity: values agree, types don't
    assert duck_tbl.column("s").to_pylist() == [3]
    assert spark_tbl.column("s").to_pylist() == [3]
    with pytest.raises(AssertionError, match="type-sensitive"):
        _assert_pair_matches(spark_tbl, duck_tbl, "uncast_sum")
