import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_vector_database_spark.session import get_session

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="dvdb-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    return con


def assert_df_matches_oracle(spark_df, duck_con, sql, check_order=False):
    """Mini-oracle replicating the driver: row count, column names, and an
    order-insensitive value comparison done on PANDAS materializations of both
    sides — dtype-tagged, so int-vs-float coercions the driver's value-hash is
    sensitive to (e.g. DuckDB's HUGEINT sum() arriving as float64) fail here
    too, not only in the driver (round-1 `sessionization` escape)."""
    import numpy as np

    exp_rel = duck_con.sql(sql)
    exp_pd = exp_rel.df()
    got_pd = spark_df.toPandas()
    assert [c.lower() for c in got_pd.columns] == [
        c.lower() for c in exp_pd.columns
    ], f"columns differ: {list(got_pd.columns)} vs {list(exp_pd.columns)}"
    assert len(got_pd) == len(exp_pd), (
        f"row count {len(got_pd)} != {len(exp_pd)}"
    )

    def norm_cell(v):
        # Type-tag every cell so 1 (bigint) != 1.0 (double), matching the
        # driver's hash rather than Python's 1 == 1.0.
        if v is None:
            return "null"
        if isinstance(v, (bool, np.bool_)):
            return f"b:{bool(v)}"
        if isinstance(v, (np.floating, float)):
            f = float(v)
            if f != f:  # NaN (incl. pandas null in a numeric column)
                return "null"
            return f"f:{round(f, 6) + 0.0}"
        if isinstance(v, (np.integer, int)):
            return f"i:{int(v)}"
        if isinstance(v, (list, tuple, np.ndarray)):
            return "a:[" + ",".join(norm_cell(x) for x in v) + "]"
        if v != v:  # pandas NaT / NaN object
            return "null"
        return f"{type(v).__name__}:{v!r}"

    got_n = [
        tuple(norm_cell(v) for v in row)
        for row in got_pd.itertuples(index=False, name=None)
    ]
    exp_n = [
        tuple(norm_cell(v) for v in row)
        for row in exp_pd.itertuples(index=False, name=None)
    ]
    if not check_order:
        got_n = sorted(got_n)
        exp_n = sorted(exp_n)
    for i, (g, e) in enumerate(zip(got_n, exp_n)):
        assert g == e, f"row {i} differs:\n  spark: {g}\n  duck : {e}"


def spark_jobs_started(spark, fn):
    """``(fn(), n)``: n is the number of Spark jobs ``fn`` started, counted
    in a fresh job group after the listener bus has drained."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
