import os

import duckdb
import pytest

from dragnet_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="dragnet_spark_tests", shuffle_partitions=8)
    yield spark


@pytest.fixture
def keep_conf(spark):
    """The bench tools open their session through ``get_spark``, which
    re-applies its settings to the shared test session."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", saved)


@pytest.fixture(scope="session")
def job_count(spark):
    """``job_count(fn)``: the Spark jobs ``fn()`` issues, counted
    through a job group."""
    import uuid

    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")

    def count(fn) -> int:
        saved = {k: sc.getLocalProperty(k) for k in keys}
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
        # job events reach the status store through the asynchronous
        # listener bus; drain it so the last job is counted
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def events_tree(tmp_path_factory):
    """A small seeded NDJSON event tree (FIXTURES.md §1 shape, 28 days
    under ``%Y/%m-%d``, ~0.1% corrupt lines) written by the benchmark's
    generator: ``(root, tallies)`` with exact per-group counts."""
    from perfbench.gen import write_events

    root = str(tmp_path_factory.mktemp("events_tree"))
    return root, write_events(root, seed=11, n_records=3000)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from dragnet_spark.sources.tables import register_views

    return register_views(spark, sf_dir)


@pytest.fixture(scope="session")
def oracle(sf_dir):
    """DuckDB connection with the same tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def rows_set(df):
    """Spark DataFrame → set of tuples for order-insensitive comparison."""
    return {tuple(r) for r in df.collect()}


def duck_set(con, sql):
    return {tuple(r) for r in con.execute(sql).fetchall()}
