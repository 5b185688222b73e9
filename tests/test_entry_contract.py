"""Local replica of the driver's correctness gate: run every
``queries()`` entry at sf0.01 and compare against ``oracle_sql()`` via
DuckDB — row count, column names, and order-insensitive values."""

import glob
import os
import sys

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import __spark_entry__ as entrymod
import bench  # noqa: E402

# the SAME comparator the full-suite artifact CLI applies — one
# implementation, so the test gate and CORRECTNESS_FULL.json can never
# silently diverge on tolerance/typing rules
from jobs.correctness import TABLES, _canon, first_mismatch  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _assert_equal(got: pd.DataFrame, want: pd.DataFrame, name: str):
    assert list(got.columns) != [], name
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    c = first_mismatch(got, want)
    assert c is None, f"{name}.{c}: first diff\n{_first_diff(got, want, c)}"


def _first_diff(got: pd.DataFrame, want: pd.DataFrame, c: str) -> pd.DataFrame:
    g, w = _canon(got), _canon(want)
    return pd.concat([g[c], w[c]], axis=1)[g[c].astype(str) != w[c].astype(str)].head()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    want = duck.sql(ORACLES[name]).df()
    _assert_equal(got, want, name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "domain" in df.columns


def test_entry_and_jobs_come_from_this_checkout():
    """A copy of the repository tests its own driver contract and jobs,
    not those of another checkout earlier on ``sys.path``."""
    import jobs.correctness

    for mod in (entrymod, jobs.correctness, bench):
        assert os.path.realpath(mod.__file__).startswith(os.path.realpath(ROOT) + os.sep), (
            mod.__name__, mod.__file__, ROOT)


def test_bench_leaves_are_driver_queries():
    assert set(bench.BENCH_QUERIES) <= set(QUERIES), set(bench.BENCH_QUERIES) - set(QUERIES)


def test_every_query_has_an_oracle():
    """The round-3 invariant the verify recipe references: zero
    rows-only queries — queries() and oracle_sql() carry identical key
    sets, so every registered operator is value-checked against an
    independent engine."""
    assert set(QUERIES) == set(ORACLES), (
        set(QUERIES) ^ set(ORACLES)
    )


@pytest.mark.parametrize("case", ["set", "unset", "raised"])
def test_stream_table_restores_shuffle_partitions(spark, case):
    """The stream runner pins spark.sql.shuffle.partitions for its run
    and then restores it: the explicit value, or unset again when it was
    unset (a plain session's state), also when the stream raises."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key, None)
    try:
        if case == "unset":
            spark.conf.unset(key)
        else:
            spark.conf.set(key, "13")
        want = spark.conf.get(key, None)
        assert (want is None) == (case == "unset")
        src = entrymod._events_stream(spark, SF_DIR)
        if case == "raised":
            failing = src.select(F.raise_error(F.lit("wmd-boom")))
            with pytest.raises(Exception, match="wmd-boom"):
                entrymod._stream_table(failing, "append")
        else:
            out = entrymod._stream_table(src.select("event_id"), "append")
            assert out.count() > 0
        assert spark.conf.get(key, None) == want
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_sink_stage_once_per_sf(spark):
    """q86/q104/q106 share one staged exactly-once sink per (session,
    sf): two rounds of all three at two scale factors leave exactly one
    wmd_sink_tt_* dir per sf, and every answer matches the oracle over
    that sf's own documents table."""
    names = ["q86_sink_time_travel", "q104_sink_incremental",
             "q106_sink_stream"]
    sfs = ["/root/testdata/sf0.001", SF_DIR]
    pattern = os.path.join(entrymod._TMP_ROOT, "wmd_sink_tt_*")
    before = set(glob.glob(pattern))
    for sf in sfs:
        con = duckdb.connect()
        con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf, 'documents.parquet')}')")
        for _ in range(2):
            for name in names:
                _assert_equal(QUERIES[name](spark, sf).toPandas(),
                              con.sql(ORACLES[name]).df(), f"{name}@{sf}")
    roots = {entrymod._sink_stage(spark, sf).root for sf in sfs}
    after = set(glob.glob(pattern))
    assert len(roots) == len(sfs)
    assert roots <= after
    assert after - before <= roots, after - before - roots
