"""catalog.read_parquet: the remembered schema must equal the one Spark
infers, and anything that could change the inferred schema (a
rewritten file, a parquet reader conf, another session) must re-infer.

A cache hit is visible as a read that runs no Spark job (the footer
inference is the only job a plain ``spark.read.parquet`` runs), so the
tests count the jobs a read runs.
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import confs, count_jobs
from pyspark.errors import AnalysisException
from pyspark.sql.types import BinaryType, LongType, StringType

# the nanos-vintage events writer, shared with the vintage tests
from test_catalog_vintages import nanos_events_dir  # noqa: F401

from tiny_etl_multiproc_bigdata_spark.catalog import (
    DEFAULT_SF_DIR,
    TABLES,
    read_parquet,
    table,
)

# the sf0.01 fixtures sit beside the default scale's
SF01 = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.01")

NANOS = "spark__sql__legacy__parquet__nanosAsLong"


@pytest.mark.skipif(not os.path.isdir(SF01), reason=f"missing {SF01}")
@pytest.mark.parametrize("name", TABLES)
def test_reused_schema_equals_inferred(spark, name):
    path = f"{SF01}/{name}.parquet"
    with confs(spark, **{NANOS: "true"}):
        read_parquet(spark, path)
        again, jobs = count_jobs(spark, lambda: read_parquet(spark, path).schema)
        assert jobs == 0, "second read of an unchanged file re-inferred"
        assert again == spark.read.parquet(path).schema


def test_nanos_vintage_schema_equals_inferred(spark, nanos_events_dir):  # noqa: F811
    path = f"{nanos_events_dir}/events.parquet"
    with confs(spark, **{NANOS: "true"}):
        read_parquet(spark, path)
        again, jobs = count_jobs(spark, lambda: read_parquet(spark, path).schema)
        assert jobs == 0
        assert again == spark.read.parquet(path).schema
        assert isinstance(again["ts"].dataType, LongType)
        # and the catalog's normalization on top of the reused schema
        assert table(spark, nanos_events_dir, "events").schema == table(
            spark, nanos_events_dir, "events"
        ).schema


def test_rewritten_file_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert isinstance(read_parquet(spark, path).schema["a"].dataType, LongType)
    _, jobs = count_jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0

    # same bytes, new mtime: re-inferred
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    _, jobs = count_jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 1

    # new contents and schema: the new schema, and the rows read by it
    pq.write_table(pa.table({"a": ["x"], "b": [1.5]}), path)
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert isinstance(df.schema["a"].dataType, StringType)
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_reader_conf_change_reinfers(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    with confs(spark, spark__sql__parquet__binaryAsString="false"):
        assert isinstance(read_parquet(spark, path).schema["b"].dataType, BinaryType)
    with confs(spark, spark__sql__parquet__binaryAsString="true"):
        assert isinstance(read_parquet(spark, path).schema["b"].dataType, StringType)


def test_nanos_as_long_change_reinfers(spark, nanos_events_dir):  # noqa: F811
    path = f"{nanos_events_dir}/events.parquet"
    with confs(spark, **{NANOS: "true"}):
        read_parquet(spark, path)
    # without the conf Spark's reader rejects TIMESTAMP(NANOS); a stale
    # cache hit would hand back the int64 schema instead
    with confs(spark, **{NANOS: "false"}):
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)


def test_cache_is_per_session(spark, sf_dir):
    path = f"{sf_dir}/nation.parquet"
    read_parquet(spark, path)
    other = spark.newSession()
    _, jobs = count_jobs(other, lambda: read_parquet(other, path))
    assert jobs == 1


def test_self_join_of_two_table_calls_resolves(spark, sf_dir):
    a = table(spark, sf_dir, "nation")
    b, jobs = count_jobs(spark, lambda: table(spark, sf_dir, "nation"))
    assert jobs == 0, "second table() call did not reuse the schema"
    pairs = a.join(b, a["n_regionkey"] == b["n_regionkey"]).select(
        a["n_nationkey"], b["n_nationkey"]
    )
    regions = pq.read_table(f"{sf_dir}/nation.parquet")["n_regionkey"].to_pylist()
    expected = sum(regions.count(r) ** 2 for r in set(regions))
    assert pairs.count() == expected


def test_threads_sharing_a_session_get_the_inferred_schema(spark, sf_dir):
    """More threads than cores read through one session's cache while
    it fills; every read must carry the schema Spark infers."""
    paths = [f"{sf_dir}/{n}.parquet" for n in ("region", "nation", "supplier")]
    truth = {p: spark.read.parquet(p).schema for p in paths}
    other = spark.newSession()  # a cold cache

    def work(i):
        return [
            read_parquet(other, p).schema == truth[p]
            for p in (paths[(i + j) % len(paths)] for j in range(4))
        ]

    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(work, i) for i in range(8)]
            got = [ok for f in futures for ok in f.result(timeout=120)]
    finally:
        sys.setswitchinterval(prior)
    assert got == [True] * 32
