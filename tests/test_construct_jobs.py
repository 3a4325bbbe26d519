"""Construction-time Spark jobs of the benchmark's registry entries.

Building a registry plan can run Spark jobs on the driver (eager
``localCheckpoint``s, convergence counts, parquet footer inference),
and for the heavy entries they cost more than executing the finished
plan. The counts below are exact and repeat from run to run, so any
job that creeps back into construction fails here. Each entry is
called once to warm up (schema reuse, JIT), then counted on its second
call; streaming micro-batches run under their query's own job group
and are not construction jobs.
"""

from __future__ import annotations

import os

import pytest
from conftest import count_jobs

from tiny_etl_multiproc_bigdata_spark.catalog import DEFAULT_SF_DIR
from tiny_etl_multiproc_bigdata_spark.plans.registry import queries

# the sf0.01 fixtures sit beside the default scale's
SF01 = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.01")

# entry -> jobs its construction runs at sf0.01
CONSTRUCT_JOBS = {
    "flagship_words": 0,
    "q1_pricing_summary": 0,
    "dedup_minhash_lsh": 2,
    # the minhash signature and edge-list checkpoints (one job per
    # shuffle stage each), then per later CC round one checkpoint (the
    # second also computes the join-free first round) and one count
    "corpus_curation": 12,
    "pagerank_scaled": 4,
    "streaming_dedup": 0,
}

pytestmark = pytest.mark.skipif(not os.path.isdir(SF01), reason=f"missing {SF01}")


@pytest.mark.parametrize("name", CONSTRUCT_JOBS)
def test_construct_jobs(spark, name):
    build = queries()[name]
    build(spark, SF01).write.format("noop").mode("overwrite").save()
    _, jobs = count_jobs(spark, lambda: build(spark, SF01))
    assert jobs == CONSTRUCT_JOBS[name]
