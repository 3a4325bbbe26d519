"""The workloads: what one op is, its input size, its untimed warm-up
ops, and the output check that decides whether an op failed.

Every op is a call into the package's public entry points followed by
a ``noop`` write that materializes the result. The seed fixes only the
order of calls within a pass and the replica tags of the amplified
corpus; the package receives paths and DataFrames, never the seed.
"""

from __future__ import annotations

import os
import random
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

# Registry entries of one pass: the entries whose construction layer is
# cited (corpus_curation, dedup_minhash_lsh, pagerank_scaled,
# flagship_words), q1 as the execution-bound control, and a stateful
# streaming dedup, which carries the streaming layer.
REGISTRY_MIX = (
    "flagship_words",
    "q1_pricing_summary",
    "dedup_minhash_lsh",
    "corpus_curation",
    "pagerank_scaled",
    "streaming_dedup",
)
# entries that read the whole documents table: corpus_mb_per_s is their
# text bytes per second of their wall time
CORPUS_ENTRIES = ("flagship_words", "dedup_minhash_lsh", "corpus_curation")
# stream_rows_per_s rests on streaming_dedup alone, and one call's wall
# varied by +-9 % between calm runs, so a timed pass calls it this often
# and the rate takes the median
STREAM_CALLS = 3

CHECK_THREADS = 3


@dataclass
class Op:
    label: str  # registry entry, or "flagship_corpus"
    build: Callable  # () -> DataFrame: the construction layer
    corpus_mb: float = 0.0  # document text read, in MB (1e6 bytes)
    input_rows: int = 0  # input rows besides those streamed (the listener counts those)


def corpus_size(sf_dir: str) -> tuple[float, int]:
    """(text MB, rows) of the fixture's documents table."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    text = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])["text"]
    return pc.sum(pc.binary_length(text)).as_py() / 1e6, len(text)


def fixture_dir(sf: str) -> str:
    """The fixture directory for scale ``sf``, next to the package's
    default one (``catalog.DEFAULT_SF_DIR``)."""
    from tiny_etl_multiproc_bigdata_spark import catalog

    base = os.path.dirname(catalog.DEFAULT_SF_DIR.rstrip("/"))
    return os.path.join(base, f"sf{sf}")


class Workload:
    """One named workload. ``warm_up_ops`` are run untimed, inside
    set-up; ``pass_ops(i)`` lists the ops of timed pass i (from 1);
    ``check`` maps each label's last output to a failure description
    or None."""

    name = ""
    # the timed passes the rates rest on, at the least (see
    # run.Runner.rated_ops)
    calm_passes = 1

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def bind(self, spark, queries: dict) -> None:
        self.spark, self.queries = spark, queries

    def warm_up_ops(self) -> list[Op]:
        raise NotImplementedError

    def pass_ops(self, i: int) -> list[Op]:
        raise NotImplementedError

    def check(self, latest: dict, compare_mod) -> dict[str, str | None]:
        raise NotImplementedError


class RegistryMix(Workload):
    """Construct + materialize one registry entry; a timed pass covers
    every entry of ``REGISTRY_MIX``, ``streaming_dedup`` ``STREAM_CALLS``
    times."""

    name = "registry_mix"

    def bind(self, spark, queries) -> None:
        super().bind(spark, queries)
        self.sf_dir = fixture_dir("0.01")
        self.corpus_mb = corpus_size(self.sf_dir)[0]

    def _ops(self, names) -> list[Op]:
        return [
            Op(name, (lambda f=self.queries[name]: f(self.spark, self.sf_dir)),
               corpus_mb=self.corpus_mb if name in CORPUS_ENTRIES else 0.0)
            for name in names
        ]

    def warm_up_ops(self) -> list[Op]:
        # every entry's cold first call. Its cost depends on which
        # entries ran before it (they share code the JVM has yet to
        # compile; corpus_curation's took 3.5-11.3 s by position), so
        # this pass runs in one fixed order
        return self._ops(REGISTRY_MIX)

    def pass_ops(self, i: int) -> list[Op]:
        names = list(REGISTRY_MIX) + ["streaming_dedup"] * (STREAM_CALLS - 1)
        random.Random(self.seed * 1000 + i).shuffle(names)
        return self._ops(names)

    def check(self, latest, compare_mod):
        from tiny_etl_multiproc_bigdata_spark.plans.registry import (
            oracle_sql,
            query_metadata,
        )

        oracles, meta = oracle_sql(), query_metadata()
        local, cons = threading.local(), []

        def con():
            if not hasattr(local, "con"):
                local.con = compare_mod.duck_connect(self.sf_dir)
                cons.append(local.con)
            return local.con

        def one(label):
            try:
                problems = compare_mod.compare(
                    latest[label], con(), oracles[label],
                    exact_floats=meta[label]["ulp_sensitive"],
                )
                return "; ".join(problems) or None
            except Exception as ex:  # noqa: BLE001 — a failed check, not a crash
                return f"check raised {type(ex).__name__}: {ex}"[:300]

        # checks run after the timed region, so they may overlap
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            results = dict(zip(latest, pool.map(one, latest)))
        for c in cons:
            c.close()
        return results


class FlagshipCorpus(Workload):
    """``words_from_docs`` over the sf0.1 corpus amplified in memory by
    a replica cross join (bench.py's sustained-throughput shape)."""

    name = "flagship_corpus"
    # a pass is one op, and the rates take the median of five or more.
    # ~1.5 s an op fits five in a run; at x4 the fixed per-op cost of
    # the Spark jobs would be most of the op
    calm_passes = 5
    n_rep = 16

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        # seeded replica tags: distinct, so every replica is its own file
        self.tags = sorted(random.Random(seed).sample(range(10**6, 10**7), self.n_rep))

    def bind(self, spark, queries) -> None:
        from pyspark.sql import functions as F

        super().bind(spark, queries)
        self.sf_dir = fixture_dir("0.1")
        mb, rows = corpus_size(self.sf_dir)
        self.op = Op("flagship_corpus", self.words, mb * self.n_rep, rows * self.n_rep)
        docs = spark.read.parquet(f"{self.sf_dir}/documents.parquet")
        tags = spark.createDataFrame([(t,) for t in self.tags], "rep long")
        # the tag list is the partitioned stream side and the corpus is
        # broadcast, so each task generates its replicas locally
        self.amplified = (
            tags.repartition(int(os.environ["SPARK_GRAFT_CPUS"]))
            .crossJoin(F.broadcast(docs))
            .select(F.concat_ws("#", "source", "rep").alias("source"), "text")
        )

    def words(self):
        from tiny_etl_multiproc_bigdata_spark.plans.flagship import words_from_docs

        return words_from_docs(self.amplified)

    def warm_up_ops(self) -> list[Op]:
        # the JIT keeps speeding ops up for a dozen or so; with seven
        # warm-up ops the first timed ones were still 10-20 % slower
        return [self.op] * 10

    def pass_ops(self, i: int) -> list[Op]:
        return [self.op]

    def check(self, latest, compare_mod):
        """The amplified output must be the flagship oracle's answer
        once per replica tag."""
        from tiny_etl_multiproc_bigdata_spark.plans.flagship import FLAGSHIP_ORACLE_SQL

        if "flagship_corpus" not in latest:
            return {}
        try:
            con = compare_mod.duck_connect(self.sf_dir)
            con.execute("CREATE TABLE tags(rep BIGINT)")
            con.executemany("INSERT INTO tags VALUES (?)", [(t,) for t in self.tags])
            con.execute(
                "CREATE OR REPLACE VIEW documents AS SELECT"
                " concat_ws('#', d.source, CAST(t.rep AS VARCHAR)) AS source, d.text"
                f" FROM read_parquet('{self.sf_dir}/documents.parquet') d, tags t"
            )
            problems = compare_mod.compare(latest["flagship_corpus"], con, FLAGSHIP_ORACLE_SQL)
            con.close()
            verdict = "; ".join(problems) or None
        except Exception as ex:  # noqa: BLE001 — a failed check, not a crash
            verdict = f"check raised {type(ex).__name__}: {ex}"[:300]
        return {"flagship_corpus": verdict}


WORKLOADS = {w.name: w for w in (FlagshipCorpus, RegistryMix)}
