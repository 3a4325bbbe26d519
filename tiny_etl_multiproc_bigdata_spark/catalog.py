"""Fixture catalog: the driver-generated TPC-H-ish parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

At cluster scale these would be partitioned/bucketed parquet datasets; the
read path is identical (``spark.read.parquet``) and all engine code keeps
filters/projections declarative so parquet pushdown + pruning apply.

Schema reuse: a plain ``spark.read.parquet`` runs a Spark job to read
the file footer and infer the schema, on every call. ``read_parquet``
infers once per session and file, then hands the remembered schema to
``spark.read.schema(s).parquet(path)``, which runs no job. Each call
still builds a fresh DataFrame, so self-joins keep distinct attribute
ids. The cache is held per SparkSession object, weakly (it goes with
the session, and no other session sees it), and holds one schema per
absolute file path, keyed on the file's identity (``st_mtime_ns``,
``st_size``) and on the session's parquet reader confs
(``spark.sql.parquet.*``, ``spark.sql.legacy.parquet.*``;
``nanosAsLong`` decides how an ``events`` ``TIMESTAMP(NANOS)`` column
reads). A rewritten file or a changed conf re-infers. Directories, globs, relative paths and
non-local URIs fall through to a plain read.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_READER_CONF_PREFIXES = ("spark.sql.parquet.", "spark.sql.legacy.parquet.")
# session -> {absolute path: ((mtime_ns, size, reader confs), schema)}
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, StructType]]
] = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def _reader_confs(spark: SparkSession) -> tuple[tuple[str, str], ...]:
    """The parquet reader confs set in this session, sorted. One JVM
    call lists the set keys (conf keys hold no ", "), one more per
    matching key reads its value; ``spark.conf.getAll`` makes a JVM
    round trip per conf (~30 ms against ~1 ms for this)."""
    keys = spark.conf._jconf.getAllAsJava().keySet().toString()[1:-1]
    return tuple(
        sorted(
            (k, spark.conf.get(k))
            for k in keys.split(", ")
            if k.startswith(_READER_CONF_PREFIXES)
        )
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a single file's schema
    once per session and reuses it while the file and the session's
    parquet reader confs stay the same (see the module docstring)."""
    try:
        st = os.stat(path) if os.path.isabs(path) else None
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    ident = (st.st_mtime_ns, st.st_size, _reader_confs(spark))
    with _SCHEMAS_LOCK:
        schemas = _SCHEMAS.setdefault(spark, {})
        cached = schemas.get(path)
    if cached is not None and cached[0] == ident:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        schemas[path] = (ident, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    if name == "events":
        # The fixture generator has shipped `ts` two ways across rounds:
        # TIMESTAMP(NANOS) (which Spark's reader rejects without the
        # legacy conf — read as int64 nanos, then integer-`div` to micros;
        # double division would lose precision on ~1.7e18 nanos) and plain
        # TIMESTAMP(MICROS). Branch on the actual dtype so the engine
        # works against either vintage, and normalize to TIMESTAMP_NTZ,
        # matching DuckDB's naive timestamps.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            # NTZ-pure conversion: epoch micros added to an NTZ zero
            # point stays in the NTZ domain end to end. The previous
            # lowering (timestamp_micros(..).cast("timestamp_ntz"))
            # went through TIMESTAMP_LTZ, and LTZ->NTZ renders the
            # instant in the SESSION time zone — on any cluster whose
            # TZ isn't UTC, every nanos-vintage event shifted by the
            # zone offset while the oracle read the same bytes as
            # naive UTC wall-clock (found by the r12 TZ-perturbation
            # arm of tools/partition_invariance_audit.py; latent-only:
            # committed fixtures are micros-vintage and this branch is
            # untaken on them).
            # `div` truncates toward zero, which for PRE-epoch nanos
            # that aren't a whole microsecond rounds up by 1µs versus
            # floor semantics. That is DELIBERATE: DuckDB's native
            # TIMESTAMP(NANOS)→micros read truncates toward zero too
            # (verified empirically: -1500ns → -1µs, -999ns → 0µs), so
            # trunc — not floor — is the parity-correct choice; floor
            # division would diverge from the oracle on every pre-epoch
            # sub-µs value (pinned cross-engine in
            # tests/test_catalog_vintages.py::test_nanos_preepoch_parity).
            return df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table as a temp view (mirrors the DuckDB
    oracle, which pre-registers same-named views)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
