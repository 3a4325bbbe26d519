"""Driver-contract tests for __spark_entry__.py: entry() must delegate
to the registry flagship at the driver-supplied scale (the r01 red
flagship hash traced to entry() and the oracle silently running at
different sfs)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys


def _entry_module():
    import __spark_entry__ as E

    return importlib.reload(E)


def test_entry_respects_sf_dir_env(spark, monkeypatch):
    E = _entry_module()
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    small = E.entry(spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    mid = E.entry(spark)
    assert small.schema == mid.schema
    # different corpora must actually be read (not a cached scale)
    assert small.agg({"words_count": "sum"}).collect()[0][0] != (
        mid.agg({"words_count": "sum"}).collect()[0][0]
    )


def test_query_metadata_contract():
    """query_metadata() (VERDICT r06 item 7) must cover every queries()
    entry, agree with the registry's ulp/oracle flags, and be mirrored
    as an attribute on each callable."""
    E = _entry_module()
    from tiny_etl_multiproc_bigdata_spark.plans.registry import REGISTRY

    q, o, m = E.queries(), E.oracle_sql(), E.query_metadata()
    assert set(m) == set(q)
    for name, meta in m.items():
        assert meta == {
            "ulp_sensitive": REGISTRY[name].ulp_sensitive,
            "has_oracle": REGISTRY[name].oracle is not None,
        }
        assert meta["has_oracle"] == (name in o)
        assert q[name].spark_graft_meta == meta
    # the flag is load-bearing: the registry has both kinds of entry
    assert any(v["ulp_sensitive"] for v in m.values())
    assert any(not v["has_oracle"] for v in m.values())


def test_entry_default_matches_registry_flagship(spark, monkeypatch):
    E = _entry_module()
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    q = E.queries()
    assert set(E.oracle_sql()) <= set(q)
    # default scale contract: sf0.01, same result as the registry callable
    a = E.entry(spark).collect()
    b = q["flagship_words"](spark, "/root/testdata/sf0.01").collect()
    assert sorted(a) == sorted(b)


def test_rows_only_design_set_matches_registry():
    """_ROWS_ONLY_BY_DESIGN (the explicit allowlist of entries permitted
    to lack an oracle) must equal the live set of entries registered
    with oracle=None — drift in either direction would let an entry
    silently lose its oracle or leave a stale name on the allowlist."""
    from tiny_etl_multiproc_bigdata_spark.plans.registry import (
        REGISTRY,
        _ROWS_ONLY_BY_DESIGN,
        _load_all,
    )

    _load_all()
    live = {n for n, spec in REGISTRY.items() if spec.oracle is None}
    assert live == set(_ROWS_ONLY_BY_DESIGN)


def test_registry_iterates_in_registration_order():
    """queries(), query_metadata() and oracle_sql() follow registration
    order — no reordering layer sits between REGISTRY and a caller."""
    from tiny_etl_multiproc_bigdata_spark.plans.registry import (
        REGISTRY,
        _load_all,
        oracle_sql,
        queries,
        query_metadata,
    )

    _load_all()
    names = list(REGISTRY)
    assert list(queries()) == names
    assert list(query_metadata()) == names
    assert list(oracle_sql()) == [
        n for n in names if REGISTRY[n].oracle is not None
    ]


_AUDIT_PROBE = r"""
import glob, json, os, sys

seen = []

def hook(event, args):
    if event == "open" or event.startswith("glob.glob"):
        path = args[0]
        if isinstance(path, (str, bytes, os.PathLike)):
            seen.append((event, os.path.abspath(os.fsdecode(path))))

sys.addaudithook(hook)
from tiny_etl_multiproc_bigdata_spark.plans.registry import queries
queries()
# sentinel: proves the glob event reaches the hook on this interpreter
glob.glob(os.path.join(sys.argv[1], "*.no-such-suffix"))
print(json.dumps(seen))
"""


def test_registry_import_reads_no_checkout_files():
    """Importing the registry and calling queries() opens and globs
    nothing in the checkout outside the package itself — evidence files
    such as CORRECTNESS_r*.json are not inputs."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "tiny_etl_multiproc_bigdata_spark")
    out = subprocess.run(
        [sys.executable, "-c", _AUDIT_PROBE, pkg],
        cwd=root,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    seen = json.loads(out.strip().splitlines()[-1])
    # both hooks are live: package modules were opened, the sentinel
    # glob was recorded
    assert any(e == "open" for e, p in seen if p.startswith(pkg + os.sep))
    assert any(e.startswith("glob.glob") for e, _ in seen)
    outside = [
        (e, p)
        for e, p in seen
        if (p == root or p.startswith(root + os.sep))
        and not p.startswith(pkg + os.sep)
    ]
    assert not outside, outside
