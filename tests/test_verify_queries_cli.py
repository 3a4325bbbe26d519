"""Argument parsing of tools/verify_queries.py: names and ``--sf`` in
any order, unknown registry names rejected as a usage error. Needs no
SparkSession."""

from __future__ import annotations

import importlib.util
import os

import pytest


def _tool():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "verify_queries.py",
    )
    spec = importlib.util.spec_from_file_location("verify_queries", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize(
    "argv",
    [
        ["flagship_words", "q1_pricing_summary", "--sf", "0.001,0.01"],
        ["--sf", "0.001,0.01", "flagship_words", "q1_pricing_summary"],
        ["flagship_words", "--sf", "0.001,0.01", "q1_pricing_summary"],
    ],
)
def test_sf_anywhere_on_the_line(argv):
    args = _tool().parse_args(argv)
    assert args.names == ["flagship_words", "q1_pricing_summary"]
    assert args.sf == ["0.001", "0.01"]


def test_sf_defaults_to_0_01():
    assert _tool().parse_args(["flagship_words"]).sf == ["0.01"]


@pytest.mark.parametrize(
    "argv", [[], ["--sf", "0.1"], ["flagship_words", "no_such_query"]]
)
def test_missing_or_unknown_names_are_usage_errors(argv, capsys):
    with pytest.raises(SystemExit) as exc:
        _tool().parse_args(argv)
    assert exc.value.code == 2
    assert "usage:" in capsys.readouterr().err
