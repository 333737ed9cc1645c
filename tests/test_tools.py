"""Command-line tools under ``tools/``: argument checks that must fail fast,
before a JVM starts, and the generated inventory staying in step with the
registry."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import dump_plans  # noqa: E402
import gen_operators_md  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def test_dump_plans_rejects_unknown_names_before_spark(monkeypatch, tmp_path, capsys):
    def no_spark(*_a, **_k):
        raise AssertionError("get_spark called before the names were checked")

    monkeypatch.setattr(dump_plans, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", [
        "dump_plans.py", "--out", str(tmp_path / "out"), "--suffix", "x",
        "q01_pricing_summary", "no_such_query", "nor_this",
    ])
    with pytest.raises(SystemExit) as exc:
        dump_plans.main()
    assert exc.value.code != 0
    err = capsys.readouterr().err
    assert "no_such_query" in err and "nor_this" in err
    assert "q01_pricing_summary" not in err
    assert not (tmp_path / "out").exists()


def test_operators_md_rows_match_the_registry():
    """OPERATORS.md lists every registered query with its oracle kind,
    bench flag, tags and module. The rows are compared as a set without
    their ``#`` cell: the order comes from the committed correctness
    rounds, which a new round reshuffles."""
    from spark_dba_spark import registry

    want = {
        gen_operators_md.row(name, spec)
        for name, spec in registry.all_specs().items()
    }
    have = {
        line.split(" | ", 1)[1].removesuffix(" |")
        for line in (ROOT / "OPERATORS.md").read_text().splitlines()
        if line.startswith("| ") and line.split(" | ", 1)[0][2:].isdigit()
    }
    assert have == want, (sorted(want - have)[:5], sorted(have - want)[:5])
