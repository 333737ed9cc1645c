"""Command-line tools under ``tools/``: argument checks that must fail fast,
before a JVM starts."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import dump_plans  # noqa: E402


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
