"""Properties of the driver-window order: the external driver records
correctness rows for the first ``registry.WINDOW`` registered queries only,
so ``registry.prioritize`` decides which queries get checked each round."""

from __future__ import annotations

import dataclasses
import json
import shutil
from pathlib import Path

from spark_dba_spark import registry

REPO = Path(__file__).resolve().parent.parent
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED = {**GREEN, "rows_match": False}


def _write_round(root: Path, rnd: int, rows: dict[str, dict]) -> None:
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def _assert_window(specs, latest) -> list[str]:
    """Check every window property of ``prioritize(specs, latest)``."""
    order = list(registry.prioritize(specs, latest))
    assert sorted(order) == sorted(specs)
    bench = [n for n, s in specs.items() if s.bench]
    nfresh = registry.WINDOW - len(bench)
    assert order[nfresh : registry.WINDOW] == bench, "bench set must close the window"
    head = order[:nfresh]
    assert all(specs[n].oracle is not None and not specs[n].bench for n in head)
    green = {n for n, (_, ok) in latest.items() if ok}
    backlog = [n for n in specs if n not in green and n not in bench and specs[n].oracle]
    # Non-green full-oracle queries first, in registration order; greens
    # pad only once that backlog is drained, stalest first.
    assert head[: len(backlog)] == backlog[:nfresh]
    padded = [latest[n][0] for n in head[len(backlog) :]]
    assert padded == sorted(padded)
    rest = order[registry.WINDOW :]
    leftover = backlog[nfresh:]
    assert rest[: len(leftover)] == leftover, "backlog must follow the window"
    if padded:
        waiting = [latest[n][0] for n in rest if n in green and specs[n].oracle]
        assert max(padded) <= min(waiting, default=max(padded))
    rounds = [latest.get(n, (0,))[0] for n in rest[len(leftover) :]]
    assert rounds == sorted(rounds), "the most recently checked go last"
    return order


def test_window_shape_and_rotation_policy():
    specs = registry.all_specs()
    assert len([s for s in specs.values() if s.bench]) == 14
    order = _assert_window(registry._collect(), registry.driver_rows())
    assert list(specs) == order


def test_remaining_backlog_queued_right_after_window():
    """Never-recorded queries that miss the window sit right after it."""
    latest = registry.driver_rows()
    order = list(registry.all_specs())
    late = [n for n in order[registry.WINDOW :] if n not in latest]
    assert order[registry.WINDOW : registry.WINDOW + len(late)] == late


def test_green_round_needs_no_code_change(tmp_path):
    """A new driver round that greens the whole window re-derives the next
    one: the leftover backlog moves in and the stalest greens pad it."""
    for f in REPO.glob("CORRECTNESS_r[0-9]*.json"):
        shutil.copy(f, tmp_path)
    specs = registry._collect()
    latest = registry.driver_rows(tmp_path)
    window = list(registry.prioritize(specs, latest))[: registry.WINDOW]
    rnd = max((r for r, _ in latest.values()), default=0) + 1
    _write_round(tmp_path, rnd, {n: GREEN for n in window})
    latest = registry.driver_rows(tmp_path)
    assert latest[window[0]] == (rnd, True)
    order = _assert_window(specs, latest)
    assert not set(order[:36]) & set(window), "a green window rotates out"


def test_without_artifacts_registration_order_fills_window(tmp_path):
    specs = registry._collect()
    assert registry.driver_rows(tmp_path) == {}
    order = _assert_window(specs, {})
    assert order[:36] == [n for n, s in specs.items() if s.oracle and not s.bench][:36]


def test_red_latest_row_reenters_window(tmp_path):
    specs = registry._collect()
    last = [n for n, s in specs.items() if not s.bench][-1]
    _write_round(tmp_path, 99, {n: GREEN for n in specs})
    _write_round(tmp_path, 100, {last: {**GREEN, "err": "boom"}})
    latest = registry.driver_rows(tmp_path)
    assert latest[last] == (100, False), "rounds are read in numeric order"
    assert _assert_window(specs, latest)[0] == last


def test_rows_only_query_never_takes_a_fresh_slot(tmp_path):
    specs = registry._collect()
    first = next(n for n, s in specs.items() if not s.bench)
    specs[first] = dataclasses.replace(specs[first], oracle=None)
    _write_round(tmp_path, 1, {n: GREEN for n in specs if n != first})
    _write_round(tmp_path, 2, {first: RED})
    order = _assert_window(specs, registry.driver_rows(tmp_path))
    assert first not in order[: registry.WINDOW]


def test_local_ledgers_cover_full_registry():
    """Freeze-then-verify (VERDICT r7 #3): every committed
    CORRECTNESS_LOCAL_r{N} artifact of the newest round must have exactly
    one row per registered query — an operator that lands after the final
    hostile sweep trips this test until the sweeps are regenerated at HEAD.
    Older rounds legitimately ledger the smaller registries they shipped
    with."""
    assert registry.artifact_round("CORRECTNESS_LOCAL_r100.json") == 100
    assert registry.artifact_round("CORRECTNESS_LOCAL_r14_sf01.json") == 14
    specs = registry.all_specs()
    arts = list(REPO.glob("CORRECTNESS_LOCAL_r[0-9]*.json"))
    newest_round = max(map(registry.artifact_round, arts), default=None)
    for f in arts:
        if registry.artifact_round(f) != newest_round:
            continue
        rows = json.loads(f.read_text())
        missing = sorted(set(specs) - set(rows))
        extra = sorted(set(rows) - set(specs))
        assert not missing and not extra, (
            f"{f.name} out of sync with registry: "
            f"missing={missing[:5]} extra={extra[:5]} "
            f"(ledger {len(rows)} vs registry {len(specs)}) — regenerate "
            "the hostile sweeps at HEAD; nothing registers after the "
            "final sweep"
        )
