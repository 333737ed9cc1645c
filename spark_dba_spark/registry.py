"""Central query registry.

Every operator the engine implements registers a :class:`QuerySpec` here —
one named query (builder over (spark, sf_dir)) plus, when SQL-expressible,
the DuckDB oracle SQL the driver uses as the correctness gate
(CORRECTNESS_r{N}.json). ``__spark_entry__.py``, ``bench.py`` and the pytest
parity suite all consume this registry, so there is exactly one source of
truth for "what the engine can do" (SURVEY.md §2 inventory).

The driver records oracle rows for the first ``WINDOW`` queries only, so the
order is derived from its committed ``CORRECTNESS_r{N}.json`` rows: first the
non-bench full-oracle queries whose latest row is not green (padded with the
stalest greens), then the bench set, then the rest of that backlog, then all
other queries by latest driver round, oldest first. Within a class,
registration order holds.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None = None  # DuckDB SQL; None → driver does rows-only check
    tags: tuple[str, ...] = ()
    bench: bool = False  # part of the headline bench set (bench.py)
    doc: str = ""


WINDOW = 50  # the driver records oracle rows for the first 50 queries only
_ROOT = Path(__file__).resolve().parent.parent
_ROUND = re.compile(r"_r(\d+)")


def artifact_round(path: str | Path) -> int:
    """Round number of a ``CORRECTNESS[_LOCAL]_r{N}[_suffix].json`` artifact."""
    return int(_ROUND.search(Path(path).stem).group(1))


def _green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match", True)  # rows-only rows carry no hash
        and row.get("err") is None
    )


def driver_rows(root: Path = _ROOT) -> dict[str, tuple[int, bool]]:
    """Each query's latest driver row as ``(round, is_green)``."""
    latest: dict[str, tuple[int, bool]] = {}
    for f in sorted(root.glob("CORRECTNESS_r[0-9]*.json"), key=artifact_round):
        rnd = artifact_round(f)
        for name, row in json.loads(f.read_text()).items():
            latest[name] = (rnd, _green(row))
    return latest


def prioritize(
    specs: dict[str, QuerySpec], latest: dict[str, tuple[int, bool]]
) -> dict[str, QuerySpec]:
    """Order ``specs`` for the driver's window; see the module docstring."""
    bench = [n for n, s in specs.items() if s.bench]
    oracled = [n for n, s in specs.items() if s.oracle is not None and not s.bench]
    green = {n for n, (_, ok) in latest.items() if ok}
    fresh = [n for n in oracled if n not in green]
    stalest = sorted((n for n in oracled if n in green), key=lambda n: latest[n][0])
    nfresh = WINDOW - len(bench)
    ordered = (fresh + stalest)[:nfresh] + bench + fresh[nfresh:]
    placed = set(ordered)
    rest = [n for n in specs if n not in placed]
    rest.sort(key=lambda n: latest.get(n, (0,))[0])
    return {n: specs[n] for n in ordered + rest}


def _collect() -> dict[str, QuerySpec]:
    # Imported lazily so a bug in one operator family can't break the rest
    # of the registry at import time — but surface loudly, not silently.
    import importlib

    specs: dict[str, QuerySpec] = {}
    errors: list[str] = []
    for mod_name in (
        "spark_dba_spark.operators.relational",
        "spark_dba_spark.operators.dedup",
        "spark_dba_spark.operators.similarity",
        "spark_dba_spark.operators.text",
        "spark_dba_spark.operators.multimodal",
        "spark_dba_spark.operators.temporal",
        "spark_dba_spark.operators.udf_surface",
        "spark_dba_spark.operators.curation",
        "spark_dba_spark.operators.analytics",
        "spark_dba_spark.streaming.batch_equiv",
    ):
        try:
            mod = importlib.import_module(mod_name)
        except Exception as exc:  # pragma: no cover - import-time guard
            errors.append(f"{mod_name}: {exc!r}")
            continue
        for spec in getattr(mod, "SPECS", ()):
            if spec.name in specs:
                raise ValueError(f"duplicate query name: {spec.name}")
            specs[spec.name] = spec
    if errors:
        import sys

        print(f"[spark_dba_spark.registry] module errors: {errors}", file=sys.stderr)
    return specs


_CACHE: dict[str, QuerySpec] | None = None


def all_specs(refresh: bool = False) -> dict[str, QuerySpec]:
    global _CACHE
    if _CACHE is None or refresh:
        _CACHE = prioritize(_collect(), driver_rows())
    return _CACHE


def queries() -> dict[str, Builder]:
    return {name: spec.builder for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }


def bench_specs() -> dict[str, QuerySpec]:
    return {name: s for name, s in all_specs().items() if s.bench}
