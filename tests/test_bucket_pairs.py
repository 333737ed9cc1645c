"""The in-bucket pair expander behind every inverted-index and LSH
candidate stage.

``dedup.bucket_pairs`` is checked against ``itertools.combinations`` over
random sorted buckets (with an empty and a singleton bucket in every
example), for carried ``keep`` columns, and for struct items under renamed
outputs. A source guard keeps the expansion in that one function, and the
band-sweep kernel's shipped 25×4 config is tied to the production LSH
candidate count.
"""

from __future__ import annotations

from collections import Counter
from itertools import combinations
from pathlib import Path

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import SF_DIR
from spark_dba_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_R,
    _band_sweep,
    _minhash_stages,
    bucket_pairs,
)

PKG = Path(__file__).resolve().parent.parent / "spark_dba_spark"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    buckets=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=40),
            min_size=0,
            max_size=12,
            unique=True,
        ).map(sorted),
        min_size=1,
        max_size=8,
    )
)
def test_pairs_match_combinations(spark, buckets):
    # every example also holds an empty and a singleton bucket: no rows
    buckets = buckets + [[], [7]]
    df = spark.createDataFrame(
        list(enumerate(buckets)), "k int, ids array<long>"
    )
    got = bucket_pairs(df, keep=("k",))
    assert got.columns == ["k", "doc_a", "doc_b"]
    rows = [tuple(r) for r in got.collect()]
    want = [
        (k, a, b) for k, ids in enumerate(buckets) for a, b in combinations(ids, 2)
    ]
    assert Counter(rows) == Counter(want)
    assert all(a < b for _, a, b in rows)
    per_bucket = Counter(k for k, _, _ in rows)
    for k, ids in enumerate(buckets):
        n = len(ids)
        assert per_bucket[k] == n * (n - 1) // 2, (k, ids)


def test_keep_columns_ride_along(spark):
    df = spark.createDataFrame(
        [(50, 2, "x", [1, 4, 9]), (25, 4, "y", [2, 3])],
        "bands int, rpb int, tag string, ids array<long>",
    )
    got = bucket_pairs(df, keep=("bands", "rpb", "tag"))
    assert got.columns == ["bands", "rpb", "tag", "doc_a", "doc_b"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (25, 4, "y", 2, 3),
        (50, 2, "x", 1, 4),
        (50, 2, "x", 1, 9),
        (50, 2, "x", 4, 9),
    ]


def test_struct_items_and_renamed_outputs(spark):
    df = spark.createDataFrame(
        [([(1, 10), (3, 30), (8, 80)], ["arxiv", "cc", "wiki"])],
        "ds array<struct<doc_id: long, simhash: long>>, srcs array<string>",
    )
    got = bucket_pairs(df, ids="ds", a="a", b="b")
    assert got.columns == ["a", "b"]
    assert sorted((tuple(r["a"]), tuple(r["b"])) for r in got.collect()) == [
        ((1, 10), (3, 30)),
        ((1, 10), (8, 80)),
        ((3, 30), (8, 80)),
    ]
    named = bucket_pairs(df, ids="srcs", a="source_a", b="source_b")
    assert named.columns == ["source_a", "source_b"]
    assert sorted(tuple(r) for r in named.collect()) == [
        ("arxiv", "cc"),
        ("arxiv", "wiki"),
        ("cc", "wiki"),
    ]


def test_pair_expansion_is_spelled_once():
    """Every operator that enumerates in-bucket pairs calls
    ``bucket_pairs``: its ``slice(ids, i + 2, size(ids) - i - 1)`` text
    occurs once in the package."""
    hits = [
        (path.relative_to(PKG), text.count("i + 2, size("))
        for path in sorted(PKG.rglob("*.py"))
        if "i + 2, size(" in (text := path.read_text())
    ]
    assert hits == [(Path("operators/dedup.py"), 1)], hits


def test_band_sweep_shipped_config_is_the_production_lsh(spark):
    """The sweep kernel's 25×4 row is the production banding, so its
    distinct candidates are ``_minhash_stages``' candidate pairs."""
    row = _band_sweep(spark, SF_DIR, [(MINHASH_BANDS, MINHASH_R)]).collect()
    assert len(row) == 1
    _, _, cand = _minhash_stages(spark, SF_DIR)
    n_cand = cand.count()
    assert n_cand > 0
    assert row[0]["cand_pairs_distinct"] == n_cand
    assert row[0]["n_verified"] <= row[0]["truth_n"] <= n_cand
