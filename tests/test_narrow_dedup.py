"""r7 narrow-key dedup equivalence guards.

tp.relations_raw and q_hierarchy_edges dedup on NARROW numeric keys and
project the CURIE strings afterwards (guide §2.3). The bijection
argument relies on trunc7() reproducing lpad()'s >7-digit truncation —
a path no bench scale factor exercises (keys stay ≤7 digits) — so these
tests pin the equivalence on synthetic tables whose keys cross 10^7,
including colliding truncations; a property test draws such tables.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


@pytest.fixture(scope="module")
def wide_key_sf_dir(spark, tmp_path_factory):
    """A minimal sf_dir whose lineitem/part keys span 6..9 digits,
    with pairs engineered to collide after lpad-truncation
    (1234567 vs 12345678 both render identifier '1234567')."""
    d = tmp_path_factory.mktemp("widekeys")
    li = spark.createDataFrame(
        [
            # (partkey, suppkey, linenumber)
            (1234567, 55, 0),
            (12345678, 55, 0),       # identifier collides with row 1
            (12345678, 55, 3),       # duplicate after m3 (3 % 3 == 0)
            (12345671, 99999999, 1),  # m3=1: suppkey NOT lpad'd
            (12345671, 99999999, 2),  # m3=2: dropped by typedef filter
            (999, 88888888, 0),       # m3=0: suppkey lpad-truncated
            (999, 88888887, 0),       # distinct suppkey, same trunc? no
            (1000, 10000001, 0),
            (1000, 10000010, 0),      # trunc7 collides with row above
        ],
        "l_partkey long, l_suppkey long, l_linenumber int",
    )
    li.write.parquet(str(d / "lineitem.parquet"))
    p = spark.createDataFrame(
        [(r,) for r in (9, 1234567, 12345670, 12345671, 12345678, 1000)],
        "p_partkey long",
    )
    p.write.parquet(str(d / "part.parquet"))
    return str(d)


def _rows(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def test_relations_raw_narrow_dedup_matches_string_distinct(
    spark, wide_key_sf_dir
):
    from pyobo_spark.sources import tpch_adapter as tp

    narrow = _rows(tp.relations_raw(spark, wide_key_sf_dir))
    strings = _rows(tp.relations_raw_nodedup(spark, wide_key_sf_dir).distinct())
    assert narrow == strings
    # sanity: the truncation actually fired (two source keys collapsed)
    idents = {r[1] for r in narrow}
    assert "1234567" in idents


def test_q_hierarchy_edges_matches_operator_form(spark, wide_key_sf_dir):
    from pyobo_spark import queries as Q
    from pyobo_spark.operators import hierarchy
    from pyobo_spark.sources import tpch_adapter as tp

    bespoke = _rows(Q.QUERIES["hierarchy_edges"](spark, wide_key_sf_dir))
    operator = _rows(
        hierarchy.hierarchy_edges(
            tp.parents(spark, wide_key_sf_dir),
            tp.relations_raw_nodedup(spark, wide_key_sf_dir),
            prefix="fixp",
            include=(("BFO", "0000050"),),
            include_reversed=(("RO", "0002162"),),
        )
    )
    assert bespoke == operator
    assert len(bespoke) > 0
    # sanity: isa-leg truncation collision (12345670 and 12345678 share
    # child '1234567'; 12345670//10 == 12345678//10) collapsed to one row
    assert all(v == 1 for v in bespoke.values())


# 7-digit stems and keys that share them at 8 and 9 digits, so lpad's
# truncation to 7 characters collides across key widths
_STEMS = (1000000, 1234567, 9999999)
_KEY = st.one_of(
    st.integers(min_value=0, max_value=120),
    st.sampled_from(_STEMS),
    st.builds(lambda s, d: s * 10 + d, st.sampled_from(_STEMS),
              st.integers(0, 9)),
    st.builds(lambda s, d: s * 100 + d, st.sampled_from(_STEMS),
              st.integers(0, 99)),
)
_LINEITEM = st.lists(
    st.tuples(_KEY, _KEY, st.integers(min_value=0, max_value=7)),
    min_size=2, max_size=25,
)


@given(lineitem=_LINEITEM, part=st.lists(_KEY, min_size=2, max_size=15),
       dup=st.integers(min_value=0, max_value=5))
@settings(max_examples=8, deadline=None)
def test_narrow_dedup_equals_string_distinct(
    spark, tmp_path_factory, lineitem, part, dup
):
    """Both narrow-key dedups equal string `distinct`, as row multisets,
    on drawn lineitem/part tables whose keys cross 10^7 with colliding
    truncations and repeated rows, read from 2-3 files each and deduped
    over 8 shuffle partitions."""
    import pandas as pd

    from pyobo_spark import queries as Q
    from pyobo_spark.operators import hierarchy
    from pyobo_spark.sources import tpch_adapter as tp

    d = tmp_path_factory.mktemp("narrow")
    # the first `dup` rows of each table appear twice; rows are dealt
    # round-robin into up to 3 files, so every scan has >= 2 partitions
    tables = {
        "lineitem": pd.DataFrame(
            lineitem + lineitem[:dup],
            columns=["l_partkey", "l_suppkey", "l_linenumber"],
        ),
        "part": pd.DataFrame({"p_partkey": part + part[:dup]}),
    }
    for name, pdf in tables.items():
        for i in range(3):
            if len(pdf.iloc[i::3]):
                spark.createDataFrame(pdf.iloc[i::3]).coalesce(1).write.mode(
                    "append"
                ).parquet(str(d / f"{name}.parquet"))
    sf_dir = str(d)
    assert tp.load(spark, sf_dir, "lineitem").rdd.getNumPartitions() >= 2
    assert tp.load(spark, sf_dir, "part").rdd.getNumPartitions() >= 2

    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 8
        assert _rows(tp.relations_raw(spark, sf_dir)) == _rows(
            tp.relations_raw_nodedup(spark, sf_dir).distinct()
        )
        assert _rows(Q.QUERIES["hierarchy_edges"](spark, sf_dir)) == _rows(
            hierarchy.hierarchy_edges(
                tp.parents(spark, sf_dir),
                tp.relations_raw_nodedup(spark, sf_dir),
                prefix="fixp",
                include=(("BFO", "0000050"),),
                include_reversed=(("RO", "0002162"),),
            )
        )
    finally:
        spark.conf.set(coalesce, prev)
