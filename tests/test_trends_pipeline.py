"""Golden tests for the reference pipeline semantics on the trends-shaped
fixture (FIXTURES.md §1.1) — pins the two subtleties SURVEY.md §2 verified
against real pandas:

- rows 14-16: a country is dropped iff ALL terms share one identical
  interest value (all-37s drops, not just all-0s);
- row 19: ranking ties put vpn LAST, others alphabetical.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineer_interview_task_spark.operators import trends

WIDE_ROWS = [
    # (country, vpn, hack, cyber, security, wifi)
    ("AllSame37", 37, 37, 37, 37, 37),  # DROPPED (not just zeros!)
    ("AllZero", 0, 0, 0, 0, 0),  # DROPPED
    ("FourSame", 5, 9, 5, 5, 5),  # KEPT (vpn=5,hack=9,cyber=5,sec=5,wifi=5)
    ("Mixed", 10, 10, 0, 0, 0),  # KEPT; vpn ties hack at top
    ("Plain", 80, 60, 40, 20, 10),  # KEPT; strictly descending
]

WEEK = ("2021-01-04", "2021-01-10")


@pytest.fixture(scope="module")
def wide(spark):
    return spark.createDataFrame(
        WIDE_ROWS, ["country", "vpn", "hack", "cyber", "security", "wifi"]
    )


def _ranked(spark, wide):
    out = trends.trends_pipeline(wide, *WEEK)
    rows = out.collect()
    return {
        (r.country, r.search_term): (r.interest, r.ranking) for r in rows
    }, rows


def test_same_interest_countries_dropped(spark, wide):
    got, rows = _ranked(spark, wide)
    countries = {r.country for r in rows}
    assert countries == {"FourSame", "Mixed", "Plain"}


def test_schema_matches_sink(spark, wide):
    out = trends.trends_pipeline(wide, *WEEK)
    assert out.columns == [
        "country",
        "week_start",
        "week_end",
        "search_term",
        "interest",
        "ranking",
    ]


def test_four_same_tie_break_vpn_last(spark, wide):
    got, _ = _ranked(spark, wide)
    # hack=9 wins; at interest 5 the tie-break is alphabetical with vpn LAST
    assert got[("FourSame", "hack")] == (9, 1)
    assert got[("FourSame", "cyber")] == (5, 2)
    assert got[("FourSame", "security")] == (5, 3)
    assert got[("FourSame", "wifi")] == (5, 4)
    assert got[("FourSame", "vpn")] == (5, 5)


def test_mixed_tie_at_top_vpn_second(spark, wide):
    got, _ = _ranked(spark, wide)
    assert got[("Mixed", "hack")] == (10, 1)
    assert got[("Mixed", "vpn")] == (10, 2)
    assert got[("Mixed", "cyber")] == (0, 3)
    assert got[("Mixed", "security")] == (0, 4)
    assert got[("Mixed", "wifi")] == (0, 5)


def test_plain_descending(spark, wide):
    got, _ = _ranked(spark, wide)
    order = ["vpn", "hack", "cyber", "security", "wifi"]
    for term, rank in zip(order, [1, 2, 3, 4, 5]):
        assert got[("Plain", term)][1] == rank


def test_week_constants_broadcast(spark, wide):
    _, rows = _ranked(spark, wide)
    assert all(r.week_start == WEEK[0] and r.week_end == WEEK[1] for r in rows)


def test_melt_shape(spark, wide):
    long_df = trends.melt_terms(wide)
    assert long_df.columns == ["country", "search_term", "interest"]
    assert long_df.count() == 5 * len(WIDE_ROWS)


def test_partial_country_kept(spark):
    # a country with <5 term rows, all identical -> still KEPT (its single
    # value-group has <5 distinct terms): the literal W:76-85 form, not the
    # "all identical" simplification
    wide = spark.createDataFrame(
        [("OnlyTwo", 3, 3)], ["country", "vpn", "hack"]
    )
    long_df = trends.transform_data(wide, *WEEK, terms=("vpn", "hack"))
    kept = trends.filter_same_interest_countries(long_df, n_terms=5)
    assert kept.count() == 2


@contextmanager
def _arrow_pyspark(spark, enabled: bool):
    """Run the body with ``spark.sql.execution.arrow.pyspark.enabled`` set
    to ``enabled``, restoring the session's value afterwards."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, str(enabled).lower())
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _pytrends_frame():
    """The raw ``interest_by_region()`` shape: countries in an index named
    geoName, a float term column with a NaN cell, and pytrends' isPartial."""
    import pandas as pd

    return pd.DataFrame(
        {
            "vpn": [37, 5, 80],
            "hack": [37, 9, 60],
            "cyber": [37, 5, 40],
            "security": [37, 5, 20],
            "wifi": [37.0, 5.0, float("nan")],
            "isPartial": [False, False, True],
        },
        index=pd.Index(["AllSame37", "FourSame", "Plain"], name="geoName"),
    )


def test_ingest_wide_matrix_from_pytrends_shape(spark):
    """The live-ingestion seam (reference W:36-38 analog): a pandas frame
    in the raw interest_by_region shape — countries in a named index, an
    extra isPartial column, a NaN cell — promotes to the declared schema
    and runs the full pipeline to the same golden answers."""
    from data_engineer_interview_task_spark.sources import (
        ingest_wide_matrix,
        run_trends_ingest,
        wide_matrix_schema,
    )

    pdf = _pytrends_frame()
    wide = ingest_wide_matrix(spark, pdf)
    assert wide.schema == wide_matrix_schema()
    assert wide.count() == 3
    # NaN became a proper SQL NULL, not a float sentinel
    assert wide.filter("country = 'Plain' AND wifi IS NULL").count() == 1

    ranked = run_trends_ingest(spark, pdf, *WEEK)
    got = {
        (r.country, r.search_term): (r.interest, r.ranking)
        for r in ranked.collect()
    }
    countries = {c for c, _ in got}
    assert countries == {"FourSame", "Plain"}  # AllSame37 dropped (golden)
    assert got[("FourSame", "hack")] == (9, 1)
    assert got[("FourSame", "vpn")] == (5, 5)  # vpn LAST among the 5-ties
    assert got[("Plain", "vpn")] == (80, 1)


def test_ingest_wide_matrix_missing_term_raises(spark):
    import pandas as pd
    import pytest as _pytest

    from data_engineer_interview_task_spark.sources import ingest_wide_matrix

    pdf = pd.DataFrame({"country": ["X"], "vpn": [1]})
    with _pytest.raises(ValueError, match="missing term columns"):
        ingest_wide_matrix(spark, pdf)


def test_ingest_with_arrow_off_is_a_local_relation(spark):
    """A session with Arrow off (the default without ``prep_session``)
    still ingests a NaN-bearing matrix, keeps integers above 2^53 exact,
    and executes it as a ``LocalTableScan`` — not a pickled Python RDD,
    whose scan would start Python workers."""
    import pandas as pd

    from data_engineer_interview_task_spark.sources import ingest_wide_matrix

    big = 2**53 + 1
    pdf = pd.concat(
        [
            _pytrends_frame(),
            pd.DataFrame(
                {"vpn": [big], "hack": [1], "cyber": [2], "security": [3],
                 "wifi": [4.0], "isPartial": [False]},
                index=pd.Index(["Huge"], name="geoName"),
            ),
        ]
    )
    with _arrow_pyspark(spark, False):
        wide = ingest_wide_matrix(spark, pdf)
        got = {r.country: r for r in wide.collect()}
        executed = wide._jdf.queryExecution().executedPlan().toString()
    assert got["Plain"].wifi is None
    assert got["Huge"].vpn == big
    assert got["AllSame37"].wifi == 37
    assert "LocalTableScan" in executed
    assert "ExistingRDD" not in executed


def test_missing_region_name_dropped_at_ingest(spark):
    """A row whose region name is missing (None in the index, NaN in an id
    column) never reaches the ranking, as the reference's groupby (W:76)
    and ``isin`` (W:85) drop it: the output equals the run without it."""
    import pandas as pd

    from data_engineer_interview_task_spark.sources import run_trends_ingest

    def rows(pdf):
        return sorted(tuple(r) for r in run_trends_ingest(spark, pdf, *WEEK).collect())

    clean = _pytrends_frame()
    # a copy of the kept FourSame row, unnamed
    unnamed = clean.iloc[[1]].set_axis(pd.Index([None], name="geoName"))
    with_none = pd.concat([clean, unnamed])
    with_nan = with_none.reset_index().rename(columns={"geoName": "country"})
    with_nan.loc[3, "country"] = float("nan")
    assert rows(with_none) == rows(with_nan) == rows(clean)


def test_ingest_round_trips_pandas_values(spark):
    """Property: integer, NaN and above-2^53 cells come back from
    ``ingest_wide_matrix`` exactly (NaN as NULL), for index- and
    column-shaped input, with Arrow on and with Arrow off."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from data_engineer_interview_task_spark.sources import ingest_wide_matrix

    terms = trends.DEFAULT_TERMS
    cell = st.one_of(
        st.none(), st.integers(0, 100), st.integers(2**53 + 1, 2**63 - 1)
    )
    matrix = st.lists(
        st.tuples(*[cell] * len(terms)), min_size=1, max_size=6
    )

    def column(values):
        # the dtype pandas would hold: int64 when complete, float64 with NaN
        # when every value is exact as a float, else object
        if all(v is not None for v in values):
            return pd.Series(values, dtype="int64")
        if all(v is None or v <= 2**53 for v in values):
            return pd.Series([float("nan") if v is None else float(v) for v in values])
        return pd.Series([float("nan") if v is None else v for v in values], dtype=object)

    @given(matrix, st.booleans(), st.booleans())
    @settings(max_examples=15, deadline=None)
    def check(cells, index_shaped, arrow):
        names = [f"r{i}" for i in range(len(cells))]
        pdf = pd.DataFrame({t: column([row[j] for row in cells]) for j, t in enumerate(terms)})
        if index_shaped:
            pdf.index = pd.Index(names, name="geoName")
        else:
            pdf.insert(0, "country", names)
        with _arrow_pyspark(spark, arrow):
            got = sorted(tuple(r) for r in ingest_wide_matrix(spark, pdf).collect())
        assert got == sorted((n, *row) for n, row in zip(names, cells))

    check()


def test_multi_week_frame_filters_each_week_as_its_own_run(spark):
    """Property: filter + rank over the union of per-week transform_data
    frames equals the union of the single-week pipelines — an all-same
    week is dropped even when the same country varies in another week."""
    from functools import reduce

    from hypothesis import given, settings, strategies as st

    weeks = [
        ("2021-01-04", "2021-01-10"),
        ("2021-01-11", "2021-01-17"),
        ("2021-01-18", "2021-01-24"),
    ]
    cols = ["country", *trends.DEFAULT_TERMS]
    n = len(trends.DEFAULT_TERMS)
    interests = st.one_of(
        st.integers(0, 2).map(lambda v: (v,) * n),  # an all-same row
        st.tuples(*[st.integers(0, 2)] * n),
    )
    week_rows = st.dictionaries(
        st.sampled_from(["A", "B", "C"]), interests, min_size=1, max_size=3
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    @given(st.lists(week_rows, min_size=2, max_size=len(weeks)))
    @settings(max_examples=12, deadline=None)
    def check(per_week):
        wides = [
            (spark.createDataFrame([(c, *v) for c, v in w.items()], cols), wk)
            for w, wk in zip(per_week, weeks)
        ]
        long_df = reduce(
            DataFrame.unionByName,
            [trends.transform_data(w, *wk) for w, wk in wides],
        )
        multi = trends.rank_search_terms(
            trends.filter_same_interest_countries(long_df)
        ).select(
            *trends.FINAL_COLUMNS, F.col("ranking").cast("int").alias("ranking")
        )
        single = reduce(
            DataFrame.unionByName,
            [trends.trends_pipeline(w, *wk) for w, wk in wides],
        )
        assert rows(multi) == rows(single)

    check()


def _grouped_filter(df: DataFrame, n_terms: int) -> DataFrame:
    """The reference's grouped form of the same-interest drop (W:76-85):
    countDistinct + HAVING, a distinct keep-list, and a semi join in place
    of the collect + isin."""
    keys = ["country", "week_start"]
    keep = (
        df.groupBy(*keys, "interest")
        .agg(F.countDistinct("search_term").alias("n_distinct_terms"))
        .filter(F.col("n_distinct_terms") < n_terms)
        .select(*keys)
        .distinct()
    )
    return df.join(keep, keys, "left_semi")


def test_windowed_filter_matches_grouped_form(spark):
    """Differential property: the windowed same-interest drop equals the
    grouped form on long frames with duplicate (country, week_start) rows,
    NULL interests and countries, fewer terms than ``n_terms`` and several
    weeks — and ranking before or after the drop gives the same rows."""
    from collections import Counter

    from hypothesis import example, given, settings, strategies as st

    schema = "country string, week_start string, search_term string, interest long"
    terms = trends.DEFAULT_TERMS
    values = st.one_of(st.none(), st.integers(0, 2))
    # one wide row: a (country, week) and a value for a subset of the terms,
    # either one value for all of them or one each
    wide_row = st.tuples(
        st.sampled_from(["A", "B", None]),
        st.sampled_from(["2021-01-04", "2021-01-11"]),
        st.lists(st.sampled_from(terms), min_size=1, max_size=len(terms), unique=True),
        st.one_of(values.map(lambda v: [v] * len(terms)),
                  st.lists(values, min_size=len(terms), max_size=len(terms))),
    )
    all_1_then_all_2 = [
        ("A", "2021-01-04", list(terms), [1] * len(terms)),
        ("A", "2021-01-04", list(terms), [2] * len(terms)),
    ]

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    @given(st.lists(wide_row, min_size=1, max_size=6), st.sampled_from([3, 5, 6]))
    @example(all_1_then_all_2, 5)
    @settings(max_examples=12, deadline=None)
    def check(wide_rows, n_terms):
        long_df = spark.createDataFrame(
            [(c, wk, t, v) for c, wk, ts, vs in wide_rows for t, v in zip(ts, vs)],
            schema,
        )
        windowed = trends.filter_same_interest_countries(long_df, n_terms)
        assert rows(windowed) == rows(_grouped_filter(long_df, n_terms))
        if wide_rows == all_1_then_all_2:
            assert not rows(windowed)
        assert rows(
            trends.filter_same_interest_countries(
                trends.rank_search_terms(long_df), n_terms
            )
        ) == rows(trends.rank_search_terms(windowed))

    check()
