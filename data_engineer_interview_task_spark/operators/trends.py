"""The reference pipeline's operators, Spark-first.

Reference: ``/root/reference/dags/google_trends_to_bigquery.py`` (cited as
``W:<line>``) and its historical twin. The five pandas/Airflow stages become
composable functions over one lazy DataFrame lineage — no XCom JSON serde
(W:39-119), no collects, no joins or broadcasts, no Python UDFs: the whole
pipeline plans as one scan of its input and one hash exchange on
(country, week_start).

Input shape (`trends_wide`, FIXTURES.md §1.1): one row per country, one long
column per search term, values 0-100 — the post-serde shape of pytrends
``interest_by_region()`` (W:38).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: W:13 — the five fixed search terms (canonical copy in ``..constants``,
#: re-exported here for the public API).
from ..constants import DEFAULT_TERMS

FINAL_COLUMNS = ["country", "week_start", "week_end", "search_term", "interest"]


def melt_terms(
    wide: DataFrame,
    terms: tuple[str, ...] = DEFAULT_TERMS,
    id_col: str = "country",
) -> DataFrame:
    """Unpivot wide (country x term-columns) to long (country, search_term,
    interest).

    Reference: ``df.melt(id_vars=['index'], var_name='search_term',
    value_name='interest')`` at W:53 (the id column is literally named
    ``'index'`` there because XCom JSON serde drops the index name, W:50-61 —
    Spark has no index, so the country column is normal from the start).

    Spark primitive: native ``unpivot`` (SURVEY §2 row 8) — a narrow,
    shuffle-free transformation: each input row fans out to N output rows in
    place, so it scales linearly with no exchange.
    """
    return wide.unpivot(
        ids=[id_col],
        values=list(terms),
        variableColumnName="search_term",
        valueColumnName="interest",
    )


def transform_data(
    wide: DataFrame,
    week_start: str,
    week_end: str,
    terms: tuple[str, ...] = DEFAULT_TERMS,
) -> DataFrame:
    """W:45-67 ``transform_data``: melt -> constant date columns (W:59) ->
    rename (W:61) -> fixed projection (W:64), the last three as one
    ``select``.

    The reference's ``isin`` safety filter (W:54) is not repeated: the melt
    unpivots exactly ``terms``, so every ``search_term`` is one of them and
    the filter would only cost an analyzer pass and a plan ``Filter``.

    ``week_start``/``week_end`` are injected like the historical DAG
    (``H:19-20``) — never computed from "now" inside a query.
    """
    return melt_terms(wide, terms).select(
        "country",
        F.lit(week_start).alias("week_start"),
        F.lit(week_end).alias("week_end"),
        "search_term",
        "interest",
    )


def filter_same_interest_countries(
    df: DataFrame,
    n_terms: int = 5,
    keys: tuple[str, ...] = ("country", "week_start"),
    value: str = "interest",
    term: str = "search_term",
) -> DataFrame:
    """W:70-87 ``filtering_countries_with_same_interests``: drop countries
    where ALL search terms carry one identical interest value in a week.

    Exactly the reference's grouped form (SURVEY §2 rows 14-16), not the
    simplified predicate, so edge cases (<5 terms per country) hash-match:
    a ``keys`` group (country, week_start) is kept iff some ``value``
    group inside it has fewer than ``n_terms`` distinct ``term``s (W:76,
    W:79). Written as two window columns and a filter:

    1. ``size(collect_set(term))`` over (keys) ordered by ``value``
       DESC, in the RANGE frame of the current row — the rows sharing its
       value, i.e. its value group — counts the distinct terms per value
       group (W:76), marked when below ``n_terms``;
    2. ``max(marked)`` over (keys) — any marked group keeps the key group
       (W:82-85).

    Rows with a NULL key are dropped, as the reference's groupby +
    ``isin`` drops them. The reference runs one week per call; keying on
    ``week_start`` makes a multi-week frame filter each week as its own
    run would.

    The reference collects the country list to the driver and filters
    with ``isin``. Here nothing is collected, joined or broadcast: both
    windows partition on ``keys``, so one hash exchange on ``keys`` serves
    them, and none if the input is already clustered on ``keys``. Both
    also need only the sort (keys, value DESC), which is a prefix of
    ``rank_search_terms``'s sort, so after the rank they add no sort
    either — one per-partition sort instead of two, and one window pass
    per key group rather than per (key, value) group.
    """
    return _keep_mixed_interest(df, n_terms, keys, value, term).drop(_MARKED, _KEPT)


_MARKED = "__same_interest_marked"
_KEPT = "__same_interest_kept"


def _keep_mixed_interest(
    df: DataFrame,
    n_terms: int,
    keys: tuple[str, ...] = ("country", "week_start"),
    value: str = "interest",
    term: str = "search_term",
) -> DataFrame:
    """``filter_same_interest_countries`` with its two window columns
    (``_MARKED``, ``_KEPT``) left in place, for a caller whose next step is
    a projection anyway — one analyzer pass fewer than dropping them."""
    by_value = (
        Window.partitionBy(*keys)
        .orderBy(F.col(value).desc())
        .rangeBetween(Window.currentRow, Window.currentRow)
    )
    by_key = Window.partitionBy(*keys)
    keep = F.col(_KEPT)
    for k in keys:
        keep &= F.col(k).isNotNull()
    return (
        df.withColumn(_MARKED, F.size(F.collect_set(term).over(by_value)) < n_terms)
        .withColumn(_KEPT, F.max(_MARKED).over(by_key))
        .filter(keep)
    )


def rank_search_terms(
    df: DataFrame,
    keys: tuple[str, ...] = ("country", "week_start"),
    value: str = "interest",
    term: str = "search_term",
    last_term: str = "vpn",
) -> DataFrame:
    """W:90-112 ``rank_search_terms``: rank terms per (country, week_start)
    by descending interest with the verified deterministic tie-break.

    The reference sorts globally (W:103) then applies pandas
    ``rank(method='first')`` (W:106), which SURVEY §2 row 19 verified to be
    exactly ``row_number()`` over the total order: interest DESC,
    priority DESC (0 for ``last_term`` — vpn in the reference — and 1 for
    every other term, so it ranks LAST among ties, W:100), search_term
    ASC. The row-wise lambda at W:100 becomes a codegen'd CASE WHEN — no
    Python UDF. No global sort is needed: the window's per-partition sort
    subsumes it.

    All three orderBy keys are required — dropping any makes ranks
    nondeterministic across partitions (the #1 hash-mismatch risk).
    """
    last_priority = F.when(F.col(term) == last_term, 0).otherwise(1)
    w = Window.partitionBy(*keys).orderBy(
        F.col(value).desc(),
        last_priority.desc(),
        F.col(term).asc(),
    )
    return df.withColumn("ranking", F.row_number().over(w))


def trends_pipeline(
    wide: DataFrame,
    week_start: str,
    week_end: str,
    terms: tuple[str, ...] = DEFAULT_TERMS,
) -> DataFrame:
    """The full 5-stage reference pipeline (W:196) as ONE lazy lineage:
    extract is the caller's ``wide`` DataFrame; the sink (W:116-159) is
    ``sources.sinks.append_to_table``. Output schema matches the declared
    BigQuery schema at W:136-143 (dates stay strings; see SURVEY §1.2).

    The rank runs before the same-interest drop, the reverse of the
    reference's order. That is exact: the drop keeps or removes whole
    (country, week_start) groups, and ``row_number()`` inside a kept group
    does not depend on the other groups. It is also what makes the plan
    one scan and one exchange: the rank window's
    ``hashpartitioning(country, week_start)`` and its sort on
    (country, week_start, interest DESC, ...) already satisfy both filter
    windows, so they add neither an exchange nor a sort. The drop's two
    window columns are left to the final ``select``, which discards them.
    """
    long_df = transform_data(wide, week_start, week_end, terms)
    ranked = _keep_mixed_interest(rank_search_terms(long_df), len(terms))
    return ranked.select(*FINAL_COLUMNS, F.col("ranking").cast("int").alias("ranking"))
