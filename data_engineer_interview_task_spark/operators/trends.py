"""The reference pipeline's operators, Spark-first.

Reference: ``/root/reference/dags/google_trends_to_bigquery.py`` (cited as
``W:<line>``) and its historical twin. The five pandas/Airflow stages become
composable functions over one lazy DataFrame lineage — no XCom JSON serde
(W:39-119), no collects, no Python UDFs.

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
    """W:45-67 ``transform_data``: melt -> isin safety filter (W:54) ->
    constant date columns (W:59) -> rename (W:61) -> fixed projection (W:64).

    ``week_start``/``week_end`` are injected like the historical DAG
    (``H:19-20``) — never computed from "now" inside a query.
    """
    long_df = melt_terms(wide, terms)
    return (
        long_df.filter(F.col("search_term").isin(*terms))
        .withColumn("week_start", F.lit(week_start))
        .withColumn("week_end", F.lit(week_end))
        .select(*FINAL_COLUMNS)
    )


def filter_same_interest_countries(df: DataFrame, n_terms: int = 5) -> DataFrame:
    """W:70-87 ``filtering_countries_with_same_interests``: drop countries
    where ALL search terms carry one identical interest value in a week.

    Implemented exactly as the reference's grouped form (SURVEY §2 rows
    14-16), not the simplified predicate, so edge cases (<5 terms per
    country) hash-match:

    1. group by (country, week_start, interest), count **distinct**
       search_terms (W:76);
    2. HAVING count < n_terms (W:79);
    3. keep base rows whose (country, week_start) appears in any such
       group (W:82-85).

    The reference runs one week per call; keying on ``week_start`` makes
    a multi-week frame filter each week as its own run would (without
    it, an all-same week survives when the country varies in another).

    The reference collects the country list to the driver and filters with
    ``isin`` — at scale that's a driver bottleneck; the distributed
    equivalent is a **left-semi join**, which AQE turns into a broadcast
    hash join when the keep-list is small (it is: one row per country
    and week).
    """
    keep = (
        df.groupBy("country", "week_start", "interest")
        .agg(F.countDistinct("search_term").alias("n_distinct_terms"))
        .filter(F.col("n_distinct_terms") < n_terms)
        .select("country", "week_start")
        .distinct()
    )
    return df.join(F.broadcast(keep), ["country", "week_start"], "left_semi")


def rank_search_terms(df: DataFrame) -> DataFrame:
    """W:90-112 ``rank_search_terms``: rank terms per (country, week_start)
    by descending interest with the verified deterministic tie-break.

    The reference sorts globally (W:103) then applies pandas
    ``rank(method='first')`` (W:106), which SURVEY §2 row 19 verified to be
    exactly ``row_number()`` over the total order: interest DESC,
    vpn-priority DESC (non-vpn=1 before vpn=0, so vpn ranks LAST among
    ties, W:100), search_term ASC. The row-wise lambda at W:100 becomes a
    codegen'd CASE WHEN — no Python UDF. No global sort is needed: the
    window's per-partition sort subsumes it.

    All three orderBy keys are required — dropping any makes ranks
    nondeterministic across partitions (the #1 hash-mismatch risk).
    """
    vpn_priority = F.when(F.col("search_term") == "vpn", 0).otherwise(1)
    w = Window.partitionBy("country", "week_start").orderBy(
        F.col("interest").desc(),
        vpn_priority.desc(),
        F.col("search_term").asc(),
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
    """
    long_df = transform_data(wide, week_start, week_end, terms)
    kept = filter_same_interest_countries(long_df, n_terms=len(terms))
    ranked = rank_search_terms(kept)
    return ranked.select(*FINAL_COLUMNS, F.col("ranking").cast("int").alias("ranking"))
