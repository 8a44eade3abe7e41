"""DuckDB references the benchmark checks the package's outputs against."""

from __future__ import annotations

import re
from decimal import Decimal

TREND_COLUMNS = ("country", "week_start", "week_end", "search_term", "interest", "ranking")


def trends_reference_sql(source: str, terms: tuple[str, ...]) -> str:
    """The reference pipeline W:45-112 in DuckDB, keyed per (region, week):
    melt, drop region-weeks whose terms all carry one value, rank with the
    vpn-last tie-break. ``source`` is a relation with columns
    ``(country, week_start, week_end, <terms>)``. Same shape as the
    ``trends_pipeline_synthetic`` oracle in ``__spark_entry__.oracle_sql``:
    the melt is a cross join with the term list."""
    values = ", ".join(f"('{t}')" for t in terms)
    pick = " ".join(f"WHEN '{t}' THEN w.\"{t}\"" for t in terms)
    return f"""
WITH terms(search_term) AS (VALUES {values}),
long AS (
  SELECT w.country, w.week_start, w.week_end, t.search_term,
         CAST(CASE t.search_term {pick} END AS BIGINT) AS interest
  FROM {source} w CROSS JOIN terms t
),
keep AS (
  SELECT DISTINCT country, week_start FROM (
    SELECT country, week_start, interest FROM long
    GROUP BY country, week_start, interest
    HAVING COUNT(DISTINCT search_term) < {len(terms)}
  )
)
SELECT l.country, l.week_start, l.week_end, l.search_term, l.interest,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY l.country, l.week_start
         ORDER BY l.interest DESC,
                  CASE WHEN l.search_term = 'vpn' THEN 0 ELSE 1 END DESC,
                  l.search_term ASC) AS INTEGER) AS ranking
FROM long l SEMI JOIN keep k ON l.country = k.country AND l.week_start = k.week_start
"""


def trends_fingerprint(con, sql: str) -> tuple:
    """(column names, row count, sum of row hashes) of a trends result: an
    order-insensitive multiset fingerprint, cheap at a million rows."""
    cols = sorted(d[0] for d in con.sql(f"SELECT * FROM ({sql}) LIMIT 0").description)
    if cols != sorted(TREND_COLUMNS):
        return cols, None, None
    row = ("country::VARCHAR, week_start::VARCHAR, week_end::VARCHAR, "
           "search_term::VARCHAR, interest::BIGINT, ranking::BIGINT")
    n, h = con.sql(f"SELECT count(*), sum(hash({row})) FROM ({sql})").fetchone()
    return cols, n, h


def parquet_files_sql(paths, **literals) -> str:
    """A relation over parquet files, plus constant string columns (the
    partition values Spark keeps in directory names)."""
    files = ", ".join(f"'{p}'" for p in sorted(paths))
    extra = "".join(f", '{v}' AS {k}" for k, v in literals.items())
    return f"SELECT *{extra} FROM read_parquet([{files}], hive_partitioning = false)"


# ---------------------------------------------------------------------------
# query_mix: the registered oracle twins
# ---------------------------------------------------------------------------


def corpus_connection(corpus_dir: str, tables):
    """A DuckDB connection with one view per corpus table, in UTC like the
    Spark session the package preps."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    return con


def tables_read(sql: str, tables) -> list[str]:
    """Corpus tables an oracle query names."""
    return [t for t in tables if re.search(rf"\b{t}\b", sql)]


def _normalize(df):
    """Order-insensitive, type-normalized form of a result frame (the same
    rules as the repository's oracle sweep)."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        kind = getattr(s.dtype, "kind", "O")
        if s.dtype == object and s.map(lambda v: isinstance(v, Decimal)).any():
            df[c] = s.map(lambda v: float(v) if isinstance(v, Decimal) else v)
        elif str(s.dtype).startswith("datetime64"):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif kind in "iu":
            df[c] = s.astype("int64")
        elif kind == "f":
            df[c] = s.astype("float64")
        elif s.dtype == object:
            df[c] = s.map(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frames_match(got, want) -> str | None:
    """Row count, column names and order-insensitive values."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    a, b = _normalize(got), _normalize(want)
    if not a.equals(b):
        return "values differ in " + ", ".join(c for c in a.columns if not a[c].equals(b[c]))
    return None
