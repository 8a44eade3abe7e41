"""The DuckDB trends reference against the registered oracle, and the tail rule."""

import duckdb

import __spark_entry__
from perfbench import gen, reference, run


def _nation_connection():
    con = duckdb.connect()
    con.execute("""CREATE TABLE nation AS
        SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
               CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)""")
    return con


def test_trends_reference_matches_registered_oracle_on_nation_matrix():
    con = _nation_connection()
    # the wide matrix trends_pipeline_synthetic derives from nation
    terms = gen.DEFAULT_TERMS
    cols = ", ".join(
        f"CASE WHEN n_nationkey % 5 = 0 THEN 42 "
        f"ELSE (n_nationkey * ({i} + 3) * 7 + {len(t)}) % 101 END AS \"{t}\""
        for i, t in enumerate(terms))
    con.execute(f"""CREATE TABLE wide AS SELECT n_name AS country,
        '2021-01-04' AS week_start, '2021-01-10' AS week_end, {cols} FROM nation""")
    ours = reference.trends_reference_sql("wide", terms)
    oracle = __spark_entry__.oracle_sql()["trends_pipeline_synthetic"]
    assert reference.trends_fingerprint(con, ours) == reference.trends_fingerprint(con, oracle)
    # the drop rule fired: every 5th country is all-42
    assert con.sql(f"SELECT count(DISTINCT country) FROM ({ours})").fetchone()[0] == 20


def test_trends_reference_keys_the_drop_rule_on_the_week():
    con = duckdb.connect()
    con.execute("""CREATE TABLE wide AS SELECT * FROM (VALUES
        ('r1', '2016-01-03', '2016-01-09', 42, 42, 42, 42, 42),
        ('r1', '2016-01-10', '2016-01-16', 10, 20, 20, 30, 40)
    ) t(country, week_start, week_end, vpn, hack, cyber, security, wifi)""")
    rows = con.sql(reference.trends_reference_sql("wide", gen.DEFAULT_TERMS)
                   + " ORDER BY ranking").fetchall()
    # the all-42 week is dropped even though r1 varies in the other week
    assert {r[1] for r in rows} == {"2016-01-10"}
    # hack and cyber tie at 20 and rank by name
    assert [r[3] for r in rows] == ["wifi", "security", "cyber", "hack", "vpn"]


def test_vpn_ranks_last_among_ties():
    con = duckdb.connect()
    con.execute("""CREATE TABLE wide AS SELECT * FROM (VALUES
        ('r1', '2016-01-03', '2016-01-09', 50, 50, 50, 10, 50)
    ) t(country, week_start, week_end, vpn, hack, cyber, security, wifi)""")
    rows = con.sql(reference.trends_reference_sql("wide", gen.DEFAULT_TERMS)
                   + " ORDER BY ranking").fetchall()
    assert [r[3] for r in rows] == ["cyber", "hack", "wifi", "vpn", "security"]


def test_tail_percentile_rule():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    xs = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct = run.tail(xs)
    assert value == 20.0 and sum(x > value for x in xs) == 10
    assert pct == 100.0 * 20 / 30
