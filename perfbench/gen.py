"""Seeded input generators. The same seed always gives the same inputs.

Trends matrices (``trends_weekly`` and ``trends_backfill``) share one set of
region-week categories, each chosen for a property of the real pipeline:

- Values are integers 0-100, the scale ``interest_by_region()`` returns.
- ``SHARE_ALL_ZERO`` of region-weeks read 0 on every term (a region with no
  search volume that week) and ``SHARE_ALL_SAME`` read one value k in 1..100
  on every term. Both forms trip the same-interest drop rule (W:70-87).
- ``SHARE_TIED`` of region-weeks draw each term from ``TIE_LEVELS``, so most
  of those rows hold ties, many of them involving ``vpn``: the ranking's
  vpn-last tie-break (W:90-112) decides their order.
- The rest draw each term uniformly from 0..100.
- The category is drawn per (region, week), independently across weeks, so a
  region that is all-identical in one week varies in another. That is the
  input that exposes the multi-week same-interest filter defect; it is kept,
  not avoided.

The backfill input is staged as parquet from the same generator, at city
level (many more regions) and with a wider term set.

The query corpus (``query_mix``) mirrors the shape of the repository's testdata
(TPC-H-like star schema plus events, documents and embeddings) at a chosen
scale factor, written as one parquet file per table.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

from data_engineer_interview_task_spark.constants import DEFAULT_TERMS

SHARE_ALL_ZERO = 0.06
SHARE_ALL_SAME = 0.04
SHARE_TIED = 0.40
TIE_LEVELS = (25, 50, 75, 100)

#: trends_backfill term set: the five reference terms plus fifteen more from
#: the same topic, so each region-week fans out to twenty long rows.
BACKFILL_TERMS: tuple[str, ...] = DEFAULT_TERMS + (
    "proxy", "firewall", "malware", "antivirus", "password", "phishing",
    "encryption", "tor", "ransomware", "botnet", "spyware", "router",
    "hotspot", "bluetooth", "privacy",
)

#: Google Trends weeks run Sunday to Saturday; week 0 starts here.
FIRST_WEEK = dt.date(2016, 1, 3)


def week_dates(week: int) -> tuple[str, str]:
    """(week_start, week_end) of week number ``week`` as ISO strings."""
    start = FIRST_WEEK + dt.timedelta(days=7 * week)
    return start.isoformat(), (start + dt.timedelta(days=6)).isoformat()


def weekly_matrix(seed: int, week: int, n_regions: int = 250,
                  terms: tuple[str, ...] = DEFAULT_TERMS, region_fmt: str = "region_{:03d}"):
    """One week's ``interest_by_region()``-shaped pandas matrix: regions in
    an index named ``geoName``, one int64 column per term."""
    import pandas as pd

    rng = np.random.default_rng([seed, week])
    n_terms = len(terms)
    kind = rng.random(n_regions)
    uniform = rng.integers(0, 101, size=(n_regions, n_terms))
    tied = np.asarray(TIE_LEVELS)[rng.integers(0, len(TIE_LEVELS), size=(n_regions, n_terms))]
    same = rng.integers(1, 101, size=n_regions)
    values = np.where((kind < SHARE_ALL_ZERO)[:, None], 0, uniform)
    same_rows = (kind >= SHARE_ALL_ZERO) & (kind < SHARE_ALL_ZERO + SHARE_ALL_SAME)
    values = np.where(same_rows[:, None], same[:, None], values)
    tied_rows = (kind >= SHARE_ALL_ZERO + SHARE_ALL_SAME) & (
        kind < SHARE_ALL_ZERO + SHARE_ALL_SAME + SHARE_TIED)
    values = np.where(tied_rows[:, None], tied, values)
    index = pd.Index([region_fmt.format(i) for i in range(n_regions)], name="geoName")
    return pd.DataFrame(values.astype(np.int64), index=index, columns=list(terms))


#: files per staged backfill week, so the scan of one week runs in parallel
FILES_PER_WEEK = 4


def stage_backfill(dst: str, seed: int, n_weeks: int, n_regions: int,
                   terms: tuple[str, ...] = BACKFILL_TERMS) -> None:
    """Stage the backfill input as parquet partitioned by week
    (``<dst>/week=<w>/part-<k>.parquet``): per week, city-level regions in a
    ``country`` column and one int64 column per term."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for week in range(n_weeks):
        pdf = weekly_matrix(seed, week, n_regions, terms, "city_{:06d}").reset_index()
        pdf = pdf.rename(columns={"geoName": "country"})
        os.makedirs(os.path.join(dst, f"week={week}"))
        for k, part in enumerate(np.array_split(np.arange(n_regions), FILES_PER_WEEK)):
            table = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
            pq.write_table(table, os.path.join(dst, f"week={week}", f"part-{k}.parquet"))


# ---------------------------------------------------------------------------
# query_mix corpus
# ---------------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_ADJ = "large hot blue old cold red small new".split()
_PART_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()


def _dates(rng, n: int, first: str, last: str) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    days = rng.integers(0, (hi - lo).astype(int) + 1, size=n)
    return (lo + days).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def corpus_tables(seed: int, sf: float) -> dict:
    """The ten corpus tables as pyarrow Tables. Row counts follow the
    testdata (``TESTDATA.md``): lineitem has ``6M * sf`` rows."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    n_vec = max(500, int(20_000 * sf))  # the testdata floor at small sf
    i32 = pa.int32()

    def pick(options, n, p=None):
        return np.asarray(options, dtype=object)[rng.choice(len(options), size=n, p=p)]

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = pick(_PART_ADJ, n_part), pick(_PART_NOUN, n_part)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 20_000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["N", "R", "A"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": pick(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: 5% are near-duplicates (an earlier document plus " dup"),
    # as in the testdata, so the dedup family finds real clusters
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(8, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "zh", "es", "fr", "de"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.asarray([len(s) for s in texts], dtype=np.int64),
    })
    # embeddings: unit vectors around ten label centroids, so IVF cells
    # and label votes have structure
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_corpus(dst: str, seed: int, sf: float) -> dict[str, int]:
    """Write the corpus as ``<dst>/<table>.parquet`` files; returns the row
    count of each table."""
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    rows = {}
    for name, table in corpus_tables(seed, sf).items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
