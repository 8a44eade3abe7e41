"""The seeded generators: same seed, same inputs; the stated properties hold."""

import numpy as np

from perfbench import gen


def test_weekly_matrix_is_determined_by_seed_and_week():
    a = gen.weekly_matrix(7, 3)
    assert a.equals(gen.weekly_matrix(7, 3))
    assert not a.equals(gen.weekly_matrix(8, 3))
    assert not a.equals(gen.weekly_matrix(7, 4))
    assert a.index.name == "geoName"
    assert list(a.columns) == list(gen.DEFAULT_TERMS)


def test_weekly_matrix_properties():
    weeks = [gen.weekly_matrix(1, w).to_numpy() for w in range(40)]
    values = np.stack(weeks)  # week x region x term
    assert values.dtype == np.int64
    assert values.min() >= 0 and values.max() <= 100
    identical = (values == values[:, :, :1]).all(axis=2)
    all_zero = identical & (values[:, :, 0] == 0)
    share = identical.mean()
    assert abs(share - (gen.SHARE_ALL_ZERO + gen.SHARE_ALL_SAME)) < 0.02
    assert all_zero.any() and (identical & ~all_zero).any()
    # vpn ties another term on a good share of region-weeks
    vpn_tied = (values[:, :, 1:] == values[:, :, :1]).any(axis=2) & ~identical
    assert vpn_tied.mean() > 0.2
    # a region that is all-identical in one week varies in another
    assert (identical.any(axis=0) & (~identical).any(axis=0)).any()


def test_corpus_is_determined_by_seed():
    a = gen.corpus_tables(5, 0.001)
    b = gen.corpus_tables(5, 0.001)
    c = gen.corpus_tables(6, 0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000


def test_backfill_staging_is_determined_by_seed(tmp_path):
    import pyarrow.parquet as pq

    def staged(seed, name):
        gen.stage_backfill(str(tmp_path / name), seed, 2, 40)
        table = pq.read_table(str(tmp_path / name), partitioning=None)
        return table.sort_by([("country", "ascending"), ("vpn", "ascending")])

    a, b, c = staged(11, "a"), staged(11, "b"), staged(12, "c")
    assert a.equals(b) and not a.equals(c)
    assert a.num_rows == 2 * 40
    assert a.column_names == ["country", *gen.BACKFILL_TERMS]
    assert len(list((tmp_path / "a" / "week=0").iterdir())) == gen.FILES_PER_WEEK
