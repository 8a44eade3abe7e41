"""The three workloads. Each one makes its inputs, warms up, runs one op at
a time (the timed part) and checks each op's output outside the timing.

An op is one call chain into the package's public functions; the spans
around each call name the layer it enters.
"""

from __future__ import annotations

import os
import shutil

from perfbench import gen, reference, tracing


class Workload:
    """Base: ``block`` ops make the fixed unit of work ``wall_s`` times; a
    run times at least ``min_blocks`` of them."""

    block: int
    min_blocks = 2

    def __init__(self, spark, work: str, seed: int, tracer: tracing.Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer

    def make_inputs(self, rep: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> tuple[int, int]:
        """Untimed ops before the measured loop; returns (attempted, failed)
        of the output checks it made."""
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Untimed, before op ``i``."""

    def run(self, i: int) -> None:
        """Op ``i``: the timed part."""
        raise NotImplementedError

    def check(self, i: int) -> dict:
        """Untimed, after op ``i``: ``{"error", "files", "bytes", "rows"}``."""
        raise NotImplementedError

    def input_rows(self, i: int) -> int:
        raise NotImplementedError

    def label(self, i: int) -> str:
        """What op ``i`` works on (a week, a query name)."""
        raise NotImplementedError


class _TrendsWorkload(Workload):
    """Shared per-op flow of the two trends workloads: list the sink before
    the op, then compare the files the op added with the DuckDB reference
    for that week."""

    n_warm: int
    n_weeks: int
    n_regions: int
    terms: tuple[str, ...]
    sink_root: str

    def __init__(self, *a):
        super().__init__(*a)
        import duckdb

        self.con = duckdb.connect()
        self._before: dict[str, int] = {}

    def week(self, i: int) -> int:
        return (i + self.n_warm) % self.n_weeks

    def label(self, i: int) -> str:
        return gen.week_dates(self.week(i))[0]

    def input_rows(self, i: int) -> int:
        return self.n_regions * len(self.terms)

    def warm_up(self) -> tuple[int, int]:
        failed = 0
        for i in range(-self.n_warm, 0):
            self.prepare(i)
            self.run(i)
            failed += self.check(i)["error"] is not None
        return self.n_warm, failed

    def prepare(self, i: int) -> None:
        self._before = tracing.data_files(self.sink_root)

    def _new_files(self) -> dict[str, int]:
        after = tracing.data_files(self.sink_root)
        return {p: b for p, b in after.items() if p not in self._before}

    def _compare(self, new: dict[str, int], got_sql: str, source_sql: str, i: int) -> dict:
        if not new:
            return {"error": "no files written", "files": 0, "bytes": 0, "rows": 0}
        ws, we = gen.week_dates(self.week(i))
        src = f"(SELECT *, '{ws}' AS week_start, '{we}' AS week_end FROM ({source_sql}))"
        want = reference.trends_reference_sql(src, self.terms)
        got = reference.trends_fingerprint(self.con, got_sql)
        expected = reference.trends_fingerprint(self.con, want)
        error = None if got == expected else f"output {got[:2]} != reference {expected[:2]}"
        return {"error": error, "files": len(new), "bytes": sum(new.values()), "rows": got[1] or 0}


class TrendsWeekly(_TrendsWorkload):
    """The ``W`` DAG: one week of ~250 regions x the 5 reference terms per
    op, ingested from pandas, ranked and appended to one catalog table."""

    name = "trends_weekly"
    table = "search_trends"
    block = 3
    n_warm = 4
    n_weeks = 260
    n_regions = 250
    terms = gen.DEFAULT_TERMS

    def __init__(self, *a):
        super().__init__(*a)
        self.sink_root = os.path.join(self.work, "warehouse", self.table)
        os.makedirs(self.sink_root, exist_ok=True)
        self.matrices: list = []

    def make_inputs(self, rep: int) -> None:
        self.matrices = [
            gen.weekly_matrix(self.seed, w, self.n_regions, self.terms)
            for w in range(self.n_weeks)
        ]

    def run(self, i: int) -> None:
        from data_engineer_interview_task_spark.operators.trends import trends_pipeline
        from data_engineer_interview_task_spark.sources import append_to_table, ingest_wide_matrix

        ws, we = gen.week_dates(self.week(i))
        with self.tracer.span("sources.ingest"):
            wide = ingest_wide_matrix(self.spark, self.matrices[self.week(i)], self.terms)
        with self.tracer.span("operators.plan"):
            out = trends_pipeline(wide, ws, we, self.terms)
        with self.tracer.span("sources.sinks.write"):
            append_to_table(self.spark, out, self.table)

    def check(self, i: int) -> dict:
        new = self._new_files()
        pdf = self.matrices[self.week(i)].reset_index().rename(columns={"geoName": "country"})
        self.con.register("wide_input", pdf)
        got = reference.parquet_files_sql(new)
        return self._compare(new, got, "SELECT * FROM wide_input", i)


class TrendsBackfill(_TrendsWorkload):
    """The ``H`` backfill at volume: one week of 25k city-level regions x
    20 terms per op, read from staged parquet, ranked and written
    partitioned by ``week_start``."""

    name = "trends_backfill"
    block = 2
    n_warm = 3
    n_weeks = 6
    n_regions = 25_000
    terms = gen.BACKFILL_TERMS

    def __init__(self, *a):
        super().__init__(*a)
        self.sink_root = os.path.join(self.work, "sink", "trends_backfill")
        os.makedirs(self.sink_root, exist_ok=True)
        self.stage_root = ""

    def make_inputs(self, rep: int) -> None:
        if self.stage_root:
            shutil.rmtree(self.stage_root, ignore_errors=True)
        self.stage_root = os.path.join(self.work, f"stage{rep}")
        gen.stage_backfill(os.path.join(self.stage_root, "trends_wide.parquet"),
                           self.seed, self.n_weeks, self.n_regions, self.terms)

    def run(self, i: int) -> None:
        from pyspark.sql import functions as F

        from data_engineer_interview_task_spark.operators.trends import trends_pipeline
        from data_engineer_interview_task_spark.sources import read_table, write_partitioned

        ws, we = gen.week_dates(self.week(i))
        with self.tracer.span("sources.parquet.read"):
            wide = read_table(self.spark, self.stage_root, "trends_wide")
        wide = wide.filter(F.col("week") == self.week(i)).drop("week")
        with self.tracer.span("operators.plan"):
            out = trends_pipeline(wide, ws, we, self.terms)
        with self.tracer.span("sources.sinks.write"):
            write_partitioned(out, self.sink_root, ["week_start"], mode="append")

    def check(self, i: int) -> dict:
        new = self._new_files()
        ws, _ = gen.week_dates(self.week(i))
        got = reference.parquet_files_sql(new, week_start=ws)
        src = (f"SELECT * FROM read_parquet('{self.stage_root}/trends_wide.parquet/"
               f"week={self.week(i)}/*.parquet', hive_partitioning = false)")
        return self._compare(new, got, src, i)


#: The driver-contract mix: one fixed list of registered queries covering the
#: relational, trends, dedup, similarity, text, graph, artifact-backed and
#: streaming families. Each entry has a DuckDB twin in ``oracle_sql()``.
MIX = (
    "semi_join_filter",
    "pricing_summary",
    "rank_window_tiebreak",
    "trends_pipeline_synthetic",
    "sessionize_events",
    "similarity_topk_ivf",
    "token_counts",
    "winnowing_dup_candidates",
    "supplier_pagerank",
    "streaming_weekly_rollup",
)

#: Scale of the generated corpus (lineitem has 6M x SF rows).
MIX_SF = 0.01


class QueryMix(Workload):
    """Registered ``__spark_entry__.queries()`` entries on a generated
    corpus, forced with a ``noop`` write. The warm-up pass collects each
    result and checks it against its oracle twin."""

    name = "query_mix"
    block = len(MIX)
    min_blocks = 1

    def __init__(self, *a):
        super().__init__(*a)
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.corpus = ""
        self.rows: dict[str, int] = {}

    def make_inputs(self, rep: int) -> None:
        if self.corpus:
            shutil.rmtree(self.corpus, ignore_errors=True)
        self.corpus = os.path.join(self.work, f"corpus{rep}")
        self.rows = gen.write_corpus(self.corpus, self.seed, MIX_SF)

    def warm_up(self) -> tuple[int, int]:
        con = reference.corpus_connection(self.corpus, self.rows)
        failed = 0
        for name in MIX:
            got = self.queries[name](self.spark, self.corpus).toPandas()
            want = con.sql(self.oracles[name]).df()
            error = reference.frames_match(got, want)
            if error:
                print(f"perfbench: {name} differs from its oracle: {error}", flush=True)
                failed += 1
        con.close()
        return len(MIX), failed

    def label(self, i: int) -> str:
        return MIX[i % len(MIX)]

    def input_rows(self, i: int) -> int:
        sql = self.oracles[self.label(i)]
        return sum(self.rows[t] for t in reference.tables_read(sql, self.rows))

    def run(self, i: int) -> None:
        with self.tracer.span("operators.plan"):
            df = self.queries[self.label(i)](self.spark, self.corpus)
        with self.tracer.span("sources.sinks.write"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, i: int) -> dict:
        return {"error": None, "files": 0, "bytes": 0, "rows": 0}


WORKLOADS = {w.name: w for w in (TrendsWeekly, TrendsBackfill, QueryMix)}
