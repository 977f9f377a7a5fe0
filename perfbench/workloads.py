"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``setup`` (into a fresh
directory per set-up), runs one op per ``run_op`` call and checks the op's
result in ``check`` — untimed, against expectations fixed before any op
ran. ``corrupt`` perturbs one part of a result the way a wrong answer
would look, a different part for each ``k``, for the smoke test's proof
that a bad result in any checked store registers as a failed op.

Every call into the program goes through a module or class attribute
(``jobs.run_series``, ``lake.read_gold``, ``ManifestLakeTable.merge_into``)
so the tracer's wrappers see it.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

from . import fredgen
from .oracle import digest, oracle_digests
from .tables import write_tables


@dataclass
class Scale:
    """Input sizes; ``SMOKE`` shrinks every workload to tiny inputs.

    FRED: one series of each cadence (daily, weekly, monthly) with ten
    years of history, so an op's full-history silver rewrite covers 120
    month partitions, as in a deployment that has been running for years.
    """

    fred_series: int = 3
    fred_history_years: int = 10
    n_docs: int = 600
    n_vecs: int = 400


SMOKE = Scale(fred_series=3, fred_history_years=1, n_docs=200, n_vecs=100)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, tracer, scale: Scale):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.scale = scale
        self.rng = random.Random(f"{self.name}:{seed}")

    def setup(self, work_dir: str) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """Ops run before timing starts, so timed ops find warm paths."""
        raise NotImplementedError

    def run_op(self, i: int):
        raise NotImplementedError

    def check(self, res) -> list[str]:
        raise NotImplementedError

    def corrupt(self, res, k: int):
        raise NotImplementedError

    def install_wrappers(self) -> None:
        """Wrap the layer entry points this workload calls."""
        raise NotImplementedError

    def traced_dirs(self) -> dict[str, str]:
        """Directories whose files the traced run diffs per op."""
        return {}

    def layer_metrics(self, root, spans, files) -> dict[str, float]:
        """Per-layer values of one traced op: its root span, every span it
        recorded and {directory label: (files, bytes) written}."""
        raise NotImplementedError


# --- FRED medallion pipeline -------------------------------------------------

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
SERVING_TABLE = "ECONOMIC_INDICATORS"
SERVING_DDL = (
    '"indicator" VARCHAR(32) NOT NULL, "observation_year" INT NOT NULL, '
    '"observation_month" INT NOT NULL, "value" DOUBLE, '
    '"observation_count" BIGINT, "ingested_at" VARCHAR(40), '
    '"processed_at" VARCHAR(40), "aggregated_at" VARCHAR(40), '
    'PRIMARY KEY ("indicator", "observation_year", "observation_month")'
)
STAGING_TYPES = (
    "indicator VARCHAR(32), ingested_at VARCHAR(40), "
    "processed_at VARCHAR(40), aggregated_at VARCHAR(40)"
)


@dataclass
class MonthResult:
    series_id: str
    year: int
    month: int
    counts: dict
    gold: dict  # month -> (value, count) read back from the gold lake
    derby: dict  # month -> (value, count) in the serving table
    sheet: dict  # month -> (value, count) in the sheet for this year
    manifest: dict  # month -> (value, count) in the manifest table
    appended: int
    offered: int
    fetch_calls: int
    sheet_dups: int = 0
    manifest_dups: int = 0
    serving_read: bool = False


class FredMonthly(Workload):
    """Steady-state monthly traffic: one op = one indicator-month through
    extract -> bronze -> silver -> gold -> Derby upsert -> manifest merge
    -> sheet dedup-append, on top of a backfilled history."""

    name = "fred_monthly"

    def setup(self, work_dir: str) -> None:
        from fred_economic_data_pipeline_local_spark import jobs
        from fred_economic_data_pipeline_local_spark.operators.fred import FRED_KEY
        from fred_economic_data_pipeline_local_spark.sources import lake, serving
        from fred_economic_data_pipeline_local_spark.sources.extract import (
            replay_fetcher,
        )
        from fred_economic_data_pipeline_local_spark.sources.lakehouse import (
            ManifestLakeTable,
        )

        spark, sc = self.spark, self.spark.sparkContext
        self.lake_root = os.path.join(work_dir, "lake")
        self.table_root = os.path.join(work_dir, "manifest")
        self.derby_url = (
            f"jdbc:derby:memory:perfbench_{os.getpid()};create=true"
        )
        catalog = fredgen.pick_catalog(self.seed, self.scale.fred_series)
        self.feed = fredgen.SeriesFeed(self.seed, catalog)
        self.series = [s for s, _ in catalog]
        start_year = 1990 + self.rng.randrange(20)
        first = (start_year, 1)
        last = (start_year + self.scale.fred_history_years - 1, 12)
        history = list(fredgen.months_between(first, last))
        self.loaded = {s: list(history) for s in self.series}
        # ops catch each series up two months at a time, in the catalog's
        # cadence order (daily, monthly, weekly): a run's first op is its
        # daily series for every seed, so runs differ in which series, not
        # which cadence, and a traced run's untraced and traced ops are
        # two consecutive months of the same series
        self.order = list(self.series)
        self.input_bytes = 0

        # backfill: one jobs.run_series call per series over its whole
        # history, as the reference's per-indicator backfill runs
        for s in self.series:
            table = self.feed.replay_table(s, history)
            self.input_bytes += sum(map(fredgen.payload_bytes, table.values()))
            cfg = jobs.SeriesConfig(
                series_id=s,
                start_date=fredgen.month_range(*first)[0],
                end_date=fredgen.month_range(*last)[1],
            )
            jobs.run_series(spark, cfg, self.lake_root, replay_fetcher(table))

        # serving stores seeded with the published history
        gold = lake.read_gold(spark, self.lake_root)
        jvm = spark._jvm
        jvm.java.lang.Class.forName(DERBY_PROPS["driver"])
        conn = jvm.java.sql.DriverManager.getConnection(self.derby_url)
        try:
            conn.createStatement().execute(f'CREATE TABLE "{SERVING_TABLE}" ({SERVING_DDL})')
        finally:
            conn.close()
        serving.jdbc_upsert(
            gold, self.derby_url, SERVING_TABLE, FRED_KEY, DERBY_PROPS,
            staging_table=f"{SERVING_TABLE}_STAGING", dialect="merge",
            staging_options={"createTableColumnTypes": STAGING_TYPES},
        )
        # the manifest table and the sheet are seeded through the same
        # calls an op makes: merge into an empty table, dedup-append into
        # an empty sheet
        self.table = ManifestLakeTable(self.table_root, keys=FRED_KEY, n_buckets=16)
        self.table.overwrite(gold.limit(0))
        self.table.merge_into(gold)
        self.header = gold.columns
        self.sheet: list[list] = []
        serving.sheet_append_delta(
            gold, serving.sheet_rows_to_df(spark, [], self.header), FRED_KEY,
            writer=self.sheet.extend,
        )
        self.fetch_acc = sc.accumulator(0)

    def warmup(self) -> None:
        """Set-up is the warm-up: the backfill runs every step of
        ``run_series`` and the serving stores are seeded through the calls
        an op makes, so the first op finds warm paths (measured: a
        warm-up op ran no faster than the op after it)."""

    def _fetcher(self, table):
        acc = self.fetch_acc

        def fetch(series_id, start, end):
            acc.add(1)
            return table[(start, end)]

        return fetch

    def run_op(self, i: int) -> MonthResult:
        from fred_economic_data_pipeline_local_spark import jobs
        from fred_economic_data_pipeline_local_spark.operators.fred import FRED_KEY
        from fred_economic_data_pipeline_local_spark.sources import lake, serving
        from pyspark.sql import functions as F

        spark = self.spark
        sid = self.order[(i // 2) % len(self.order)]
        y, m = fredgen.next_month(*self.loaded[sid][-1])
        start, end = fredgen.month_range(y, m)
        table = self.feed.replay_table(sid, [(y, m)])
        self.input_bytes += fredgen.payload_bytes(table[(start, end)])
        self.loaded[sid].append((y, m))
        calls0 = self.fetch_acc.value

        cfg = jobs.SeriesConfig(series_id=sid, start_date=start, end_date=end)
        counts = jobs.run_series(spark, cfg, self.lake_root, self._fetcher(table))
        gold_year = lake.read_gold(spark, self.lake_root).where(
            (F.col("indicator") == F.lit(sid)) & (F.col("observation_year") == F.lit(y))
        )
        gold_rows = gold_year.collect()
        serving.jdbc_upsert(
            gold_year, self.derby_url, SERVING_TABLE, FRED_KEY, DERBY_PROPS,
            staging_table=f"{SERVING_TABLE}_STAGING", dialect="merge",
            staging_options={"createTableColumnTypes": STAGING_TYPES},
        )
        self.table.merge_into(gold_year)
        existing = serving.sheet_rows_to_df(spark, self.sheet, self.header)
        appended = serving.sheet_append_delta(
            gold_year, existing, FRED_KEY, writer=self.sheet.extend
        )
        return MonthResult(
            series_id=sid, year=y, month=m, counts=counts,
            gold={r["observation_month"]: (r["value"], r["observation_count"])
                  for r in gold_rows},
            derby={}, sheet={}, manifest={}, appended=appended,
            offered=len(gold_rows),
            fetch_calls=self.fetch_acc.value - calls0,
        )

    def _serving_state(self, res: MonthResult) -> None:
        """Read the Derby, manifest-table and sheet rows for the op's
        indicator-year."""
        from pyspark.sql import functions as F

        rows = self.table.read(self.spark).where(
            (F.col("indicator") == F.lit(res.series_id))
            & (F.col("observation_year") == F.lit(res.year))
        ).select("observation_month", "value", "observation_count").collect()
        for m, v, c in rows:
            res.manifest_dups += m in res.manifest
            res.manifest[m] = (v, c)
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.derby_url)
        try:
            st = conn.prepareStatement(
                f'SELECT "observation_month", "value", "observation_count" '
                f'FROM "{SERVING_TABLE}" WHERE "indicator" = ? AND "observation_year" = ?'
            )
            st.setString(1, res.series_id)
            st.setInt(2, res.year)
            rs = st.executeQuery()
            while rs.next():
                v = rs.getDouble(2)
                res.derby[rs.getInt(1)] = (None if rs.wasNull() else v, rs.getLong(3))
        finally:
            conn.close()
        h = self.header
        im, iv, ic = (h.index(c) for c in ("observation_month", "value", "observation_count"))
        iy, ii = h.index("observation_year"), h.index("indicator")
        for row in self.sheet:
            if row[ii] == res.series_id and int(row[iy]) == res.year:
                res.sheet_dups += int(row[im]) in res.sheet
                res.sheet[int(row[im])] = (row[iv], row[ic])
        res.serving_read = True

    def check(self, res: MonthResult) -> list[str]:
        if not res.serving_read:
            self._serving_state(res)
        sid, y, m = res.series_id, res.year, res.month
        months = self.loaded[sid]
        want = fredgen.expected_year(self.feed, sid, y, months)
        errs = fredgen.diff_rows(f"{sid} {y} gold", res.gold, want)
        errs += fredgen.diff_rows(f"{sid} {y} derby", res.derby, want)
        errs += fredgen.diff_rows(f"{sid} {y} sheet", res.sheet, want)
        errs += fredgen.diff_rows(f"{sid} {y} manifest", res.manifest, want)
        n_bronze = sum(len(self.feed.payload(sid, yy, mm)) for yy, mm in months)
        n_months = sum(
            fredgen.expected_month(self.feed.payload(sid, yy, mm)) is not None
            for yy, mm in months
        )
        want_counts = {"bronze": n_bronze, "silver": n_months, "gold": n_months}
        if res.counts != want_counts:
            errs.append(f"{sid} run_series counts {res.counts} != {want_counts}")
        if res.sheet_dups:
            errs.append(f"{sid} {y}: {res.sheet_dups} duplicate sheet rows")
        if res.manifest_dups:
            errs.append(f"{sid} {y}: {res.manifest_dups} duplicate manifest rows")
        new_row = m in want
        if res.appended != int(new_row):
            errs.append(f"{sid} {y}-{m}: sheet appended {res.appended}, want {int(new_row)}")
        if res.fetch_calls < 1:
            errs.append(f"{sid} {y}-{m}: the month was never fetched")
        return errs

    STORES = ("gold", "manifest", "derby", "sheet")

    def corrupt(self, res: MonthResult, k: int) -> MonthResult:
        """Shift one month's value by 0.01 in store ``STORES[k % 4]``."""
        self._serving_state(res)
        rows = getattr(res, self.STORES[k % len(self.STORES)])
        m = next(iter(rows), res.month)
        v, c = rows.get(m, (0.0, 0))
        rows[m] = ((v or 0.0) + 0.01, c)
        return res

    def install_wrappers(self) -> None:
        from fred_economic_data_pipeline_local_spark import jobs
        from fred_economic_data_pipeline_local_spark.operators import fred, serve
        from fred_economic_data_pipeline_local_spark.sources import (
            extract, lake, lakehouse, serving,
        )

        t = self.tracer
        t.wrap_function(jobs.run_series, "jobs.run_series", counted=True)
        for f in ("month_ranges", "fetch_observations"):
            t.wrap_function(getattr(extract, f), f"extract.{f}")
        for f in ("format_observations", "silver_transform", "gold_aggregate"):
            t.wrap_function(getattr(fred, f), f"fred.{f}")
        for f in ("read_bronze", "read_silver", "read_gold"):
            t.wrap_function(getattr(lake, f), f"lake.{f}", counted=True)
        for f in ("write_bronze", "write_silver", "write_gold"):
            t.wrap_function(getattr(lake, f), f"lake.{f}", counted=True)
        for f in ("jdbc_upsert", "sheet_rows_to_df", "sheet_append_delta"):
            t.wrap_function(getattr(serving, f), f"serving.{f}", counted=True)
        t.wrap_function(serve.dedup_append_delta, "serve.dedup_append_delta")
        t.wrap_function(serve.upsert_merge, "serve.upsert_merge")
        t.wrap_method(lakehouse.ManifestLakeTable, "merge_into",
                      "lakehouse.merge_into", counted=True)

    def traced_dirs(self) -> dict[str, str]:
        return {"lake": self.lake_root, "lakehouse": self.table_root}

    def stored_bytes(self) -> int:
        """Bytes on disk in the lake and the serving-side manifest table
        (the Derby table and the sheet live in memory)."""
        from .trace import dir_snapshot

        return sum(size for size, _ in dir_snapshot(self.lake_root, self.table_root).values())

    def layer_metrics(self, root, spans, files) -> dict[str, float]:
        from .trace import subtree

        dur = _durations(spans)
        run = next(s for s in spans if s.name == "jobs.run_series")
        res = root.result
        in_bytes = fredgen.payload_bytes(
            self.feed.payload(res.series_id, res.year, res.month)
        )
        return {
            # an op plans exactly one month range
            "extract.fetch_calls_per_range": float(res.fetch_calls),
            "lake.list_s": dur("lake.read_bronze") + dur("lake.read_silver")
            + dur("lake.read_gold"),
            "lake.write_bronze_s": dur("lake.write_bronze"),
            "lake.write_silver_s": dur("lake.write_silver"),
            "lake.write_gold_s": dur("lake.write_gold"),
            "lake.files_written_per_op": files["lake"][0],
            "lake.bytes_written_per_input_byte": files["lake"][1] / in_bytes,
            "jobs.self_s": run.self_s,
            "jobs.spark_jobs_per_op": sum(s.jobs for s in subtree(spans, root)),
            "serving.jdbc_upsert_s": dur("serving.jdbc_upsert"),
            "serving.sheet_delta_s": dur("serving.sheet_rows_to_df")
            + dur("serving.sheet_append_delta"),
            "serving.sheet_append_ratio": res.appended / max(1, res.offered),
            "lakehouse.merge_into_s": dur("lakehouse.merge_into"),
            "lakehouse.files_written_per_merge": files["lakehouse"][0],
        }


def _durations(spans):
    def dur(name: str) -> float:
        return sum(s.dur for s in spans if s.name == name)

    return dur


# --- corpus curation --------------------------------------------------------

CURATION_JOB = "run_curation_job"
LLM_QUERIES = (
    "dedup_exact_keep_min", "similarity_cosine_topk", "decontam_ngram_hits",
    "text_tfidf_top_terms",
)


class CorpusCuration(Workload):
    """One op is one curation cycle: the curation job and four registered
    LLM-data queries, in a seeded order per cycle. A query step builds the
    plan and collects the result, whose digest must equal the DuckDB
    oracle's; the job's per-split counts must equal the oracle's
    recomputation.

    The op is the whole cycle, not one step, because single steps vary by
    about 20% from one run of a step to the next on a shared 4-core host
    while the cycle's sum varies far less, and the steps' times differ by
    up to 8x, so a median over single steps would be the time of whichever
    kind sits in the middle."""

    name = "corpus_curation"
    steps = (CURATION_JOB,) + LLM_QUERIES

    def setup(self, work_dir: str) -> None:
        import duckdb
        from fred_economic_data_pipeline_local_spark.plans import all_oracles

        self.data_dir = os.path.join(work_dir, "data")
        self.curated_root = os.path.join(work_dir, "curated")
        write_tables(self.data_dir, self.seed, self.scale.n_docs, self.scale.n_vecs)
        # the job's oracle is the registry's DuckDB mirror of its split counts
        oracles = all_oracles()
        self.expected = oracle_digests(
            {q: oracles[q] for q in LLM_QUERIES + ("curation_job_split_counts",)},
            self.data_dir,
        )
        con = duckdb.connect()
        try:
            self.n_docs, self.n_bench = con.execute(
                "SELECT count(*), count(*) FILTER (WHERE doc_id % 50 = 0) "
                f"FROM '{self.data_dir}/documents.parquet'"
            ).fetchone()
        finally:
            con.close()

    def warmup(self) -> None:
        # one curation job: the session's first step carries its cold
        # start (Python workers, JIT of the shared paths), ~13 s against
        # ~4.5 s warm. Each query's own first-run cost (up to ~1 s) stays
        # in the first timed cycle, the same in every run
        errs = self.check([self._step(CURATION_JOB)])
        if errs:
            raise RuntimeError(f"warm-up op failed its check: {errs[:3]}")

    def _step(self, name: str):
        from fred_economic_data_pipeline_local_spark import jobs
        from fred_economic_data_pipeline_local_spark.plans import all_queries

        t = self.tracer
        if name == CURATION_JOB:
            with t.span("jobs.run_curation_job", counted=True):
                counts = jobs.run_curation_job(
                    self.spark, os.path.join(self.data_dir, "documents.parquet"),
                    self.curated_root,
                )
            return name, counts
        with t.span(f"{name}.build", counted=True):
            df = all_queries()[name](self.spark, self.data_dir)
        with t.span(f"{name}.collect", counted=True):
            rows = df.collect()
        return name, digest(df.columns, rows)

    def run_op(self, i: int) -> list:
        order = list(self.steps)
        self.rng.shuffle(order)
        return [self._step(name) for name in order]

    def check(self, res: list) -> list[str]:
        return [e for step in res for e in self._check_step(*step)]

    def _check_step(self, name: str, got) -> list[str]:
        if name != CURATION_JOB:
            want = self.expected[name]
            if got != want:
                return [f"{name}: rows/hash {got[0]}/{got[1][:12]} "
                        f"!= oracle {want[0]}/{want[1][:12]}"]
            return []
        errs = []
        # every input doc is accounted for: the held-out benchmark docs all
        # land in split=benchmark, the rest are split or dropped by the
        # gate, dedup and decontamination stages exactly as the oracle's
        # independent recomputation says
        if got.get("benchmark") != self.n_bench:
            errs.append(f"curation benchmark split {got.get('benchmark')} != {self.n_bench}")
        if sum(got.values()) > self.n_docs:
            errs.append(f"curation splits hold {sum(got.values())} of {self.n_docs} docs")
        if digest(["split", "n_docs"], list(got.items())) != self.expected[
            "curation_job_split_counts"
        ]:
            errs.append(f"curation split counts {got} differ from the oracle")
        return errs

    def corrupt(self, res: list, k: int) -> list:
        """Corrupt step ``k % 5`` of the cycle. Even ``k``: a row or doc
        count off by one; odd ``k``: the right count with a wrong hash, or
        one held-out doc missing."""
        res = list(res)
        j = k % len(res)
        name, got = res[j]
        if name != CURATION_JOB:
            got = (got[0], got[1][::-1]) if k % 2 else (got[0] + 1, got[1])
        else:
            split = "benchmark" if k % 2 else "train"
            got = {**got, split: got.get(split, 0) - 1}
        res[j] = (name, got)
        return res

    def install_wrappers(self) -> None:
        import importlib

        from fred_economic_data_pipeline_local_spark import catalog

        self.tracer.wrap_function(catalog.load_table, "catalog.load_table")
        for mod in ("dedup", "similarity", "text", "decontam", "curation"):
            m = importlib.import_module(f"fred_economic_data_pipeline_local_spark.operators.{mod}")
            self.tracer.wrap_module(m, f"operators.{mod}")

    def layer_metrics(self, root, spans, files) -> dict[str, float]:
        from .trace import subtree

        dur = _durations(spans)
        tree = subtree(spans, root)
        n_q = len(LLM_QUERIES)

        def per_query(attr: str) -> float:
            return sum(getattr(s, attr) for s in tree
                       if s.name.endswith((".build", ".collect"))) / n_q

        out = {
            "catalog.load_table_s": dur("catalog.load_table"),
            "curation.stages_per_op": sum(s.stages for s in tree),
            "curation_job.run_s": dur("jobs.run_curation_job"),
            "plans.build_s": sum(dur(f"{q}.build") for q in LLM_QUERIES) / n_q,
            "plans.collect_s": sum(dur(f"{q}.collect") for q in LLM_QUERIES) / n_q,
            "plans.spark_jobs_per_query": per_query("jobs"),
            "plans.stages_per_query": per_query("stages"),
            "plans.tasks_per_query": per_query("tasks"),
        }
        for q in LLM_QUERIES:
            out[f"{q}.build_s"] = dur(f"{q}.build")
            out[f"{q}.collect_s"] = dur(f"{q}.collect")
        return out


WORKLOADS = {w.name: w for w in (FredMonthly, CorpusCuration)}
