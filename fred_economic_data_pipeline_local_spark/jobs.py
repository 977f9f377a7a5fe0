"""Declarative job runner: the YAML series catalog -> medallion pipeline.

Replaces the reference's Airflow DAG factory (dags/fred_historical_backfill.py:
27-178): one config entry per indicator drives extract -> transform ->
aggregate -> serve, idempotently (all sinks are dynamic-partition
overwrites or keyed merges, so re-running a window is safe — the
reference's catchup/backfill semantics without a scheduler).

Config format mirrors config/fred_indicators.yaml: a list of entries with
series_id, name, start_date, end_date, table_name, sheet_name.

A series run is window-scoped, like the reference's ``@monthly`` catch-up
run (extract one month, transform that month, re-aggregate that year):
silver is rebuilt from the bronze months inside ``[start_date, end_date]``
and gold from the silver months of the years that window touches. Both
scopes are predicates on the partition columns, so the scans read only
those partitions and the dynamic-overwrite sinks replace only them; every
other silver month and gold year keeps its files and its
``processed_at``/``aggregated_at`` stamps. A backfill is the same call
with a wide window. The returned counts are whole-indicator.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .functions.scalars import now_iso_utc
from .operators.fred import format_observations, gold_aggregate, silver_transform
from .sources.extract import Fetcher, fetch_observations, month_ranges
from .sources.lake import (
    read_bronze,
    read_gold,
    read_silver,
    write_bronze,
    write_gold,
    write_silver,
)


@dataclass(frozen=True)
class SeriesConfig:
    series_id: str
    name: str = ""
    start_date: str = ""
    end_date: str = ""
    table_name: str = "economic_indicators"
    sheet_name: str = "FRED_data"


def load_catalog(path: str) -> list[SeriesConfig]:
    """Parse the YAML series catalog (config/fred_indicators.yaml shape)."""
    import yaml

    with open(path) as fh:
        raw = yaml.safe_load(fh)
    entries = raw.get("indicators", raw) if isinstance(raw, dict) else raw
    out = []
    for e in entries:
        out.append(
            SeriesConfig(
                series_id=e["series_id"],
                name=e.get("name", ""),
                start_date=str(e.get("start_date", "")),
                end_date=str(e.get("end_date", "")),
                table_name=e.get("table_name", "economic_indicators"),
                sheet_name=e.get("sheet_name", "FRED_data"),
            )
        )
    return out


def _window(cfg: SeriesConfig) -> tuple[date, date]:
    """Parse the run window; an entry without a usable window must fail
    here rather than fetch nothing and rebuild nothing."""
    bounds = []
    for field in ("start_date", "end_date"):
        raw = getattr(cfg, field)
        try:
            bounds.append(datetime.strptime(raw, "%Y-%m-%d").date())
        except (TypeError, ValueError):
            raise ValueError(
                f"series {cfg.series_id!r}: {field} {raw!r} is not a YYYY-MM-DD date"
            ) from None
    start, end = bounds
    if start > end:
        raise ValueError(
            f"series {cfg.series_id!r}: start_date {start} is after end_date {end}"
        )
    return start, end


def run_series(
    spark: SparkSession,
    cfg: SeriesConfig,
    lake_root: str,
    fetcher: Fetcher,
) -> dict[str, int]:
    """One series end-to-end: extract -> bronze -> silver -> gold.

    Only what the ``[start_date, end_date]`` window touches is rebuilt:
    silver from the bronze months inside the window, gold from the silver
    months of every year the window touches (a Dec->Jan window rebuilds
    both years). Only those rows get new ``processed_at``/``aggregated_at``
    stamps, as in the reference. Observations a fetcher returns outside
    the window still land in bronze, but reach silver only when a window
    covering them runs (FRED's ``observation_start``/``observation_end``
    keep its responses inside the window). Raises ``ValueError`` naming
    the series when a window bound is missing, unparseable or reversed.

    Returns whole-indicator bronze/silver/gold row counts, not counts of
    the rebuilt scope. Serving loads (RDS upsert / sheet append) are
    separate calls on the gold output (sources/serving.py) so
    environments without those stores can still run the lake pipeline.
    """
    start, end = _window(cfg)
    stamp = now_iso_utc()

    ranges = month_ranges(spark, start.isoformat(), end.isoformat())
    raw = fetch_observations(ranges, cfg.series_id, fetcher)
    bronze = format_observations(raw, cfg.series_id, ingested_at_iso=stamp)
    write_bronze(bronze, lake_root)

    # parameterized predicates, not interpolated SQL: series_id is config
    # input and must never reach the parser as text. The scopes reference
    # only partition columns, so they prune the scans to the window.
    indicator = F.col("indicator") == F.lit(cfg.series_id)
    year = F.col("observation_year")
    month_index = year * 12 + F.col("observation_month")
    in_window = month_index.between(
        start.year * 12 + start.month, end.year * 12 + end.month
    )
    in_years = year.between(start.year, end.year)

    bronze_back = read_bronze(spark, lake_root).where(indicator)
    silver = silver_transform(bronze_back.where(in_window), processed_at_iso=stamp)
    write_silver(silver, lake_root)

    silver_back = read_silver(spark, lake_root).where(indicator)
    gold = gold_aggregate(silver_back.where(in_years), aggregated_at_iso=stamp)
    write_gold(gold, lake_root)

    return {
        "bronze": bronze_back.count(),
        "silver": silver_back.count(),
        "gold": read_gold(spark, lake_root).where(indicator).count(),
    }


def run_catalog(
    spark: SparkSession, catalog_path: str, lake_root: str, fetcher: Fetcher
) -> dict[str, dict[str, int]]:
    """Run every series in the catalog (the reference's 11 DAGs, as a loop
    of idempotent Spark jobs)."""
    return {
        cfg.series_id: run_series(spark, cfg, lake_root, fetcher)
        for cfg in load_catalog(catalog_path)
    }


# --- curation job (extension family through the same job-runner shape) -------

@dataclass(frozen=True)
class CurationConfig:
    """Declarative knobs for a corpus-curation run (the training-data
    analogue of SeriesConfig): one entry drives gate -> dedup ->
    decontam -> split -> partitioned write, idempotently."""

    min_tokens: int = 5
    decontam_shingle_k: int = 4
    decontam_min_hits: int = 2
    # doc_id % modulus == 0 -> held out as the `benchmark` split: these
    # rows are the decontamination reference AND are written to the lake
    # under split=benchmark (ungated, undeduped — eval sets are curated
    # upstream), so every input doc lands in exactly one split and the
    # job accounts for 100% of its input.
    bench_modulus: int = 50
    split_weights: tuple[tuple[str, int], ...] = (
        ("train", 90), ("val", 5), ("test", 5),
    )


def run_curation_job(
    spark: SparkSession,
    docs_path: str,
    out_root: str,
    cfg: CurationConfig = CurationConfig(),
) -> dict[str, int]:
    """Curate a documents parquet into a split-partitioned training lake.

    Pipeline (each stage a DataFrame transform, fused by Catalyst):
    token-count gate -> exact dedup -> benchmark n-gram decontamination
    -> deterministic split assignment -> parquet partitioned by
    ``split`` with dynamic partition overwrite, so re-running the job
    replaces exactly the splits it produces (the reference's idempotent
    month re-run semantics, applied to corpus snapshots). The benchmark
    rows themselves are written under ``split=benchmark`` so no input
    doc silently vanishes. Returns per-split row counts, computed from
    the DataFrame that was written — NOT re-read from ``out_root``,
    where pre-existing partitions this run didn't produce (e.g. a prior
    run with different split names) would leak into the summary.
    """
    from .operators.curation import assign_split
    from .operators.decontam import decontaminate
    from .operators.dedup import exact_dedup
    from .operators.text import token_count

    docs = spark.read.parquet(docs_path)
    bench = docs.where(F.col("doc_id") % cfg.bench_modulus == 0)
    corpus = docs.where(F.col("doc_id") % cfg.bench_modulus != 0)
    gated = corpus.where(token_count(F.col("text")) >= cfg.min_tokens)
    deduped = exact_dedup(gated)
    clean = decontaminate(
        deduped,
        bench,
        shingle_k=cfg.decontam_shingle_k,
        min_hits=cfg.decontam_min_hits,
    )
    labeled = assign_split(clean, weights=cfg.split_weights).unionByName(
        bench.withColumn("split", F.lit("benchmark"))
    )
    # persist: the plan below it is consumed twice (write + counts), and
    # the dedup/decontam stages each contain a shuffle worth one compute
    labeled = labeled.persist()
    try:
        (
            labeled.repartition(F.col("split"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("split")
            .parquet(out_root)
        )
        return {
            r["split"]: r["n"]
            for r in labeled.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    finally:
        labeled.unpersist()
