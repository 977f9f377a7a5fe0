"""Bronze-side connector + lake round-trip + reference semantic pins.

Covers the FIXTURES.md §B edge cases: the "." sentinel, the literal
"nan" artifact, half-even rounding, lenient anti-join keys, upsert
update-all-non-key-columns, empty-input guards, and the month-range
planner (SURVEY.md §2.9 C9).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fred_economic_data_pipeline_local_spark.operators.fred import (
    format_observations,
    gold_aggregate,
    silver_transform,
)
from fred_economic_data_pipeline_local_spark.operators.serve import (
    dedup_append_delta,
    upsert_merge,
)
from fred_economic_data_pipeline_local_spark.sources.extract import (
    fetch_observations,
    month_ranges,
    replay_fetcher,
)
from fred_economic_data_pipeline_local_spark.sources.lake import (
    read_bronze,
    read_gold,
    read_silver,
    write_bronze,
    write_gold,
    write_silver,
)

STAMP = "2026-01-01T00:00:00+00:00"


def test_month_ranges_clamps_edges(spark):
    rows = month_ranges(spark, "2024-01-15", "2024-03-10").collect()
    assert [(r.range_start, r.range_end) for r in rows] == [
        ("2024-01-15", "2024-01-31"),
        ("2024-02-01", "2024-02-29"),  # leap year
        ("2024-03-01", "2024-03-10"),
    ]


def test_month_ranges_single_month(spark):
    rows = month_ranges(spark, "2023-06-05", "2023-06-20").collect()
    assert [(r.range_start, r.range_end) for r in rows] == [("2023-06-05", "2023-06-20")]


def test_fetch_observations_replay(spark):
    fixture = {
        ("2024-01-01", "2024-01-31"): [
            {"date": "2024-01-02", "value": "3.5"},
            {"date": "2024-01-03", "value": "."},
        ],
        ("2024-02-01", "2024-02-29"): [{"date": "2024-02-01", "value": "4.0"}],
    }
    ranges = month_ranges(spark, "2024-01-01", "2024-02-29")
    raw = fetch_observations(ranges, "UNRATE", replay_fetcher(fixture))
    got = sorted((r.date, r.value) for r in raw.collect())
    assert got == [("2024-01-02", "3.5"), ("2024-01-03", "."), ("2024-02-01", "4.0")]


def _bronze(spark, rows):
    raw = spark.createDataFrame(rows, "date string, value string")
    return format_observations(raw, "UNRATE", ingested_at_iso="2024-02-01T00:00:00+00:00")


def test_silver_semantics_sentinel_and_nan(spark):
    """"." rows are dropped BEFORE the agg; literal "nan" survives the
    filter but is null after coercion, so avg skips it AND count(value)
    excludes it (transform_fred_data.py:117-128 semantics)."""
    bronze = _bronze(
        spark,
        [
            ("2024-01-01", "1.0"),
            ("2024-01-02", "2.0"),
            ("2024-01-03", "."),
            ("2024-01-04", "nan"),
        ],
    )
    out = silver_transform(bronze, processed_at_iso=STAMP).collect()
    assert len(out) == 1
    row = out[0]
    assert row.value == pytest.approx(1.5)
    assert row.observation_count == 2  # "." filtered, "nan" null-skipped
    assert row.processed_at == STAMP


def test_silver_all_sentinel_month_absent(spark):
    bronze = _bronze(spark, [("2024-01-01", "."), ("2024-01-02", ".")])
    assert silver_transform(bronze, processed_at_iso=STAMP).count() == 0


def test_gold_half_even_rounding(spark):
    """numpy round is banker's: 0.125 -> 0.12, 0.135 -> 0.14
    (aggregate_fred_data.py:122; SURVEY.md §7.3 item 2)."""
    bronze = _bronze(spark, [("2024-01-01", "0.125"), ("2024-02-01", "0.135")])
    gold = gold_aggregate(
        silver_transform(bronze, processed_at_iso=STAMP), aggregated_at_iso=STAMP
    )
    vals = sorted(r.value for r in gold.collect())
    assert vals == [0.12, 0.14]


def test_dedup_append_lenient_keys(spark):
    """Sheets state comes back all-string; "2024" == 2024 == 2024.0 on the
    dedup key (load_fred_data_to_google.py:94-101)."""
    incoming = spark.createDataFrame(
        [("UNRATE", 2024, 1, 3.5), ("UNRATE", 2024, 2, 3.6)],
        "indicator string, observation_year int, observation_month int, value double",
    )
    existing = spark.createDataFrame(
        [("UNRATE", "2024.0", "1")],
        "indicator string, observation_year string, observation_month string",
    )
    out = dedup_append_delta(incoming, existing).collect()
    assert [(r.observation_year, r.observation_month) for r in out] == [(2024, 2)]


def test_upsert_merge_update_all_non_key(spark):
    """ON CONFLICT DO UPDATE SET <all non-key> = EXCLUDED.*
    (load_fred_data.py:54-59): source wins on collision, target survives
    otherwise, new keys insert."""
    target = spark.createDataFrame(
        [("UNRATE", 2024, 1, 3.5, 20), ("UNRATE", 2024, 2, 3.6, 21)],
        "indicator string, observation_year int, observation_month int, value double, observation_count long",
    )
    source = spark.createDataFrame(
        [("UNRATE", 2024, 2, 9.9, 99), ("UNRATE", 2024, 3, 3.7, 22)],
        "indicator string, observation_year int, observation_month int, value double, observation_count long",
    )
    out = {r.observation_month: (r.value, r.observation_count)
           for r in upsert_merge(target, source).collect()}
    assert out == {1: (3.5, 20), 2: (9.9, 99), 3: (3.7, 22)}


def test_lake_round_trip(spark, tmp_path):
    root = str(tmp_path / "lake")
    bronze = _bronze(
        spark, [("2024-01-01", "1.0"), ("2024-01-15", "2.0"), ("2024-02-01", "3.0")]
    )
    write_bronze(bronze, root)
    back = read_bronze(spark, root)
    assert back.count() == 3
    # partition columns recovered from the hive layout
    assert set(back.columns) >= {"indicator", "observation_year", "observation_month"}

    silver = silver_transform(
        back.withColumn("ingested_at", F.to_timestamp(F.lit("2024-02-01 00:00:00"))),
        processed_at_iso=STAMP,
    )
    write_silver(silver, root)
    silver_back = read_silver(spark, root)
    assert silver_back.count() == 2  # (2024,1) and (2024,2)

    gold = gold_aggregate(silver_back, aggregated_at_iso=STAMP)
    write_gold(gold, root)
    assert read_gold(spark, root).count() == 2


def test_lake_empty_write_guard(spark, tmp_path):
    root = str(tmp_path / "empty_lake")
    empty = _bronze(spark, []).where(F.lit(False))
    write_bronze(empty, root)  # must not create the directory or fail
    import os

    assert not os.path.exists(os.path.join(root, "raw_data"))


def test_write_bronze_fetches_each_range_once(spark, tmp_path):
    """The empty-input guard and the write read the same fetched rows:
    one fetcher call per month range, not one per action."""
    log = tmp_path / "fetches.log"

    def fetcher(series_id, start, end):
        with open(log, "a") as fh:
            fh.write(f"{start} {end}\n")
        return [{"date": start, "value": "1.0"}]

    ranges = month_ranges(spark, "2024-01-01", "2024-03-31")
    bronze = format_observations(
        fetch_observations(ranges, "UNRATE", fetcher), "UNRATE", ingested_at_iso=STAMP
    )
    write_bronze(bronze, str(tmp_path / "lake"))
    assert sorted(log.read_text().splitlines()) == [
        "2024-01-01 2024-01-31",
        "2024-02-01 2024-02-29",
        "2024-03-01 2024-03-31",
    ]
    assert read_bronze(spark, str(tmp_path / "lake")).count() == 3
