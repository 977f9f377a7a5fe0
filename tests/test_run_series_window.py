"""Window-scoped medallion refresh in ``jobs.run_series``.

A run rebuilds only the silver months inside its window and the gold
years the window touches; every other partition keeps its files and its
audit stamps, while the returned counts stay whole-indicator. The window
itself is validated before anything is fetched.
"""

from __future__ import annotations

import calendar
import os
import shutil
from datetime import date, timedelta

import pytest

from fred_economic_data_pipeline_local_spark.jobs import (
    SeriesConfig,
    load_catalog,
    run_catalog,
    run_series,
)
from fred_economic_data_pipeline_local_spark.sources.lake import (
    read_bronze,
    read_gold,
    read_silver,
)

SID = "UNRATE"
FIRST, LAST = (2022, 11), (2024, 2)  # 16 months over three years


def month_window(y, m):
    return f"{y}-{m:02d}-01", f"{y}-{m:02d}-{calendar.monthrange(y, m)[1]:02d}"


def fetcher(revise=0.0, log=None):
    """Observations on the 1st and 15th of every month, inside whatever
    range is asked for; ``revise`` shifts every value."""

    def fetch(series_id, start, end):
        if log is not None:
            with open(log, "a") as fh:
                fh.write(f"{series_id} {start} {end}\n")
        lo, hi = date.fromisoformat(start), date.fromisoformat(end)
        out, d = [], lo
        while d <= hi:
            if d.day in (1, 15):
                v = d.year % 100 + d.month / 10 + d.day / 100 + revise
                out.append({"date": d.isoformat(), "value": f"{v:.2f}"})
            d += timedelta(days=1)
        return out

    return fetch


def cfg(start, end):
    return SeriesConfig(series_id=SID, start_date=start, end_date=end)


@pytest.fixture(scope="module")
def backfilled(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("window") / "lake")
    counts = run_series(
        spark, cfg(month_window(*FIRST)[0], month_window(*LAST)[1]), root, fetcher()
    )
    assert counts == {"bronze": 32, "silver": 16, "gold": 16}
    return root


@pytest.fixture()
def lake(backfilled, tmp_path):
    root = str(tmp_path / "lake")
    shutil.copytree(backfilled, root)
    return root


def files(root, layer):
    """partition dir -> data file names, for one layer of the lake."""
    base = os.path.join(root, layer, f"indicator={SID}")
    out = {}
    for dirpath, _, names in os.walk(base):
        data = sorted(n for n in names if n.startswith("part-"))
        if data:
            out[os.path.relpath(dirpath, base)] = data
    return out


def silver_stamps(spark, root):
    return {
        (r.observation_year, r.observation_month): (r.value, r.processed_at)
        for r in read_silver(spark, root).collect()
    }


def gold_rows(spark, root):
    return {
        (r.observation_year, r.observation_month): r
        for r in read_gold(spark, root).collect()
    }


def test_one_month_run_keeps_other_partitions(spark, lake):
    silver_files, gold_files = files(lake, "processed_data"), files(lake, "aggregated_data")
    silver0, gold0 = silver_stamps(spark, lake), gold_rows(spark, lake)

    counts = run_series(spark, cfg(*month_window(*LAST)), lake, fetcher())
    # whole-indicator counts, not the one rebuilt month
    assert counts == {"bronze": 32, "silver": 16, "gold": 16}

    silver1, gold1 = silver_stamps(spark, lake), gold_rows(spark, lake)
    new_silver, new_gold = files(lake, "processed_data"), files(lake, "aggregated_data")
    window_dir = f"observation_year={LAST[0]}/observation_month={LAST[1]}"
    for part, names in silver_files.items():
        if part == window_dir:
            assert new_silver[part] != names
        else:
            assert new_silver[part] == names, part
    assert new_gold["observation_year=2022"] == gold_files["observation_year=2022"]
    assert new_gold["observation_year=2023"] == gold_files["observation_year=2023"]
    assert new_gold["observation_year=2024"] != gold_files["observation_year=2024"]

    assert silver1.keys() == silver0.keys() == gold1.keys()
    for key in silver0:
        if key == LAST:
            assert silver1[key][1] != silver0[key][1]
        else:
            assert silver1[key] == silver0[key], key
    for key, row in gold1.items():
        if key[0] == LAST[0]:
            # the touched year is re-aggregated; its other month keeps
            # the silver stamp it was processed with
            assert row.aggregated_at != gold0[key].aggregated_at
            assert row.processed_at == silver1[key][1]
        else:
            assert row == gold0[key], key


def test_dec_jan_window_rebuilds_both_years(spark, lake):
    silver0 = silver_stamps(spark, lake)
    run_series(spark, cfg("2022-12-10", "2023-01-20"), lake, fetcher())

    silver1, gold1 = silver_stamps(spark, lake), gold_rows(spark, lake)
    changed = {k for k in silver0 if silver1[k][1] != silver0[k][1]}
    assert changed == {(2022, 12), (2023, 1)}
    stamps = {row.aggregated_at for key, row in gold1.items() if key[0] in (2022, 2023)}
    assert len(stamps) == 1  # one run stamped both years
    # each rebuilt year holds every one of its silver months
    for y in (2022, 2023):
        assert {m for yy, m in gold1 if yy == y} == {m for yy, m in silver1 if yy == y}
    assert sum(1 for y, _ in gold1 if y == 2023) == 12
    assert all(row.aggregated_at not in stamps for key, row in gold1.items() if key[0] == 2024)


def test_revised_month_updates_silver_and_gold_year(spark, lake):
    silver0, gold0 = silver_stamps(spark, lake), gold_rows(spark, lake)
    run_series(spark, cfg(*month_window(2023, 6)), lake, fetcher(revise=1.0))

    silver1, gold1 = silver_stamps(spark, lake), gold_rows(spark, lake)
    assert silver1[(2023, 6)][0] == pytest.approx(silver0[(2023, 6)][0] + 1.0)
    assert gold1[(2023, 6)].value == pytest.approx(gold0[(2023, 6)].value + 1.0)
    for key in silver0:
        if key != (2023, 6):
            assert silver1[key] == silver0[key], key
            assert gold1[key].value == gold0[key].value, key
    # the bronze month was replaced, not appended to
    assert read_bronze(spark, lake).count() == 32


def test_run_series_fetches_each_range_once(spark, tmp_path):
    log = tmp_path / "fetches.log"
    run_series(spark, cfg("2024-01-01", "2024-03-31"), str(tmp_path / "lake"),
               fetcher(log=str(log)))
    assert sorted(log.read_text().splitlines()) == [
        f"{SID} 2024-01-01 2024-01-31",
        f"{SID} 2024-02-01 2024-02-29",
        f"{SID} 2024-03-01 2024-03-31",
    ]


@pytest.mark.parametrize(
    "start, end",
    [
        ("", "2024-01-31"),
        ("2024-01-01", ""),
        ("2024-13-01", "2024-12-31"),
        ("2024-01-01", "January"),
        ("2024-02-01", "2024-01-31"),
    ],
)
def test_run_series_rejects_bad_window(spark, tmp_path, start, end):
    log = tmp_path / "fetches.log"
    with pytest.raises(ValueError, match=SID):
        run_series(spark, cfg(start, end), str(tmp_path / "lake"), fetcher(log=str(log)))
    assert not log.exists()
    assert not (tmp_path / "lake").exists()


def test_catalog_entry_without_dates_is_rejected(spark, tmp_path):
    cat = tmp_path / "catalog.yaml"
    cat.write_text("indicators:\n  - series_id: GDP\n    name: Gross Domestic Product\n")
    assert load_catalog(str(cat))[0].start_date == ""
    with pytest.raises(ValueError, match="GDP"):
        run_catalog(spark, str(cat), str(tmp_path / "lake"), fetcher())
