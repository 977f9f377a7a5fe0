"""Seeded FRED input generator, replay fetcher and expected-output model.

The generator stands in for the FRED REST API: for every (series, month)
it produces the observation payload the API would return, deterministically
from ``(seed, series_id, year, month)``. Payloads carry the artifacts the
pipeline must handle:

- the FRED missing-value sentinel ``"."`` (dropped before aggregation);
- the ``"nan"`` coercion artifact (kept as a row, but not a valid value);
- months whose every value is ``"."`` (no silver/gold row at all);
- re-extraction duplicates: a payload that repeats some observations,
  as an overlapping re-fetch would (the pipeline has no bronze dedup, so
  duplicates count toward the monthly mean and count).

Values are multiples of 1/8, so every monthly sum is exact in binary
floating point and the mean is one correctly rounded division whatever
order Spark sums in: the model below reproduces it bit for bit.

The model is independent of the engine: plain Python over the same
payloads, computing per month the mean and count of valid values and the
gold value rounded half-even to 2 decimals.
"""

from __future__ import annotations

import calendar
import datetime as dt
import random
from decimal import ROUND_HALF_EVEN, Decimal

# (series_id, cadence) of the reference's 11-series catalog shape: daily
# Treasury/funds rates, weekly claims/balance-sheet series and monthly
# macro series
REFERENCE_SERIES = (
    ("DGS10", "daily"),
    ("EFFR", "daily"),
    ("T10Y2Y", "daily"),
    ("ICSA", "weekly"),
    ("WALCL", "weekly"),
    ("UNRATE", "monthly"),
    ("CPIAUCSL", "monthly"),
    ("PAYEMS", "monthly"),
    ("FEDFUNDS", "monthly"),
    ("INDPRO", "monthly"),
    ("PCE", "monthly"),
)

P_DOT = 0.04  # per observation: "." sentinel
P_NAN = 0.02  # per observation: "nan" artifact
P_ALL_DOT = 0.02  # per month: every value is "."
P_DUP = 0.08  # per month: the payload repeats some observations


def pick_catalog(seed: int, n_series: int) -> list[tuple[str, str]]:
    """A seeded subset of the reference catalog that always mixes all
    three cadences (one of each first, the rest drawn at random)."""
    rng = random.Random(f"catalog:{seed}")
    by_cadence: dict[str, list[tuple[str, str]]] = {}
    for s in REFERENCE_SERIES:
        by_cadence.setdefault(s[1], []).append(s)
    chosen = [rng.choice(v) for _, v in sorted(by_cadence.items())]
    rest = [s for s in REFERENCE_SERIES if s not in chosen]
    rng.shuffle(rest)
    chosen += rest[: max(0, n_series - len(chosen))]
    return chosen[:n_series]


def _dates(cadence: str, year: int, month: int, series_id: str) -> list[dt.date]:
    last = calendar.monthrange(year, month)[1]
    days = [dt.date(year, month, d) for d in range(1, last + 1)]
    if cadence == "daily":
        return [d for d in days if d.weekday() < 5]  # business days
    if cadence == "weekly":
        anchor = sum(map(ord, series_id)) % 7  # each series its weekday
        return [d for d in days if d.weekday() == anchor]
    return [days[0]]


def month_payload(
    seed: int, series_id: str, cadence: str, year: int, month: int
) -> list[dict]:
    """The observations FRED returns for one series-month."""
    rng = random.Random(f"obs:{seed}:{series_id}:{year}:{month}")
    level = 8 * (1 + sum(map(ord, series_id)) % 40)  # in eighths
    all_dot = rng.random() < P_ALL_DOT
    out = []
    for d in _dates(cadence, year, month, series_id):
        u = rng.random()
        if all_dot or u < P_DOT:
            value = "."
        elif u < P_DOT + P_NAN:
            value = "nan"
        else:
            value = f"{(level + rng.randint(-60, 60)) / 8:.3f}"
        out.append({"date": d.isoformat(), "value": value})
    if out and rng.random() < P_DUP:
        out += rng.sample(out, k=rng.randint(1, len(out)))
    return out


def month_range(year: int, month: int) -> tuple[str, str]:
    last = calendar.monthrange(year, month)[1]
    return f"{year:04d}-{month:02d}-01", f"{year:04d}-{month:02d}-{last:02d}"


def next_month(y: int, m: int) -> tuple[int, int]:
    return (y + 1, 1) if m == 12 else (y, m + 1)


def months_between(first: tuple[int, int], last: tuple[int, int]):
    ym = first
    while ym <= last:
        yield ym
        ym = next_month(*ym)


def payload_bytes(obs: list[dict]) -> int:
    """Generated input size: the payload as the API's JSON would carry it."""
    return sum(len(o["date"]) + len(o["value"]) + 22 for o in obs)


class SeriesFeed:
    """The generated FRED history of one catalog: payloads per
    (series, year, month), materialised on first use."""

    def __init__(self, seed: int, catalog: list[tuple[str, str]]):
        self.seed = seed
        self.cadence = dict(catalog)
        self._cache: dict[tuple[str, int, int], list[dict]] = {}

    def payload(self, series_id: str, year: int, month: int) -> list[dict]:
        key = (series_id, year, month)
        if key not in self._cache:
            self._cache[key] = month_payload(
                self.seed, series_id, self.cadence[series_id], year, month
            )
        return self._cache[key]

    def replay_table(self, series_id: str, months) -> dict[tuple[str, str], list[dict]]:
        """(range_start, range_end) -> payload, the shape
        ``sources.extract.replay_fetcher`` takes."""
        return {month_range(y, m): self.payload(series_id, y, m) for y, m in months}


# --- expected outputs --------------------------------------------------------


def round_half_even_2dp(x: float) -> float:
    # Spark's bround goes through the double's shortest decimal string
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_EVEN))


def expected_month(obs: list[dict]) -> tuple[float | None, int] | None:
    """(gold value, observation_count) for one month, or None when the
    month has no row (every value null or ".")."""
    kept = [o["value"] for o in obs if o["value"] is not None and o["value"] != "."]
    if not kept:
        return None
    nums = [float(v) for v in kept if v != "nan"]
    if not nums:
        return None, 0
    return round_half_even_2dp(sum(nums) / len(nums)), len(nums)


def expected_year(feed: SeriesFeed, series_id: str, year: int, months) -> dict[int, tuple]:
    """month -> (value, count) over the given loaded months of one year."""
    out = {}
    for y, m in months:
        if y != year:
            continue
        e = expected_month(feed.payload(series_id, y, m))
        if e is not None:
            out[m] = e
    return out


def diff_rows(label: str, got: dict, want: dict) -> list[str]:
    """Human-readable mismatches between two month -> (value, count) maps."""
    errs = []
    for m in sorted(set(got) | set(want)):
        if got.get(m) != want.get(m):
            errs.append(f"{label} month {m}: got {got.get(m)} want {want.get(m)}")
    return errs
