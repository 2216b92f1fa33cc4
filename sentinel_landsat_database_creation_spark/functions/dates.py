"""Acquisition-date parsing and epoch-aligned week binning.

Reimplements (as Column expressions) the reconstructed semantics of the
reference's missing ``date_extraction`` module and its NumPy week
histogram (SURVEY.md §1.4, §2 ops 15/21/36/37'):

- Sentinel-2 scene names ``yyyyMMdd'T'HHmmss_..._Ttttttt`` — date = first
  8 chars (reference evidence data_pair/S_out.csv:2).
- HLS/Landsat scene names ``HLS.L30.Ttttttt.yyyyDDD'T'HHmmss.v2.0`` —
  year + day-of-year in dot-field 4 (data_pair/L_out.csv:2).
- Week grid: ``np.arange(start, stop, dtype='datetime64[W]')`` floors both
  endpoints to 7-day units since 1970-01-01 (a Thursday), yielding
  Thursday-aligned bins (main_function_beta.py:29). ``np.histogram`` drops
  dates outside the edge range and closes the LAST bin on the right
  (main_function_beta.py:41-42).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

_EPOCH = _dt.date(1970, 1, 1)  # a Thursday — the alignment anchor


def s2_date(data: Column) -> Column:
    """Sentinel-2 acquisition date from a scene directory basename."""
    return F.to_date(F.substring(data, 1, 8), "yyyyMMdd")


def hls_date(data: Column) -> Column:
    """HLS (Landsat) acquisition date: year + day-of-year from field 4."""
    return F.to_date(
        F.substring(F.element_at(F.split(data, "\\."), 4), 1, 7), "yyyyDDD"
    )


def epoch_week_index(date: Column) -> Column:
    """Whole weeks since 1970-01-01 — the datetime64[W] integer value."""
    return F.floor(F.datediff(date, F.lit(_EPOCH)) / 7).cast("long")


def week_start_of_index(week_idx: Column) -> Column:
    """Inverse of epoch_week_index: the Thursday the bin opens on."""
    return F.date_add(F.lit(_EPOCH), (week_idx * 7).cast("int"))


@dataclass(frozen=True)
class WeekGrid:
    """The reference's histogram bin grid, precomputed driver-side.

    ``np.arange(start, stop, dtype='datetime64[W]')`` floors start/stop to
    week units and generates edges start_w .. stop_w-1; histogram over E
    edges has E-1 bins. Tiny metadata (53 bins for the golden year) — a
    frozen literal, never a DataFrame.
    """

    first_edge_idx: int  # week index of edges[0]
    n_bins: int  # len(edges) - 1

    @classmethod
    def from_range(cls, start: str, stop: str) -> "WeekGrid":
        s = _dt.date.fromisoformat(start)
        e = _dt.date.fromisoformat(stop)
        first = (s - _EPOCH).days // 7
        last = (e - _EPOCH).days // 7  # exclusive arange stop, floored
        return cls(first_edge_idx=first, n_bins=last - first - 1)

    @property
    def last_edge_idx(self) -> int:
        return self.first_edge_idx + self.n_bins

    @property
    def first_edge(self) -> _dt.date:
        return _EPOCH + _dt.timedelta(weeks=self.first_edge_idx)

    @property
    def last_edge(self) -> _dt.date:
        return _EPOCH + _dt.timedelta(weeks=self.last_edge_idx)

    def bin_of(self, date: Column) -> Column:
        """0-based bin for an in-range date, np.histogram semantics:
        half-open bins except the last, which includes its right edge."""
        wk = epoch_week_index(date) - F.lit(self.first_edge_idx)
        return F.when(wk >= self.n_bins, F.lit(self.n_bins - 1)).otherwise(wk)

    def in_range(self, date: Column) -> Column:
        """np.histogram keeps dates in [edges[0], edges[-1]] inclusive."""
        return date.between(F.lit(self.first_edge), F.lit(self.last_edge))


# The golden grid used by the reference run (main_function_beta.py:29):
# 54 edges 2022-12-29 .. 2024-01-04, 53 Thursday-aligned bins.
GOLDEN_GRID = WeekGrid.from_range("2023-01-01", "2024-01-15")
