"""Genomic coordinate systems and region grammar.

Behavioral parity with the reference's coordinate module
(`oxbow/src/coords.rs:16-297`, docs `docs/user-guide/coordinate-systems.md`):

- Two coordinate systems, named by the base of the start coordinate:
  ``"11"`` (1-based closed; SAM/VCF/GFF native) and ``"01"`` (0-based
  half-open; BED/BBI native). Only *start* coordinates differ between the
  two; end coordinates are numerically identical. Conversion is an
  additive ±1 on starts.
- Internal canonical form is always 0-based half-open ``[start, end)``.
- Region strings parse as UCSC ``name[:start[-end]]`` (ambiguous — needs a
  coord system; ``,``/``_`` thousands separators stripped) or as
  self-describing bracket notation ``name:[start,end)`` (0-based
  half-open) / ``name:[start,end]`` (1-based closed).
- ``"*"`` selects unmapped records (alignment formats).

Spark-side, coordinate conversion is a column expression (±1 on start
columns) applied either inside a DataSource reader (reader option
``coords``) or post-hoc with :func:`convert_starts` — both stay inside
whole-stage codegen.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ONE_BASED_CLOSED = "11"
ZERO_BASED_HALF_OPEN = "01"
_VALID = (ONE_BASED_CLOSED, ZERO_BASED_HALF_OPEN)

UNMAPPED = "*"


def validate_coord_system(cs: str) -> str:
    if cs not in _VALID:
        raise ValueError(f"invalid coordinate system {cs!r}; expected '01' or '11'")
    return cs


def start_offset(source_cs: str, target_cs: str) -> int:
    """Additive offset converting a *start* coordinate source→target.

    '11'→'01' is -1; '01'→'11' is +1; identity is 0. End coordinates
    never shift (reference `coords.rs:24-38`).
    """
    validate_coord_system(source_cs)
    validate_coord_system(target_cs)
    if source_cs == target_cs:
        return 0
    return -1 if source_cs == ONE_BASED_CLOSED else 1


_NUM_SEP = re.compile(r"[,_]")


def _parse_number(s: str) -> int:
    cleaned = _NUM_SEP.sub("", s)
    if not cleaned.isdigit():
        raise ValueError(f"invalid number: {s!r}")
    return int(cleaned)


@dataclass(frozen=True)
class Region:
    """A query region; coordinates stored 0-based half-open.

    ``end is None`` means "to the end of the sequence"; ``name == '*'``
    selects unmapped records.
    """

    name: str
    start: int = 0
    end: int | None = None

    @property
    def is_unmapped(self) -> bool:
        return self.name == UNMAPPED

    @classmethod
    def parse(cls, s: str, coord_system: str = ONE_BASED_CLOSED) -> "Region":
        """Parse UCSC or bracket notation; bracket overrides coord_system."""
        validate_coord_system(coord_system)
        if not s:
            raise ValueError("empty region string")
        bracket = cls._try_parse_bracket(s)
        if bracket is not None:
            return bracket
        name, sep, interval = s.rpartition(":")
        if not sep:
            name, interval = s, ""
        if not name:
            raise ValueError(f"empty reference name in {s!r}")
        if not interval:
            return cls(name)
        lo, dash, hi = interval.partition("-")
        start = _parse_number(lo)
        end = _parse_number(hi) if dash and hi else None
        if coord_system == ONE_BASED_CLOSED:
            start = max(start - 1, 0)  # 1-based → 0-based; end is numerically equal
        return cls(name, start, end)

    @classmethod
    def _try_parse_bracket(cls, s: str) -> "Region | None":
        name, sep, rest = s.rpartition(":")
        if not sep or not rest.startswith("["):
            return None
        if rest.endswith(")"):
            half_open = True
        elif rest.endswith("]"):
            half_open = False
        else:
            raise ValueError(f"bracket notation must end with ')' or ']': {s!r}")
        body = rest[1:-1].replace("_", "")
        lo, comma, hi = body.partition(",")
        if not comma:
            raise ValueError(f"bracket notation requires 'start,end': {s!r}")
        start, end = int(lo), int(hi)
        if not half_open:
            start = max(start - 1, 0)  # 1-based closed → 0-based half-open
        return cls(name, start, end)

    def to_1based_closed(self) -> tuple[str, int, int | None]:
        """(name, start, end) in 1-based inclusive form, for index queries
        (analog of the reference's ``to_noodles``, `coords.rs:248-266`)."""
        return (self.name, self.start + 1, self.end)

    def overlaps(self, start: int, end: int) -> bool:
        """Half-open interval overlap (the residual re-check predicate,
        reference `alignment/scanner/batch_iterator/query.rs:142-159`)."""
        if self.end is not None and start >= self.end:
            return False
        return end > self.start

    def __str__(self) -> str:
        if self.start == 0 and self.end is None:
            return self.name
        if self.end is None:
            return f"{self.name}:[{self.start},)"
        return f"{self.name}:[{self.start},{self.end})"


def parse_regions(regions: str | list[str] | None, coord_system: str = ONE_BASED_CLOSED) -> list[Region]:
    """Parse a region list; a plain string splits on ';' (the reader-option
    encoding for multiple query regions)."""
    if regions is None:
        return []
    if isinstance(regions, str):
        regions = [r for r in regions.split(";") if r.strip()]
    return [Region.parse(r.strip(), coord_system) for r in regions]


def merge_regions(regions: list[Region]) -> list[Region]:
    """Normalize a multi-region query for scan planning: dedupe unmapped
    selectors and coalesce overlapping/adjacent same-name intervals.

    Multi-region scans plan partitions per region (the reference's
    scan_query is single-region, `oxbow/src/alignment/scanner/mod.rs`), so
    without this a record overlapping two requested regions — or two
    regions sharing an index chunk — would be emitted once per match.
    Union semantics are preserved: a record overlaps some input region iff
    it overlaps some merged region.
    """
    unmapped = any(r.is_unmapped for r in regions)
    by_name: dict[str, list[Region]] = {}
    for r in regions:
        if not r.is_unmapped:
            by_name.setdefault(r.name, []).append(r)
    out: list[Region] = []
    for name, rs in by_name.items():  # preserves first-seen name order
        rs = sorted(rs, key=lambda r: r.start)
        cs, ce = rs[0].start, rs[0].end
        for r in rs[1:]:
            if ce is None or r.start <= ce:
                ce = None if (ce is None or r.end is None) else max(ce, r.end)
            else:
                out.append(Region(name, cs, ce))
                cs, ce = r.start, r.end
        out.append(Region(name, cs, ce))
    if unmapped:
        out.append(Region(UNMAPPED))
    return out


def residual_entries(regions: list[Region]) -> tuple:
    """Regions → picklable residual-check entries shipped in partitions:
    ``("*",)`` for the unmapped selector, else ``(name, start0, end0)``."""
    return tuple(
        ("*",) if r.is_unmapped else (r.name, r.start, r.end) for r in regions
    )


def alignment_record_passes(
    entries: tuple, rname: str | None, pos1: int | None, end1: int | None
) -> bool:
    """Union residual re-check for an alignment record against merged
    region entries (1-based inclusive record coords, as SAM emits them).
    Each record is checked against the whole union exactly once, so
    multi-region scans cannot double-count."""
    for e in entries:
        if e[0] == "*":
            if rname is None:
                return True
            continue
        nm, s0, e0 = e
        if rname != nm or pos1 is None:
            continue
        rec_end = end1 if end1 is not None else pos1
        if e0 is not None and pos1 - 1 >= e0:
            continue
        if rec_end <= s0:
            continue
        return True
    return False


def alignment_records_mask(
    entries: tuple, ref_names: list[str], ref_id: np.ndarray,
    pos1: np.ndarray, pos_valid: np.ndarray,
    end1: np.ndarray, end_valid: np.ndarray,
) -> np.ndarray:
    """:func:`alignment_record_passes` over whole columns: record i has
    rname ``ref_names[ref_id[i]]`` (None when ``ref_id[i] < 0``), pos1
    ``pos1[i]`` where ``pos_valid[i]`` and end1 ``end1[i]`` where
    ``end_valid[i]`` (else None). Same union, ``"*"``, open-end and
    end-falls-back-to-pos rules; returns the boolean keep mask."""
    out = np.zeros(len(ref_id), dtype=bool)
    rec_end = np.where(end_valid, end1, pos1)
    for e in entries:
        if e[0] == "*":
            out |= ref_id < 0
            continue
        nm, s0, e0 = e
        hit = np.isin(ref_id, [i for i, r in enumerate(ref_names) if r == nm])
        hit &= pos_valid & (rec_end > s0)
        if e0 is not None:
            hit &= pos1 - 1 < e0
        out |= hit
    return out


# ----------------------------------------------------------------- Spark side

def convert_start_col(col: Column | str, source_cs: str, target_cs: str) -> Column:
    """Column expression shifting a start coordinate between systems."""
    c = F.col(col) if isinstance(col, str) else col
    off = start_offset(source_cs, target_cs)
    return c if off == 0 else c + F.lit(off)


def convert_starts(
    df: DataFrame, start_cols: list[str], source_cs: str, target_cs: str
) -> DataFrame:
    """Shift the given start columns source→target coord system.

    End columns are intentionally not an argument: they never shift
    (reference `coords.rs` module docs; builders apply the offset only to
    ``pos``/``pnext``/``start``, `alignment/model/batch.rs:60-73`).
    """
    off = start_offset(source_cs, target_cs)
    if off == 0:
        return df
    out = df
    for c in start_cols:
        out = out.withColumn(c, F.col(c) + F.lit(off))
    return out


def region_filter(region: Region, chrom_col: str, start_col: str, end_col: str) -> Column:
    """Residual overlap predicate for a region over 0-based half-open
    interval columns (Catalyst pushes it to the scan where possible)."""
    if region.is_unmapped:
        return F.col(chrom_col).isNull()
    cond = F.col(chrom_col) == region.name
    if region.end is not None:
        cond = cond & (F.col(start_col) < F.lit(region.end))
    cond = cond & (F.col(end_col) > F.lit(region.start))
    return cond
