"""Coordinate-system semantics, ported as a behavior matrix from the
reference test suite (`oxbow/src/coords.rs:299-433`,
`py-oxbow/tests/test_coords.py`): UCSC vs bracket parsing, separator
stripping, the ±1 start-only shift, and residual overlap checks.
No Spark session needed — pure Python."""

from __future__ import annotations

import pytest

from oxbow_spark.coords import (
    ONE_BASED_CLOSED,
    ZERO_BASED_HALF_OPEN,
    Region,
    parse_regions,
    start_offset,
)


def test_start_offset_matrix():
    assert start_offset("11", "01") == -1
    assert start_offset("01", "11") == 1
    assert start_offset("11", "11") == 0
    assert start_offset("01", "01") == 0
    with pytest.raises(ValueError):
        start_offset("10", "01")


@pytest.mark.parametrize(
    "s,cs,expected",
    [
        ("chr1", "11", Region("chr1", 0, None)),
        ("chr1", "01", Region("chr1", 0, None)),
        # UCSC is coord-system-dependent
        ("chr1:10001-20000", "11", Region("chr1", 10000, 20000)),
        ("chr1:10000-20000", "01", Region("chr1", 10000, 20000)),
        # separators stripped
        ("chr1:10,001-20,000", "11", Region("chr1", 10000, 20000)),
        ("chr1:10_001-20_000", "11", Region("chr1", 10000, 20000)),
        # open-ended
        ("chr1:10001-", "11", Region("chr1", 10000, None)),
        ("chr1:10001", "11", Region("chr1", 10000, None)),
        # bracket notation overrides the supplied coord system
        ("chr1:[10000,20000)", "11", Region("chr1", 10000, 20000)),
        ("chr1:[10001,20000]", "01", Region("chr1", 10000, 20000)),
        ("chr1:[10_000,20_000)", "11", Region("chr1", 10000, 20000)),
        # name containing ':' — rightmost colon splits
        ("HLA-DRB1*10:01:01:10001-20000", "11",
         Region("HLA-DRB1*10:01:01", 10000, 20000)),
        # unmapped sentinel
        ("*", "11", Region("*", 0, None)),
    ],
)
def test_parse(s, cs, expected):
    assert Region.parse(s, cs) == expected


@pytest.mark.parametrize("bad", ["", ":", ":100-200", "chr1:[100-200)", "chr1:[100,200", "chr1:abc-def"])
def test_parse_errors(bad):
    with pytest.raises(ValueError):
        Region.parse(bad, ONE_BASED_CLOSED)


def test_equivalent_notations_same_region():
    # the documented equivalence (docs/user-guide/coordinate-systems.md)
    forms = [
        Region.parse("chr1:10001-20000", ONE_BASED_CLOSED),
        Region.parse("chr1:10000-20000", ZERO_BASED_HALF_OPEN),
        Region.parse("chr1:[10000,20000)", ONE_BASED_CLOSED),
        Region.parse("chr1:[10001,20000]", ONE_BASED_CLOSED),
    ]
    assert len(set(forms)) == 1


def test_to_1based_closed_roundtrip():
    r = Region.parse("chr1:10001-20000", ONE_BASED_CLOSED)
    assert r.to_1based_closed() == ("chr1", 10001, 20000)


def test_overlaps_half_open():
    r = Region("chr1", 100, 200)
    assert r.overlaps(150, 160)
    assert r.overlaps(50, 101)   # touches first base
    assert not r.overlaps(50, 100)  # half-open: ends exactly at start
    assert r.overlaps(199, 300)
    assert not r.overlaps(200, 300)  # starts exactly at end
    whole = Region("chr1")
    assert whole.overlaps(0, 1)


def test_parse_regions_list():
    rs = parse_regions(["chr1:1-1000", "chr2"], ONE_BASED_CLOSED)
    assert rs == [Region("chr1", 0, 1000), Region("chr2", 0, None)]
    assert parse_regions(None) == []
    assert parse_regions("chr1")[0].name == "chr1"


def test_display_roundtrip():
    r = Region("chr1", 10000, 20000)
    assert str(r) == "chr1:[10000,20000)"
    assert Region.parse(str(r), ONE_BASED_CLOSED) == r
    assert str(Region("chr1")) == "chr1"


def test_merge_regions():
    from oxbow_spark.coords import merge_regions

    # overlapping + adjacent same-name intervals coalesce
    rs = parse_regions("chr1:[100,200);chr1:[150,300);chr1:[300,400)", "01")
    assert merge_regions(rs) == [Region("chr1", 100, 400)]
    # disjoint intervals stay apart; cross-chrom untouched; order preserved
    rs = parse_regions("chr2:[0,10);chr1:[100,200);chr1:[500,600)", "01")
    assert merge_regions(rs) == [
        Region("chr2", 0, 10), Region("chr1", 100, 200), Region("chr1", 500, 600)
    ]
    # open end swallows overlapping intervals; '*' dedupes to one
    rs = parse_regions("chr1:150;chr1:[100,200);*;*", "11")
    m = merge_regions(rs)
    assert m == [Region("chr1", 100, None), Region("*")]
    assert merge_regions([]) == []


def test_coalesce_chunks():
    from oxbow_spark.sources.bgzf import coalesce_chunks

    assert coalesce_chunks([(10, 20), (15, 30), (40, 50)]) == [(10, 30), (40, 50)]
    assert coalesce_chunks([(40, 50), (10, 20), (20, 30)]) == [(10, 30), (40, 50)]
    assert coalesce_chunks([]) == []


# ------------------------------------- numpy residual mask vs scalar check

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_NAMES = ["chr1", "chr2", "chrX"]
# small coordinates, so records often start or end right at a region edge
_coord = st.integers(0, 12)
_entry = st.one_of(
    st.just(("*",)),
    st.tuples(st.sampled_from(_NAMES + ["chrZ"]), _coord, st.none() | _coord),
)
_record = st.tuples(
    st.integers(-1, len(_NAMES) - 1),  # ref_id, -1 = no rname
    st.none() | st.integers(1, 12),    # pos1
    st.none() | st.integers(1, 16),    # end1
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_entry, max_size=4).map(tuple), st.lists(_record, max_size=30))
def test_alignment_records_mask_equals_scalar(entries, records):
    import numpy as np

    from oxbow_spark.coords import alignment_record_passes, alignment_records_mask

    ref_id = np.array([r for r, _, _ in records], dtype=np.int64)
    pos1 = np.array([p or 0 for _, p, _ in records], dtype=np.int64)
    end1 = np.array([e or 0 for _, _, e in records], dtype=np.int64)
    pos_valid = np.array([p is not None for _, p, _ in records], dtype=bool)
    end_valid = np.array([e is not None for _, _, e in records], dtype=bool)
    got = alignment_records_mask(
        entries, _NAMES, ref_id, pos1, pos_valid, end1, end_valid)
    want = [
        alignment_record_passes(entries, _NAMES[r] if r >= 0 else None, p, e)
        for r, p, e in records
    ]
    assert got.tolist() == want
