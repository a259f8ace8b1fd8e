"""The vectorized BAM path (block-window framing, numpy decode, numpy
region residual) against the scalar reference ``bam.parse_record`` plus
``coords.alignment_record_passes``, on synthetic BAMs written without the
package's writers (``tests/bam_synth.py``)."""

from __future__ import annotations

import re
import struct

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from oxbow_spark import coords
from oxbow_spark.models.sam_header import STANDARD_FIELD_NAMES, TagDef
from oxbow_spark.sources import bam as bam_mod
from oxbow_spark.sources.bam import BamDataSource, BamPartition, BamReader, parse_record
from tests.bam_synth import Read, encode_record, random_reads, write_bam

REFS = [("chr1", 300_000), ("chr2", 150_000)]
TAG_DEFS = "NM:i,RG:Z"


@pytest.fixture(scope="module")
def synth(tmp_path_factory):
    """The same reads twice: with a BAI, and without an index. Blocks of
    300 inflated bytes make records straddle blocks; every 9th record
    starts a block."""
    reads = random_reads(7, REFS, 400)
    d = tmp_path_factory.mktemp("bamvec")
    cut = set(range(4, len(reads), 9))
    indexed = write_bam(str(d / "a.bam"), REFS, reads, block_bytes=300, cut_before=cut)
    plain = write_bam(str(d / "b.bam"), REFS, reads, block_bytes=300, cut_before=cut,
                      index=False)
    return indexed, plain


def _reader(path, **opts) -> BamReader:
    return BamReader(BamDataSource({"path": path, **{k: str(v) for k, v in opts.items()}}))


def _table(reader: BamReader, parts=None) -> pa.Table:
    parts = reader.partitions() if parts is None else parts
    batches = [b for p in parts for b in reader.read(p)]
    return pa.Table.from_batches(batches, schema=reader._arrow_schema)


def _expected(sb, keep=lambda row: True, tags=False) -> dict[str, list]:
    """Columns from ``parse_record`` over every record ``keep`` passes."""
    defs = [TagDef(*d.split(":")) for d in TAG_DEFS.split(",")]
    rows = []
    for body in sb.bodies:
        row, tg = parse_record(body, sb.ref_names, tags)
        if keep(row):
            if tags:
                row = row + [{d.name: d.parse(*tg[d.name]) if d.name in tg else None
                              for d in defs}]
            rows.append(row)
    names = STANDARD_FIELD_NAMES + (["tags"] if tags else [])
    return {nm: [r[i] for r in rows] for i, nm in enumerate(names)}


def _assert_equal(table: pa.Table, expected: dict[str, list]):
    assert table.column_names == list(expected)
    for nm, want in expected.items():
        assert table.column(nm).to_pylist() == want, nm


def test_synthetic_bam_covers_the_edge_cases(synth):
    sb, _ = synth
    rows = [parse_record(b, sb.ref_names, False)[0] for b in sb.bodies]
    cigars = [r[5] for r in rows if r[5]]
    assert set("".join(c for c in "".join(cigars) if not c.isdigit())) == set("MIDNSHP=X")
    assert any(str(2**28 - 1) in c for c in cigars)
    assert {len(n) for c in cigars for n in re.findall(r"\d+", c)} == set(range(1, 10))
    assert any(r[5] is None and r[2] is not None for r in rows)  # n_cigar == 0
    assert any(r[2] is None for r in rows) and any(r[1] & 4 and r[2] for r in rows)
    assert any(r[6] is not None and r[6] != r[2] for r in rows)  # mate elsewhere
    assert any(r[9] and len(r[9]) % 2 for r in rows) and any(r[9] is None for r in rows)
    assert any(r[9] and r[10] is None for r in rows)  # qual 0xFF
    assert any(r[0] is None for r in rows)  # qname '*'
    # records straddle blocks, and some start exactly at a block start
    starts = {c << 16 for c in sb.block_coffsets}
    assert sum(v in starts for v in sb.vpos) >= 20
    assert max(sb.block_lens) < min(len(b) for b in sb.bodies if len(b) > 300)


@pytest.mark.parametrize("which", [0, 1], ids=["bai", "no-index"])
def test_whole_scan_matches_parse_record(synth, which):
    sb = synth[which]
    _assert_equal(_table(_reader(sb.path)), _expected(sb))
    _assert_equal(_table(_reader(sb.path, tag_defs=TAG_DEFS)), _expected(sb, tags=True))
    proj = _table(_reader(sb.path, fields="cigar,end,qual"))
    want = _expected(sb)
    assert proj.column_names == ["cigar", "end", "qual"]
    for nm in proj.column_names:
        assert proj.column(nm).to_pylist() == want[nm]


def test_small_chunksize_partitions_lose_and_repeat_nothing(synth):
    sb, _ = synth
    reader = _reader(sb.path, chunksize=1)
    parts = reader.partitions()
    assert len(parts) > 20
    cuts = [p.vstart for p in parts[1:]]
    assert any(v & 0xFFFF for v in cuts)  # mid-block cuts
    assert any(not v & 0xFFFF for v in cuts)  # cuts at a block start
    _assert_equal(_table(reader, parts), _expected(sb))


@pytest.mark.parametrize("refill", [1, 1 << 20])
def test_record_window_frames_exact_ranges(synth, monkeypatch, refill):
    """The framer on its own: every [vstart, vend) cut at record starts
    (mid-block, at a block start, or spelled as the previous block's end)
    yields exactly the records in between, each at its own virtual
    offset, whatever the batch cap and read-ahead. A vend one byte into a
    record takes that record too."""
    from oxbow_spark.sources.bgzf import BgzfReader

    sb, _ = synth
    monkeypatch.setattr(bam_mod, "_MIN_REFILL", refill)
    vp = sb.vpos + [1 << 62]
    alias = {}
    for i, v in enumerate(sb.vpos):
        k = sb.block_coffsets.index(v >> 16)
        if not v & 0xFFFF and k:
            alias[i] = sb.block_coffsets[k - 1] << 16 | sb.block_lens[k - 1]
    cuts = sorted(set(range(0, len(sb.vpos), 23)) | set(list(alias)[::4]))
    cuts.append(len(sb.vpos))
    ranges = [(a, b, alias.get(b, vp[b])) for a, b in zip(cuts, cuts[1:])]
    ranges += [(a, b + 1, vp[b] + 1) for a, b in zip(cuts, cuts[1:-1])]
    for a, b, vend in ranges:
        for cap in (1, 3, 1000):
            with BgzfReader(sb.path) as r:
                bam_mod.read_bam_header(r)
                w = bam_mod._RecordWindow(r, alias.get(a, vp[a]), vend)
                got, where = [], []
                while True:
                    buf, starts, lens = w.frame(cap, 1 << 30)
                    if not len(starts):
                        break
                    assert len(starts) <= cap
                    got += [buf[s:s + n] for s, n in zip(starts, lens)]
                    where += [w.vpos(s - 4) for s in starts]
            assert got == sb.bodies[a:b]
            assert where == sb.vpos[a:b]


REGIONS = [
    "chr1:1-40000",
    "chr1:20000-60000;chr1:50000-90000;chr2:100-5000",
    "chr2:140000",
    "chr2",
    "*",
    "chr1:100000-100500;*",
    "chrZ:1-1000",
    "chrZ:1-1000;chr2:1000-30000",
]


@pytest.mark.parametrize("which", [0, 1], ids=["bai", "no-index"])
@pytest.mark.parametrize("regions", REGIONS)
def test_region_unions_match_residual(synth, which, regions):
    sb = synth[which]
    entries = coords.residual_entries(coords.merge_regions(coords.parse_regions(regions)))

    def keep(row):
        return coords.alignment_record_passes(entries, row[2], row[3], row[11])

    want = _expected(sb, keep)
    assert len(want["qname"]) or regions == "chrZ:1-1000"
    _assert_equal(_table(_reader(sb.path, regions=regions)), want)


def test_limit_and_batch_size_one(synth):
    sb, _ = synth
    want = _expected(sb)
    for limit in (0, 1, 17, 10_000):
        _assert_equal(_table(_reader(sb.path, limit=limit)),
                      {k: v[:limit] for k, v in want.items()})
    # the limit holds per partition
    parts = _reader(sb.path, chunksize=1).partitions()
    full = [_table(_reader(sb.path), [p]).to_pylist() for p in parts]
    for limit in (1, 3):
        lim = _reader(sb.path, limit=limit)
        assert [_table(lim, [p]).to_pylist() for p in parts] == [f[:limit] for f in full]
    batches = list(_reader(sb.path, batch_size=1).read(_reader(sb.path).partitions()[0]))
    assert {b.num_rows for b in batches} == {1}
    _assert_equal(pa.Table.from_batches(batches), want)
    # with a region filter the limit counts kept rows, not framed ones
    entries = coords.residual_entries(coords.parse_regions("chr2"))
    kept = _expected(sb, lambda r: coords.alignment_record_passes(entries, r[2], r[3], r[11]))
    t = _table(_reader(sb.path, regions="chr2", limit=5, batch_size=3))
    _assert_equal(t, {k: v[:5] for k, v in kept.items()})


@pytest.mark.parametrize("cap", [1, 700])
def test_tiny_max_batch_bytes(synth, monkeypatch, cap):
    sb, _ = synth
    monkeypatch.setattr(bam_mod, "MAX_BATCH_BYTES", cap)
    reader = _reader(sb.path)
    batches = [b for p in reader.partitions() for b in reader.read(p)]
    assert len(batches) > (len(sb.bodies) if cap == 1 else 20) - 1
    _assert_equal(pa.Table.from_batches(batches), _expected(sb))


@pytest.mark.parametrize("batch_size", [5, 64, 65536])
def test_window_refills_block_by_block(synth, monkeypatch, batch_size):
    """With no read-ahead the window refills for every straddling record,
    mid-batch too, and drops the bytes before the batch each time."""
    sb, _ = synth
    monkeypatch.setattr(bam_mod, "_MIN_REFILL", 1)
    want = _expected(sb)
    _assert_equal(_table(_reader(sb.path, batch_size=batch_size)), want)
    _assert_equal(_table(_reader(sb.path, batch_size=batch_size, chunksize=1)), want)
    regions = REGIONS[1]
    entries = coords.residual_entries(coords.merge_regions(coords.parse_regions(regions)))
    _assert_equal(
        _table(_reader(sb.path, batch_size=batch_size, regions=regions)),
        _expected(sb, lambda r: coords.alignment_record_passes(entries, r[2], r[3], r[11])))


def _three_records(tmp_path, middle: bytes) -> str:
    reads = [Read("a", 0, 10, 0, 60, [(4, "M")], "ACGT", b"IIII"),
             Read("b", 0, 20, 0, 60, [(4, "M")], "ACGT", b"????"),
             Read("c", 0, 30, 0, 60, [(4, "M")], "ACGT", b"!!!!")]
    bodies = [encode_record(r) for r in reads]
    bodies[1] = middle
    path = str(tmp_path / "bad.bam")
    write_bam(path, REFS, reads, block_bytes=40, index=False, bodies=bodies)
    return path


def test_record_overrunning_block_size_raises(tmp_path):
    good = encode_record(Read("b", 0, 20, 0, 60, [(4, "M")], "ACGT", b"????"))
    # l_seq claims 6 bases where the record holds 4: seq and qual would
    # run into the next record's bytes
    l_seq6 = good[:16] + struct.pack("<i", 6) + good[20:]
    l_seq600 = good[:16] + struct.pack("<i", 600) + good[20:]
    n_cigar9 = good[:12] + struct.pack("<H", 9) + good[14:]
    for body in (l_seq6, l_seq600, n_cigar9, good[:20]):
        path = _three_records(tmp_path, body)
        with pytest.raises(bam_mod.BamRecordError, match=r"bad\.bam: record at virtual offset \d+"):
            _table(_reader(path))
    path = _three_records(tmp_path, good)
    assert _table(_reader(path)).column("seq").to_pylist() == ["ACGT"] * 3


def test_record_error_names_the_record_position(tmp_path):
    good = encode_record(Read("b", 0, 20, 0, 60, [(4, "M")], "ACGT", b"????"))
    path = _three_records(tmp_path, good[:16] + struct.pack("<i", 6) + good[20:])
    reader = _reader(path)
    part = reader.partitions()[0]
    with pytest.raises(ValueError) as err:
        _table(reader, [part])
    # the second record starts right after the first one
    from oxbow_spark.sources.bgzf import BgzfReader

    with BgzfReader(path) as r:
        _, _, first = bam_mod.read_bam_header(r)
        r.seek_virtual(first)
        (size,) = struct.unpack("<i", r.read(4))
        r.read(size)
        second = r.tell_virtual()
    assert f"virtual offset {second}:" in str(err.value)
    assert f"block_size is {len(good)}" in str(err.value)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 6), st.integers(0, 5), st.booleans()), max_size=25))
def test_gather_ranges_equals_slicing(spec):
    """Ranges in order with gaps, plus empty ranges pointing anywhere."""
    arr = np.arange(256, dtype=np.uint8)
    offs, lens, at = [], [], 0
    for gap, n, stray in spec:
        if stray and n == 0:
            offs.append(gap * 7)  # an empty range anywhere
        else:
            offs.append(at + gap)
            at += gap + n
        lens.append(n)
    offs_a, lens_a = np.array(offs, dtype=np.int64), np.array(lens, dtype=np.int64)
    got, out_starts = bam_mod._gather_ranges(arr, offs_a, lens_a)
    want = [arr[o:o + n] for o, n in zip(offs, lens)]
    assert got.tobytes() == b"".join(w.tobytes() for w in want)
    assert out_starts.tolist() == np.concatenate(([0], np.cumsum(lens)))[:-1].tolist()


def test_gather_ranges_rejects_overlap():
    arr = np.arange(32, dtype=np.uint8)
    with pytest.raises(ValueError, match="out of order"):
        bam_mod._gather_ranges(arr, np.array([10, 5]), np.array([3, 2]))
