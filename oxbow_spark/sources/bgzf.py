"""BGZF block-compressed I/O + BAI/CSI-style binning index structures.

Implemented from the public SAM/BAM/tabix specifications
(https://samtools.github.io/hts-specs/SAMv1.pdf §4). Parity targets:

- virtual positions ``(coffset << 16) | uoffset`` and record-aligned
  range scans (reference ``BgzfChunkReader``, `oxbow/src/util/query.rs:46-114`);
- ``partition_from_index(index, chunksize)``: linear-index offsets →
  deduped, sorted, pruned-to-chunksize virtual-position cut points — the
  shuffle-less partition planner (reference `oxbow/src/util/index.rs:119-178`,
  SURVEY D1);
- BAI bin query with linear-index lower bound and chunk merging
  (reference `alignment/scanner/bam.rs:186-199`).
"""

from __future__ import annotations

import gzip
import struct
import zlib
from dataclasses import dataclass

from oxbow_spark.sources import fsio


class BgzfReader:
    """Seekable reader over a BGZF file using virtual positions.

    Each BGZF block is an independent gzip member whose compressed size is
    stored in the 'BC' extra subfield. A virtual position addresses
    (block compressed offset, offset within decompressed block).
    """

    def __init__(self, path: str):
        self.f = fsio.open_binary(path)
        self._block_coffset = -1
        self._block_data = b""
        self._next_coffset = 0
        self._uoffset = 0

    def close(self):
        self.f.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def _load_block(self, coffset: int) -> None:
        """Read + inflate the BGZF block starting at coffset."""
        self.f.seek(coffset)
        header = self.f.read(18)
        if len(header) < 18:
            self._block_coffset = coffset
            self._block_data = b""
            self._next_coffset = coffset
            return
        if header[:4] != b"\x1f\x8b\x08\x04":
            raise ValueError(f"not a BGZF block at offset {coffset}")
        xlen = struct.unpack_from("<H", header, 10)[0]
        extra = header[12:18] + self.f.read(xlen - 6) if xlen > 6 else header[12:12 + xlen]
        # find BC subfield
        bsize = None
        i = 0
        while i + 4 <= len(extra):
            si1, si2, slen = extra[i], extra[i + 1], struct.unpack_from("<H", extra, i + 2)[0]
            if si1 == 0x42 and si2 == 0x43 and slen == 2:
                bsize = struct.unpack_from("<H", extra, i + 4)[0] + 1
                break
            i += 4 + slen
        if bsize is None:
            raise ValueError(f"BGZF block at {coffset} lacks BC subfield")
        self.f.seek(coffset + 12 + xlen)
        cdata = self.f.read(bsize - 12 - xlen - 8)
        self.f.read(8)  # crc32 + isize
        self._block_data = zlib.decompress(cdata, -15) if cdata else b""
        self._block_coffset = coffset
        self._next_coffset = coffset + bsize

    def block_at(self, coffset: int) -> tuple[bytes, int]:
        """Inflated bytes of the block at ``coffset`` and the offset of the
        block after it — the step for callers that frame records from whole
        blocks. The bytes are b"" at end of file (or at an empty block,
        which ``read`` also treats as the end)."""
        if coffset != self._block_coffset:
            self._load_block(coffset)
        return self._block_data, self._next_coffset

    def seek_virtual(self, vpos: int) -> None:
        coffset, uoffset = vpos >> 16, vpos & 0xFFFF
        if coffset != self._block_coffset:
            self._load_block(coffset)
        self._uoffset = uoffset

    def tell_virtual(self) -> int:
        if self._uoffset >= len(self._block_data) and self._block_data:
            # normalized position: start of the next block
            return self._next_coffset << 16
        return (self._block_coffset << 16) | self._uoffset

    def readline(self) -> bytes:
        """Read one \\n-terminated line (crossing block boundaries);
        b'' at EOF. ``tell_virtual()`` before the call gives the line's
        virtual position."""
        out = []
        while True:
            if self._block_coffset < 0:
                self._load_block(0)
            if self._uoffset >= len(self._block_data):
                nxt = self._next_coffset
                self._load_block(nxt)
                self._uoffset = 0
                if not self._block_data:
                    return b"".join(out)
            nl = self._block_data.find(b"\n", self._uoffset)
            if nl >= 0:
                out.append(self._block_data[self._uoffset:nl + 1])
                self._uoffset = nl + 1
                return b"".join(out)
            out.append(self._block_data[self._uoffset:])
            self._uoffset = len(self._block_data)

    def read(self, n: int) -> bytes:
        out = []
        while n > 0:
            if self._block_coffset < 0:
                self._load_block(0)
            avail = len(self._block_data) - self._uoffset
            if avail <= 0:
                nxt = self._next_coffset
                self._load_block(nxt)
                self._uoffset = 0
                if not self._block_data:
                    break  # EOF
                continue
            take = min(avail, n)
            out.append(self._block_data[self._uoffset:self._uoffset + take])
            self._uoffset += take
            n -= take
        return b"".join(out)


def is_bgzf(path: str) -> bool:
    with fsio.open_binary(path) as f:
        h = f.read(18)
    if len(h) < 18 or h[:4] != b"\x1f\x8b\x08\x04":
        return False
    xlen = struct.unpack_from("<H", h, 10)[0]
    with fsio.open_binary(path) as f:
        f.seek(12)
        extra = f.read(xlen)
    i = 0
    while i + 4 <= len(extra):
        if extra[i] == 0x42 and extra[i + 1] == 0x43:
            return True
        i += 4 + struct.unpack_from("<H", extra, i + 2)[0]
    return False


# --------------------------------------------------------------------- TBI

@dataclass
class TabixIndex:
    """Tabix (.tbi) index: BAI-style binning over bgzipped text files
    (spec: https://samtools.github.io/hts-specs/tabix.pdf). ``names``
    maps sequence names to the per-ref bin/interval structures."""

    refs: list["RefIndex"]
    names: list[str]
    col_seq: int
    col_beg: int
    col_end: int
    meta_char: str
    zero_based: bool  # format flag bit 0x10000 (BED-style coordinates)

    @classmethod
    def read(cls, path: str) -> "TabixIndex":
        with gzip.GzipFile(fileobj=fsio.open_binary(path)) as f:
            data = f.read()
        if data[:4] != b"TBI\x01":
            raise ValueError(f"{path} is not a tabix index")
        n_ref, fmt, col_seq, col_beg, col_end, meta, _skip, l_nm = struct.unpack_from(
            "<8i", data, 4
        )
        off = 36
        names = [s.decode() for s in data[off:off + l_nm].split(b"\x00") if s]
        off += l_nm
        refs = []
        for _ in range(n_ref):
            (n_bin,) = struct.unpack_from("<i", data, off)
            off += 4
            bins: dict[int, list[tuple[int, int]]] = {}
            for _ in range(n_bin):
                bin_id, n_chunk = struct.unpack_from("<Ii", data, off)
                off += 8
                chunks = []
                for _ in range(n_chunk):
                    beg, end = struct.unpack_from("<QQ", data, off)
                    off += 16
                    chunks.append((beg, end))
                bins[bin_id] = chunks
            (n_intv,) = struct.unpack_from("<i", data, off)
            off += 4
            ioffs = list(struct.unpack_from(f"<{n_intv}Q", data, off))
            off += 8 * n_intv
            refs.append(RefIndex(bins, ioffs))
        return cls(
            refs, names, col_seq, col_beg, col_end, chr(meta),
            bool(fmt & 0x10000),
        )

    def as_bai(self) -> "BaiIndex":
        return BaiIndex(self.refs)


# --------------------------------------------------------------------- BAI

@dataclass
class RefIndex:
    bins: dict[int, list[tuple[int, int]]]  # bin → [(chunk_beg, chunk_end)]
    intervals: list[int]                    # 16kb linear index ioffsets


@dataclass
class BaiIndex:
    refs: list[RefIndex]
    n_no_coor: int | None = None

    @classmethod
    def read(cls, path: str) -> "BaiIndex":
        raw = fsio.open_binary(path)
        with (gzip.GzipFile(fileobj=raw) if path.endswith(".gz") else raw) as f:
            data = f.read()
        if data[:4] != b"BAI\x01":
            raise ValueError(f"{path} is not a BAI index")
        off = 4
        (n_ref,) = struct.unpack_from("<i", data, off)
        off += 4
        refs = []
        for _ in range(n_ref):
            (n_bin,) = struct.unpack_from("<i", data, off)
            off += 4
            bins: dict[int, list[tuple[int, int]]] = {}
            for _ in range(n_bin):
                bin_id, n_chunk = struct.unpack_from("<Ii", data, off)
                off += 8
                chunks = []
                for _ in range(n_chunk):
                    beg, end = struct.unpack_from("<QQ", data, off)
                    off += 16
                    chunks.append((beg, end))
                bins[bin_id] = chunks
            (n_intv,) = struct.unpack_from("<i", data, off)
            off += 4
            ioffs = list(struct.unpack_from(f"<{n_intv}Q", data, off))
            off += 8 * n_intv
            refs.append(RefIndex(bins, ioffs))
        n_no_coor = None
        if off + 8 <= len(data):
            (n_no_coor,) = struct.unpack_from("<Q", data, off)
        return cls(refs, n_no_coor)


def reg2bins(beg: int, end: int, min_shift: int = 14, depth: int = 5) -> list[int]:
    """Bins overlapping [beg, end): the CSI generalized binning scheme
    (CSIv1 spec reg2bins pseudocode); BAI/TBI 5-level binning (SAM spec
    §5.3) is the min_shift=14, depth=5 instance."""
    bins = []
    end -= 1
    s = min_shift + depth * 3
    t = 0
    for level in range(depth + 1):
        bins.extend(range(t + (beg >> s), t + (end >> s) + 1))
        t += 1 << (level * 3)
        s -= 3
    return bins


# --------------------------------------------------------------------- CSI

@dataclass
class CsiRef:
    bins: dict[int, list[tuple[int, int]]]  # bin → [(chunk_beg, chunk_end)]
    loffsets: dict[int, int]                # bin → vpos of first overlapping record
    intervals: list[int]                    # sorted loffsets: record-aligned cuts
    meta: tuple[int, int] | None = None     # (n_mapped, n_unmapped) pseudo-bin

    @classmethod
    def build(cls, bins, loffsets, meta=None):
        return cls(bins, loffsets, sorted(set(loffsets.values())), meta)


@dataclass
class CsiIndex:
    """CSI (.csi) index (CSIv1 spec): generalized-depth binning with
    per-bin loffset virtual-position lower bounds in place of BAI's 16 kb
    linear index. Reference parity: `oxbow/src/util/index.rs` (noodles
    csi); fixtures `sample.bcf.csi`, `sample.vcf.gz.csi`."""

    refs: list[CsiRef]
    min_shift: int
    depth: int
    names: list[str] | None  # present when the aux blob is tabix-format
    n_no_coor: int | None = None

    @classmethod
    def read(cls, path: str) -> "CsiIndex":
        with gzip.GzipFile(fileobj=fsio.open_binary(path)) as f:
            data = f.read()
        if data[:4] != b"CSI\x01":
            raise ValueError(f"{path} is not a CSI index")
        min_shift, depth, l_aux = struct.unpack_from("<3i", data, 4)
        off = 16
        aux = data[off:off + l_aux]
        off += l_aux
        names = None
        if l_aux >= 28:  # tabix-style aux: format/cols/meta/skip + names
            (l_nm,) = struct.unpack_from("<i", aux, 24)
            names = [s.decode() for s in aux[28:28 + l_nm].split(b"\x00") if s]
        # bins >= this are metadata pseudo-bins, not interval bins
        bin_limit = ((1 << (3 * (depth + 1))) - 1) // 7
        (n_ref,) = struct.unpack_from("<i", data, off)
        off += 4
        refs = []
        for _ in range(n_ref):
            (n_bin,) = struct.unpack_from("<i", data, off)
            off += 4
            bins: dict[int, list[tuple[int, int]]] = {}
            loffsets: dict[int, int] = {}
            meta = None
            for _ in range(n_bin):
                bin_id, loffset, n_chunk = struct.unpack_from("<IQi", data, off)
                off += 16
                chunks = []
                for _ in range(n_chunk):
                    beg, end = struct.unpack_from("<QQ", data, off)
                    off += 16
                    chunks.append((beg, end))
                if bin_id < bin_limit:
                    bins[bin_id] = chunks
                    loffsets[bin_id] = loffset
                elif len(chunks) == 2:
                    # metadata pseudo-bin: chunk 2 = (n_mapped, n_unmapped)
                    meta = chunks[1]
            refs.append(CsiRef.build(bins, loffsets, meta))
        n_no_coor = None
        if off + 8 <= len(data):
            (n_no_coor,) = struct.unpack_from("<Q", data, off)
        return cls(refs, min_shift, depth, names, n_no_coor)


def index_stats(index: "BaiIndex | CsiIndex") -> list[tuple[int, int] | None]:
    """Per-reference (n_mapped, n_unmapped) record counts from the
    index's metadata pseudo-bins (samtools `idxstats` source data —
    BAI bin 37450 / CSI META_BIN, chunk 2), without touching record
    bytes. ``None`` for references whose index carries no pseudo-bin
    (older/minimal indexers)."""
    out: list[tuple[int, int] | None] = []
    for ref in index.refs:
        meta = getattr(ref, "meta", None)
        if meta is None:
            chunks = ref.bins.get(37450)
            meta = tuple(chunks[1]) if chunks and len(chunks) == 2 else None
        out.append(tuple(meta) if meta is not None else None)
    return out


def _min_vpos(ref, beg: int, min_shift: int, depth: int) -> int:
    """Virtual-position lower bound for records overlapping positions
    >= beg: BAI linear-index window, or the CSI loffset of the deepest
    indexed bin containing beg (walking up levels when absent)."""
    loff = getattr(ref, "loffsets", None)
    if loff is not None:
        s = min_shift
        for level in range(depth, -1, -1):
            t = ((1 << (3 * level)) - 1) // 7
            b = t + (beg >> s)
            if b in loff:
                return loff[b]
            s += 3
        return 0
    if ref.intervals:
        win = min(beg >> min_shift, len(ref.intervals) - 1)
        return ref.intervals[win]
    return 0


def query_chunks(
    index: "BaiIndex | CsiIndex", ref_id: int, beg: int, end: int
) -> list[tuple[int, int]]:
    """Merged (vpos_beg, vpos_end) chunks possibly containing records
    overlapping [beg, end) on ref_id — the index-pushdown seek list.
    Works for BAI/TBI (fixed 14/5 binning + linear index) and CSI
    (declared binning + per-bin loffsets)."""
    if ref_id < 0 or ref_id >= len(index.refs):
        return []
    ref = index.refs[ref_id]
    min_shift = getattr(index, "min_shift", 14)
    depth = getattr(index, "depth", 5)
    min_ioff = _min_vpos(ref, beg, min_shift, depth)
    chunks = []
    for b in reg2bins(beg, end, min_shift, depth):
        for cb, ce in ref.bins.get(b, ()):
            if ce > min_ioff:
                chunks.append((max(cb, min_ioff), ce))
    return coalesce_chunks(chunks)


def coalesce_chunks(chunks: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Merge overlapping/adjacent half-open (vstart, vend) ranges so each
    record offset lands in exactly one range — required when pooling index
    chunks across multiple query regions (nearby regions often share a
    16 kb linear-index chunk, which would otherwise double-read records)."""
    merged: list[tuple[int, int]] = []
    for cb, ce in sorted(chunks):
        if merged and cb <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], ce))
        else:
            merged.append((cb, ce))
    return merged


def partition_from_index(
    index: BaiIndex, chunksize: int, start_vpos: int, file_size: int
) -> list[tuple[int, int]]:
    """Split a coordinate-sorted BGZF file into ~chunksize-compressed-byte
    virtual-position ranges using linear-index offsets as record-aligned
    cut points (reference `oxbow/src/util/index.rs:119-178`).

    Returns half-open vpos ranges covering [start_vpos, file_size<<16).
    """
    cuts: set[int] = set()
    for ref in index.refs:
        cuts.update(v for v in ref.intervals if v)
    kept: list[int] = []
    last_coffset = start_vpos >> 16
    for v in sorted(cuts):
        if v <= start_vpos:
            continue
        if (v >> 16) - last_coffset >= chunksize:
            kept.append(v)
            last_coffset = v >> 16
    bounds = [start_vpos] + kept + [file_size << 16]
    return [
        (bounds[i], bounds[i + 1])
        for i in range(len(bounds) - 1)
        if bounds[i] < bounds[i + 1]
    ]
