"""Synthetic BAM + BAI writer for reader equality tests.

Encodes records per the public SAMv1 specification (§4.2 record layout,
§5 BAI index) with stdlib ``struct``/``zlib`` and numpy only — never the
package's own writers, so a reader test cannot pass merely because the
writer and reader share a bug. BGZF blocks can be made small and cut at
chosen stream offsets, so records straddle blocks and some start exactly
at a block start.
"""

from __future__ import annotations

import bisect
import struct
from dataclasses import dataclass, field

import numpy as np

from tests.bcf_synth import BGZF_EOF, bgzf_block

CIGAR_OPS = "MIDNSHP=X"
SEQ_CODES = "=ACMGRSVTWYHKDBN"
_REF_CONSUMING = set("MDN=X")


@dataclass
class Read:
    """One alignment record; ``pos`` is 0-based (-1 when unplaced),
    ``qual`` None writes the 0xFF missing-quality marker."""

    qname: str
    ref_id: int = -1
    pos: int = -1
    flag: int = 4
    mapq: int = 255
    cigar: list[tuple[int, str]] = field(default_factory=list)
    seq: str = ""
    qual: bytes | None = None
    next_ref: int = -1
    next_pos: int = -1
    tlen: int = 0
    tags: bytes = b""

    def ref_end(self) -> int:
        """0-based exclusive end on the reference (pos + 1 without a
        reference-consuming op, as samtools indexes such records)."""
        span = sum(n for n, op in self.cigar if op in _REF_CONSUMING)
        return self.pos + (span or 1)


def reg2bin(beg: int, end: int) -> int:
    """SAMv1 §5.3 bin of the 0-based half-open interval [beg, end)."""
    end -= 1
    for shift, off in ((14, 4681), (17, 585), (20, 73), (23, 9), (26, 1)):
        if beg >> shift == end >> shift:
            return off + (beg >> shift)
    return 0


def tag_i(name: str, v: int) -> bytes:
    return name.encode() + b"i" + struct.pack("<i", v)


def tag_z(name: str, v: str) -> bytes:
    return name.encode() + b"Z" + v.encode() + b"\x00"


def encode_record(r: Read) -> bytes:
    """Record body (without the block_size prefix)."""
    name = r.qname.encode() + b"\x00"
    bin_ = reg2bin(r.pos, r.ref_end()) if r.pos >= 0 else 4680
    cig = b"".join(struct.pack("<I", n << 4 | CIGAR_OPS.index(op)) for n, op in r.cigar)
    codes = [SEQ_CODES.index(c) for c in r.seq] + [0]
    packed = bytes(codes[i] << 4 | codes[i + 1] for i in range(0, len(r.seq), 2))
    qual = r.qual if r.qual is not None else b"\xff" * len(r.seq)
    assert len(qual) == len(r.seq)
    return (
        struct.pack(
            "<iiBBHHHiiii", r.ref_id, r.pos, len(name), r.mapq, bin_,
            len(r.cigar), r.flag, len(r.seq), r.next_ref, r.next_pos, r.tlen,
        )
        + name + cig + packed + qual + r.tags
    )


def header_bytes(refs: list[tuple[str, int]]) -> bytes:
    text = "@HD\tVN:1.6\tSO:coordinate\n" + "".join(
        f"@SQ\tSN:{nm}\tLN:{ln}\n" for nm, ln in refs)
    out = [b"BAM\x01", struct.pack("<i", len(text)), text.encode(),
           struct.pack("<i", len(refs))]
    for nm, ln in refs:
        b = nm.encode() + b"\x00"
        out += [struct.pack("<i", len(b)), b, struct.pack("<i", ln)]
    return b"".join(out)


@dataclass
class SynthBam:
    path: str
    ref_names: list[str]
    bodies: list[bytes]        # record bodies in file order
    vpos: list[int]            # each record's start virtual position
    block_coffsets: list[int]  # file offset of each data block
    block_lens: list[int]      # inflated length of each data block


def write_bam(
    path: str, refs: list[tuple[str, int]], reads: list[Read], *,
    block_bytes: int = 512, cut_before: set[int] = frozenset(),
    index: bool = True, bodies: list[bytes] | None = None,
) -> SynthBam:
    """Write ``reads`` (coordinate-sorted, unplaced last) as a BAM with
    BGZF blocks of ``block_bytes`` inflated bytes, plus a block cut
    before every record index in ``cut_before``; with ``index`` a BAI
    goes to ``path + '.bai'``. ``bodies`` replaces the encoded records
    (to write malformed ones)."""
    head = header_bytes(refs)
    if bodies is None:
        bodies = [encode_record(r) for r in reads]
    stream = [head]
    rec_off = []
    off = len(head)
    for b in bodies:
        rec_off.append(off)
        stream.append(struct.pack("<i", len(b)) + b)
        off += 4 + len(b)
    data = b"".join(stream)
    forced = {rec_off[i] for i in cut_before}
    cuts = [0]
    for p in range(1, len(data)):
        if p in forced or p - cuts[-1] >= block_bytes:
            cuts.append(p)
    cuts.append(len(data))
    coffs, lens = [], []
    with open(path, "wb") as f:
        for a, b in zip(cuts, cuts[1:]):
            coffs.append(f.tell())
            lens.append(b - a)
            f.write(bgzf_block(data[a:b]))
        eof_coff = f.tell()
        f.write(BGZF_EOF)

    def vpos(p: int) -> int:
        k = bisect.bisect_right(cuts, p) - 1
        if k == len(coffs):  # end of data: the EOF block
            return eof_coff << 16
        return coffs[k] << 16 | (p - cuts[k])

    starts = [vpos(p) for p in rec_off]
    ends = starts[1:] + [vpos(len(data))]
    if index:
        write_bai(path + ".bai", len(refs), reads, starts, ends)
    return SynthBam(path, [nm for nm, _ in refs], bodies, starts, coffs, lens)


def write_bai(path: str, n_ref: int, reads: list[Read], starts, ends) -> None:
    """SAMv1 §5.2 BAI: one chunk per record in its bin, a 16 kb linear
    index of the smallest start per window (holes take the previous
    window's value, leading holes the reference's first record, as
    htslib fills them) and the unplaced count."""
    bins: list[dict[int, list[tuple[int, int]]]] = [{} for _ in range(n_ref)]
    linear: list[dict[int, int]] = [{} for _ in range(n_ref)]
    n_no_coor = 0
    for r, vs, ve in zip(reads, starts, ends):
        if r.ref_id < 0:
            n_no_coor += 1
            continue
        beg, end = r.pos, r.ref_end()
        bins[r.ref_id].setdefault(reg2bin(beg, end), []).append((vs, ve))
        for w in range(beg >> 14, ((end - 1) >> 14) + 1):
            linear[r.ref_id].setdefault(w, vs)
    out = [b"BAI\x01", struct.pack("<i", n_ref)]
    for rid in range(n_ref):
        out.append(struct.pack("<i", len(bins[rid])))
        for b, chunks in sorted(bins[rid].items()):
            out.append(struct.pack("<Ii", b, len(chunks)))
            out += [struct.pack("<QQ", vs, ve) for vs, ve in chunks]
        lin = linear[rid]
        n_intv = max(lin) + 1 if lin else 0
        ioffs = []
        prev = min(lin.values()) if lin else 0
        for w in range(n_intv):
            prev = lin.get(w, prev)
            ioffs.append(prev)
        out.append(struct.pack("<i", n_intv))
        out.append(struct.pack(f"<{n_intv}Q", *ioffs))
    out.append(struct.pack("<Q", n_no_coor))
    with open(path, "wb") as f:
        f.write(b"".join(out))


def random_reads(seed: int, refs: list[tuple[str, int]], n: int) -> list[Read]:
    """Coordinate-sorted reads covering every CIGAR op, op lengths of 1
    to 9 digits (up to 2**28-1), n_cigar == 0, placed and unplaced
    unmapped reads, mates on another reference, odd and zero l_seq,
    missing qualities and ``*`` read names."""
    rng = np.random.default_rng(seed)
    reads = []
    for i in range(n):
        rid = int(rng.integers(len(refs)))
        pos = int(rng.integers(0, refs[rid][1]))
        l_seq = int(rng.choice([0, 1, 7, 50, 101, 150]))
        seq = "".join(rng.choice(list(SEQ_CODES), size=l_seq))
        kind = i % 10
        if kind == 0:
            cigar = []  # mapped without a cigar: end falls back to pos
        elif kind == 1:
            # every op, non-consuming ones with 1..9-digit lengths
            digits = int(rng.integers(1, 10))
            big = min(10 ** digits - 1, 2**28 - 1)
            cigar = [(5, "S"), (big, "H"), (big, "I"), (3, "M"), (2, "D"),
                     (40, "N"), (big, "P"), (4, "="), (1, "X"), (big, "S")]
        else:
            ops = rng.choice(list(CIGAR_OPS), size=int(rng.integers(1, 6)))
            cigar = [(int(rng.integers(1, 120)), str(op)) for op in ops]
        mate = int(rng.integers(len(refs)))
        reads.append(Read(
            qname="*" if kind == 3 else f"r{i}",
            ref_id=rid, pos=pos,
            flag=4 if kind == 4 else int(rng.integers(0, 4096)) & ~4,
            mapq=int(rng.integers(0, 256)),
            cigar=[] if kind == 4 else cigar,
            seq=seq,
            qual=None if kind == 5 else bytes(rng.integers(0, 60, size=l_seq, dtype=np.uint8)),
            next_ref=mate, next_pos=int(rng.integers(0, refs[mate][1])),
            tlen=int(rng.integers(-500, 500)),
            tags=tag_i("NM", i % 7) + (tag_z("RG", f"g{i % 3}") if i % 2 else b""),
        ))
    reads.sort(key=lambda r: (r.ref_id, r.pos))
    # one read whose N op spans 2**28-1 bases, and unplaced reads last
    last = reads[-1]
    reads.append(Read("long", last.ref_id, last.pos, 0, 60,
                      [(10, "M"), (2**28 - 1, "N"), (10, "M")], "ACGTA", b"IIIII"))
    for i in range(5):
        reads.append(Read(f"u{i}", seq="ACG" * i, qual=b"#" * (3 * i) if i % 2 else None,
                          next_ref=i % len(refs) if i % 2 else -1))
    return reads
