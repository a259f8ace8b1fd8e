"""Seeded synthetic BAM + BAI corpus with per-read ground truth.

The benchmark owns this generator so that the input bytes stay identical
on both sides of a comparison even when a change edits the program's own
writers: it uses only stdlib ``zlib``/``struct`` and numpy, never
``oxbow_spark``. Records follow SAMv1 §4.2 and the index SAMv1 §5.2.

Entropy is meant to look like short-read data rather than a constant
pattern: uniformly random bases, qualities drawn from one fixed Phred
distribution, forward and reverse strands, skewed MAPQ, and a CIGAR mix of
full matches, soft clips at either end, insertions and deletions. Blocks
are deflated at zlib level 1 (``samtools view -1``): on this corpus it
inflates within 15% of level-6 output and compresses 3x faster, which
keeps a fresh seed's generation short.

Usage: python3 perfbench/corpus.py --seed 1 --out /tmp/corpus
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import struct
import subprocess
import sys
import time
import zlib
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

# Bump whenever the bytes written for a given seed change: cache entries
# are keyed by (seed, version).
GENERATOR_VERSION = 1
REFS = (("chr1", 40_000_000), ("chr2", 27_000_000))
# ~7.5k reads per Mb: a 1 Mb region query returns about 7.5k rows
N_READS = 500_000
READ_LEN = 100
BLOCK = 65280  # uncompressed bytes per BGZF block, as htslib writes them
CHUNK = 32768  # records assembled per numpy pass
GEN_THREADS = 4  # deflate threads; the output is the same for any count
CACHE_KEEP = 12  # cached corpora kept on disk, least recently used evicted
BGZF_EOF = bytes.fromhex("1f8b08040000000000ff0600424302001b0003000000000000000000")
READ_GROUP = b"grp1"
QNAME_PREFIX = b"SIM."  # + 10 digits + NUL
L_READ_NAME = len(QNAME_PREFIX) + 10 + 1
# fixed Phred distribution: mass concentrated at Q30-Q40 with a tail to Q2
QUALS = np.arange(2, 42)
QUAL_P = np.exp(-(41 - QUALS) / 5.0)
QUAL_P[0] += 0.02
QUAL_P /= QUAL_P.sum()
# 16-bit uniform → Phred lookup: inverse CDF without a per-base search
_QUAL_LUT = QUALS[np.searchsorted(np.cumsum(QUAL_P), (np.arange(65536) + 0.5) / 65536)].astype(np.uint8)
# CIGAR classes: 100M | xS mM | mM xS | aM bI cM | aM bD cM
CIGAR_P = (0.70, 0.10, 0.05, 0.07, 0.08)
N_CIGAR = (1, 2, 2, 3, 3)
OP_M, OP_I, OP_D, OP_S = 0, 1, 2, 4
_SEQ_CODE = np.array([1, 2, 4, 8], dtype=np.uint8)  # A C G T
_FIXED = np.dtype([
    ("block_size", "<i4"), ("ref_id", "<i4"), ("pos", "<i4"),
    ("l_read_name", "u1"), ("mapq", "u1"), ("bin", "<u2"),
    ("n_cigar", "<u2"), ("flag", "<u2"), ("l_seq", "<i4"),
    ("next_ref", "<i4"), ("next_pos", "<i4"), ("tlen", "<i4"),
])


def reg2bin(beg: np.ndarray, end: np.ndarray) -> np.ndarray:
    """SAMv1 §5.3 reg2bin over half-open [beg, end), vectorized."""
    e = end - 1
    out = np.zeros(len(beg), dtype=np.int64)
    done = np.zeros(len(beg), dtype=bool)
    for shift, base in ((14, 4681), (17, 585), (20, 73), (23, 9), (26, 1)):
        hit = ~done & ((beg >> shift) == (e >> shift))
        out[hit] = base + (beg[hit] >> shift)
        done |= hit
    return out


@dataclass
class Truth:
    """Per-read ground truth, in file order."""

    ref_id: np.ndarray  # int8
    pos0: np.ndarray    # int32, 0-based leftmost mapped base
    reflen: np.ndarray  # int32, reference bases the alignment covers

    def region(self, ref_id: int, start1: int, end1: int) -> tuple[int, int]:
        """(rows, sum of 1-based pos) overlapping 1-based closed region."""
        # file order is sorted by (ref_id, pos0)
        lo = np.searchsorted(self.ref_id, ref_id, side="left")
        hi = np.searchsorted(self.ref_id, ref_id, side="right")
        pos0, reflen = self.pos0[lo:hi], self.reflen[lo:hi]
        a = np.searchsorted(pos0, start1 - 1 - int(reflen.max()), side="left")
        b = np.searchsorted(pos0, end1, side="left")
        p, r = pos0[a:b].astype(np.int64), reflen[a:b]
        hit = p + r > start1 - 1
        return int(hit.sum()), int((p[hit] + 1).sum())

    def totals(self) -> dict:
        p = self.pos0.astype(np.int64)
        return {"rows": len(p), "pos_sum": int((p + 1).sum()),
                "end_sum": int((p + self.reflen).sum())}


@dataclass
class Corpus:
    bam: str
    bai: str
    truth: Truth
    refs: tuple
    gen_s: float  # generation time; 0.0 when served from cache


def _bgzf_block(data: bytes) -> bytes:
    co = zlib.compressobj(1, zlib.DEFLATED, -15)
    cdata = co.compress(data) + co.flush()
    return (b"\x1f\x8b\x08\x04\x00\x00\x00\x00\x00\xff"
            + struct.pack("<HBBHH", 6, 66, 67, 2, len(cdata) + 25)
            + cdata
            + struct.pack("<II", zlib.crc32(data), len(data)))


class _BgzfWriter:
    """Cuts a byte stream into BLOCK-sized BGZF blocks and remembers each
    block's compressed offset so stream offsets map to virtual positions.
    Blocks are deflated on ``pool``'s threads (zlib releases the GIL) and
    written in order, so the bytes do not depend on the thread count."""

    def __init__(self, fh, pool: ThreadPoolExecutor):
        self.fh = fh
        self.pool = pool
        self.pending = bytearray()
        self.coffsets: list[int] = []

    def _blocks(self, raw: list[bytes]) -> None:
        for block in self.pool.map(_bgzf_block, raw):
            self.coffsets.append(self.fh.tell())
            self.fh.write(block)

    def write(self, data: bytes) -> None:
        self.pending += data
        n_full = len(self.pending) // BLOCK
        self._blocks([bytes(self.pending[i * BLOCK:(i + 1) * BLOCK]) for i in range(n_full)])
        del self.pending[:n_full * BLOCK]

    def flush(self) -> None:
        if self.pending:
            self._blocks([bytes(self.pending)])
            self.pending.clear()

    def finish(self) -> None:
        self.flush()
        self.coffsets.append(self.fh.tell())  # start of the EOF marker
        self.fh.write(BGZF_EOF)

    def vpos(self, stream_off: np.ndarray) -> np.ndarray:
        co = np.asarray(self.coffsets, dtype=np.int64)
        return (co[stream_off // BLOCK] << 16) | (stream_off % BLOCK)


def _header(refs) -> bytes:
    text = "@HD\tVN:1.6\tSO:coordinate\n"
    text += "".join(f"@SQ\tSN:{n}\tLN:{ln}\n" for n, ln in refs)
    text += f"@RG\tID:{READ_GROUP.decode()}\tSM:sim\n"
    text += f"@PG\tID:perfbench\tPN:corpus.py\tVN:{GENERATOR_VERSION}\n"
    raw = text.encode()
    out = b"BAM\x01" + struct.pack("<i", len(raw)) + raw + struct.pack("<i", len(refs))
    for name, ln in refs:
        nb = name.encode() + b"\x00"
        out += struct.pack("<i", len(nb)) + nb + struct.pack("<i", ln)
    return out


def _draw_reads(rng, n_reads: int, refs):
    """Positions, strands, MAPQ and CIGAR shapes for every read, sorted."""
    total = sum(ln for _, ln in refs)
    counts = [n_reads * ln // total for _, ln in refs]
    counts[0] += n_reads - sum(counts)
    ref_id = np.repeat(np.arange(len(refs), dtype=np.int8), counts)
    pos0 = np.concatenate([
        np.sort(rng.integers(0, ln - 2 * READ_LEN, size=c)) for (_, ln), c in zip(refs, counts)
    ]).astype(np.int32)
    cls = rng.choice(len(CIGAR_P), size=n_reads, p=CIGAR_P).astype(np.int8)
    clip = rng.integers(1, 21, size=n_reads)
    left = rng.integers(20, 61, size=n_reads)
    indel = rng.integers(1, 6, size=n_reads)
    flag = np.where(rng.random(n_reads) < 0.5, 0, 16).astype(np.uint16)
    mapq = np.where(rng.random(n_reads) < 0.8, 60, rng.integers(0, 60, size=n_reads)).astype(np.uint8)
    reflen = np.select(
        [cls == 0, cls <= 2, cls == 3],
        [READ_LEN, READ_LEN - clip, READ_LEN - indel],
        READ_LEN + indel,
    ).astype(np.int32)
    return ref_id, pos0, cls, clip, left, indel, flag, mapq, reflen


def _cigar(cls: int, clip, left, indel) -> np.ndarray:
    """(m, n_cigar) uint32 op words for one CIGAR class."""
    def op(length, code):
        return (np.asarray(length, dtype=np.uint32) << 4) | code

    m = len(clip)
    if cls == 0:
        return op(np.full(m, READ_LEN), OP_M)[:, None]
    if cls == 1:
        return np.stack([op(clip, OP_S), op(READ_LEN - clip, OP_M)], axis=1)
    if cls == 2:
        return np.stack([op(READ_LEN - clip, OP_M), op(clip, OP_S)], axis=1)
    if cls == 3:
        return np.stack([op(left, OP_M), op(indel, OP_I),
                         op(READ_LEN - left - indel, OP_M)], axis=1)
    return np.stack([op(left, OP_M), op(indel, OP_D), op(READ_LEN - left, OP_M)], axis=1)


def _records(rng, idx, ref_id, pos0, cls, clip, left, indel, flag, mapq, reflen):
    """Serialized records for global read indices ``idx`` (contiguous)."""
    m = len(idx)
    seq = _SEQ_CODE[rng.integers(0, 4, size=(m, READ_LEN))]
    packed = (seq[:, 0::2] << 4) | seq[:, 1::2]
    qual = _QUAL_LUT[rng.integers(0, 65536, size=(m, READ_LEN), dtype=np.uint16)]
    digits = ((idx[:, None] // 10 ** np.arange(9, -1, -1)) % 10 + 48).astype(np.uint8)
    qname = np.hstack([np.frombuffer(QNAME_PREFIX, np.uint8)[None, :].repeat(m, 0),
                       digits, np.zeros((m, 1), np.uint8)])
    nm = np.where(cls[idx] >= 3, indel[idx], 0).astype(np.uint8)
    tags = np.hstack([
        np.frombuffer(b"NMC", np.uint8)[None, :].repeat(m, 0), nm[:, None],
        np.frombuffer(b"RGZ" + READ_GROUP + b"\x00", np.uint8)[None, :].repeat(m, 0),
    ])
    n_cig = np.asarray(N_CIGAR, dtype=np.int64)[cls[idx]]
    lens = 36 + L_READ_NAME + 4 * n_cig + READ_LEN // 2 + READ_LEN + tags.shape[1]
    offs = np.concatenate(([0], np.cumsum(lens)))
    out = np.empty(int(offs[-1]), dtype=np.uint8)
    for c in range(len(CIGAR_P)):
        g = np.flatnonzero(cls[idx] == c)
        if not len(g):
            continue
        gi = idx[g]
        fixed = np.zeros(len(g), dtype=_FIXED)
        fixed["block_size"] = lens[g] - 4
        fixed["ref_id"] = ref_id[gi]
        fixed["pos"] = pos0[gi]
        fixed["l_read_name"] = L_READ_NAME
        fixed["mapq"] = mapq[gi]
        fixed["bin"] = reg2bin(pos0[gi].astype(np.int64), pos0[gi].astype(np.int64) + reflen[gi])
        fixed["n_cigar"] = N_CIGAR[c]
        fixed["flag"] = flag[gi]
        fixed["l_seq"] = READ_LEN
        fixed["next_ref"] = -1
        fixed["next_pos"] = -1
        cig = _cigar(c, clip[gi], left[gi], indel[gi])
        mat = np.hstack([
            fixed.view(np.uint8).reshape(len(g), -1), qname[g],
            cig.astype("<u4").view(np.uint8).reshape(len(g), -1),
            packed[g], qual[g], tags[g],
        ])
        out[offs[g][:, None] + np.arange(mat.shape[1])] = mat
    return out.tobytes(), lens


def _bai(refs, ref_id, pos0, reflen, vbeg, vend) -> bytes:
    out = [b"BAI\x01", struct.pack("<i", len(refs))]
    for r in range(len(refs)):
        sel = np.flatnonzero(ref_id == r)
        if not len(sel):
            out.append(struct.pack("<ii", 0, 0))
            continue
        beg = pos0[sel].astype(np.int64)
        end = beg + reflen[sel]
        vb, ve = vbeg[sel], vend[sel]
        bins = reg2bin(beg, end)
        # one chunk per run of consecutive records sharing a bin
        cut = np.flatnonzero(np.diff(bins)) + 1
        starts = np.concatenate(([0], cut))
        stops = np.concatenate((cut, [len(bins)])) - 1
        chunks: dict[int, list[tuple[int, int]]] = {}
        for s, e in zip(starts.tolist(), stops.tolist()):
            chunks.setdefault(int(bins[s]), []).append((int(vb[s]), int(ve[e])))
        n_win = int((end.max() - 1) >> 14) + 1
        lin = np.full(n_win, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(lin, beg >> 14, vb)
        np.minimum.at(lin, (end - 1) >> 14, vb)
        # empty windows inherit the previous offset (htslib's fill rule)
        have = lin != np.iinfo(np.int64).max
        last = np.maximum.accumulate(np.where(have, np.arange(n_win), -1))
        lin = np.where(last >= 0, lin[np.maximum(last, 0)], 0)
        body = [struct.pack("<i", len(chunks) + 1)]
        for b in sorted(chunks):
            body.append(struct.pack("<Ii", b, len(chunks[b])))
            body.extend(struct.pack("<QQ", cb, ce) for cb, ce in chunks[b])
        # pseudo-bin 37450: (ref_beg, ref_end) and (mapped, unmapped)
        body.append(struct.pack("<IiQQQQ", 37450, 2, int(vb[0]), int(ve[-1]), len(sel), 0))
        body.append(struct.pack("<i", n_win))
        body.append(lin.astype("<u8").tobytes())
        out.extend(body)
    out.append(struct.pack("<Q", 0))  # n_no_coor
    return b"".join(out)


def generate(out_dir: str, seed: int, n_reads: int = N_READS, refs=REFS) -> Truth:
    """Write ``corpus.bam``, ``corpus.bam.bai`` and ``truth.npz``."""
    rng = np.random.default_rng(seed)
    ref_id, pos0, cls, clip, left, indel, flag, mapq, reflen = _draw_reads(rng, n_reads, refs)
    rec_off = np.empty(n_reads + 1, dtype=np.int64)
    rec_off[0] = 0
    os.makedirs(out_dir, exist_ok=True)
    bam = os.path.join(out_dir, "corpus.bam")
    with open(bam, "wb") as fh, ThreadPoolExecutor(GEN_THREADS) as pool:
        hw = _BgzfWriter(fh, pool)
        hw.write(_header(refs))
        hw.flush()  # header in its own blocks: records start on a block
        w = _BgzfWriter(fh, pool)
        for lo in range(0, n_reads, CHUNK):
            idx = np.arange(lo, min(lo + CHUNK, n_reads))
            data, lens = _records(rng, idx, ref_id, pos0, cls, clip, left, indel, flag, mapq, reflen)
            rec_off[lo + 1:lo + 1 + len(idx)] = rec_off[lo] + np.cumsum(lens)
            w.write(data)
        w.finish()
    vpos = w.vpos(rec_off)
    with open(bam + ".bai", "wb") as fh:
        fh.write(_bai(refs, ref_id, pos0, reflen, vpos[:-1], vpos[1:]))
    np.savez(os.path.join(out_dir, "truth.npz"), ref_id=ref_id, pos0=pos0, reflen=reflen)
    return Truth(ref_id, pos0, reflen)


def cached_corpus(cache_root: str, seed: int) -> Corpus:
    """The corpus for (seed, GENERATOR_VERSION), generated on a miss by a
    child process, so that the caller's memory is the same whether or not
    the corpus was cached. At most CACHE_KEEP entries stay on disk."""
    key = f"v{GENERATOR_VERSION}-n{N_READS}-s{seed}"
    d = os.path.join(cache_root, key)
    gen_s = 0.0
    if not os.path.exists(os.path.join(d, "done.json")):
        t0 = time.perf_counter()
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.abspath(__file__), "--seed", str(seed),
                        "--out", tmp], check=True, capture_output=True)
        gen_s = time.perf_counter() - t0
        with open(os.path.join(tmp, "done.json"), "w") as fh:
            json.dump({"seed": seed, "version": GENERATOR_VERSION, "gen_s": gen_s}, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    os.utime(d)
    entries = sorted(
        (e for e in os.listdir(cache_root) if e.startswith("v") and not e.endswith(".tmp")),
        key=lambda e: os.path.getmtime(os.path.join(cache_root, e)), reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    z = np.load(os.path.join(d, "truth.npz"))
    truth = Truth(z["ref_id"], z["pos0"], z["reflen"])
    bam = os.path.join(d, "corpus.bam")
    return Corpus(bam, bam + ".bai", truth, REFS, gen_s)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    t0 = time.perf_counter()
    truth = generate(a.out, a.seed)
    print(json.dumps({**truth.totals(), "gen_s": round(time.perf_counter() - t0, 3)}))


if __name__ == "__main__":
    main()
