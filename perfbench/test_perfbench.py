"""Self-tests of the benchmark: python3 -m pytest perfbench -q"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import numpy as np
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402

SMALL_REFS = (("chr1", 400_000), ("chr2", 250_000))
SMALL_READS = 4000
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def small(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    truth = corpus.generate(d, seed=7, n_reads=SMALL_READS, refs=SMALL_REFS)
    return d, truth


def test_same_seed_gives_identical_files(small, tmp_path):
    d, _ = small
    corpus.generate(str(tmp_path), seed=7, n_reads=SMALL_READS, refs=SMALL_REFS)
    for name in ("corpus.bam", "corpus.bam.bai", "truth.npz"):
        assert filecmp.cmp(os.path.join(d, name), str(tmp_path / name), shallow=False), name
    other = tmp_path / "other"
    corpus.generate(str(other), seed=8, n_reads=SMALL_READS, refs=SMALL_REFS)
    assert not filecmp.cmp(os.path.join(d, "corpus.bam"), str(other / "corpus.bam"), shallow=False)


def test_truth_region_matches_brute_force(small):
    _, t = small
    rng = np.random.default_rng(0)
    for _ in range(50):
        rid = int(rng.integers(0, 2))
        s = int(rng.integers(1, SMALL_REFS[rid][1]))
        e = s + int(rng.integers(0, 60_000))
        hit = (t.ref_id == rid) & (t.pos0 < e) & (t.pos0 + t.reflen > s - 1)
        assert t.region(rid, s, e) == (int(hit.sum()), int((t.pos0[hit].astype(np.int64) + 1).sum()))


def test_program_region_results_equal_ground_truth(small):
    import oxbow_spark as ox
    from workloads import FIELDS

    d, t = small
    bam = os.path.join(d, "corpus.bam")
    regions = [(0, 1, 1), (0, 1, 400_000), (1, 100_000, 199_999), (1, 249_900, 250_000),
               (0, 16_380, 16_390), (0, 123_456, 223_455)]
    rng = np.random.default_rng(1)
    regions += [(int(r), int(s), int(s) + 50_000) for r, s in
                zip(rng.integers(0, 2, 20), rng.integers(1, 200_000, 20))]
    for rid, s, e in regions:
        tb = ox.from_bam(bam, regions=f"{SMALL_REFS[rid][0]}:{s}-{e}", fields=FIELDS).to_arrow()
        hit = (t.ref_id == rid) & (t.pos0 < e) & (t.pos0 + t.reflen > s - 1)
        assert sorted(tb["pos"].to_pylist()) == sorted((t.pos0[hit] + 1).tolist()), (rid, s, e)
        assert sorted(tb["end"].to_pylist()) == sorted((t.pos0[hit] + t.reflen[hit]).tolist())


def test_program_full_scan_equals_ground_truth(small):
    import oxbow_spark as ox

    d, t = small
    tb = ox.from_bam(os.path.join(d, "corpus.bam")).to_arrow()
    want = t.totals()
    assert tb.num_rows == want["rows"]
    assert pc.sum(tb["pos"]).as_py() == want["pos_sum"]
    assert pc.sum(tb["end"]).as_py() == want["end_sum"]
    assert set(pc.utf8_length(tb["seq"]).to_pylist()) == {corpus.READ_LEN}
    assert set(pc.utf8_length(tb["qual"]).to_pylist()) == {corpus.READ_LEN}
    assert tb["qname"][0].as_py() == "SIM.0000000000"
    cigars = set(tb["cigar"].to_pylist())
    assert any("S" in c for c in cigars) and any("I" in c for c in cigars)
    assert any("D" in c for c in cigars) and "100M" in cigars


def test_benchmark_json_names():
    b = _bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    assert len(set(names)) == len(names)


def test_pipeline_layer_names_and_row_counts_cover_every_bench_query():
    from oxbow_spark.queries.registry import BENCH_QUERIES

    per_layer = {m["name"] for m in _bench()["per_layer"]}
    with open(os.path.join(HERE, "expected_rows.json")) as fh:
        expected = json.load(fh)["rows"]
    names = [q.name for q in BENCH_QUERIES if q.bench]
    assert sorted(expected) == sorted(names)
    for name in names:
        for suffix in ("build_ms", "exec_ms", "jobs"):
            assert f"pipeline.{name}.{suffix}" in per_layer


@pytest.mark.parametrize("trace", [0, 1])
def test_region_query_run_prints_every_declared_metric(trace):
    """An untraced run prints every end-to-end metric, a traced run every
    per-layer one (the traced run starts Spark and takes a minute or two)."""
    b = _bench()
    p = subprocess.run(
        b["command"] + ["--workload", "region_query", "--seed", "3", "--seconds", "1",
                        "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}
    assert set(out["metrics"]) == set(declared)
    for name, m in out["metrics"].items():
        assert NAME.fullmatch(name), name
        assert declared[name] == m["unit"], name
        assert isinstance(m["value"], (int, float))


def test_outside_a_checkout_the_run_fails(tmp_path):
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".cache"))
    p = subprocess.run(
        _bench()["command"] + ["--workload", "region_query", "--seed", "1", "--seconds", "1",
                               "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
