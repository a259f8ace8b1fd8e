"""The benchmark's workloads. Each is one process, times ops from outside
by calling the program's public functions, and returns its metrics as
``{name: (value, unit)}``.

- ``region_query``: driver-side ``from_bam(..., regions=, fields=).to_arrow()``
  over 1 Mb regions, no Spark.
- ``bam_scan``: ``from_bam(path).to_spark(spark)`` over the whole file
  into the noop sink.

Every untraced run reports the same five end-to-end metrics. A traced run
(``traced``) reports every per-layer metric, whichever workload it is
started for: it traces driver-side region queries, driver-side reads of
one scan partition, whole-file scans on Spark and one warm round of the
19 bench queries, so that each layer a change may move is measured in
every traced run. See README.md for which end-to-end number each one
should move.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Observation
from pyspark.sql import functions as F

import oxbow_spark as ox
from oxbow_spark import api
from oxbow_spark.sources import bam as bam_mod
from oxbow_spark.sources.bam import BamDataSource, BamReader
from oxbow_spark.sources.bgzf import BaiIndex, BgzfReader

import corpus
import harness
import tables
from spans import Tracer

# BASELINE.md's published query materializes these 7 columns
FIELDS = ["rname", "pos", "end", "qname", "cigar", "seq", "qual"]
REGION_BP = 1_000_000
REGION_WARMUP_OPS = 5
REGION_POOL = 4000
# cold op + warm ops before timing; op times level off after these
SCAN_WARMUP_OPS = 5
PARTITION_READS = 3  # traced driver-side reads of one scan partition
# a traced run's region and scan phases each time ops for this share of
# --seconds; the pipeline round dominates its length
TRACED_PHASE_SHARE = 0.2
TABLES_CACHE = os.path.join(harness.CACHE, "tables")
EXPECTED_ROWS = os.path.join(harness.HERE, "expected_rows.json")


def _ms(seconds: float) -> float:
    return seconds * 1000.0


def _median(xs) -> float:
    return statistics.median(list(xs))


def _peak_rss_mb(run) -> float:
    procs = harness.tree_peak_rss()
    run.diag["peak_rss_mb_by_process"] = procs
    return sum(procs.values())


def _end_to_end(setup_s, durs, records_per_op, peak_rss_mb) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (_ms(_median(durs)), "ms"),
        "op_p90_ms": (_ms(float(np.quantile(durs, 0.9))), "ms"),
        "records_per_s": (records_per_op / _median(durs), "rec/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def _spark_k() -> int:
    return min(harness.nproc(), 4)


def _corpus(run) -> corpus.Corpus:
    """The seed's corpus, read once so that it is in the page cache. Inputs
    missing from the cache are made first, by child processes: this seed's
    corpus and, once per checkout, the tables that the traced run's
    pipeline round reads. Making them is not part of ``setup_s``."""
    c = corpus.cached_corpus(os.path.join(harness.CACHE, "corpus"), run.seed)
    _, tables_s = tables.cached_tables(TABLES_CACHE, _spark_k())
    run.gen_s = c.gen_s + tables_s
    run.diag.update(corpus_gen_s=c.gen_s, tables_gen_s=tables_s)
    harness.warm_page_cache(c.bam)
    harness.warm_page_cache(c.bai)
    return c


def _overhead_pct(traced: list[float], untraced: list[float]) -> float:
    return (_median(traced) / _median(untraced) - 1.0) * 100.0


# ------------------------------------------------------------- BAM tracing

class _TracedArrow:
    """Stands in for ``pyarrow`` inside ``oxbow_spark.api`` so that
    ``pa.Table.from_batches`` (a type attribute that cannot be patched)
    runs in a span."""

    def __init__(self, tr: Tracer):
        self.Table = _TracedTable(tr)

    def __getattr__(self, name):
        return getattr(pa, name)


class _TracedTable:
    def __init__(self, tr: Tracer):
        self.from_batches = tr.wrap("arrow.concat", pa.Table.from_batches)

    def __getattr__(self, name):
        return getattr(pa.Table, name)


def _bam_patches(tr: Tracer, planned: list) -> list:
    """Spans around the BAM source layer's public calls; ``planned``
    collects every partition planned, for the isolated inflate pass."""
    bai_read = BaiIndex.read

    def after_plan(parts, *_a, **_k):
        tr.count("bam.partitions", len(parts))
        planned.extend(parts)

    def after_decode(res, _big, starts, *_a, **_k):
        tr.count("bam.records_decoded", len(starts))
        tr.count("bam.rows_kept", res[1])

    return [
        (BaiIndex, "read", classmethod(lambda cls, *a, **k: tr.wrap("bgzf.bai_read", bai_read)(*a, **k))),
        (BamReader, "partitions", tr.wrap("bam.plan", BamReader.partitions, after_plan)),
        (BamReader, "read", tr.wrap_gen("bam.read", BamReader.read)),
        (bam_mod, "decode_record_batch", tr.wrap("bam.decode", bam_mod.decode_record_batch, after_decode)),
        (api, "pa", _TracedArrow(tr)),
    ]


def _inflate_isolated(tr: Tracer, parts) -> None:
    """Inflate each partition's virtual-position range on its own, with
    no record framing or decode, in one ``bgzf.inflate`` span each."""
    for p in parts:
        n = 0
        with tr.span("bgzf.inflate"):
            with BgzfReader(p.path) as r:
                r.seek_virtual(p.vstart)
                while r.tell_virtual() < p.vend:
                    chunk = r.read(1 << 16)
                    if not chunk:
                        break
                    n += len(chunk)
        tr.count("bgzf.inflated_bytes", n)


def _bam_layers(tr: Tracer, ops) -> dict:
    """Per-layer BAM metrics: the median over ``ops`` of each op's sums."""
    def med(per_op: dict) -> float:
        return _median(per_op.get(o, 0.0) for o in ops)

    read = tr.per_op("bam.read")
    inflate = tr.per_op("bgzf.inflate")
    decode = tr.per_op("bam.decode")
    kept = tr.counts_per_op("bam.rows_kept")
    decoded = tr.counts_per_op("bam.records_decoded")
    return {
        "bgzf.inflate_ms": (_ms(med(inflate)), "ms"),
        "bgzf.inflated_mb": (med(tr.counts_per_op("bgzf.inflated_bytes")) / 2**20, "MB"),
        "bam.read_ms": (_ms(med(read)), "ms"),
        "bam.decode_ms": (_ms(med(decode)), "ms"),
        "bam.frame_ms": (_ms(_median(
            read.get(o, 0) - inflate.get(o, 0) - decode.get(o, 0) for o in ops)), "ms"),
        "bam.useful_ratio": (_median(kept.get(o, 0) / decoded[o] for o in ops), "ratio"),
    }


# ------------------------------------------------------------ region_query

def _regions(seed: int, refs, n: int) -> list[tuple[int, int, int]]:
    """(ref_id, start, end) 1-based closed 1 Mb windows at uniform starts,
    chromosomes chosen in proportion to their length."""
    rng = np.random.default_rng([seed, 2])
    lens = np.array([ln for _, ln in refs], dtype=np.float64)
    rids = rng.choice(len(refs), size=n, p=lens / lens.sum())
    starts = [int(rng.integers(1, refs[r][1] - REGION_BP + 2)) for r in rids]
    return [(int(r), s, s + REGION_BP - 1) for r, s in zip(rids, starts)]


def _region_ops(run, c: corpus.Corpus, seconds: float, tr: Tracer | None = None):
    """Warm up, then time region queries for ``seconds``; every op's
    output is checked against the ground truth. With a tracer, every
    other rotation of ops runs traced. Returns (setup_s, durations, rows
    per op, traced durations, untraced durations)."""
    regions = _regions(run.seed, c.refs, REGION_WARMUP_OPS + REGION_POOL)
    warm, pool = regions[:REGION_WARMUP_OPS], regions[REGION_WARMUP_OPS:]
    rows: list[int] = []
    traced_durs: list[float] = []
    untraced_durs: list[float] = []

    def query(rid: int, s: int, e: int) -> tuple[pa.Table, float]:
        t0 = time.perf_counter()
        tb = ox.from_bam(c.bam, regions=f"{c.refs[rid][0]}:{s}-{e}", fields=FIELDS).to_arrow()
        return tb, time.perf_counter() - t0

    for rid, s, e in warm:
        query(rid, s, e)
    # Ops rotate over the CPUs: when a neighbour slows one vCPU for a few
    # seconds, it slows every fourth op, not the whole run.
    cpus = sorted(os.sched_getaffinity(0))

    def op(i: int) -> float:
        os.sched_setaffinity(0, {cpus[i % len(cpus)]})
        rid, s, e = pool[i % len(pool)]
        # alternate traced and untraced rotations, to measure the overhead
        if tr is not None and (i // len(cpus)) % 2 == 0:
            planned: list = []
            tr.op = i
            with tr.patched(_bam_patches(tr, planned)), tr.span("op"):
                tb, dt = query(rid, s, e)
            _inflate_isolated(tr, planned)
            tr.op = None
            traced_durs.append(dt)
        else:
            tb, dt = query(rid, s, e)
            untraced_durs.append(dt)
        want = c.truth.region(rid, s, e)
        got = (tb.num_rows, pc.sum(tb["pos"]).as_py() or 0)
        if got != want:
            run.wrong(f"{c.refs[rid][0]}:{s}-{e}: (rows, pos sum) {got} != {want}")
        rows.append(tb.num_rows)
        return dt

    try:
        # a traced phase needs a traced and an untraced rotation
        setup_s, durs = run.timed(op, seconds, min_ops=1 if tr is None else 2 * len(cpus))
    finally:
        os.sched_setaffinity(0, cpus)
    return setup_s, durs, rows, traced_durs, untraced_durs


def region_query(run) -> dict:
    c = _corpus(run)
    setup_s, durs, rows, _, _ = _region_ops(run, c, run.seconds)
    return _end_to_end(setup_s, durs, _median(rows), _peak_rss_mb(run))


def _region_layers(tr: Tracer) -> dict:
    ops = sorted(tr.per_op("op"))

    def med(per_op: dict) -> float:
        return _median(per_op.get(o, 0.0) for o in ops)

    return {
        "bgzf.bai_read_ms": (_ms(med(tr.per_op("bgzf.bai_read"))), "ms"),
        "bam.plan_ms": (_ms(med(tr.per_op("bam.plan", self_time=True))), "ms"),
        "bam.partitions_per_query": (med(tr.counts_per_op("bam.partitions")), "count"),
        **_bam_layers(tr, ops),
        "arrow.concat_ms": (_ms(med(tr.per_op("arrow.concat"))), "ms"),
    }


# ---------------------------------------------------------------- bam_scan

def _partition_reads(tr: Tracer, path: str) -> dict:
    """Driver-side reads of the first scan partition, layer by layer, as
    ops 0, 1, ...; made before Spark starts, so that no JVM or executor
    competes with them."""
    ds = BamDataSource({"path": path})
    reader = ds.reader(ds.schema())
    part = reader.partitions()[0]
    ops = list(range(PARTITION_READS))
    for o in ops:
        tr.op = o
        with tr.patched(_bam_patches(tr, [])), tr.span("bam.partition_read"):
            for _ in reader.read(part):
                pass
        _inflate_isolated(tr, [part])
    tr.op = None
    layers = _bam_layers(tr, ops)
    return {
        "bam.partition_read_ms": (_ms(_median(tr.per_op("bam.partition_read").values())), "ms"),
        "bam.partition_records": (tr.counts_per_op("bam.records_decoded")[0], "count"),
        "bam.partition_inflate_ms": layers["bgzf.inflate_ms"],
        "bam.partition_decode_ms": layers["bam.decode_ms"],
        "bam.partition_frame_ms": layers["bam.frame_ms"],
    }


def _start_spark(run) -> tuple[object, int, float]:
    k = _spark_k()
    t0 = time.perf_counter()
    spark = harness.start_spark(k)
    run.diag.update(spark_k=k, driver_heap=harness.DRIVER_HEAP)
    return spark, k, time.perf_counter() - t0


def _scan_ops(run, c: corpus.Corpus, spark, seconds: float, tr: Tracer | None = None):
    """Warm up (the first scan is cold; the last warm-up scan checks the
    totals against the ground truth), then time whole-file scans for
    ``seconds``. With a tracer, every other scan runs traced. Returns
    (setup_s, durations, first scan seconds, traced durations, untraced
    durations, jobs and tasks of each traced scan)."""
    sc = spark.sparkContext
    want = c.truth.totals()

    def scan(check: bool = False) -> float:
        t0 = time.perf_counter()
        df = ox.from_bam(c.bam).to_spark(spark)
        if check:
            obs = Observation("scan_check")
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                            F.sum("pos").alias("pos_sum"), F.sum("end").alias("end_sum"))
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if check:
            got = {k: int(v) for k, v in obs.get.items()}
            if got != want:
                run.wrong(f"scan totals {got} != {want}")
        return dt

    first_op_s = scan()
    for _ in range(SCAN_WARMUP_OPS - 2):
        scan()
    with run.attempt():  # the once-per-run output check, on a full-size scan
        scan(check=True)

    traced_durs: list[float] = []
    untraced_durs: list[float] = []
    jobs: list[int] = []
    tasks: list[int] = []

    def op(i: int) -> float:
        if tr is not None and i % 2 == 0:
            tr.op = i
            group = f"perfbench-scan-{i}"
            with tr.span("op"):
                with tr.span("api.to_spark"):
                    df = ox.from_bam(c.bam).to_spark(spark)
                sc.setJobGroup(group, group)
                with tr.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
            sc.setLocalProperty("spark.jobGroup.id", None)
            n_jobs, n_tasks = harness.job_stats(sc, group)
            jobs.append(n_jobs)
            tasks.append(n_tasks)
            tr.op = None
            dt = tr.per_op("op")[i]
            traced_durs.append(dt)
            return dt
        dt = scan()
        untraced_durs.append(dt)
        return dt

    # a traced phase needs a traced and an untraced scan
    setup_s, durs = run.timed(op, seconds, min_ops=1 if tr is None else 2)
    return setup_s, durs, first_op_s, traced_durs, untraced_durs, jobs, tasks


def bam_scan(run) -> dict:
    c = _corpus(run)
    spark, _, _ = _start_spark(run)
    try:
        setup_s, durs, *_ = _scan_ops(run, c, spark, run.seconds)
        peak = _peak_rss_mb(run)
    finally:
        harness.stop_spark(spark)
    return _end_to_end(setup_s, durs, c.truth.totals()["rows"], peak)


# ------------------------------------------------- pipeline (traced only)

def _pipeline_layers(run, spark) -> dict:
    """One cold round of the 19 bench queries, which checks each query's
    row count, then one traced warm round: build and execution time and
    the job count of each query."""
    from oxbow_spark.queries.registry import BENCH_QUERIES

    queries = [q for q in BENCH_QUERIES if q.bench]
    sc = spark.sparkContext
    sf_dir, _ = tables.cached_tables(TABLES_CACHE, _spark_k())
    with open(EXPECTED_ROWS) as fh:
        expected = json.load(fh)["rows"]
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            harness.warm_page_cache(os.path.join(sf_dir, name))

    def save(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    with run.attempt():
        for q in queries:
            obs = Observation(f"rows_{q.name}")
            save(q.fn(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("rows")))
            if obs.get["rows"] != expected[q.name]:
                run.wrong(f"{q.name}: {obs.get['rows']} rows != {expected[q.name]}")
            spark.catalog.clearCache()

    tr = Tracer()
    out = {}
    with run.attempt():
        for q in queries:
            group = f"perfbench-{q.name}"
            sc.setJobGroup(group, group)
            with tr.span(f"pipeline.{q.name}.build"):
                df = q.fn(spark, sf_dir)
            with tr.span(f"pipeline.{q.name}.exec"):
                save(df)
            sc.setLocalProperty("spark.jobGroup.id", None)
            out[f"pipeline.{q.name}.build_ms"] = (_ms(sum(tr.per_op(f"pipeline.{q.name}.build").values())), "ms")
            out[f"pipeline.{q.name}.exec_ms"] = (_ms(sum(tr.per_op(f"pipeline.{q.name}.exec").values())), "ms")
            out[f"pipeline.{q.name}.jobs"] = (harness.job_stats(sc, group)[0], "count")
            spark.catalog.clearCache()
    tr.dump(os.path.join(harness.CACHE, f"trace_pipeline_s{run.seed}.json"))
    return out


# ------------------------------------------------------------- traced run

def traced(run, workload: str) -> dict:
    """Every per-layer metric. The region and scan phases alternate
    traced and untraced ops; ``trace.overhead_pct`` compares the two in
    ``workload``'s phase."""
    c = _corpus(run)
    phase_s = run.seconds * TRACED_PHASE_SHARE
    region_tr, part_tr, scan_tr = Tracer(), Tracer(), Tracer()
    _, _, _, region_t, region_u = _region_ops(run, c, phase_s, region_tr)
    out = _region_layers(region_tr)
    out.update(_partition_reads(part_tr, c.bam))
    spark, k, session_s = _start_spark(run)
    try:
        _, _, first_op_s, scan_t, scan_u, jobs, tasks = _scan_ops(
            run, c, spark, phase_s, scan_tr)
        out.update(_pipeline_layers(run, spark))
    finally:
        harness.stop_spark(spark)
    for name, tr in (("region", region_tr), ("partition", part_tr), ("scan", scan_tr)):
        tr.dump(os.path.join(harness.CACHE, f"trace_{name}_s{run.seed}.json"))

    exec_s = _median(scan_tr.per_op("spark.exec").values())
    part_read_s = out["bam.partition_read_ms"][0] / 1000.0
    out.update({
        "session.start_s": (session_s, "s"),
        "spark.first_op_s": (first_op_s, "s"),
        "api.to_spark_ms": (_ms(_median(scan_tr.per_op("api.to_spark").values())), "ms"),
        "spark.exec_ms": (_ms(exec_s), "ms"),
        "spark.jobs": (_median(jobs), "count"),
        "spark.tasks": (_median(tasks), "count"),
        "spark.handoff_ms": (_ms(exec_s - math.ceil(_median(tasks) / k) * part_read_s), "ms"),
    })
    t, u = {"region_query": (region_t, region_u), "bam_scan": (scan_t, scan_u)}[workload]
    out["trace.overhead_pct"] = (_overhead_pct(t, u), "%")
    return out


WORKLOADS = {"region_query": region_query, "bam_scan": bam_scan}
