"""The pipeline queries' input tables, generated inside the checkout.

The ten sf0.1 tables are written by the repository's own seeded table
generator, ``tools/gen_sf.py`` (fixed seed, hash-generated column math),
in a child process with its own Spark session, so that the measuring
process is the same whether or not the tables were cached. They are
cached under ``.cache`` by a hash of the generator's source, and the
query row counts they give are recorded in ``expected_rows.json``.

Usage: python3 perfbench/tables.py --out DIR --cpus 4
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GENERATOR = os.path.join(ROOT, "tools", "gen_sf.py")
SF = 0.1


def cached_tables(cache_root: str, cpus: int) -> tuple[str, float]:
    """(directory of the tables, generation seconds or 0.0 when cached)."""
    with open(GENERATOR, "rb") as fh:
        key = f"sf{SF}-{hashlib.sha1(fh.read()).hexdigest()[:12]}"
    d = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(d, "done.json")):
        return d, 0.0
    t0 = time.perf_counter()
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, os.path.abspath(__file__), "--out", tmp, "--cpus", str(cpus)],
                   check=True, capture_output=True)
    gen_s = time.perf_counter() - t0
    with open(os.path.join(tmp, "done.json"), "w") as fh:
        json.dump({"sf": SF, "gen_s": gen_s}, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, gen_s


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    a = ap.parse_args()
    sys.path[:0] = [ROOT, HERE, os.path.dirname(GENERATOR)]
    import gen_sf
    import harness

    harness.confine_writes()
    spark = harness.start_spark(a.cpus)
    try:
        gen_sf.generate(spark, SF, a.out)
    finally:
        harness.stop_spark(spark)


if __name__ == "__main__":
    main()
