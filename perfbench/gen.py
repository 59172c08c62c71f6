"""Seeded input generator.

Runs the repository's tools/gen_sf.py unchanged, so the tables keep its
shapes, and replaces only the fixed per-table rng seeds it hard-codes
(4201-4208) by seeds derived from (seed, fixed seed). The same seed
gives the same tables. A finished (sf, seed) directory is reused, so
generation never runs inside a measured set-up.

Usage: python3 perfbench/gen.py <sf> <seed> <outDir>
"""
import contextlib
import importlib.util
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DONE = ".complete"


def _gen_sf():
    spec = importlib.util.spec_from_file_location(
        "gen_sf", ROOT / "tools" / "gen_sf.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def generate(sf, seed, out):
    """Make the (sf, seed) table set at `out` unless it is already there."""
    out = Path(out)
    if (out / DONE).exists():
        return out
    tmp = out.with_name(out.name + ".partial")
    shutil.rmtree(tmp, ignore_errors=True)
    gen_sf = _gen_sf()
    fixed_rng = np.random.default_rng

    def seeded(s):
        return fixed_rng(np.random.SeedSequence([seed, s]))

    gen_sf.np.random.default_rng = seeded
    try:
        with contextlib.redirect_stdout(sys.stderr):
            gen_sf.main(sf, str(tmp))
    finally:
        gen_sf.np.random.default_rng = fixed_rng
    (tmp / DONE).write_text("%s %d\n" % (sf, seed))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def table_sizes(d):
    """{table: {"rows": n, "bytes": b}} for a generated directory."""
    sizes = {}
    for t in TABLES:
        p = Path(d) / (t + ".parquet")
        sizes[t] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                    "bytes": p.stat().st_size}
    return sizes


if __name__ == "__main__":
    generate(float(sys.argv[1]), int(sys.argv[2]), sys.argv[3])
