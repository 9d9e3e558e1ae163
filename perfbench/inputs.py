"""The seeded crawl corpus, cached on disk per (seed, size).

``pubcrawler_spark.fixtures.generate_pages`` (pure Python, no Spark)
written as a 16-file parquet dir plus ``meta.json`` (seed URLs,
robots.txt). It is built into a scratch dir and renamed into place, so
an interrupted run never leaves a half-written cache entry behind.

query_mix reads the repo's read-only test tables and needs no inputs
from here.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq


def _publish(build, out: str) -> str:
    """Run ``build(scratch_dir)`` once and rename the result to ``out``."""
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    scratch = f"{out}.build-{uuid.uuid4().hex[:8]}"
    os.makedirs(scratch)
    build(scratch)
    open(os.path.join(scratch, "_READY"), "w").close()
    try:
        os.rename(scratch, out)
    except OSError:
        shutil.rmtree(scratch, ignore_errors=True)
        if not os.path.exists(os.path.join(out, "_READY")):
            raise
    return out


# -- crawl corpus -------------------------------------------------------------


def pages_dir(cache: str, seed: int, n_pages: int, filler_kb: float, max_outlinks: int) -> str:
    """Parquet pages corpus for one seed; layout as in ``bench.py``."""
    from pubcrawler_spark.fixtures import generate_pages

    def build(d: str) -> None:
        fx = generate_pages(n_pages, seed=seed, filler_kb=filler_kb, max_outlinks=max_outlinks)
        cols = ("url", "warc_ts", "html", "text", "lang")
        tbl = pa.table({c: [r[c] for r in fx.rows] for c in cols})
        os.makedirs(os.path.join(d, "pages"))
        step = -(-tbl.num_rows // 16)
        for i in range(16):
            part = tbl.slice(i * step, step)
            if part.num_rows:
                pq.write_table(
                    part, os.path.join(d, "pages", f"part-{i:04d}.parquet"), row_group_size=2048
                )
        with open(os.path.join(d, "meta.json"), "w") as fh:
            json.dump({"seeds": fx.seeds, "robots": fx.robots}, fh)

    name = f"pages-s{seed}-n{n_pages}-f{filler_kb:g}-o{max_outlinks}"
    return _publish(build, os.path.join(cache, name))
