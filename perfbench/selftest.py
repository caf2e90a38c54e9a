"""Self-test of the benchmark's input generation (no Spark needed):

    python3 perfbench/selftest.py

The same seed must give identical inputs, another seed different ones,
and the written parquet must carry microsecond timestamps in row groups
of at most 2048 rows.
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from perfbench import inputs  # noqa: E402

SCALE = 0.05


def main() -> int:
    failures = []
    for workload in ("crawl_mix", "incremental_ingest"):
        a = inputs.content_digest(workload, 7, SCALE)
        if a != inputs.content_digest(workload, 7, SCALE):
            failures.append(f"{workload}: seed 7 twice gave different inputs")
        if a == inputs.content_digest(workload, 8, SCALE):
            failures.append(f"{workload}: seeds 7 and 8 gave identical inputs")
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            inp = inputs.materialize(workload, 7, d, SCALE)
            for path in inp.pages:
                f = pq.ParquetFile(path)
                if f.schema_arrow.field("warc_ts").type != pa.timestamp("us", tz="UTC"):
                    failures.append(f"{path}: warc_ts is not a microsecond timestamp")
                rows = [f.metadata.row_group(i).num_rows for i in range(f.num_row_groups)]
                if max(rows) > inputs.ROW_GROUP:
                    failures.append(f"{path}: row group of {max(rows)} rows")
            urls = [u for p in inp.pages for u in pq.read_table(p, columns=["url"]).column(0).to_pylist()]
            if sorted(urls) != sorted(inp.truth.url) or len(set(urls)) != len(urls):
                failures.append(f"{workload}: pages and truth disagree on the url set")
    for msg in failures:
        print("FAIL", msg)
    print("selftest", "ok" if not failures else f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
