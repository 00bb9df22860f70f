#!/usr/bin/env python3
"""Copies the benchmark's inputs out of the repository's sf0.1 test data
(TESTDATA.md) into this directory.

`documents.parquet` and `embeddings.parquet` are copied byte for byte.
`lineitem.parquet` is every fifth row of sf0.1 `lineitem` (120,000 of
600,000 rows), the pool `io_roundtrip` draws its seeded sample from.

Usage: python3 vendor.py SF01_DIR
"""
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
POOL_STRIDE = 5


def main(src):
    for t in ("documents", "embeddings"):
        shutil.copyfile(os.path.join(src, f"{t}.parquet"), os.path.join(HERE, f"{t}.parquet"))
    li = pq.read_table(os.path.join(src, "lineitem.parquet"))
    pq.write_table(li.take(pa.array(range(0, li.num_rows, POOL_STRIDE))),
                   os.path.join(HERE, "lineitem.parquet"), compression="snappy")


if __name__ == "__main__":
    main(sys.argv[1])
