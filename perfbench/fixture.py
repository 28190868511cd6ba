"""Seeded benchmark fixture: a row-permuted, re-split copy of the source tables.

The program's default dataset (``prajna_spark.sources.catalog.DEFAULT_SF_DIR``)
is read once per seed and rewritten with pyarrow, so every column keeps its
Arrow type and every parquet column keeps its physical and logical type. The
seed picks the row order of every table; each table is then cut into a fixed
number of equal part files. The cuts do not depend on the seed: uneven part
sizes change how Spark packs files into scan tasks, and one extra task on 4
cores costs a whole extra wave, which made one query's time bimodal across
seeds. Each table becomes a directory ``<table>.parquet/part-NNNNN.parquet``,
the layout the program's readers accept beside single files.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import zlib

import numpy as np
import pyarrow.parquet as pq

# Part files per table; tables not listed stay one file. Fixed so that every
# seed hands the scan layer the same number of splits.
PARTS = {"lineitem": 4, "orders": 2, "events": 2, "customer": 2, "part": 2}

# Fixtures kept on disk (about 20 MB each); the least recently used go first.
KEEP = 16


def _source_files(src: str, table: str) -> list[str]:
    path = os.path.join(src, f"{table}.parquet")
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        )
    return [path]


def generate(src: str, dst: str, seed: int, tables: tuple[str, ...]) -> None:
    """Write the fixture for ``seed`` into ``dst`` (which must not exist).
    Each table is permuted by its own stream, seeded by ``seed`` and its name."""
    os.makedirs(dst)
    for table in tables:
        rng = np.random.default_rng([seed, zlib.crc32(table.encode())])
        files = _source_files(src, table)
        data = pq.read_table(files)
        meta = pq.ParquetFile(files[0]).metadata
        data = data.take(rng.permutation(data.num_rows))
        out = os.path.join(dst, f"{table}.parquet")
        os.makedirs(out)
        parts = PARTS.get(table, 1)
        cuts = [data.num_rows * i // parts for i in range(parts + 1)]
        for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
            part = data.slice(a, b - a)
            pq.write_table(
                part,
                os.path.join(out, f"part-{i:05d}.parquet"),
                version=meta.format_version,
                row_group_size=max(1, part.num_rows),
                store_schema=True,
            )


def fixture_dir(src: str, seed: int, work: str, tables: tuple[str, ...]) -> str:
    """Return the fixture directory for ``seed``, generating it on first use.

    Fixtures are cached under ``work`` keyed by seed, source path and this
    file's contents, and written to a temporary name first so an interrupted
    run never leaves a half-written fixture behind."""
    with open(__file__, "rb") as f:
        code = f.read()
    key = hashlib.sha1(f"{os.path.abspath(src)}|{seed}|".encode() + code).hexdigest()[:10]
    base = os.path.join(work, "fixtures")
    dst = os.path.join(base, f"seed{seed}-{key}")
    if not os.path.isdir(dst):
        tmp = f"{dst}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(src, tmp, seed, tables)
        os.replace(tmp, dst)
    os.utime(dst)
    cached = sorted(
        (os.path.join(base, d) for d in os.listdir(base) if ".tmp" not in d),
        key=os.path.getmtime,
    )
    for old in cached[:-KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return dst
