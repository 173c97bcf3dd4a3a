"""Input spread: one rule for inputs with fewer scan units than cores.

A parquet row group is the scan's split unit, so however small
``spark.sql.files.maxPartitionBytes`` is set, a single-row-group file
scans in ONE task and all scan-side work (tokenizer regexes, gram
explodes, Arrow kernels, map-side partial aggregation) runs single-core
(optimization guide §2.5 "input skew").  ``spread_input`` repartitions
such a frame by a unique key right after the scan; the rule reads only
the file layout (``inputFiles`` and parquet footers, no Spark job), so
an upstream exchange is never executed just to count its partitions.
On production inputs (many files / row groups >= cores) it is a no-op,
so nothing is tuned to one core count.  Deterministic: hash of a unique
key, no round-robin, no rand().
"""
from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["spread_input"]

# plenty of scan units for any core count: the footer walk stops here, so a
# directory of 10^5 files costs a bounded number of footer reads
_SCAN_UNITS_CAP = 4096
_SCAN_UNITS_CACHE: dict[str, int] = {}


def _scan_units(path: str) -> int:
    """Parallelizable scan units in a parquet file/dir (= row groups);
    the count stops once it reaches _SCAN_UNITS_CAP."""
    if path not in _SCAN_UNITS_CACHE:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            units = 0
            for root, _dirs, files in os.walk(path):
                for fn in files:
                    if fn.endswith(".parquet"):
                        units += pq.ParquetFile(
                            os.path.join(root, fn)
                        ).metadata.num_row_groups
                    if units >= _SCAN_UNITS_CAP:
                        break
                if units >= _SCAN_UNITS_CAP:
                    break  # plenty — stop the whole footer walk
        else:
            units = pq.ParquetFile(path).metadata.num_row_groups
        _SCAN_UNITS_CACHE[path] = units
    return _SCAN_UNITS_CACHE[path]


def spread_input(df: DataFrame, key: str) -> DataFrame:
    """``df`` repartitioned by ``key`` over the default parallelism iff it
    reads files (``df.inputFiles()`` is non-empty) that hold fewer row
    groups (``_file_units``) than cores; else ``df`` unchanged.
    In-memory frames and inputs with enough scan units are never spread.
    A spread of an already-spread read collapses into one exchange
    (Catalyst merges adjacent repartitions)."""
    files = df.inputFiles()
    if not files:
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    units = 0
    for f in files:
        units += _file_units(f)
        if units >= cores:
            return df
    return df.repartition(cores, F.col(key))


def _file_units(uri: str) -> int:
    """Row groups of one input file; a non-parquet file, or one whose
    footer pyarrow cannot open (an unknown filesystem scheme), counts as
    one unit."""
    if not uri.endswith(".parquet"):
        return 1
    try:
        return _scan_units(uri)
    except (OSError, ValueError):
        return 1
