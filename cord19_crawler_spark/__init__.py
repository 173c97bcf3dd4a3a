"""cord19_crawler_spark — a from-scratch PySpark-native URL-frontier + fetch
scheduler engine with the query/data-processing capabilities of the reference
``abdulbasitnikray-prog/cord19-crawler`` (see SURVEY.md).

Everything here is idiomatic Spark: DataFrame/SQL plans optimized by Catalyst,
vectorized pandas/Arrow UDFs for the few kernels Spark lacks, and explicit
partitioning/skew handling designed for a 1000-executor, 10^10-URL frontier
even though tests run on local[N].
"""

__version__ = "0.1.0"


def write_package_zip(zpath: str) -> str:
    """Zip every ``.py`` file of this package into ``zpath``, stored under
    its path relative to the package's parent — the layout
    ``spark-submit --py-files`` and ``SparkContext.addPyFile`` import
    from. Returns ``zpath``."""
    import os
    import zipfile

    pkg = os.path.dirname(os.path.abspath(__file__))
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, os.path.dirname(pkg)))
    return zpath
