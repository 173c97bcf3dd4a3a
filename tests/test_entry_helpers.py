"""Driver-side helpers: the package zipper behind ``python -m
cord19_crawler_spark package`` and ``__spark_entry__._ensure_workers``,
the once-per-SparkContext package shipping, and the input-spread rule
with its bounded parquet footer walk."""

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_py_files() -> set[str]:
    pkg = os.path.join(REPO, "cord19_crawler_spark")
    return {
        os.path.relpath(os.path.join(root, fn), REPO)
        for root, _dirs, files in os.walk(pkg)
        for fn in files
        if fn.endswith(".py")
    }


def test_package_cli_zips_exactly_the_package_sources(tmp_path):
    out = subprocess.run(
        [sys.executable, "-m", "cord19_crawler_spark", "package",
         "--out", str(tmp_path)],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    zpath = out.stdout.strip()
    assert zpath == os.path.join(str(tmp_path), "cord19_crawler_spark.zip")
    with zipfile.ZipFile(zpath) as zf:
        names = zf.namelist()
        assert len(names) == len(set(names))
        assert set(names) == _package_py_files()
        for name in names:
            with open(os.path.join(REPO, name), "rb") as f:
                assert zf.read(name) == f.read(), name


def test_scan_units_stops_the_whole_walk_at_the_cap(tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    # two subdirectories; whichever the walk visits first already reaches
    # the cap, so the second one's footer must never be read
    for sub in ("a", "b"):
        os.makedirs(tmp_path / sub)
        (tmp_path / sub / "part-0.parquet").write_bytes(b"")
    reads = []

    class _Footer:
        def __init__(self, path):
            reads.append(path)
            self.metadata = type(
                "M", (), {"num_row_groups": entry._SCAN_UNITS_CAP}
            )()

    monkeypatch.setattr(pq, "ParquetFile", _Footer)
    assert entry._scan_units(str(tmp_path)) == entry._SCAN_UNITS_CAP
    assert len(reads) == 1, reads


def test_ensure_workers_ships_once_per_spark_context(monkeypatch):
    import __spark_entry__ as entry

    added = []

    class _Context:
        def __init__(self, app_id):
            self.applicationId = app_id

        def addPyFile(self, path):
            added.append((self.applicationId, path))

    class _Session:
        def __init__(self, app_id):
            self.sparkContext = _Context(app_id)

    monkeypatch.setattr(entry, "_PKG_ZIP", "/preset/pkg.zip")
    monkeypatch.setattr(entry, "_SHIPPED", None)
    first = _Session("local-1")
    entry._ensure_workers(first)
    entry._ensure_workers(first)
    assert added == [("local-1", "/preset/pkg.zip")]
    entry._ensure_workers(_Session("local-2"))
    assert added == [
        ("local-1", "/preset/pkg.zip"), ("local-2", "/preset/pkg.zip")
    ]


def _one_row_group_docs(spark, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = ["alpha beta gamma delta", "alpha beta gamma delta x", "zeta eta"]
    pq.write_table(
        pa.table({"doc_id": [1, 2, 3], "text": texts}), str(path)
    )
    return spark.read.parquet(str(path))


def test_spread_input_reads_the_file_layout(spark, tmp_path):
    from cord19_crawler_spark.operators.spread import spread_input

    def exchanges(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count(
            "RepartitionByExpression"
        )

    plain = _one_row_group_docs(spark, tmp_path / "docs.parquet")
    assert exchanges(spread_input(plain, "doc_id")) == 1
    # a spread of an already-spread read collapses into one exchange
    twice = spread_input(spread_input(plain, "doc_id"), "doc_id")
    assert exchanges(twice) == 1
    in_memory = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    assert spread_input(in_memory, "doc_id") is in_memory


def test_file_units_counts_unreadable_footers_as_one_unit(tmp_path):
    from cord19_crawler_spark.operators.spread import _file_units

    # Spark's S3 scheme is unknown to pyarrow; a JSON file has no footer
    assert _file_units("s3a://bucket/part-0.snappy.parquet") == 1
    assert _file_units(f"file://{tmp_path}/part-0.json") == 1


def test_minhash_build_runs_no_job_for_a_shuffled_input(spark, tmp_path):
    # the input-spread decision reads the file layout, never executes the
    # upstream plan: building the operator on a repartitioned or
    # aggregated input costs the same jobs as on a plain read
    from pyspark.sql import functions as F

    from cord19_crawler_spark.operators.dedup import minhash_near_duplicates

    plain = _one_row_group_docs(spark, tmp_path / "docs.parquet")
    inputs = {
        "plain": plain,
        "repartitioned": plain.repartition(3, "doc_id"),
        "aggregated": plain.groupBy("doc_id").agg(F.max("text").alias("text")),
    }
    sc = spark.sparkContext
    jobs = {}
    for name, docs in inputs.items():
        group = f"minhash-build-{name}"
        sc.setJobGroup(group, group)
        try:
            minhash_near_duplicates(docs, num_perm=8, bands=4, ngram=1)
        finally:
            sc._jsc.clearJobGroup()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["repartitioned"] == jobs["plain"], jobs
    assert jobs["aggregated"] == jobs["plain"], jobs
