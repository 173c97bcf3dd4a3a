"""Driver-side helpers: the package zipper behind ``python -m
cord19_crawler_spark package`` and ``__spark_entry__._ensure_workers``,
the once-per-SparkContext package shipping, and the bounded parquet
footer walk behind the input-spread guard."""

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
