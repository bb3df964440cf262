"""spark-submit --py-files deployment smoke test.

The north rule's execution mode is ``spark-submit --py-files
uniparser_spark.zip`` on a cluster.  This test proves the package is
genuinely zip-shippable: it stages ``submit_crawl.py`` + a freshly
zipped package in a directory OUTSIDE the repo (so nothing resolves
from the source tree), launches a real ``spark-submit`` subprocess
with a clean PYTHONPATH, runs a full multi-round crawl against a
Common-Crawl-shaped parquet table, and checks the extracted records
and the checkpointed manifest.

Runtime is one fresh JVM (~1 min); it is the only test that exercises
the actual cluster entry path rather than an in-process session.

The zip-cache tests cover the other side of zip deployment: PySpark's
worker calls ``importlib.invalidate_caches()`` before every task, and
on Python < 3.13 the package installs a stamp-checked ``zipimporter``
override (``uniparser_spark/_zipcache.py``) so that call stops
re-reading every unchanged zip on the worker path.
"""

import importlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pyarrow.dataset as ds
import pytest

REPO = Path(__file__).resolve().parent.parent


def _spark_submit() -> str:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    import pyspark

    cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    if cand.exists():
        return str(cand)
    pytest.skip("no spark-submit binary available")


def _zip_package(dest: Path) -> None:
    pkg = REPO / "uniparser_spark"
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for path in sorted(pkg.rglob("*.py")):
            zf.write(path, path.relative_to(REPO))


def test_spark_submit_py_files_crawl(spark, tmp_path):
    from uniparser_spark.testgen import generate_pages, seed_urls, storage_json

    n_hosts, n_details = 2, 40
    pages_path = tmp_path / "pages"
    # the shared session only PREPARES the input table; the crawl under
    # test runs in the spark-submit subprocess
    generate_pages(spark, n_hosts=n_hosts, n_details=n_details, partitions=4).write.parquet(
        str(pages_path)
    )
    n_pages = spark.read.parquet(str(pages_path)).count()

    stage = tmp_path / "stage"
    stage.mkdir()
    _zip_package(stage / "uniparser_spark.zip")
    shutil.copy(REPO / "tools" / "submit_crawl.py", stage / "submit_crawl.py")
    (stage / "rules.json").write_text(storage_json(n_hosts))
    (stage / "seeds.txt").write_text(
        "\n".join(seed_urls(n_hosts, n_details)) + "\n"
    )

    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_MASTER", "SPARK_GRAFT_CPUS")
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    state = tmp_path / "state"
    proc = subprocess.run(
        [
            _spark_submit(),
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", "uniparser_spark.zip",
            "submit_crawl.py",
            "--pages", str(pages_path),
            "--rules", "rules.json",
            "--seeds", "seeds.txt",
            "--state", str(state),
            "--rounds", "10",
        ],
        cwd=stage,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    rounds = [
        json.loads(line)
        for line in proc.stdout.splitlines()
        if line.startswith("{") and "scheduled" in line
    ]
    assert rounds, proc.stdout[-2000:]
    assert sum(r["scheduled"] for r in rounds) == n_pages

    # extracted records + resumable manifest landed in the state dir
    rec_files = sorted((state / "records").rglob("*.parquet"))
    records = ds.dataset([str(p) for p in rec_files]).to_table()
    assert records.num_rows == n_pages
    manifest = json.loads((state / "manifest.json").read_text())
    assert manifest["seen_total"] == n_pages


def _write_zip(path: Path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_zip_cache_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    import uniparser_spark  # noqa: F401  (installs the override)

    archive = tmp_path / "probe_pkg.zip"
    _write_zip(archive, {"_ups_zip_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    # registered through monkeypatch so teardown drops the importer
    monkeypatch.setitem(
        sys.path_importer_cache, str(archive), zipimport.zipimporter(str(archive))
    )
    monkeypatch.delitem(sys.modules, "_ups_zip_probe_a", raising=False)
    monkeypatch.delitem(sys.modules, "_ups_zip_probe_b", raising=False)
    assert importlib.import_module("_ups_zip_probe_a").VALUE == 1
    importlib.invalidate_caches()  # every zip importer now holds a stamp

    reads = []
    eager_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return eager_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    # a rewritten archive is re-read, and its new module imports
    _write_zip(
        archive,
        {"_ups_zip_probe_a": "VALUE = 1\n", "_ups_zip_probe_b": "VALUE = 2\n"},
    )
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):
        assert reads.count(str(archive)) == 1
    assert importlib.import_module("_ups_zip_probe_b").VALUE == 2

    # a rewrite at the same size with the mtime put back is still seen:
    # the ctime moves
    st = os.stat(archive)
    _write_zip(
        archive,
        {"_ups_zip_probe_a": "VALUE = 3\n", "_ups_zip_probe_b": "VALUE = 2\n"},
    )
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(archive).st_size == st.st_size
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):
        assert reads.count(str(archive)) == 2
    del sys.modules["_ups_zip_probe_a"]
    assert importlib.import_module("_ups_zip_probe_a").VALUE == 3


def test_extract_worker_runs_lazy_zip_invalidation(spark):
    """The Python worker that ran ``extract_pages`` reports the
    stamp-checked override (the stock method from 3.13 on, which no
    longer re-reads on invalidation)."""
    from uniparser_spark import testgen
    from uniparser_spark.engine import extract_pages

    storage = testgen.build_storage(1)
    host = testgen.host_name(0)
    storage[host]["crawler_rules"]["detail"]["parse_rules"][0]["chain_rules"] = [
        [
            "udf",
            "[__import__('zipimport').zipimporter.invalidate_caches.__module__,"
            " __import__('sys').version_info >= (3, 13)]",
            "",
        ]
    ]
    pages = spark.createDataFrame(
        [(testgen.detail_url(host, 0), "<h1>x</h1>")], "url string, text string"
    )
    [row] = extract_pages(pages, storage).collect()
    assert row["error"] is None, row["error"]
    module, lazy_upstream = json.loads(row["result"])["detail"]["title"]
    assert module == ("zipimport" if lazy_upstream else "uniparser_spark._zipcache")
