"""Sessions from get_spark: Python workers import pyspark from the installed
distribution, so the per-task import-cache invalidation re-reads no archive,
and Arrow batches to Python are bounded by row count alone."""

from __future__ import annotations

import importlib.machinery
import os
import re
import types
import zipfile

import pyarrow as pa

from rustiflow_spark.worker_daemon import clean_import_path


def _archive(path: str) -> str | None:
    """The existing .zip/.jar file that `path` names or lies inside."""
    m = re.match(r"(.*?\.(?:zip|jar))(?:/|$)", path)
    return m.group(1) if m and os.path.isfile(m.group(1)) else None


def test_workers_import_nothing_from_archives(spark):
    def report(batches):
        import sys

        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "path": [list(sys.path)],
                "cache": [list(sys.path_importer_cache)],
                "importers": [
                    sorted({type(v).__name__ for v in sys.path_importer_cache.values()})
                ],
                "pyspark_file": [pyspark.__file__],
            }
        )

    rows = (
        spark.range(4, numPartitions=2)
        .mapInArrow(
            report,
            "path array<string>, cache array<string>, importers array<string>, "
            "pyspark_file string",
        )
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        paths = list(r.path) + list(r.cache) + [r.pyspark_file]
        assert [p for p in paths if _archive(p)] == []
        assert "zipimporter" not in r.importers


def test_arrow_batch_settings_reach_the_sql_conf(spark):
    # both keys are internal: a misspelt one would be accepted and ignored,
    # and Spark would size the Arrow writer before every row again
    sql_conf = spark._jsparkSession.sessionState().conf()
    assert sql_conf.arrowMaxBytesPerBatch() == 2147483647
    assert sql_conf.arrowMaxRecordsPerBatch() == 10000


def test_arrow_batches_are_cut_by_row_count(spark):
    def sizes(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"n": [b.num_rows]})

    rows = spark.range(25_000, numPartitions=1).mapInArrow(sizes, "n long").collect()
    assert [r.n for r in rows] == [10_000, 10_000, 5_000]


def _pyspark_zip(tmp_path, version: str) -> str:
    path = str(tmp_path / "lib" / "pyspark.zip")
    os.makedirs(os.path.dirname(path))
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return path


def _site(tmp_path, name: str, version: str) -> str:
    site = tmp_path / name
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    dist = site / f"pyspark-{version}.dist-info"
    dist.mkdir()
    (dist / "METADATA").write_text(
        f"Metadata-Version: 2.1\nName: pyspark\nVersion: {version}\n"
    )
    return str(site)


def _namespace(name: str, locations: list[str]) -> types.ModuleType:
    spec = importlib.machinery.ModuleSpec(name, None, is_package=True)
    spec.submodule_search_locations = locations
    mod = types.ModuleType(name)
    mod.__spec__, mod.__path__ = spec, locations
    return mod


def _state(zip_path: str, jar: str, extra: list[str]):
    path = [zip_path, jar, *extra]
    cache = {p: object() for p in path}
    cache[zip_path + "/pyspark"] = object()
    cache[jar + "/org"] = object()
    modules = {
        "org": _namespace("org", [jar + "/org"]),
        "json": types.ModuleType("json"),
    }
    return path, cache, modules


def test_clean_import_path_drops_jars_and_zip_with_matching_install(tmp_path):
    zip_path = _pyspark_zip(tmp_path, "4.1.2")
    jar = str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar")
    site = _site(tmp_path, "site", "4.1.2")
    path, cache, modules = _state(zip_path, jar, [site])
    modules["shared_ns"] = _namespace("shared_ns", [jar + "/shared_ns", site + "/shared_ns"])

    assert clean_import_path(path, cache, modules) == []
    assert path == [site]
    assert list(cache) == [site]
    # the jar-only namespace package goes; one with a live location stays
    assert sorted(modules) == ["json", "shared_ns"]


def test_clean_import_path_keeps_zip_without_matching_install(tmp_path):
    zip_path = _pyspark_zip(tmp_path, "4.1.2")
    jar = str(tmp_path / "spark-core.jar")
    other = _site(tmp_path, "other", "4.0.0")
    for extra in ([], [other]):
        path, cache, modules = _state(zip_path, jar, extra)
        assert clean_import_path(path, cache, modules) == [zip_path]
        assert path == [zip_path, *extra]  # jar entries always go
        assert set(cache) == {zip_path, zip_path + "/pyspark", *extra}
        assert "org" not in modules


def test_clean_import_path_keeps_zip_pyspark_was_loaded_from(tmp_path):
    zip_path = _pyspark_zip(tmp_path, "4.1.2")
    site = _site(tmp_path, "site", "4.1.2")
    loaded = types.ModuleType("pyspark")
    loaded.__file__ = zip_path + "/pyspark/__init__.py"
    path = [zip_path, site]
    assert clean_import_path(path, {}, {"pyspark": loaded}) == [zip_path]
    assert path == [zip_path, site]
