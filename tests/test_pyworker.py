"""The Python worker daemon (``opensearch_spark.pyworker``): a worker of a
``get_spark`` session runs with no Spark archives on its import path,
and the path filter drops archives only when what they provide still
imports from a directory at the same version."""

import os
import sys
import zipfile

import pytest

from opensearch_spark import pyworker


def _zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)
    return str(path)


def _pkg(root, name, version):
    d = root / name
    d.mkdir(parents=True)
    (d / "__init__.py").write_text("")
    (d / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(root)


def _spark_archives(tmp_path, pyspark_version="4.1.2", py4j_version="0.10.9.9"):
    return [
        _zip(tmp_path / "pyspark.zip", {
            "pyspark/__init__.py": "from pyspark.version import __version__\n",
            "pyspark/version.py": f'__version__: str = "{pyspark_version}"\n',
            "pyspark/sql/__init__.py": "",
        }),
        _zip(tmp_path / "py4j-src.zip", {
            "py4j/__init__.py": "",
            "py4j/version.py": f"__version__ = '{py4j_version}'\n",
        }),
        _zip(tmp_path / "spark-core.jar", {
            "META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n",
            "org/apache/spark/SparkContext.class": "\xca\xfe",
        }),
    ]


def test_drops_archives_that_directories_shadow_at_the_same_version(tmp_path):
    site = _pkg(tmp_path / "site", "pyspark", "4.1.2")
    _pkg(tmp_path / "site", "py4j", "0.10.9.9")
    path = [str(tmp_path)] + _spark_archives(tmp_path) + [site]
    assert pyworker.archive_free_path(path) == [str(tmp_path), site]


def test_keeps_path_when_a_package_resolves_only_inside_an_archive(tmp_path):
    site = _pkg(tmp_path / "site", "pyspark", "4.1.2")  # no py4j directory
    path = _spark_archives(tmp_path) + [site]
    assert pyworker.archive_free_path(path) == path
    only_py4j = _pkg(tmp_path / "other", "py4j", "0.10.9.9")  # no pyspark
    path = _spark_archives(tmp_path) + [only_py4j]
    assert pyworker.archive_free_path(path) == path


@pytest.mark.parametrize("pkg", ["pyspark", "py4j"])
def test_keeps_path_when_a_directory_package_has_another_version(tmp_path, pkg):
    site = _pkg(tmp_path / "site", "pyspark", "4.1.2" if pkg != "pyspark" else "4.0.0")
    _pkg(tmp_path / "site", "py4j", "0.10.9.9" if pkg != "py4j" else "0.10.9.7")
    path = _spark_archives(tmp_path) + [site]
    assert pyworker.archive_free_path(path) == path


def test_keeps_path_when_versions_are_unknown(tmp_path):
    mods = _zip(tmp_path / "deps.zip", {"helper.py": "X = 1\n"})
    (tmp_path / "site").mkdir()
    (tmp_path / "site" / "helper.py").write_text("X = 1\n")
    path = [mods, str(tmp_path / "site")]
    assert pyworker.archive_free_path(path) == path


def test_drops_archives_that_provide_no_python(tmp_path):
    jar = _spark_archives(tmp_path)[2]
    missing = str(tmp_path / "python311.zip")  # on the path, not on disk
    assert pyworker.archive_free_path([jar, missing, str(tmp_path)]) == [str(tmp_path)]


def test_strip_archives_forgets_their_importers(tmp_path, monkeypatch):
    jar = _spark_archives(tmp_path)[2]
    monkeypatch.setattr(sys, "path", [jar, str(tmp_path)])
    monkeypatch.setattr(sys, "path_importer_cache", {
        jar: object(), jar + os.sep + "org": object(), jar + "x": None, str(tmp_path): None,
    })
    pyworker.strip_archives()
    assert sys.path == [str(tmp_path)]
    assert sorted(sys.path_importer_cache) == sorted([jar + "x", str(tmp_path)])


def test_session_workers_import_from_no_archive(spark):
    """One Python task of the session reports its import path: no
    ``.zip``/``.jar`` entry, no archive importer cached, and the
    driver's pyspark version."""
    import json

    import pyarrow as pa
    import pyspark

    def report(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"r": [json.dumps({
            "entries": [e for e in sys.path if e.endswith((".zip", ".jar"))],
            "importers": sorted(k for k, v in sys.path_importer_cache.items()
                                if isinstance(v, zipimport.zipimporter)),
            "version": pyspark.__version__,
        })]})

    (row,) = spark.range(1, numPartitions=1).mapInArrow(report, "r string").collect()
    got = json.loads(row.r)
    assert got == {"entries": [], "importers": [], "version": pyspark.__version__}
