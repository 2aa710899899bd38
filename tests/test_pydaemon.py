"""The engine's Python worker daemon (``nyc_taxi_etl_spark.pydaemon``):
workers import the unpacked pyspark and keep no ``zipimporter``, and the
path rule only drops Spark's archives when the unpacked packages have
the archives' versions."""

from __future__ import annotations

import os
import zipfile

import pytest

import nyc_taxi_etl_spark
from nyc_taxi_etl_spark.pydaemon import drop_spark_archives


def test_workers_import_unpacked_pyspark(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zipped = [
            k
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pd.DataFrame(
            {
                "version": [pyspark.__version__],
                "origin": [pyspark.__file__],
                "zipimporters": [len(zipped)],
            }
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "version string, origin string, zipimporters long")
        .collect()[0]
    )
    assert row.version == spark.version
    assert ".zip" not in row.origin
    assert row.zipimporters == 0


def test_get_spark_ships_package_root_to_workers(spark):
    conf = spark.sparkContext.getConf()
    root = os.path.dirname(os.path.dirname(os.path.abspath(nyc_taxi_etl_spark.__file__)))
    assert root in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)
    assert conf.get("spark.python.daemon.module") == "nyc_taxi_etl_spark.pydaemon"


def _zip(path, member, version):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(member, f"__version__: str = '{version}'\n")
    return str(path)


def _unpacked(root, package, version):
    os.makedirs(root / package)
    (root / package / "__init__.py").write_text("")
    (root / package / "version.py").write_text(f"__version__ = '{version}'\n")


@pytest.mark.parametrize(
    "unpacked, changes",
    [
        ({"pyspark": "9.1.0", "py4j": "0.5"}, True),
        ({"pyspark": "9.0.0", "py4j": "0.5"}, False),
        ({"pyspark": "9.1.0", "py4j": "0.4"}, False),
        ({"py4j": "0.5"}, False),
    ],
    ids=["versions-match", "pyspark-differs", "py4j-differs", "no-unpacked-pyspark"],
)
def test_drop_spark_archives_rule(tmp_path, unpacked, changes):
    pyspark_zip = _zip(tmp_path / "pyspark.zip", "pyspark/version.py", "9.1.0")
    py4j_zip = _zip(tmp_path / "py4j-0.5-src.zip", "py4j/version.py", "0.5")
    jar = _zip(tmp_path / "spark-core.jar", "org/x.class", "0")
    site = tmp_path / "site"
    os.makedirs(site)
    for package, version in unpacked.items():
        _unpacked(site, package, version)
    cwd = str(tmp_path / "cwd")
    path = [cwd, pyspark_zip, py4j_zip, jar, str(site)]
    cache = {
        e: object()
        for e in (
            cwd,
            pyspark_zip,
            pyspark_zip + "/pyspark",
            pyspark_zip + "/pyspark/sql",
            py4j_zip + "/py4j",
            jar,
            jar + "/org",
            str(site),
        )
    }
    before_path, before_cache = list(path), dict(cache)

    drop_spark_archives(path, cache)

    if changes:
        assert path == [cwd, str(site)]
        assert cache == {cwd: before_cache[cwd], str(site): before_cache[str(site)]}
    else:
        assert path == before_path
        assert cache == before_cache


def test_drop_spark_archives_keeps_path_without_a_known_version(tmp_path):
    """Neither an unreadable zip version nor a missing unpacked package
    counts as a match."""
    pyspark_zip = _zip(tmp_path / "pyspark.zip", "pyspark/other.py", "9.1.0")
    path, cache = [str(tmp_path), pyspark_zip], {pyspark_zip: object()}
    before_path, before_cache = list(path), dict(cache)

    drop_spark_archives(path, cache)

    assert path == before_path
    assert cache == before_cache
