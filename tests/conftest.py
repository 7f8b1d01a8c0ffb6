import os
import shutil
import tempfile
import warnings

import pytest

warnings.filterwarnings("ignore")


@pytest.fixture(scope="session")
def spark():
    from paimon_python_spark.session import configure_builder
    from pyspark.sql import SparkSession

    spark = configure_builder(
        SparkSession.builder.master("local[4]").appName("paimon_python_spark_tests"),
        shuffle_partitions=4,
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from paimon_python_spark.session import set_spark

    set_spark(spark)
    yield spark


@pytest.fixture()
def warehouse(spark):
    path = tempfile.mkdtemp(prefix="pps_wh_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture()
def catalog(warehouse):
    from paimon_python_spark import Catalog

    cat = Catalog.create({"warehouse": warehouse})
    cat.create_database("default", True)
    return cat


@pytest.fixture()
def racing_commit(monkeypatch):
    """``racing_commit(table_path, commit)``: run ``commit()`` — a
    concurrent writer's whole call — once, just before the next call
    first publishes a ``snapshot-N`` of ``table_path``. ``commit()``
    takes snapshot N, so the call under test loses the CAS and retries
    on the new head. Works by wrapping ``metadata._exclusive_write``
    (the create-if-absent every lake snapshot publish goes through)."""
    from paimon_python_spark import metadata

    real = metadata._exclusive_write

    def arm(table_path: str, commit) -> None:
        snap_dir = os.path.join(table_path, "snapshot")
        fired = []

        def racing_write(path: str, text: str) -> None:
            if (
                not fired
                and os.path.dirname(path) == snap_dir
                and os.path.basename(path).startswith("snapshot-")
            ):
                fired.append(path)
                monkeypatch.setattr(metadata, "_exclusive_write", real)
                commit()
            real(path, text)

        monkeypatch.setattr(metadata, "_exclusive_write", racing_write)

    return arm
