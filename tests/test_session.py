"""``session.tune_for_data_size``: the shuffle width and AQE tier chosen
from the input bytes. Spark-free: a stub session records ``conf.set``
calls and the inputs are sparse files, so no disk is used."""

from __future__ import annotations

import os

import pytest

from stellarsql_spark.session import tune_for_data_size

MIB = 1 << 20


class _Conf:
    def __init__(self):
        self.calls = []

    def set(self, key, value):
        self.calls.append((key, value))


class _Session:
    def __init__(self):
        self.conf = _Conf()


def _sparse(path, nbytes):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.touch()
    os.truncate(path, nbytes)


# (input bytes, cpus, shuffle partitions, AQE)
TIERS = [
    (1 * MIB, 4, "1", "false"),
    (1 * MIB, 32, "1", "false"),
    (8 * MIB - 1, 4, "1", "false"),
    (8 * MIB - 1, 32, "1", "false"),
    (8 * MIB, 4, "4", "false"),
    (8 * MIB, 32, "8", "false"),
    (256 * MIB - 1, 4, "4", "false"),
    (256 * MIB - 1, 32, "8", "false"),
    (256 * MIB, 4, "8", "false"),
    (256 * MIB, 32, "8", "false"),
    (700 * MIB, 4, "8", "false"),
    (700 * MIB, 32, "21", "false"),
    (768 * MIB - 1, 4, "8", "false"),
    (768 * MIB - 1, 32, "23", "false"),
    (768 * MIB, 4, "8", "true"),
    (768 * MIB, 32, "64", "true"),
    (20 << 30, 4, "160", "true"),
    (20 << 30, 32, "160", "true"),
]


@pytest.mark.parametrize("nbytes,cpus,width,aqe", TIERS)
def test_tiers_and_boundaries(tmp_path, nbytes, cpus, width, aqe):
    # split across both globbed layouts: <dir>/*.parquet and <dir>/*/*.parquet
    _sparse(tmp_path / "orders.parquet", nbytes // 2)
    _sparse(tmp_path / "lineitem" / "part-0.parquet", nbytes - nbytes // 2)
    spark = _Session()
    assert tune_for_data_size(spark, str(tmp_path), cpus=cpus) is spark
    assert spark.conf.calls == [
        ("spark.sql.shuffle.partitions", width),
        ("spark.sql.adaptive.enabled", aqe),
    ]


def test_only_parquet_files_count(tmp_path):
    _sparse(tmp_path / "orders.parquet", MIB)
    _sparse(tmp_path / "events.csv", 1 << 30)
    _sparse(tmp_path / "a" / "b" / "deep.parquet", 1 << 30)
    spark = _Session()
    tune_for_data_size(spark, str(tmp_path), cpus=4)
    assert dict(spark.conf.calls) == {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.adaptive.enabled": "false",
    }
