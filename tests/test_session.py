"""Session factory: the package zip is shipped once per SparkContext."""

import os

import pytest

from open_data_linter_spark.session import _PKG_ZIP, get_spark


def test_package_shipped_once_per_context(spark):
    sc = spark.sparkContext
    assert sc._python_includes.count(_PKG_ZIP) == 1
    again = get_spark("odl-spark-tests", master="local[8]", shuffle_partitions=8)
    assert again.sparkContext is sc
    assert sc._python_includes.count(_PKG_ZIP) == 1


@pytest.mark.skipif(
    "SPARK_GRAFT_DRIVER_MEM" in os.environ,
    reason="the driver heap is set by SPARK_GRAFT_DRIVER_MEM",
)
def test_default_driver_heap_fits_the_host(spark):
    sc = spark.sparkContext
    heap = sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        sc.getConf().get("spark.driver.memory")
    )
    assert heap <= os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
