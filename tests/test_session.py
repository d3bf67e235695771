"""Session factory: the package zip is shipped once per SparkContext."""

from open_data_linter_spark.session import _PKG_ZIP, get_spark


def test_package_shipped_once_per_context(spark):
    sc = spark.sparkContext
    assert sc._python_includes.count(_PKG_ZIP) == 1
    again = get_spark("odl-spark-tests", master="local[8]", shuffle_partitions=8)
    assert again.sparkContext is sc
    assert sc._python_includes.count(_PKG_ZIP) == 1
