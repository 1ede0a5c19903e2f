"""Session defaults derived from the host, and package shipping."""
import os

from console_log_parser_spark.session import (driver_mem_default,
                                              package_zip, ship_package)


def test_driver_mem_default_is_40pct_of_memtotal():
    meminfo = ("MemTotal:       16479424 kB\n"
               "MemFree:         1048576 kB\n")
    assert driver_mem_default(meminfo) == "6437m"


def test_driver_mem_default_caps_at_24g():
    assert driver_mem_default("MemTotal: 134217728 kB\n") == "24576m"


def test_ship_package_second_call_adds_nothing(spark):
    sc = spark.sparkContext
    ship_package(spark)
    files, includes = sc.listFiles, list(sc._python_includes)
    ship_package(spark)
    assert sc.listFiles == files
    assert sc._python_includes == includes
    name = os.path.basename(package_zip())
    assert [os.path.basename(f) for f in files].count(name) == 1
