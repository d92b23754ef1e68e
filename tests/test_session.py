"""Engine defaults of ``octopufs_spark.session.get_spark`` that reach the
driver JVM's command line."""

from __future__ import annotations


def _jvm_args(spark) -> list[str]:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return list(mx.getRuntimeMXBean().getInputArguments())


def test_driver_jvm_has_a_fixed_young_generation(spark):
    # G1 sizes eden adaptively unless NewRatio is on the command line
    assert "-XX:NewRatio=2" in _jvm_args(spark)
