"""``get_session`` starts the driver JVM at its full heap with a fixed young
generation, so its resident size does not depend on when G1 would have
grown the heap.  The options must reach the JVM that actually runs."""

from __future__ import annotations


def test_driver_jvm_starts_at_full_heap(spark):
    memory = spark.sparkContext.getConf().get("spark.driver.memory")
    jvm = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(jvm.getRuntimeMXBean().getInputArguments())
    assert f"-Xmx{memory}" in args
    assert f"-Xms{memory}" in args
    assert "-XX:NewRatio=7" in args
    heap = jvm.getMemoryMXBean().getHeapMemoryUsage()
    assert heap.getCommitted() == heap.getMax()
