"""The session factory's memory settings: Tungsten pages sized for the
local heap (see ``session``'s docstring for why 4 MiB)."""

from __future__ import annotations

# TaskMemoryManager.PAGE_TABLE_SIZE: the most pages one task can hold
PAGE_TABLE_SIZE = 8192


def test_page_size_is_4_mib_and_covers_the_heap(spark):
    jvm = spark.sparkContext._jvm
    page = jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes()
    assert page == 4 * 1024 * 1024
    # a task that needs the whole heap must still fit in its page table
    assert PAGE_TABLE_SIZE * page >= jvm.java.lang.Runtime.getRuntime().maxMemory()
