"""`_load` sizes its re-spread from the file system the scan reads
through, so a table named by a `file://` URI loads with the same
partition count as the same table named by a plain path."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def _partitions(spark, root: str) -> int:
    import __spark_entry__ as entry

    entry._load(spark, root, "lineitem")
    return spark.table("lineitem").rdd.getNumPartitions()


def test_uri_and_plain_path_load_alike(spark):
    plain = _partitions(spark, SF)
    via_uri = _partitions(spark, "file://" + SF)
    # the single-file fixture gives one scan split; the re-spread must
    # act on both spellings of its path
    assert plain > 1
    assert via_uri == plain
