"""Session factory: driver heap sizing and driver-built local relations."""

from __future__ import annotations

import pytest

from fileverification_spark import session as SS


def test_default_driver_memory_is_half_of_ram_capped_at_16g(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\nMemFree:         1024 kB\n")
    assert SS.default_driver_memory(str(meminfo)) == "7680m"  # 15 GiB host
    meminfo.write_text("MemFree: 1 kB\nMemTotal: 134217728 kB\n")
    assert SS.default_driver_memory(str(meminfo)) == "16384m"  # 128 GiB host
    assert SS.default_driver_memory(str(tmp_path / "absent")) == "16384m"


def test_local_relation_is_a_local_table_scan(spark):
    schema = "poly_id string, cell bigint, edges array<struct<y1: double, x1: double>>"
    rows = [("a", 1, [(1.0, 2.0)]), ("b", 2, [])]
    df = SS.local_relation(spark, rows, schema)
    assert df.schema.simpleString() == (
        "struct<poly_id:string,cell:bigint,edges:array<struct<y1:double,x1:double>>>"
    )
    assert [tuple(r) for r in df.collect()] == [("a", 1, [(1.0, 2.0)]), ("b", 2, [])]
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    empty = SS.local_relation(spark, [], "cell bigint, hotspot_id bigint")
    assert empty.columns == ["cell", "hotspot_id"] and empty.count() == 0

    with pytest.raises(ValueError, match="2 fields"):
        SS.local_relation(spark, [("a",)], "a string, b bigint")
