"""SPARK_GRAFT_EXTRA_CONF parsing: malformed items fail loudly, naming the
item, before any session is built."""

from __future__ import annotations

import pytest

from lab_etl_spark.session import get_spark


@pytest.mark.parametrize(
    "extra, bad",
    [
        ("spark.sql.shuffle.partitions", "spark.sql.shuffle.partitions"),
        ("spark.a=1; =2", "=2"),
        ("spark.a=1;  = 3 ;spark.b=2", "= 3"),
    ],
)
def test_extra_conf_rejects_malformed_item(monkeypatch, extra, bad):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", extra)
    with pytest.raises(ValueError) as err:
        get_spark("extra_conf_check")
    assert repr(bad) in str(err.value)
