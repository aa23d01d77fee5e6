"""configure_session never fails silently: a conf the session refuses
is reported once per conf name, and the other confs still apply."""

from __future__ import annotations

import warnings

import pytest

from i2mapreduce_spark import session

#: a static conf: fixed when the SparkContext starts, so setting it on a
#: running session raises
STATIC_CONF = "spark.sql.warehouse.dir"


def test_refused_conf_warns_once_with_name_and_error(spark, monkeypatch):
    monkeypatch.setitem(session.SQL_CONFS, STATIC_CONF, "/nonexistent-wh")
    monkeypatch.setattr(session, "_WARNED_CONFS", set())
    with pytest.warns(RuntimeWarning, match=STATIC_CONF) as rec:
        session.configure_session(spark, shuffle_partitions=8)
    msgs = [str(w.message) for w in rec if STATIC_CONF in str(w.message)]
    assert len(msgs) == 1
    assert "Exception" in msgs[0] or "Error" in msgs[0]  # names the error
    # settable confs are still applied around the refused one
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    # load_tables calls this per query: the same conf warns only once
    with warnings.catch_warnings(record=True) as again:
        warnings.simplefilter("always")
        session.configure_session(spark, shuffle_partitions=8)
    assert not [w for w in again if STATIC_CONF in str(w.message)]
