"""Entry-table memo: session confs must be re-pinned on cache hits.

The lazy scan-plan memo in ``__spark_entry__`` holds plan handles for the
process lifetime.  Session confs (``spark.sql.session.timeZone``,
``spark.sql.legacy.parquet.nanosAsLong``) are consulted at *execution*
time, not plan-build time, so a memo hit returned without re-pinning them
would silently execute under whatever a later query left in the session.
"""

from __future__ import annotations

import importlib.util
import os
import sys


def _load_entry():
    if "__spark_entry__" in sys.modules:
        return sys.modules["__spark_entry__"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_memo_hit_repins_timezone(spark, sf_dir):
    entry = _load_entry()
    entry._t(spark, sf_dir, "lineitem")          # miss: populates memo
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    entry._t(spark, sf_dir, "lineitem")          # hit: must re-pin
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_memo_hit_repins_nanos_conf(spark, sf_dir):
    entry = _load_entry()
    entry._raw_events_schema(spark, sf_dir)      # miss: populates memo
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    entry._raw_events_schema(spark, sf_dir)      # hit: must re-pin
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"

    entry._t(spark, sf_dir, "events")            # miss or hit: pins both
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    entry._t(spark, sf_dir, "events")            # hit: must re-pin
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
