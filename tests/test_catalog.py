"""Table catalog: the per-session scan memo and the session pinning."""
from __future__ import annotations

from dataintegration_csvprovider_spark.catalog import load_table


def test_memo_hit_still_pins_utc(spark, sf_dir):
    first = load_table(spark, sf_dir, "region")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        again = load_table(spark, sf_dir, "region")
        assert again is first  # served from the memo
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_memo_lives_on_the_session(spark, sf_dir):
    import dataintegration_csvprovider_spark.catalog as catalog

    df = load_table(spark, sf_dir, "nation")
    assert getattr(spark, catalog._MEMO_ATTR)[(sf_dir, "nation")] is df
