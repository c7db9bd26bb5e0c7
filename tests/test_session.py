"""The session factory's block codec: zstd by default, and a caller's
``extra_conf`` still wins."""

from __future__ import annotations

from pyspark.sql import SparkSession

from innercircle_etl_spark.session import get_spark

_CODEC = "spark.io.compression.codec"


def test_blocks_compress_with_zstd(spark):
    assert spark.sparkContext.getConf().get(_CODEC) == "zstd"


def test_extra_conf_overrides_codec(spark, monkeypatch):
    built = {}

    def capture(builder):
        built.update(builder._options)
        return spark

    # capture the builder's options instead of fetching the session
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    get_spark(extra_conf={_CODEC: "lz4"})
    assert built[_CODEC] == "lz4"
