"""The engine's SparkSession settings that the Python side depends on."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_column_calls_skip_call_site_capture(spark, monkeypatch):
    """get_spark turns off PySpark's call-site capture: with it on,
    `F.col("x") >= 5` costs 24 py4j commands once warm (active session,
    conf reads, set/clear of PySparkCurrentOrigin around each call),
    with it off 4."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("y") >= 1  # the first call in a process also resolves JVM classes
    client = type(spark.sparkContext._gateway._gateway_client)
    real = client.send_command
    sent = []

    def counting(self, *args, **kwargs):
        sent.append(args[0] if args else None)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    F.col("x") >= 5
    assert len(sent) <= 8, sent
