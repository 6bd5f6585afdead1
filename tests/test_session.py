"""Driver-side cost pins for the session settings in session.py."""

from __future__ import annotations


def test_column_build_round_trips(spark, monkeypatch):
    """pyspark's DataFrame debugging is off, so building a Column costs the
    py4j round trips of the expression itself, not a call-site capture
    (session lookup, conf read, origin set/clear on the JVM) around every
    Column method and F.col. The package's tile_of(lon, lat, 14) measured
    347 round trips with the capture on and 147 with it off."""
    import threading

    from py4j.clientserver import JavaClient
    from pyspark.sql import functions as F

    from simple_osm_queries_spark.functions import cells as C

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"

    def build():
        return C.tile_of(F.col("lon"), F.col("lat"), 14)

    build()  # the first build also resolves the JVM classes it uses
    calls = 0
    send = JavaClient.send_command
    builder = threading.get_ident()

    def counting(self, *args, **kwargs):
        # py4j releases the JVM references of collected Python objects from
        # its own thread; those commands are not part of the build
        nonlocal calls
        calls += threading.get_ident() == builder
        return send(self, *args, **kwargs)

    monkeypatch.setattr(JavaClient, "send_command", counting)
    build()
    monkeypatch.undo()
    assert 0 < calls <= 200, calls
