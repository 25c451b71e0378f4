"""Spark 4 Python DataSource tests: dmi_edr registration, read, pushdown."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dmi_ingestor_spark.sources.edr_datasource import register


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    # runtime conf: python-source filter pushdown is off by default
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)


def _read(spark, **opts):
    defaults = {
        "collection": "dkss_if",
        "parameters": "sea-mean-deviation,total-precipitation",
        "transport": "synthetic",
    }
    defaults.update(opts)
    r = spark.read.format("dmi_edr")
    for k, v in defaults.items():
        r = r.option(k, v)
    return r.load()


def test_read_two_parameters(spark):
    df = _read(spark)
    # 2 parameters × 4 times × 8×8 grid
    assert df.count() == 2 * 4 * 64
    assert df.columns == ["collection", "parameter", "time_s", "y", "x", "value"]
    got = {r.parameter for r in df.select("parameter").distinct().collect()}
    assert got == {"sea-mean-deviation", "total-precipitation"}


def test_parameter_filter_prunes_partitions(spark):
    df = _read(spark).filter(F.col("parameter") == "sea-mean-deviation")
    assert df.count() == 4 * 64
    # the filter reached the source: only one partition was planned
    assert df.rdd.getNumPartitions() == 1


def test_values_match_synthetic_oracle(spark):
    # value = t*10000 + iy*100 + ix → global sum is closed-form
    df = _read(spark, parameters="sea-mean-deviation")
    got = df.agg(F.sum("value")).collect()[0][0]
    n_t, n_y, n_x = 4, 8, 8
    want = sum(
        t * 10_000 + iy * 100 + ix
        for t in range(n_t)
        for iy in range(n_y)
        for ix in range(n_x)
    )
    assert got == want


def test_composes_with_catalyst(spark):
    # the source output is a normal DataFrame: window + agg over it
    df = _read(spark, parameters="sea-mean-deviation")
    per_t = df.groupBy("time_s").agg(F.sum("value").alias("s")).orderBy("time_s")
    rows = per_t.collect()
    assert len(rows) == 4
    assert rows[1].s - rows[0].s == 64 * 10_000


def test_datasource_rows_equal_ingest_decode(spark):
    """The same synthetic harmonie cube through the ingest pass
    (``fetch_grid``, a transport serving the cube) and through
    spark.read.format('dmi_edr') gives the same grid rows, and the
    pipeline's lon/lat equal the projection applied cell by cell."""
    import numpy as np

    from dmi_ingestor_spark.functions.projection import lcc_inverse_np
    from dmi_ingestor_spark.ingest.pipeline import fetch_grid
    from dmi_ingestor_spark.sources.cube_format import encode_cube, synthetic_cube
    from dmi_ingestor_spark.sources.http_edr import IngestConfig

    coll, par = "harmonie_dini_sf", "t2m"
    payload = encode_cube(synthetic_cube(par, lambert=True))
    cfg = IngestConfig(collection=coll, parameters=(par,))
    grid = fetch_grid(spark, cfg, lambda url: payload).collect()
    cols = ["collection", "parameter", "time_s", "y", "x", "value"]
    via_pipeline = sorted(tuple(r[c] for c in cols) for r in grid)
    via_source = sorted(tuple(r) for r in _read(spark, collection=coll, parameters=par).collect())
    assert len(via_pipeline) == 4 * 64
    assert via_pipeline == via_source
    lon, lat = lcc_inverse_np(np.array([r.x for r in grid]), np.array([r.y for r in grid]))
    assert [r.lon for r in grid] == lon.tolist()
    assert [r.lat for r in grid] == lat.tolist()


def test_stream_reader_one_batch_per_cycle(spark, tmp_path):
    """readStream over dmi_edr: 3 forecast cycles arrive as micro-batches
    with exactly-once offsets; the drained sink holds every cycle once."""
    stream = (
        spark.readStream.format("dmi_edr")
        .option("parameters", "sea-mean-deviation")
        .option("max_cycles", "3")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("edr_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("edr_stream_sink")
    assert got.count() == 3 * 4 * 64
    # cycles shift t0 by 4h: all 12 hourly timesteps distinct
    assert got.select("time_s").distinct().count() == 12


def test_writer_commit_protocol_roundtrip(spark, sf_dir, tmp_path):
    """df.write.format('dmi_edr') — task temp files, driver-side
    commit rename, _MANIFEST.json totals; content round-trips through
    spark.read.json byte-for-value."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F

    from dmi_ingestor_spark.catalog import table
    from dmi_ingestor_spark.sources.edr_datasource import register

    register(spark)
    out = str(tmp_path / "published")
    src = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .filter(F.col("o_orderkey") % 50 == 0)
        .repartition(4)
    )
    src.write.format("dmi_edr").option("path", out).mode("append").save()

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["n_files"] == 4
    assert manifest["n_rows"] == src.count()
    assert manifest["columns"] == ["o_orderkey", "o_orderstatus", "o_orderpriority"]
    assert not glob.glob(os.path.join(out, "_tmp.*")), "temp files must be gone"
    for name, n in manifest["files"].items():
        with open(os.path.join(out, name)) as fh:
            assert sum(1 for _ in fh) == n

    back = spark.read.json(os.path.join(out, "part-*.jsonl"))
    got = {(r.o_orderkey, r.o_orderstatus, r.o_orderpriority) for r in back.collect()}
    want = {tuple(r) for r in src.collect()}
    assert got == want and len(got) > 0


def test_writer_abort_leaves_no_output(spark, sf_dir, tmp_path):
    """A failing write job must abort cleanly: no _MANIFEST.json, no
    committed part files (keep-last-good by construction)."""
    import os

    from pyspark.sql import functions as F

    from dmi_ingestor_spark.catalog import table
    from dmi_ingestor_spark.sources.edr_datasource import register

    register(spark)
    out = str(tmp_path / "aborted")

    @F.udf("long")
    def boom(x):
        raise RuntimeError("injected failure")

    src = table(spark, sf_dir, "orders").select(boom("o_orderkey").alias("k"))
    import pytest as _pytest

    with _pytest.raises(Exception):
        src.write.format("dmi_edr").option("path", out).mode("append").save()
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))
    assert not [f for f in os.listdir(out) if f.startswith("part-")] if os.path.exists(out) else True
