import pandas as pd
from pyspark.sql import functions as F

from gdal_vfr_spark import datagen, driver
from gdal_vfr_spark.operators.export import export_layers, list_formats


def test_export_fanout_and_empty_drop(spark, tmp_path):
    obce = datagen.gen_obce(spark)
    # add an always-null geometry column to exercise the empty-layer drop
    obce = obce.withColumn("prazdna", F.lit(None).cast("binary"))
    res = export_layers(
        obce,
        "Obce",
        ["definicni_bod", "originalni_hranice", "generalizovane_hranice", "prazdna"],
        str(tmp_path),
        nogeomskip=True,
    )
    assert res["obce_definicni_bod"] == 100
    assert res["obce_originalni_hranice"] == 100
    # ~30% of generalizovane are NULL and get skipped
    assert res["obce_generalizovane_hranice"] + res["obce_generalizovane_hranice__skipped"] == 100
    assert res["obce_prazdna"] == 0  # empty layer skipped, no dir written
    import os

    assert not os.path.exists(str(tmp_path / "obce_prazdna"))
    back = spark.read.parquet(str(tmp_path / "obce_definicni_bod"))
    assert "geometry" in back.columns and "kod" in back.columns


def test_export_stringify_lists(spark, tmp_path):
    parcely = datagen.gen_parcely(spark, per_ku=1)
    res = export_layers(
        parcely,
        "Parcely",
        ["definicni_bod", "originalni_hranice"],
        str(tmp_path),
        stringify_lists=True,
    )
    back = spark.read.parquet(str(tmp_path / "parcely_definicni_bod"))
    assert dict(back.dtypes)["bonitovany_dil_vymera"] == "string"
    assert res["parcely_definicni_bod"] == back.count()


def test_list_formats(spark):
    assert "parquet" in list_formats(spark)


def _batch(spark, seed, n_layers=2):
    obce = (
        datagen.gen_obce(spark, seed=seed)
        .withColumn("gml_id", F.concat_ws(".", F.lit("OB"), F.col("kod")))
        .withColumn("layer", F.lit("obce"))
        .select("layer", "gml_id", "kod", "nazev", "nespravny")
    )
    ku = (
        datagen.gen_katastralni_uzemi(spark, seed=seed)
        .withColumn("gml_id", F.concat_ws(".", F.lit("KU"), F.col("kod")))
        .withColumn("layer", F.lit("katastralniuzemi"))
        .select("layer", "gml_id", "kod", "nazev", "nespravny")
    )
    return obce.unionByName(ku)


def test_run_batches_lifecycle(spark, tmp_path):
    """Replays the reference multi-pass structure end-to-end through
    the driver (test-multi.sh + test-changes.sh shape)."""
    wh = str(tmp_path / "wh")
    full = _batch(spark, seed=42)

    stats = driver.run_batches(spark, [("20240630_ST_UKSH", full)], wh)
    assert stats.layer_counts == {"obce": 100, "katastralniuzemi": 400}

    # append pass doubles counts
    stats2 = driver.run_batches(spark, [("20240630_ST_UKSH", full)], wh, append=True)
    assert stats2.layer_counts == {"obce": 200, "katastralniuzemi": 800}

    # change batch merges (updates don't change counts)
    changes = (
        datagen.gen_changes(spark, n_add=5, n_update=10)
        .withColumn("layer", F.lit("obce"))
        .select("layer", "gml_id", "kod", "nazev", "nespravny")
    )
    stats3 = driver.run_batches(spark, [("20240707_ST_ZKSH", changes)], wh)
    assert stats3.tallies[("20240707_ST_ZKSH", "obce")] == {"add": 5, "update": 10}
    # dedup-during-merge collapses the appended duplicates of updated keys
    assert stats3.layer_counts["obce"] == 100 + 5
    assert stats3.layer_counts["katastralniuzemi"] == 800

    # layer filter (P1)
    stats4 = driver.run_batches(
        spark, [("20240801_ST_UKSH", full)], str(tmp_path / "wh2"), layers=["obce"]
    )
    assert stats4.layer_counts == {"obce": 100}

    s = driver.summary(stats3)
    assert "TOTAL" in s and "Time elapsed" in s


def test_resolve_options_precedence(tmp_path):
    """Replays the reference's option precedence (_read_conf,
    vfrogr.py:179-223): defaults < conf file < env (LOG_FILE/DATA_DIR/
    LOG_DIR only) < explicit overrides; comments skipped; malformed
    lines raise."""
    import pytest

    from gdal_vfr_spark.sources.manifest import resolve_options

    # defaults only (reference's built-ins)
    assert resolve_options(env={}) == {"LOG_DIR": ".", "DATA_DIR": "data"}
    conf = tmp_path / "vfr.conf"
    conf.write_text(
        "# path where to produce logs\n"
        "LOG_DIR=/var/log/vfr\n"
        "\n"
        "DATA_DIR=data2\n"
        "EXTRA=1\n"
    )
    got = resolve_options(conf_path=str(conf), env={})
    assert got == {"LOG_DIR": "/var/log/vfr", "DATA_DIR": "data2", "EXTRA": "1"}
    # env beats file, but only for the reference's three keys
    got = resolve_options(
        conf_path=str(conf), env={"DATA_DIR": "/mnt/d", "EXTRA": "9"}
    )
    assert got["DATA_DIR"] == "/mnt/d" and got["EXTRA"] == "1"
    # explicit overrides (CLI) beat everything
    got = resolve_options(
        conf_path=str(conf), env={"DATA_DIR": "/mnt/d"}, overrides={"DATA_DIR": "x"}
    )
    assert got["DATA_DIR"] == "x"
    # malformed line surfaces as an error
    bad = tmp_path / "bad.conf"
    bad.write_text("LOG_DIR\n")
    with pytest.raises(ValueError, match="invalid configuration line"):
        resolve_options(conf_path=str(bad), env={})


def test_layer_output_name_expr_parity(spark):
    """P7/F6 naming across the schema branches (none, plain,
    digit-leading, empty) against the reference's literal names."""
    from pyspark.sql import functions as F

    from gdal_vfr_spark.operators.projections import layer_output_name_expr

    cases = [
        ("StavebniObjekty", None, "stavebniobjekty"),
        ("Ulice", "RUIAN_Main", "ruian_main.ulice"),
        ("Parcely", "20240630_ob", "vfr_20240630_ob.parcely"),
        ("AdresniMista", "", "adresnimista"),
    ]
    df = spark.createDataFrame(
        [(n, sc) for n, sc, _ in cases], "name string, schema string"
    ).select(layer_output_name_expr(F.col("name"), F.col("schema")).alias("out"))
    assert [r["out"] for r in df.collect()] == [want for *_, want in cases]
    # no-schema overload
    one = spark.createDataFrame([("Obce",)], "name string").select(
        layer_output_name_expr(F.col("name")).alias("out")
    )
    assert one.first()["out"] == "obce"
