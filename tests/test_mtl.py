"""MTL parsing tests: txt<->json equivalence (the port of the
reference's parser-equivalence corpus, tests/test_toa_utils.py:42-57),
the cast ladder, and the distributed extractor."""

import json

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rio_toa_spark.functions import mtl as mtl_mod
from rio_toa_spark.sources import fixtures as fx


def test_txt_json_equivalence_all_scenes(fixture_paths):
    rows = pq.read_table(fixture_paths["scenes"]).to_pylist()
    assert len(rows) >= 4
    for row in rows:
        parsed = mtl_mod.parse_mtl_txt(row["mtl_txt"])
        assert parsed == json.loads(row["mtl_json"])


def test_cast_ladder():
    text = "GROUP = G\n  I = 42\n  F = 4.5\n  S = \"hello\"\n  B = LC8TEXT\nEND_GROUP = G\nEND\n"
    out = mtl_mod.parse_mtl_txt(text)
    assert out["G"]["I"] == 42 and isinstance(out["G"]["I"], int)
    assert out["G"]["F"] == 4.5 and isinstance(out["G"]["F"], float)
    assert out["G"]["S"] == "hello"
    assert out["G"]["B"] == "LC8TEXT"


def test_nested_groups_and_root_keys():
    text = "ROOTK = 1\nGROUP = A\n  GROUP = B\n    X = 2\n  END_GROUP = B\n  Y = 3\nEND_GROUP = A\nEND\n"
    out = mtl_mod.parse_mtl_txt(text)
    assert out == {"ROOTK": 1, "A": {"B": {"X": 2}, "Y": 3}}


def test_distributed_extractor_matches_driver_parse(spark, scenes_df, fixture_paths):
    parsed = mtl_mod.with_parsed_mtl(scenes_df).select(
        "scene_id",
        F.col("mtl.L1_METADATA_FILE.IMAGE_ATTRIBUTES.SUN_ELEVATION").alias("e"),
        F.col("mtl.L1_METADATA_FILE.RADIOMETRIC_RESCALING")["RADIANCE_MULT_BAND_5"].alias("m5"),
        F.col("mtl.L1_METADATA_FILE.PRODUCT_METADATA.DATE_ACQUIRED").alias("d"),
    ).collect()
    truth = {
        r["scene_id"]: json.loads(r["mtl_json"])["L1_METADATA_FILE"]
        for r in pq.read_table(fixture_paths["scenes"]).to_pylist()
    }
    for row in parsed:
        meta = truth[row.scene_id]
        assert row.e == meta["IMAGE_ATTRIBUTES"]["SUN_ELEVATION"]
        assert row.m5 == meta["RADIOMETRIC_RESCALING"]["RADIANCE_MULT_BAND_5"]
        assert row.d == meta["PRODUCT_METADATA"]["DATE_ACQUIRED"]


def test_arrow_udf_equals_driver_parse(spark, scenes_df, fixture_paths):
    """``parse_mtl_txt_udf`` (an Arrow UDF) gives ``json.dumps`` of the
    driver parse on every fixture scene, and null for a null text. It
    stays one ``ArrowEvalPython`` node, the node the benchmark's ``mtl``
    layer is attributed from."""
    parsed = scenes_df.select("scene_id", mtl_mod.parse_mtl_txt_udf(F.col("mtl_txt")).alias("j"))
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython [parse_mtl_txt_udf(") == 1, plan
    got = {r.scene_id: r.j for r in parsed.collect()}
    rows = pq.read_table(fixture_paths["scenes"]).to_pylist()
    assert got == {r["scene_id"]: json.dumps(mtl_mod.parse_mtl_txt(r["mtl_txt"])) for r in rows}
    nulls = spark.createDataFrame([(None,)], "mtl_txt string")
    assert nulls.select(mtl_mod.parse_mtl_txt_udf("mtl_txt").alias("j")).collect()[0].j is None
