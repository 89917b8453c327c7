from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spiders_for_all_spark.functions.signing import wbi_sign, xhs_sign_udf
from spiders_for_all_spark.operators import multimodal as MM
from spiders_for_all_spark.sources.idlist import ids_from_string
from spiders_for_all_spark.streaming.rounds import sessionize, windowed_event_counts


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        ("m1", b"\xff\xd8\xff\xe0" + b"j" * 100),  # jpeg
        ("m2", b"\x89PNG\r\n" + b"p" * 50),  # png
        ("m3", b"ID3\x04" + b"a" * 80),  # mp3
        ("m4", b"zzzz"),  # unknown
        ("m5", None),
    ]
    return spark.createDataFrame(rows, "media_ref string, payload binary")


def test_media_meta_sniffing(media):
    out = {r["media_ref"]: r for r in MM.sniff_media_meta(media).collect()}
    assert (out["m1"]["format"], out["m1"]["media_kind"], out["m1"]["n_bytes"]) == ("jpeg", "image", 104)
    assert out["m2"]["format"] == "png"
    assert out["m3"]["media_kind"] == "audio"
    assert out["m4"]["media_kind"] == "unknown"
    assert out["m5"]["n_bytes"] is None and out["m5"]["format"] is None
    # input columns pass through
    assert bytes(out["m4"]["payload"]) == b"zzzz"


def test_image_features_shape_and_determinism(media):
    out1 = {r["media_ref"]: list(r["features"]) for r in MM.image_features(media).collect()}
    out2 = {r["media_ref"]: list(r["features"]) for r in MM.image_features(media).collect()}
    assert out1 == out2
    assert all(len(v) == 8 for v in out1.values())
    assert abs(sum(out1["m1"]) - 1.0) < 1e-3


def test_decode_image_is_an_explicit_stub():
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\xff\xd8\xff")


def test_sample_frames_fanout(media):
    out = MM.sample_frames(media.filter("media_ref = 'm1'"), n_frames=4).collect()
    assert [r["frame_no"] for r in sorted(out, key=lambda r: r["frame_no"])] == [0, 1, 2, 3]
    assert sum(len(r["frame"]) for r in out) <= 104


def test_wbi_sign_matches_reference_algorithm(spark):
    """Independent check: same algorithm hand-computed in python."""
    import hashlib
    from urllib.parse import urlencode

    from spiders_for_all_spark.functions.signing import MIXIN_KEY_ENC_TAB

    img_key, sub_key = "a" * 16 + "b" * 16, "c" * 16 + "d" * 16
    params = {"foo": "114", "bar": "1919", "zab": "852"}
    raw = img_key + sub_key
    mixin = "".join(raw[i] for i in MIXIN_KEY_ENC_TAB)[:32]
    expected = hashlib.md5((urlencode(sorted(params.items())) + mixin).encode()).hexdigest()

    df = spark.createDataFrame([(params, img_key, sub_key)], "p map<string,string>, ik string, sk string")
    got = df.select(wbi_sign(F.col("p"), F.col("ik"), F.col("sk")).alias("w")).collect()[0]["w"]
    assert got == expected


def test_xhs_signer_stub_is_deterministic(spark):
    df = spark.createDataFrame([("https://x/api", "a1v")], "url string, a1 string")
    sign = xhs_sign_udf()
    r1 = sign(df).collect()[0]
    r2 = sign(df).collect()[0]
    assert r1["x_s"] == r2["x_s"] and r1["x_s"].startswith("XYW_")
    assert r1["x_t"] == r1["x_s"][4:17]


def test_ids_from_string(spark):
    out = [r["id"] for r in ids_from_string(spark, "b1, a2\tc3\nb1  a2").collect()]
    assert out == ["a2", "b1", "c3"]


def test_windowed_event_counts_batch(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:01:00", "click", 1.0), ("2024-01-01 00:02:00", "click", 2.0),
         ("2024-01-01 00:07:00", "view", 3.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = windowed_event_counts(df).collect()
    by_key = {(r["win"]["start"].minute, r["event_type"]): (r["n"], r["total_value"]) for r in out}
    assert by_key[(0, "click")] == (2, 3.0)
    assert by_key[(5, "view")] == (1, 3.0)


def test_sessionize(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"), (1, "2024-01-01 02:00:00"),
         (2, "2024-01-01 00:00:00")],
        "user_id int, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sessionize(df).collect()
    u1 = sorted([(r["ts"].hour, r["session_no"]) for r in out if r["user_id"] == 1])
    assert [s for _, s in u1] == [1, 1, 2]
