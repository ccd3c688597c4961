"""Multimodal binary-column plumbing (payload + metadata struct)."""

from __future__ import annotations

from nycitibike_data_transform_spark.operators.multimodal import attach_payload


def _docs(spark):
    return spark.createDataFrame(
        [(1, "hello"), (2, "wörld"), (3, "")], "doc_id bigint, text string"
    )


def test_attach_payload_meta(spark):
    out = attach_payload(_docs(spark)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert bytes(by_id[1]["payload"]) == b"hello"
    assert by_id[1]["media_meta"]["n_bytes"] == 5
    assert by_id[2]["media_meta"]["n_bytes"] == 6  # ö is 2 bytes in UTF-8
    assert by_id[1]["media_meta"]["mime"] == "text/plain"
    assert len(by_id[1]["media_meta"]["checksum_md5"]) == 32
