"""Vacuum/GC end-to-end proof for the cloud dialects (VERDICT r14
item 7): versioning docs say crashed-attempt orphans are "swept by
vacuum" — prove it against the GCS and S3 emulators the way the CAS
hammers do. Both backends now write every object in one request, so
the residue is what an EARLIER client's crashed large upload left: an
S3 multipart upload with staged parts, or a GCS resumable session with
its ``_uploads/`` marker. Each dialect gets (a) a primitive-level
test: that wire state is planted with raw requests (a SIGKILL leaves
nothing else), then ``sweep_orphans`` reclaims every staged part /
open session / marker key; and (b) a protocol-level test: a real
VersionedTable with committed versions vacuums the crashed residue
away while every live version still reads."""

from __future__ import annotations

import uuid
from urllib.parse import urlencode

from nycitibike_data_transform_spark.versioning import VersionedTable


# ----------------------------------------------------------------- S3


def _crash_multipart(backend, key: str, n_parts: int = 1) -> str:
    """Reproduce a SIGKILLed writer's wire state: multipart initiated,
    some parts staged, no complete/abort (the in-code abort runs only
    on the exception path — a process death never reaches it)."""
    mp = backend._s3.create_multipart_upload(
        Bucket=backend.bucket, Key=backend._k(key)
    )
    for n in range(1, n_parts + 1):
        backend._s3.upload_part(
            Bucket=backend.bucket,
            Key=backend._k(key),
            PartNumber=n,
            UploadId=mp["UploadId"],
            Body=b"x" * 1024,
        )
    return mp["UploadId"]


def _open_uploads(backend) -> list[str]:
    r = backend._s3.list_multipart_uploads(
        Bucket=backend.bucket, Prefix=backend.prefix
    )
    return [u["UploadId"] for u in r.get("Uploads", ())]


def test_s3_sweep_aborts_crashed_multipart(s3live_backend_factory):
    b = s3live_backend_factory()
    b.put("_versions/v00000001.json", "live-manifest")
    _crash_multipart(b, "_versions/v00000002.json")
    _crash_multipart(b, "_sidecars/v00000002.json")
    assert len(_open_uploads(b)) == 2
    assert b.sweep_orphans() == 2
    assert _open_uploads(b) == []
    # committed objects untouched
    assert b.get("_versions/v00000001.json") == "live-manifest"
    # idempotent on a clean store
    assert b.sweep_orphans() == 0


def test_s3_vacuum_sweeps_crash_and_live_versions_read(
    spark, tmp_path, s3live_backend_factory
):
    b = s3live_backend_factory()
    t = VersionedTable(str(tmp_path / "s3tbl"), backend=b)
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, x double")
    assert t.write_version(df) == 1
    assert t.write_version(df.withColumn("x", df.x * 2)) == 2
    _crash_multipart(b, "_versions/v00000099.json")
    assert len(_open_uploads(b)) == 1

    assert t.vacuum(keep=2) == []  # nothing committed to drop
    assert _open_uploads(b) == []  # ...but the crashed upload is gone
    assert t.read_version(spark, 1).count() == 2
    assert t.read_version(spark, 2).count() == 2
    assert sorted(r["x"] for r in t.read_version(spark, 2).collect()) == [
        20.0,
        40.0,
    ]


# ---------------------------------------------------------------- GCS


def _crash_resumable(backend, key: str) -> None:
    """Reproduce an earlier client SIGKILLed mid-resumable: session
    initiated and its URI journaled in an ``_uploads/`` marker, no
    finalize. Chunk PUTs would only stage bytes in the session; the
    sweep cancels it either way."""
    status, headers, _ = backend._request(
        "POST",
        f"{backend.endpoint}/upload/storage/v1/b/{backend.bucket}/o?"
        + urlencode({"uploadType": "resumable", "name": backend.prefix + key}),
        b"",
    )
    assert status == 200
    session = headers.get("Location") or headers.get("location")
    backend._request(
        "POST",
        backend._upload_url(f"_uploads/{uuid.uuid4().hex}"),
        session.encode("utf-8"),
    )


def test_gcs_sweep_cancels_crashed_session(gcs_backend_factory):
    b = gcs_backend_factory()
    server = gcs_backend_factory.server
    b.put("_versions/v00000001.json", "m" * 500)  # live manifest
    assert b.list("_uploads") == []  # this client writes no markers
    _crash_resumable(b, "_versions/v00000002.json")
    assert len(server.state.sessions) == 1
    assert len(b.list("_uploads")) == 1

    assert b.sweep_orphans() == 1
    assert server.state.sessions == {}  # session canceled at the store
    assert b.list("_uploads") == []      # marker gone
    assert b.get("_versions/v00000001.json") == "m" * 500  # live intact
    assert b.sweep_orphans() == 0


def test_gcs_vacuum_sweeps_crash_and_live_versions_read(
    spark, tmp_path, gcs_backend_factory
):
    b = gcs_backend_factory()
    server = gcs_backend_factory.server
    t = VersionedTable(str(tmp_path / "gcstbl"), backend=b)
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, x double")
    assert t.write_version(df) == 1
    assert t.write_version(df.withColumn("x", df.x * 2)) == 2
    _crash_resumable(b, "_versions/v00000099.json")
    assert len(server.state.sessions) == 1

    assert t.vacuum(keep=2) == []
    assert server.state.sessions == {}
    assert b.list("_uploads") == []
    assert t.read_version(spark, 1).count() == 2
    assert sorted(r["x"] for r in t.read_version(spark, 2).collect()) == [
        20.0,
        40.0,
    ]


def test_local_and_memory_backends_sweep_is_noop(tmp_path):
    from nycitibike_data_transform_spark.commit_backend import (
        LocalFSBackend,
        MemoryBackend,
    )

    assert MemoryBackend().sweep_orphans() == 0
    assert LocalFSBackend(str(tmp_path / "b")).sweep_orphans() == 0

