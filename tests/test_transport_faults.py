"""503-mid-CAS replay: the retry path cannot double-apply a conditional.

VERDICT r13 item 2: the commit protocol's claim that transport faults
are safely delegated to the ConcurrentWriteError retry loop
(``commit_backend.py`` — "429/5xx raise to the caller") was argued,
not demonstrated. These tests stage the nastiest transport failure —
the store APPLIES a conditional mutation and the RESPONSE is lost
(proxy/LB dies between apply and reply, surfacing as a 5xx) — and
prove, on both cloud dialects, that re-driving the operation the way
the retry loop does:

1. surfaces the 5xx as an exception (never a silent False/True);
2. REFUSES on retry: the content re-read observes the already-applied
   value, mismatches ``expected``, and returns False without issuing
   any further store write — the generation/ETag pin is never even
   consulted, so a double-apply is structurally impossible;
3. leaves the store having applied the mutation exactly once (GCS:
   the generation counter is the witness; S3: an intercepted
   put-object count, since identical bytes re-mint the same ETag).

GCS faults are injected SERVER-SIDE (``fake_gcs.py`` applies the
mutation under its lock, then answers 503 — the reply is what's lost).
S3 faults are injected at the client edge: a wrapper forwards
``put_object``/``delete_object`` to the live moto server (the apply is
real), then replaces the successful reply with a 503 ClientError —
byte-equivalent to the same lost-reply failure, since moto itself has
no post-apply fault hook.
"""

from __future__ import annotations

import uuid

import pytest

from nycitibike_data_transform_spark.commit_backend import GCSBackend

from tests.fake_gcs import FakeGCSServer

try:
    import boto3
    from botocore.exceptions import ClientError

    _HAVE_MOTO = True
except ImportError:  # pragma: no cover
    _HAVE_MOTO = False


# ------------------------------------------------------------------ GCS


@pytest.fixture
def gcs_server():
    with FakeGCSServer() as server:
        yield server


def _gcs(server) -> GCSBackend:
    return GCSBackend("bucket", prefix="tbl", endpoint=server.endpoint)


#: above the 4 MiB at which earlier clients switched to resumable
#: uploads: a large object is still one request, applied once
_LARGE = 5 * 1024 * 1024


def test_gcs_503_mid_cas_retry_refuses(gcs_server):
    b = _gcs(gcs_server)
    for a, new in (("a", "b"), ("a" * _LARGE, "b" * _LARGE)):
        b.put("_current", a)
        gen_before_fault = gcs_server.state.gen_counter

        gcs_server.state.fail_conditional_responses = 1
        with pytest.raises(RuntimeError, match="503"):
            b.cas("_current", a, new)  # applied server-side; reply lost

        # the write landed exactly once despite the lost reply
        assert b.get("_current") == new
        gen_after_fault = gcs_server.state.gen_counter
        assert gen_after_fault == gen_before_fault + 1

        # the retry loop re-drives the SAME conditional: the content
        # re-read sees the applied value, mismatches expected, refuses
        assert b.cas("_current", a, new) is False
        assert gcs_server.state.gen_counter == gen_after_fault  # no new write

        # and the caller's recovery read shows its commit actually
        # landed — the information the ConcurrentWriteError loop
        # rebases from
        assert b.get("_current") == new
    assert gcs_server.state.session_counter == 0  # one request per upload


def test_gcs_503_mid_delete_if_retry_refuses(gcs_server):
    b = _gcs(gcs_server)
    b.put("_lock", "lease")

    gcs_server.state.fail_conditional_responses = 1
    with pytest.raises(RuntimeError, match="503"):
        b.delete_if("_lock", "lease")  # applied server-side; reply lost

    assert b.get("_lock") is None  # deleted exactly once
    gen_after = gcs_server.state.gen_counter
    # retry: re-read observes absence, mismatches expected, refuses
    assert b.delete_if("_lock", "lease") is False
    assert gcs_server.state.gen_counter == gen_after


def test_gcs_503_mid_create_exclusive_is_an_orphaned_lease(gcs_server):
    """create_exclusive-then-lost-reply leaves the caller's OWN lease
    in place; the retry observes 412 and reports the lock held. That
    is the documented liveness (not correctness) cost of a lost reply:
    no second apply happens, and lease EXPIRY reclaims the orphan —
    the same path that reclaims a crashed holder."""
    now = [1_000.0]
    b = GCSBackend(
        "bucket",
        prefix="tbl",
        endpoint=gcs_server.endpoint,
        lease_ttl=30.0,
        clock=lambda: now[0],
        skew_margin=5.0,
    )
    lease = b.new_lease()
    gcs_server.state.fail_conditional_responses = 1
    with pytest.raises(RuntimeError, match="503"):
        b.create_exclusive("_lock", lease)

    assert b.get("_lock") == lease  # applied exactly once
    assert b.create_exclusive("_lock", b.new_lease()) is False  # no re-apply

    now[0] += 40.0  # past ttl + margin: the orphan is reclaimable
    orphan = b.get("_lock")
    assert not b.lease_live(orphan)
    assert b.delete_if("_lock", orphan) is True

    # a large object takes the same single request: applied once, and
    # the retried create refuses without another write
    big = "m" * _LARGE
    gen_before_fault = gcs_server.state.gen_counter
    gcs_server.state.fail_conditional_responses = 1
    with pytest.raises(RuntimeError, match="503"):
        b.create_exclusive("_versions/v00000001.json", big)
    assert b.get("_versions/v00000001.json") == big
    assert gcs_server.state.gen_counter == gen_before_fault + 1
    assert b.create_exclusive("_versions/v00000001.json", big) is False
    assert gcs_server.state.gen_counter == gen_before_fault + 1
    assert gcs_server.state.session_counter == 0  # one request per upload


# ------------------------------------------------------------------- S3


class _LostReplyS3Client:
    """Forwards to a real (moto) client; when armed, lets a mutation
    APPLY and then raises the 503 the caller would see if the reply
    were lost in transit. Counts applied writes/deletes so tests can
    assert exactly-once application (S3 ETags of identical bytes are
    identical, so the ETag cannot witness a re-write)."""

    def __init__(self, inner):
        self._inner = inner
        self.fail_replies = 0
        self.skip_replies = 0  # let that many mutations succeed first
        self.applied_puts = 0
        self.applied_deletes = 0

    def _maybe_lose_reply(self, op: str):
        if self.skip_replies > 0:
            self.skip_replies -= 1
            return
        if self.fail_replies > 0:
            self.fail_replies -= 1
            raise ClientError(
                {
                    "Error": {
                        "Code": "ServiceUnavailable",
                        "Message": "injected: reply lost after apply",
                    },
                    "ResponseMetadata": {"HTTPStatusCode": 503},
                },
                op,
            )

    def put_object(self, **kw):
        r = self._inner.put_object(**kw)
        self.applied_puts += 1
        self._maybe_lose_reply("PutObject")
        return r

    def delete_object(self, **kw):
        r = self._inner.delete_object(**kw)
        self.applied_deletes += 1
        self._maybe_lose_reply("DeleteObject")
        return r

    def __getattr__(self, name):
        return getattr(self._inner, name)


@pytest.fixture
def s3_faulty_backend(moto_server_endpoint):
    from nycitibike_data_transform_spark.commit_backend import S3Backend

    client = boto3.client(
        "s3",
        region_name="us-east-1",
        endpoint_url=moto_server_endpoint,
        aws_access_key_id="testing",
        aws_secret_access_key="testing",
    )
    bucket = f"spark-graft-fault-{uuid.uuid4().hex[:12]}"
    client.create_bucket(Bucket=bucket)
    wrapped = _LostReplyS3Client(client)
    yield S3Backend(bucket, prefix="tbl", client=wrapped), wrapped


pytestmark_s3 = pytest.mark.skipif(not _HAVE_MOTO, reason="boto3/moto absent")


@pytestmark_s3
def test_s3_503_mid_cas_retry_refuses(s3_faulty_backend):
    b, client = s3_faulty_backend
    b.put("_current", "a")
    puts_before = client.applied_puts

    client.fail_replies = 1
    with pytest.raises(ClientError):
        b.cas("_current", "a", "b")  # applied at the store; reply lost

    assert b.get("_current") == "b"
    assert client.applied_puts == puts_before + 1  # exactly once

    # retry refuses on the content re-read — zero further writes issued
    assert b.cas("_current", "a", "b") is False
    assert client.applied_puts == puts_before + 1
    assert b.get("_current") == "b"


@pytestmark_s3
def test_s3_503_mid_delete_if_retry_refuses(s3_faulty_backend):
    b, client = s3_faulty_backend
    b.put("_lock", "lease")
    dels_before = client.applied_deletes

    client.fail_replies = 1
    with pytest.raises(ClientError):
        b.delete_if("_lock", "lease")

    assert b.get("_lock") is None  # deleted exactly once
    assert client.applied_deletes == dels_before + 1
    assert b.delete_if("_lock", "lease") is False
    assert client.applied_deletes == dels_before + 1


# ---------------------------------------------- protocol-level (commit)


def _commit_fault_lifecycle(spark, tmp_path, backend, arm_pointer_fault):
    """Shared body: v1 commits clean; v2's POINTER-CAS reply is lost
    after the store applied it (the commit's 3rd conditional mutation:
    lock acquire, manifest create, pointer CAS). The raise is
    at-least-once AMBIGUITY, not failure: the documented recovery is
    re-reading the pointer, which shows the commit landed. The table
    must stay fully consistent — data slot installed, manifest
    committed, readable — the lock must be RELEASED by the finally
    (the writer is not a zombie, its lease was never reclaimed), and a
    subsequent writer commits v3 normally."""
    from nycitibike_data_transform_spark.versioning import VersionedTable

    root = str(tmp_path / "faulttbl")
    t = VersionedTable(root, backend=backend)
    df1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, x double")
    df2 = spark.createDataFrame([(3, 30.0), (4, 40.0)], "id int, x double")
    assert t.write_version(df1) == 1

    arm_pointer_fault()
    with pytest.raises(Exception, match="503|ServiceUnavailable"):
        t.write_version(df2)

    # ambiguity resolved by the pointer re-read: the commit LANDED
    assert t.current_version() == 2
    assert backend.get("_lock") is None  # released, not leaked
    assert {r["id"] for r in t.read_version(spark, 2).collect()} == {3, 4}
    assert {r["id"] for r in t.read_version(spark, 1).collect()} == {1, 2}

    # the table is not wedged: the next writer proceeds normally
    df3 = spark.createDataFrame([(5, 50.0)], "id int, x double")
    assert t.write_version(df3) == 3
    assert t.versions() == [1, 2, 3]


def test_gcs_lost_pointer_cas_reply_mid_commit(
    spark, tmp_path, gcs_backend_factory
):
    b = gcs_backend_factory()
    state = gcs_backend_factory.server.state

    def arm():
        # skip the commit's first two conditionals (lock, manifest);
        # lose the third (the pointer CAS) after it applies
        state.fail_conditional_after = 2
        state.fail_conditional_responses = 1

    _commit_fault_lifecycle(spark, tmp_path, b, arm)
    assert state.fail_conditional_responses == 0  # the fault fired


@pytestmark_s3
def test_s3_lost_pointer_cas_reply_mid_commit(
    spark, tmp_path, s3_faulty_backend
):
    b, client = s3_faulty_backend

    def arm():
        client.skip_replies = 2  # lock put + manifest put succeed
        client.fail_replies = 1  # the pointer put's reply is lost

    _commit_fault_lifecycle(spark, tmp_path, b, arm)
    assert client.fail_replies == 0  # the fault fired


@pytestmark_s3
def test_s3_503_mid_create_exclusive_is_an_orphaned_lease(s3_faulty_backend):
    """Same liveness story as the GCS leg: the caller's own lease is in
    place, the retry sees the key exists and reports the lock held, and
    expiry reclaims it — never a second apply."""
    b, client = s3_faulty_backend
    lease = b.new_lease()
    puts_before = client.applied_puts

    client.fail_replies = 1
    with pytest.raises(ClientError):
        b.create_exclusive("_lock", lease)

    assert b.get("_lock") == lease
    assert client.applied_puts == puts_before + 1
    assert b.create_exclusive("_lock", b.new_lease()) is False
    assert client.applied_puts == puts_before + 1
