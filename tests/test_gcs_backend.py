"""GCSBackend — the second real conditional-write dialect (VERDICT r12
item #4): generation-number preconditions over the GCS JSON API, driven
against a strict emulator on a LIVE local HTTP endpoint
(``tests/fake_gcs.py``). The shared primitive-contract run lives in
``test_commit_backend.py`` (the ``backend`` fixture's ``gcs`` and
``s3live`` params); this module holds the dialect-specific proofs:

- the deploy-time probe passes against an enforcing endpoint and FAILS
  against one that silently ignores ``ifGenerationMatch`` (the probe
  must have teeth, not just a happy path);
- a generation pin refuses even a byte-identical interloper write —
  the property ETags structurally cannot give;
- the full VersionedTable lifecycle with its control plane behind the
  HTTP endpoint;
- real OS processes hammering one key over real TCP linearize into an
  unforked CAS chain — on BOTH live endpoints (fake-GCS and the
  ThreadedMotoServer S3), which is the serialization evidence the
  in-process ``mock_aws`` runs could never provide.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from nycitibike_data_transform_spark.commit_backend import GCSBackend
from nycitibike_data_transform_spark.versioning import VersionedTable

from tests.fake_gcs import FakeGCSServer


def test_gcs_lease_expiry_with_skew_margin(gcs_backend_factory):
    """Wall-clock lease + skew margin: identical protocol to the S3
    backend (machines sharing a bucket cannot compare monotonic
    clocks), enforced through the live endpoint."""
    now = [1_000_000.0]
    b = gcs_backend_factory(
        lease_ttl=30.0, clock=lambda: now[0], skew_margin=5.0
    )
    lease = b.new_lease()
    assert b.create_exclusive("_lock", lease)
    assert b.lease_live(lease)

    now[0] += 31.0  # expired but inside the margin: still live
    assert b.lease_live(b.get("_lock"))

    now[0] += 10.0  # past expiry + margin: dead, conditional reclaim
    observed = b.get("_lock")
    assert not b.lease_live(observed)
    assert b.delete_if("_lock", observed)
    assert b.create_exclusive("_lock", b.new_lease())


def test_gcs_verify_conditional_support(gcs_backend_factory):
    b = gcs_backend_factory()
    b.verify_conditional_support()
    assert b.list("_probe/") == []


def test_gcs_probe_detects_nonenforcing_store():
    """The probe's whole job: an endpoint that ACCEPTS writes with a
    stale ``ifGenerationMatch`` (returns 200 where GCS returns 412)
    must be refused at deploy time, because every public-API call
    would look fine while the commit protocol silently loses races."""
    with FakeGCSServer(enforce_conditions=False) as server:
        b = GCSBackend("bucket", prefix="tbl", endpoint=server.endpoint)
        with pytest.raises(RuntimeError, match="ifGenerationMatch"):
            b.verify_conditional_support()


def test_gcs_cas_detects_interleaved_writer(gcs_backend_factory):
    """A writer slipping between our GET and our conditional upload
    moves the generation — the upload 412s and cas reports False
    instead of losing the interloper's update."""
    b = gcs_backend_factory()
    b.put("_current", "5")

    real_get = b._get_with_generation

    def get_then_lose_race(key):
        content, gen = real_get(key)
        b.put(key, "6")  # another writer moves the pointer
        return content, gen

    b._get_with_generation = get_then_lose_race
    try:
        assert not b.cas("_current", "5", "7")
    finally:
        b._get_with_generation = real_get
    assert b.get("_current") == "6"  # the interloper's write survives


def test_gcs_generation_pin_refuses_identical_bytes(gcs_backend_factory):
    """The dialect difference that makes GCS the STRONGER leg: an
    interloper rewriting the SAME bytes still mints a new generation,
    so the pinned conditional fails — an ETag (content hash) would
    re-match and let the stale writer through. Byte-identical ABA is
    harmless for content-equality semantics, but the refusal proves
    the condition pins the observed WRITE, not the observed value."""
    b = gcs_backend_factory()
    b.put("ptr", "v")
    _, gen_before = b._get_with_generation("ptr")
    b.put("ptr", "v")  # identical bytes, new generation
    _, gen_after = b._get_with_generation("ptr")
    assert gen_after != gen_before
    status, _, _ = b._request(
        "POST",
        b._upload_url("ptr", ifGenerationMatch=str(gen_before)),
        b"w",
    )
    assert status == 412
    assert b.get("ptr") == "v"


def test_gcs_list_paginates(gcs_backend_factory):
    """The emulator's 3-item pages force the client's pageToken loop —
    a bucket listing at real manifest counts never fits one page."""
    b = gcs_backend_factory()
    keys = [f"_versions/v{i:08d}.json" for i in range(1, 11)]
    for k in keys:
        b.put(k, "{}")
    assert b.list("_versions/") == keys


def test_versioned_table_full_lifecycle_on_gcs_backend(
    spark, tmp_path, gcs_backend_factory
):
    """The ENTIRE control plane — lock, pointer, manifests, vacuum
    bookkeeping — behind the live GCS endpoint, while
    Spark's parquet data plane stays on the local fs. Same assertions
    as the Memory/S3 lifecycle tests."""
    b = gcs_backend_factory()
    root = str(tmp_path / "gcstbl")
    t = VersionedTable(root, backend=b)

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id int, x double"
    )
    assert t.write_version(df.repartition(3, "id")) == 1
    assert t.write_version(df.withColumn("x", df.x * 2)) == 2

    # metadata is in the bucket, NOT on disk
    assert not os.path.exists(os.path.join(root, "_current"))
    assert not os.path.exists(os.path.join(root, "_versions"))
    assert b.get("_current") == "2"
    assert b.list("_versions/") == [
        "_versions/v00000001.json",
        "_versions/v00000002.json",
    ]

    assert t.current_version() == 2 and t.versions() == [1, 2]
    assert {r["x"] for r in t.read_version(spark, 1).collect()} == {
        10.0, 20.0, 30.0,
    }
    got = t.read_range(spark, "x", 35.0, 70.0)
    assert {r["id"] for r in got.collect()} == {2, 3}

    assert t.vacuum(keep=1) == [1]
    assert b.list("_versions/") == ["_versions/v00000002.json"]
    with pytest.raises(ValueError, match="was vacuumed"):
        t.read_version(spark, 1)


_HTTP_WORKER = r"""
import sys, time
sys.path.insert(0, sys.argv[1])
kind, endpoint, bucket = sys.argv[2], sys.argv[3], sys.argv[4]
wid, n, log = sys.argv[5], int(sys.argv[6]), sys.argv[7]
deadline_sec, key = float(sys.argv[8]), sys.argv[9]
if kind == "gcs":
    from nycitibike_data_transform_spark.commit_backend import GCSBackend
    b = GCSBackend(bucket, prefix="tbl", endpoint=endpoint)
else:
    import boto3
    from nycitibike_data_transform_spark.commit_backend import S3Backend
    client = boto3.client(
        "s3", region_name="us-east-1", endpoint_url=endpoint,
        aws_access_key_id="testing", aws_secret_access_key="testing",
    )
    b = S3Backend(bucket, prefix="tbl", client=client)
wins = []
i = 0
deadline = time.time() + deadline_sec
while i < n and time.time() < deadline:
    observed = b.get(key)
    new = f"{wid}:{i}"
    if observed is not None and b.cas(key, observed, new):
        wins.append(f"{observed}|{new}")
        i += 1
ce = b.create_exclusive(key + ".exclusive", wid)
with open(log, "w") as f:
    f.write("\n".join(wins + [f"CE={int(ce)}"]))
# a starved worker must fail ITS OWN exit code (r13 review), not
# surface later as an opaque transitions-count mismatch
sys.exit(0 if i == n else 3)
"""


# per-worker deadline for the CAS hammer; a starved round retries once
# at double this
_HAMMER_DEADLINE_SEC = 180.0


def test_hammer_starved_round_is_classified_not_crashed(
    gcs_backend_factory, tmp_path
):
    """A worker that cannot reach its win quota before the deadline
    must come back as ``starved=True`` with a still-linearizable
    partial chain — the classification the retry loop rides on."""
    transitions, ce_wins, _final, starved = _run_hammer(
        "gcs", gcs_backend_factory, tmp_path,
        n_workers=2, n_wins=10_000, deadline=1.0, key="ptr_starve",
    )
    assert starved
    assert ce_wins == 1
    preds = [t[0] for t in transitions]
    assert len(set(preds)) == len(preds)


def _run_hammer(kind, factory, tmp_path, n_workers, n_wins, deadline, key):
    """One hammer round: spawn the workers, wait, parse the logs.
    Returns ``(transitions, ce_wins, final_value, starved)`` where
    ``starved`` means >= 1 worker hit its deadline short of ``n_wins``
    (exit 3) — a box-load outcome, not a linearization verdict. Any
    other nonzero exit is a real failure and raises immediately."""
    b = factory()
    b.put(key, "seed")
    endpoint = factory.endpoint
    bucket = getattr(factory, "bucket", "spark-graft-commit")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs, logs = [], []
    try:
        for w in range(n_workers):
            log = str(tmp_path / f"{key}.log{w}")
            logs.append(log)
            procs.append(
                subprocess.Popen(
                    [sys.executable, "-c", _HTTP_WORKER, repo, kind,
                     endpoint, bucket, f"w{w}", str(n_wins), log,
                     str(deadline), key],
                    stdout=subprocess.DEVNULL,
                    stderr=subprocess.DEVNULL,
                )
            )
        rcs = [p.wait(timeout=deadline + 120) for p in procs]
    finally:
        # a wait timeout or a failed spawn must not leave workers running
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    assert all(rc in (0, 3) for rc in rcs), f"worker crashed: {rcs}"

    transitions: list[tuple[str, str]] = []
    ce_wins = 0
    for log in logs:
        with open(log) as f:
            for line in f.read().splitlines():
                if line.startswith("CE="):
                    ce_wins += int(line[3:])
                elif line:
                    obs, new = line.split("|")
                    transitions.append((obs, new))
    return transitions, ce_wins, b.get(key), 3 in rcs


@pytest.mark.parametrize("kind", ["gcs", "s3live"])
def test_live_endpoint_cas_linearizes_across_real_processes(
    request, tmp_path, kind
):
    """Six real OS processes hammer ONE key over real TCP against the
    live endpoint (fake-GCS generation dialect / moto-server ETag
    dialect). The successful (observed -> new) transitions must form a
    single unforked chain from the seed to the final content, and
    exactly one process may win the create_exclusive race — the
    cross-process, on-the-wire serialization proof the in-process
    mock_aws contract runs structurally cannot give (they never leave
    the caller's thread).

    Box-load robustness (VERDICT r15 item 1): a STARVED round (a worker
    that timed out short of its win quota — exit 3) is retried once
    with fresh keys, a doubled deadline and a halved quota. Only
    starvation retries; a forked chain or a double create_exclusive
    win fails immediately on the round that observed it."""
    factory = request.getfixturevalue(f"{kind}_backend_factory")
    n_workers = 6
    base_deadline = _HAMMER_DEADLINE_SEC

    for attempt, (n_wins, deadline) in enumerate(
        [(12, base_deadline), (6, base_deadline * 2)]
    ):
        transitions, ce_wins, final, starved = _run_hammer(
            kind, factory, tmp_path, n_workers, n_wins, deadline,
            key=f"ptr{attempt}",
        )
        # linearization must hold over whatever transitions DID land,
        # starved round or not — retrying cannot bury a forked chain
        preds = [t[0] for t in transitions]
        succs = [t[1] for t in transitions]
        assert len(set(preds)) == len(preds), "forked chain: CAS not atomic"
        assert len(set(succs)) == len(succs)
        if transitions:
            assert set(preds) - set(succs) == {"seed"}
            assert set(succs) - set(preds) == {final}
        assert ce_wins == 1
        if not starved:
            assert len(transitions) == n_workers * n_wins
            return
    pytest.fail(
        f"both hammer rounds starved (deadline {base_deadline:.0f}s, "
        f"then {base_deadline * 2:.0f}s) — box too degraded to drive "
        f"the win quota; linearization held on every observed chain"
    )


def test_bucketed_incremental_table_on_gcs_backend(
    spark, tmp_path, gcs_backend_factory
):
    """The bucket-granular COW path (touched buckets re-staged,
    untouched hardlinked) with its ENTIRE control plane behind the
    live GCS endpoint — extends the object-store proof beyond plain
    VersionedTable to the subclass whose manifests carry per-bucket
    file lists and whose merge runs inside the backend's lock."""
    from pyspark.sql import functions as F

    from nycitibike_data_transform_spark.bucketed_table import (
        BucketedIncrementalTable,
    )

    b = gcs_backend_factory()
    root = str(tmp_path / "gcsbkt")
    t = BucketedIncrementalTable(root, ["k"], 4, backend=b)

    facts = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    assert t.write_full(spark, facts) == 1
    upd = spark.createDataFrame([(3, 999), (100, 200)], "k long, v long")
    touched = t.merge(spark, upd, ["k"])
    assert touched and all(0 <= x < 4 for x in touched)

    # control plane lives in the bucket, not on disk
    assert not os.path.exists(os.path.join(root, "_current"))
    assert b.get("_current") == "2"
    assert b.list("_versions/") == [
        "_versions/v00000001.json",
        "_versions/v00000002.json",
    ]

    got = {r["k"]: r["v"] for r in t.read_current(spark).collect()}
    assert got[3] == 999 and got[100] == 200 and got[7] == 14
    assert len(got) == 101
    # the bucket-pruned point lookup works against backend manifests
    name = f"gcs_bkt_{os.getpid()}"
    assert t.register(spark, name) == 2
    try:
        assert [r["v"] for r in t.point_lookup(spark, name, [3])] == [999]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
