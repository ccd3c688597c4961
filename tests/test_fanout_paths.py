"""OPTIMIZATION_r15 regression pins: the compact-input fan-out paths
and the conf hygiene of the stream-scoped state-partition override.

The fan_out moves are pure parallelism changes — these tests pin (a)
the fan actually happens at the shared choke points (a future refactor
that drops it would silently serialize every tokenize consumer again),
(b) results are unchanged, and (c) the temporary shuffle-partition
override inside streaming_source_mix never leaks into the session.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nycitibike_data_transform_spark.operators.dedup import tokenize
from nycitibike_data_transform_spark.operators.spans import _spans_with_positions


def _compact_docs(spark):
    rows = [(i, f"alpha beta gamma delta epsilon tok{i}") for i in range(50)]
    return spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)


def test_tokenize_fans_out_compact_input(spark):
    docs = _compact_docs(spark)
    assert docs.rdd.getNumPartitions() == 1
    toks = tokenize(docs, "text")
    assert (
        toks.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    ), "tokenize must widen a compact input to cluster parallelism"
    # same rows as the unfanned formulation
    from nycitibike_data_transform_spark.functions.text import token_array

    expect = sorted(
        docs.withColumn("tokens", token_array("text")).collect(),
        key=lambda r: r["doc_id"],
    )
    got = sorted(toks.collect(), key=lambda r: r["doc_id"])
    assert [(r["doc_id"], r["tokens"]) for r in got] == [
        (r["doc_id"], r["tokens"]) for r in expect
    ]


def test_tokenize_noop_on_wide_input(spark):
    wide = _compact_docs(spark).repartition(spark.sparkContext.defaultParallelism + 2)
    toks = tokenize(wide, "text")
    # already at/above target parallelism: fan_out must not add a shuffle
    assert toks.rdd.getNumPartitions() == wide.rdd.getNumPartitions()


def test_spans_base_fans_out_compact_input(spark):
    docs = _compact_docs(spark)
    base, spans = _spans_with_positions(docs, 3, "doc_id", "text")
    assert (
        base.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    ), "span tokenization must widen a compact input"
    # position stream is unchanged: one row per window, 1-based pos
    n_tok = 6  # every doc has 6 tokens
    per_doc = n_tok - 3 + 1
    assert spans.count() == 50 * per_doc
    pos_bounds = spans.agg(
        F.min("pos").alias("lo"), F.max("pos").alias("hi")
    ).first()
    assert (pos_bounds["lo"], pos_bounds["hi"]) == (1, per_doc)


def test_streaming_source_mix_restores_shuffle_partitions(spark, sf_dir):
    from nycitibike_data_transform_spark.queries.llmdata import (
        _q_streaming_source_mix,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = _q_streaming_source_mix(spark, sf_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before, (
        "the stream-scoped state-partition override must restore the "
        "session conf"
    )
    assert out.count() > 0


def test_quantiles_array_percentile_matches_scalar(spark):
    rows = [(flag, float(v)) for flag in ("A", "B") for v in range(1, 101)]
    df = spark.createDataFrame(rows, "flag string, x double")
    arr = (
        df.groupBy("flag")
        .agg(F.expr("percentile(x, array(0.5D, 0.9D, 0.99D))").alias("ps"))
        .select(
            "flag",
            F.round(F.col("ps")[0], 6).alias("p50"),
            F.round(F.col("ps")[1], 6).alias("p90"),
            F.round(F.col("ps")[2], 6).alias("p99"),
        )
    )
    scalar = df.groupBy("flag").agg(
        F.round(F.expr("percentile(x, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(x, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(x, 0.99)"), 6).alias("p99"),
    )
    assert sorted(map(tuple, arr.collect())) == sorted(
        map(tuple, scalar.collect())
    )


# --- r15 second pass: span-operator laziness + DSIR broadcast build side


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_span_auto_gate_off_path_never_materializes(spark, monkeypatch):
    """The default (Bloom-off) span path must not localCheckpoint the
    dup-key relation at plan-build time: only ``bloom_prefilter=True``
    materializes it. The counter patches the session's own DataFrame
    class: Spark 4's classic DataFrame overrides ``localCheckpoint``,
    so a patch on ``pyspark.sql.DataFrame`` would never be called."""
    from nycitibike_data_transform_spark.operators.spans import (
        strip_duplicate_spans,
    )

    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    calls = {"n": 0}
    real = type(docs).localCheckpoint

    def counting(self, eager=True):
        calls["n"] += 1
        return real(self, eager=eager)

    monkeypatch.setattr(type(docs), "localCheckpoint", counting)
    out = strip_duplicate_spans(docs, width=3)
    assert calls["n"] == 0, "the default path must not checkpoint at plan build"
    strip_duplicate_spans(docs, width=3, bloom_prefilter=True)
    assert calls["n"] == 1  # the counter sees the Bloom path's checkpoint
    assert out.count() == 8  # plan still executes correctly


def test_default_builds_start_no_job(spark, spark_jobs):
    """Building ``cosine_topk``, ``duplicate_span_stats`` and
    ``strip_duplicate_spans`` with default arguments is lazy: no
    probe job measures the input to pick a tier."""
    from nycitibike_data_transform_spark.operators.similarity import cosine_topk
    from nycitibike_data_transform_spark.operators.spans import (
        duplicate_span_stats,
        strip_duplicate_spans,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)], "vec_id long, embedding array<double>"
    )
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(8)], "doc_id long, text string"
    )
    for build in (
        lambda: cosine_topk(emb, emb.filter("vec_id < 2")),
        lambda: duplicate_span_stats(docs, width=3),
        lambda: strip_duplicate_spans(docs, width=3),
    ):
        with spark_jobs() as jobs:
            build()
            assert jobs() == 0


def test_dsir_ngram_ratio_is_broadcast_build_right(spark):
    """dsir_hashed_ngram_weights must pin the BOUNDED ratio table
    (≤ n_buckets rows at any corpus size) as the broadcast build side.
    Catalyst's post-aggregate size estimates were observed choosing
    BuildLeft — broadcasting the per-(doc,bucket) relation that GROWS
    with the corpus — so the explicit hint is a scale-correctness pin,
    not a local tune (guide §3.1: use an explicit broadcast when
    estimates are wrong)."""
    from nycitibike_data_transform_spark.operators.selection import (
        dsir_hashed_ngram_weights,
    )

    rows = [(i, f"code math token{i % 3} alpha", i % 2 == 0) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, t boolean")
    w = dsir_hashed_ngram_weights(docs, is_target=F.col("t"), n_buckets=64)
    plan = _plan_of(w)
    assert "BroadcastHashJoin" in plan
    assert "BuildLeft" not in plan, (
        "the corpus-growing per-(doc,bucket) side must never be the "
        "broadcast build side"
    )


def test_stream_state_partitions_derive_from_feed_size(tmp_path):
    """OPTIMIZATION_r16: the stateful stream's state-partition count is
    DERIVED from the staged feed's bytes (floor 4, one per ~64 MB),
    never a constant — small feeds stop paying a full-width state
    store + commit per micro-batch, huge feeds still scale out."""
    from nycitibike_data_transform_spark.queries.events import (
        _stream_state_partitions,
    )

    small = tmp_path / "small"
    small.mkdir()
    (small / "part-0.parquet").write_bytes(b"x" * 1024)
    assert _stream_state_partitions(str(small)) == 4

    big = tmp_path / "big"
    big.mkdir()
    # sparse file: st_size is what the derivation reads, no real 10 GB
    with open(big / "part-0.parquet", "wb") as f:
        f.truncate(10 << 30)
    assert _stream_state_partitions(str(big)) == 160  # ceil(10GiB/64MiB)


def test_streaming_user_totals_restores_shuffle_partitions(spark, sf_dir):
    from nycitibike_data_transform_spark.queries import _EAGER_CACHE
    from nycitibike_data_transform_spark.queries.events import (
        _q_streaming_user_totals,
    )

    _EAGER_CACHE.clear()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = _q_streaming_user_totals(spark, sf_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before, (
        "state-partition override leaked out of the stream"
    )
    assert out.count() > 0
