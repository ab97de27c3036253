"""Session-level helpers: the fan-out guard's no-op contract."""

from __future__ import annotations


def test_wide_table_noop_when_already_wide(spark, tmp_path):
    # the 100 TB contract: an input already at least cluster-wide passes
    # through UNTOUCHED (no extra exchange), narrow inputs get exactly one
    # round-robin repartition to the input-size-derived width (r18:
    # adaptive_width — capped at defaultParallelism, > 1 so the stage
    # never serializes)
    from nexgap_spark.session import adaptive_width, fan_out_python_stage

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(10_000).repartition(par + 4)
    assert fan_out_python_stage(wide) is wide  # identical object: no-op
    narrow = spark.range(10_000).coalesce(1)
    out = fan_out_python_stage(narrow)
    assert out is not narrow
    width = adaptive_width(narrow)
    assert 1 < width <= par
    assert out.rdd.getNumPartitions() == width
    assert out.count() == 10_000


def test_adaptive_width_contracts(spark):
    """r18: CPU-stage fan-out width derives from the input's optimizer
    size estimate divided by its cost class's bytes per task
    (FANOUT_BYTES_PER_TASK), clamped to [2, defaultParallelism]. The
    "per_row" class is always defaultParallelism (the pre-r18 behavior),
    so the adaptive path can only narrow provably-small inputs."""
    from nexgap_spark.session import (
        FANOUT_BYTES_PER_TASK,
        adaptive_width,
        fan_out_python_stage,
        load_table,
    )

    assert set(FANOUT_BYTES_PER_TASK) == {"text", "codec", "per_row"}
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    w = adaptive_width(docs)
    assert w == adaptive_width(docs, cost="text")
    assert 2 <= w <= par
    # a tiny projection narrows further, but never below the floor
    assert 2 <= adaptive_width(docs.select("doc_id")) <= w
    # "per_row" keeps the full core-count fan-out for per-row-bound
    # stages regardless of byte size
    narrow_ids = docs.select("doc_id").coalesce(1)
    assert adaptive_width(narrow_ids, cost="per_row") == par
    assert (
        fan_out_python_stage(narrow_ids, cost="per_row").rdd.getNumPartitions()
        == par
    )
    # the finer "codec" target widens relative to "text", still capped at
    # core count
    w_codec = adaptive_width(narrow_ids, cost="codec")
    assert adaptive_width(narrow_ids, cost="text") <= w_codec <= par
    assert (
        fan_out_python_stage(narrow_ids, cost="codec").rdd.getNumPartitions()
        == w_codec
    )
