"""Regression tests for session.tune()'s conf-application contract.

Round-5 bug class: tune() is called at every table load, and it used to
re-apply the engine's AQE-on perf posture each time — silently clobbering
confs a session owner (the bench, a driver harness) had set explicitly.
The contract now: correctness confs are re-asserted on EVERY tune call;
perf confs apply only on a session's FIRST tune.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from single_cell_experiments_spark.session import CORRECTNESS_CONFS, PERF_CONFS, fixpoint, tune


def test_tune_preserves_owner_perf_overrides(spark):
    tune(spark)  # ensure first-tune perf application already happened
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        tune(spark)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false", (
            "tune() must not clobber an explicitly-set perf conf after the "
            "session's first tune"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", PERF_CONFS["spark.sql.adaptive.enabled"])


def test_tune_reasserts_correctness_confs(spark):
    tune(spark)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    tune(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == CORRECTNESS_CONFS[
        "spark.sql.session.timeZone"
    ], "tune() must re-assert correctness confs on every call"


def test_first_tune_respects_explicit_default_value(spark):
    """An owner who explicitly sets a perf conf to its Spark-default value
    BEFORE the engine's first tune must not be clobbered either —
    distinguishable from 'unset' only via SQLConf.contains."""
    from single_cell_experiments_spark import session as S

    key = "spark.sql.execution.arrow.pyspark.enabled"
    original = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")  # == Spark default, explicit choice
        S._perf_tuned.discard(spark)  # simulate a never-tuned session
        tune(spark)
        assert spark.conf.get(key) == "false", (
            "first tune() must not override an explicitly-set perf conf, "
            "even when its value equals the Spark default"
        )
    finally:
        spark.conf.set(key, original)
        _ = tune(spark)


def test_perf_confs_applied_on_first_tune(spark):
    # The shared session was tuned at build; its perf posture must hold
    # unless a test explicitly overrode it.
    for k, v in PERF_CONFS.items():
        assert spark.conf.get(k) == v


def test_materialize_local_and_reliable_checkpoint(spark, tmp_path):
    """materialize() is the engine's lineage cut: localCheckpoint by
    default, durable checkpoint() when spark.sce.reliableCheckpoint=true —
    the cluster fault-tolerance switch SCALE.md promises.  Both paths must
    return the same rows and actually truncate lineage (a checkpointed
    plan no longer re-reads the source)."""
    from single_cell_experiments_spark.session import materialize

    def lineage_cut(df) -> bool:
        # After checkpoint/localCheckpoint the logical plan is a LogicalRDD
        # over the materialized blocks — the source scan is gone.
        return "Scan ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()

    df = spark.range(100).withColumnRenamed("id", "v")
    local = materialize(df)
    assert local.count() == 100
    assert lineage_cut(local)

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set("spark.sce.reliableCheckpoint", "true")
    try:
        durable = materialize(spark.range(50).withColumnRenamed("id", "v"))
        assert durable.count() == 50
        assert lineage_cut(durable)
        ckpt_files = list((tmp_path / "ckpt").rglob("*"))
        assert ckpt_files, "reliable checkpoint must write durable files"
    finally:
        spark.conf.set("spark.sce.reliableCheckpoint", "false")


def _count_up(df):
    return df.select((F.col("v") + 1).alias("v"))


def test_fixpoint_must_converge_raises_at_budget(spark):
    """A loop whose probe never repeats hits ``max_rounds``; a caller that
    must converge gets the driver's one non-convergence error."""
    with pytest.raises(RuntimeError, match="no fixpoint within 3 rounds"):
        fixpoint(
            spark.range(4).select(F.col("id").alias("v")),
            _count_up,
            [F.sum("v").alias("s")],
            max_rounds=3,
            must_converge=True,
        )


def test_fixpoint_budgeted_loop_returns_at_cap(spark):
    """Budgeted loops (LPA, Louvain, k-core: oracles unroll exactly
    ``max_rounds``) get the budget state back, flagged unconverged; a
    probe that repeats exits early, flagged converged."""
    start = spark.range(4).select(F.col("id").alias("v"))
    out, rounds, converged = fixpoint(start, _count_up, [F.sum("v").alias("s")], max_rounds=3)
    assert (rounds, converged) == (3, False)
    assert sorted(r.v for r in out.collect()) == [3, 4, 5, 6]

    capped = lambda df: df.select(F.least(F.col("v") + 1, F.lit(2)).alias("v"))  # noqa: E731
    out, rounds, converged = fixpoint(start, capped, [F.sum("v").alias("s")], max_rounds=10)
    # round 2 lifts every value to the cap; round 3 repeats it
    assert converged and rounds == 3
    assert sorted(r.v for r in out.collect()) == [2, 2, 2, 2]


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _checkpoint_leaves(df) -> int:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return sum(leaves.apply(i).nodeName() == "LogicalRDD" for i in range(leaves.size()))


def _kernel_cc_star(spark):
    from single_cell_experiments_spark.operators.dedup import cc_star_labels

    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    return cc_star_labels(spark.createDataFrame(pairs, "doc1 long, doc2 long"))


def _sym(pairs):
    return sorted({(u, v) for a, b in pairs for u, v in ((a, b), (b, a))})


_GRAPH = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (3, 5), (6, 7), (7, 8), (6, 8)]


def _kernel_lpa(spark):
    from single_cell_experiments_spark.operators.singlecell import lpa_labels

    edges = _sym(_GRAPH) + [(v, v) for v in range(9)]
    return lpa_labels(spark.createDataFrame(edges, "src long, dst long"), 6)


def _kernel_louvain(spark):
    from single_cell_experiments_spark.operators.singlecell import louvain_phase1_labels

    return louvain_phase1_labels(spark.createDataFrame(_sym(_GRAPH), "src long, dst long"), 6)


def _kernel_nnd(spark):
    from single_cell_experiments_spark.operators.singlecell import nnd_vectors, sc_nnd_edges

    rows = [(i, [float(i * 7 % 11), float(i * 5 % 13)]) for i in range(24)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return sc_nnd_edges(nnd_vectors(vecs), rounds=2, k=4)


@pytest.mark.parametrize(
    "kernel", [_kernel_cc_star, _kernel_lpa, _kernel_louvain, _kernel_nnd],
    ids=["cc_star_labels", "lpa_labels", "louvain_phase1_labels", "sc_nnd_edges"],
)
def test_loop_kernels_release_dead_rounds(spark, kernel):
    """No checkpoint outlives the loop that made it: with the result still
    held (so nothing is garbage-collected), the RDDs the call left
    registered are no more than the checkpoints its returned plan reads —
    every earlier round was released as the next one was written.  The
    result must still read after the releases."""
    before = _persisted(spark)
    out = kernel(spark)
    assert len(_persisted(spark) - before) <= _checkpoint_leaves(out)
    assert out.count() > 0


def test_default_driver_memory_is_capped_at_half_of_ram():
    """16g unless the host has under 32 GB, then half of physical RAM:
    a 16g heap on a 16 GB host lets the JVM grow until the OOM killer
    takes it."""
    import os

    from single_cell_experiments_spark.session import _default_driver_memory

    mb = int(_default_driver_memory().rstrip("m"))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    assert mb == min(16 << 10, ram_mb // 2)
