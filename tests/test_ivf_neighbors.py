"""Pluggable kNN candidate generator (r7 verdict #8): the IVF-restricted
edge set must honor the bucket contract and agree with the exact graph
wherever the exact neighbors are bucket-local (what the recall audit
``sc_neighbors_ivf_recall`` measures at the registry level)."""

from __future__ import annotations

from single_cell_experiments_spark.catalog import load_table
from single_cell_experiments_spark.operators.singlecell import (
    SC_NEIGHBORS_K,
    sc_ivf_cells,
    sc_neighbor_edges,
)
from tests.conftest import SF_DIR


def test_ivf_generator_restricts_to_cells_and_matches_exact_where_local(spark):
    cells = sc_ivf_cells(spark, SF_DIR)
    cmap = {int(r["vec_id"]): int(r["cell"]) for r in cells.collect()}
    assert len(set(cmap.values())) > 1, "coarse quantizer collapsed to one cell"

    ivf_rows = sc_neighbor_edges(spark, SF_DIR, cells=cells).collect()
    assert ivf_rows, "IVF edge set is empty"
    ivf = {}
    for r in ivf_rows:
        # bucket contract: every candidate shares the query's cell
        assert cmap[int(r["vec_id"])] == cmap[int(r["nbr"])]
        ivf.setdefault(int(r["vec_id"]), set()).add(int(r["nbr"]))

    exact = {}
    for r in sc_neighbor_edges(spark, SF_DIR).collect():
        exact.setdefault(int(r["vec_id"]), set()).add(int(r["nbr"]))

    # same output contract: ranks 1..k, k capped by bucket population
    for v, nbrs in ivf.items():
        assert len(nbrs) <= SC_NEIGHBORS_K
    # where the exact top-k is entirely bucket-local, IVF returns it verbatim
    checked = 0
    for v, ex in exact.items():
        if all(cmap[n] == cmap[v] for n in ex):
            assert ivf.get(v) == ex, v
            checked += 1
    assert checked > 0, "no fully-local query to compare (fixture too scattered)"


def test_annframe_neighbors_accepts_cells_generator(spark):
    """The object API inherits the pluggable generator: bucket contract
    holds and ranks are contiguous per query."""
    from pyspark.sql import functions as F

    from single_cell_experiments_spark.api import AnnFrame
    from single_cell_experiments_spark.catalog import load_table

    af = AnnFrame.from_table(load_table(spark, SF_DIR, "embeddings"))
    cells = sc_ivf_cells(spark, SF_DIR).withColumnRenamed("vec_id", "row_id")
    cmap = {int(r["row_id"]): int(r["cell"]) for r in cells.collect()}
    edges = af.neighbors(SC_NEIGHBORS_K, cells=cells).collect()
    assert edges
    per_query = {}
    for r in edges:
        assert cmap[int(r["row_id"])] == cmap[int(r["nbr"])]
        per_query.setdefault(int(r["row_id"]), []).append(int(r["rk"]))
    for v, rks in per_query.items():
        assert sorted(rks) == list(range(1, len(rks) + 1)), v


def test_fine_cells_refine_coarse_and_recall_is_monotone(spark):
    """sc_ivf_cells_fine: (a) every fine cell refines its coarse cell
    (cell_fine div 2^bits == cell_coarse), (b) the quantizer genuinely
    splits (more distinct cells than coarse), (c) per-vector recall of
    the fine generator never exceeds the coarse generator's."""
    from single_cell_experiments_spark.operators.singlecell import (
        SC_IVF_FINE_BITS,
        sc_ivf_cells_fine,
        sc_ivf_fine_recall,
        sc_neighbors_ivf_recall,
    )

    coarse = {int(r.vec_id): int(r.cell) for r in sc_ivf_cells(spark, SF_DIR).collect()}
    fine = {
        int(r.vec_id): int(r.cell)
        for r in sc_ivf_cells_fine(spark, SF_DIR).collect()
    }
    assert set(fine) == set(coarse)
    scale = 1 << SC_IVF_FINE_BITS
    assert all(fine[v] // scale == coarse[v] for v in fine)
    assert len(set(fine.values())) > len(set(coarse.values()))

    rc = {int(r.vec_id): int(r.n_hit) for r in sc_neighbors_ivf_recall(spark, SF_DIR).collect()}
    rf = {int(r.vec_id): int(r.n_hit) for r in sc_ivf_fine_recall(spark, SF_DIR).collect()}
    assert set(rf) == set(rc)
    assert all(rf[v] <= rc[v] for v in rf)


def test_nnd_rounds_are_monotone_and_graph_is_valid(spark):
    """NN-descent: (a) the round-r edge set's exact-top-k recall never
    decreases with rounds (candidates always include current edges, so
    per-vector kept distances are non-increasing), (b) the built graph is
    a well-formed top-K_BUILD ranking (dense ranks 1..K per vector, no
    self-edges), (c) the registered recall audit agrees with a direct
    membership recount."""
    from single_cell_experiments_spark.operators.singlecell import (
        SC_NND_K_BUILD,
        SC_NND_ROUNDS,
        nnd_vectors,
        sc_neighbors_nnd_recall,
        sc_nnd_edges,
    )

    exact = {
        (int(r.vec_id), int(r.nbr))
        for r in sc_neighbor_edges(spark, SF_DIR).collect()
    }

    vecs = nnd_vectors(load_table(spark, SF_DIR, "embeddings"))
    prev_hits = -1
    final_edges = None
    for rounds in range(SC_NND_ROUNDS + 1):
        edges = sc_nnd_edges(vecs, rounds=rounds).collect()
        hits = sum((int(r.vec_id), int(r.nbr)) in exact for r in edges)
        assert hits >= prev_hits, f"recall dropped at round {rounds}"
        prev_hits = hits
        final_edges = edges

    per_vec: dict[int, list[int]] = {}
    for r in final_edges:
        assert int(r.vec_id) != int(r.nbr)
        per_vec.setdefault(int(r.vec_id), []).append(int(r.rk))
    for v, rks in per_vec.items():
        assert sorted(rks) == list(range(1, len(rks) + 1)), v
        assert len(rks) <= SC_NND_K_BUILD

    # registered audit vs direct recount
    audit = {
        int(r.vec_id): int(r.n_hit)
        for r in sc_neighbors_nnd_recall(spark, SF_DIR).collect()
    }
    got = {(int(r.vec_id), int(r.nbr)) for r in final_edges}
    direct: dict[int, int] = {}
    for v, n in exact:
        direct[v] = direct.get(v, 0) + ((v, n) in got)
    assert audit == direct


def test_ivfseed_descent_beats_ring_seed_and_bucket_ceiling(spark):
    """The combined-seed claim, asserted not just documented: at equal
    width, IVF+ring-seeded descent recalls strictly more exact edges than
    (a) the ring-only descent at its default rounds and (b) the IVF
    bucket ceiling (edges whose endpoints share a coarse cell)."""
    from single_cell_experiments_spark.operators.singlecell import (
        nnd_vectors,
        sc_nnd_edges,
        sc_nnd_edges_ivfseed,
    )

    exact = {
        (int(r.vec_id), int(r.nbr))
        for r in sc_neighbor_edges(spark, SF_DIR).collect()
    }
    ring = {
        (int(r.vec_id), int(r.nbr))
        for r in sc_nnd_edges(nnd_vectors(load_table(spark, SF_DIR, "embeddings"))).collect()
    }
    comb = {
        (int(r.vec_id), int(r.nbr))
        for r in sc_nnd_edges_ivfseed(spark, SF_DIR).collect()
    }
    cells = {int(r.vec_id): int(r.cell) for r in sc_ivf_cells(spark, SF_DIR).collect()}

    hits_ring = len(exact & ring)
    hits_comb = len(exact & comb)
    bucket_ceiling = sum(cells[u] == cells[v] for u, v in exact)
    assert hits_comb > hits_ring
    assert hits_comb > bucket_ceiling


def test_ivfseed_split_validation(spark):
    """r13 advice: split == k would make the engine's global ring emit a
    spurious descending-sequence edge where the oracle's range is empty —
    split == k now legally skips the branch, out-of-range raises."""
    import pytest

    from single_cell_experiments_spark.operators.singlecell import (
        SC_NND_BUILD_WIDTH_IVFSEED,
        sc_nnd_edges_ivfseed,
    )

    with pytest.raises(ValueError):
        sc_nnd_edges_ivfseed(spark, SF_DIR, split=0)
    with pytest.raises(ValueError):
        sc_nnd_edges_ivfseed(spark, SF_DIR, split=SC_NND_BUILD_WIDTH_IVFSEED + 1)
    # split == k: cell-ring-only seed, no global-ring branch, valid graph.
    g = sc_nnd_edges_ivfseed(
        spark, SF_DIR, rounds=1, split=SC_NND_BUILD_WIDTH_IVFSEED
    )
    rows = g.collect()
    assert rows and all(int(r.vec_id) != int(r.nbr) for r in rows)


def test_graph_search_shape_and_beats_graph_trim(spark):
    """r14 verdict #3 (graph-walk ANN query half): every query emits
    exactly K ranked hits, no self-matches, ranks are 1..K by (d2, node)
    — and the walk's recall is at least the trimmed build graph's own
    edge recall on the query rows (the beam scores exactly, so it can
    only add hits the graph rows miss)."""
    from pyspark.sql import functions as F

    from single_cell_experiments_spark.operators.graphsearch import (
        ANN_GS_K,
        ANN_GS_QMOD,
        ann_graph_search,
        ann_graph_search_recall,
    )

    res = ann_graph_search(spark, SF_DIR)
    rows = res.collect()
    per_q = {}
    for r in rows:
        assert int(r.qid) % ANN_GS_QMOD == 0
        assert int(r.node) != int(r.qid)
        per_q.setdefault(int(r.qid), []).append((int(r.rk), float(r.d2), int(r.node)))
    for qid, hits in per_q.items():
        hits.sort()
        assert [h[0] for h in hits] == list(range(1, ANN_GS_K + 1)), qid
        d2s = [h[1] for h in hits]
        assert d2s == sorted(d2s), qid
    rec = ann_graph_search_recall(spark, SF_DIR)
    mean_rec = rec.agg(F.avg("recall_micro")).collect()[0][0]
    # measured 94.5% at sf0.01 (dials docstring); anything under 80% means
    # the walk regressed against the graph it runs on
    assert mean_rec > 800_000, mean_rec


def test_ivfpq_family_contracts(spark):
    """IVFADC invariants: the compressed scan's answers come only from
    probed lists, ADC scores are nonnegative and tie-deterministically
    ordered, and the +R rerank can never recall FEWER true neighbors
    than the pure ADC ranking (its candidate pool is a superset of the
    ADC top-10, exactness then promotes every true neighbor in it)."""
    from pyspark.sql import functions as F

    from single_cell_experiments_spark.operators.similarity import (
        IVFPQ_NPROBE,
        ann_ivfpq_rerank,
        ann_ivfpq_search,
    )
    from single_cell_experiments_spark.catalog import load_table

    adc = ann_ivfpq_search(spark, SF_DIR).collect()
    assert len(adc) == 10
    assert len({int(r.vec_id) for r in adc}) == 10
    adists = [int(r.adist) for r in adc]
    assert all(a >= 0 for a in adists) and adists == sorted(adists)
    assert len({int(r.cell) for r in adc}) <= IVFPQ_NPROBE

    # exact integer-L2 ground truth for vec 0
    e = load_table(spark, SF_DIR, "embeddings")
    coo = e.select("vec_id", F.posexplode("embedding").alias("p0", "v32")).select(
        "vec_id",
        (F.col("p0") + 1).alias("pos"),
        F.round(F.col("v32").cast("double") * 1e6).cast("bigint").alias("vfix"),
    )
    q = coo.where(F.col("vec_id") == 0).select("pos", F.col("vfix").alias("qfix"))
    d = F.col("vfix") - F.col("qfix")
    exact = {
        int(r.vec_id)
        for r in coo.where(F.col("vec_id") != 0)
        .join(F.broadcast(q), "pos")
        .groupBy("vec_id")
        .agg(F.sum(d * d).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(10)
        .collect()
    }
    rr = ann_ivfpq_rerank(spark, SF_DIR).collect()
    assert len(rr) == 10
    d2s = [int(r.d2) for r in rr]
    assert d2s == sorted(d2s)
    adc_hits = len({int(r.vec_id) for r in adc} & exact)
    rr_hits = len({int(r.vec_id) for r in rr} & exact)
    assert rr_hits >= adc_hits


def test_hard_negative_mining_contract(spark):
    """Triplet-mining invariants: one row per anchor, the positive
    shares the anchor's label and the negative doesn't, both are the
    true exact-L2 minima of their class (cross-checked on a sample via
    numpy), and margin = neg_d2 - pos_d2."""
    import numpy as np
    from pyspark.sql import functions as F

    from single_cell_experiments_spark.catalog import load_table
    from single_cell_experiments_spark.operators.similarity import (
        mine_hard_negatives,
    )

    rows = {int(r.vec_id): r for r in mine_hard_negatives(spark, SF_DIR).collect()}
    e = load_table(spark, SF_DIR, "embeddings").collect()
    vecs = {
        int(r.vec_id): (
            int(r.label),
            np.array([round(float(x) * 1e6) for x in r.embedding], dtype=np.int64),
        )
        for r in e
    }
    assert set(rows) == set(vecs)
    for vid in list(vecs)[:25]:
        lbl, a = vecs[vid]
        r = rows[vid]
        assert vecs[int(r.pos_id)][0] == lbl
        assert vecs[int(r.neg_id)][0] != lbl
        assert int(r.margin) == int(r.neg_d2) - int(r.pos_d2)
        best_pos = min(
            (int(((a - v) ** 2).sum()), c)
            for c, (l, v) in vecs.items()
            if c != vid and l == lbl
        )
        best_neg = min(
            (int(((a - v) ** 2).sum()), c)
            for c, (l, v) in vecs.items()
            if l != lbl
        )
        assert (int(r.pos_d2), int(r.pos_id)) == best_pos
        assert (int(r.neg_d2), int(r.neg_id)) == best_neg
