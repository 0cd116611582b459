"""pyspark.ml LSH wrappers recover the same near-dups as the
engine-portable gate implementations (recall check, not bit-parity —
the ml estimators use their own hash families)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def _need_testdata():
    if not Path(SF_DIR).exists():
        pytest.skip("driver testdata not present")


def test_ml_minhash_recovers_gate_neardups(spark, _need_testdata):
    from tpg_weather_etl_spark.operators.lsh_ml import minhash_neardup_pairs
    from tpg_weather_etl_spark.queries_text import q_minhash_pairs
    from tpg_weather_etl_spark.sources.tables import read_table

    gate = {
        (r.doc_a, r.doc_b)
        for r in q_minhash_pairs(spark, SF_DIR).collect()
    }
    docs = read_table(spark, SF_DIR, "documents")
    ml_pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_neardup_pairs(docs, max_jaccard_distance=0.5)
        .collect()
    }
    # jaccard >= 0.5 gate pairs must appear among ml candidates
    # (distance <= 0.5 <=> similarity >= 0.5; ml is approximate but
    # with 8 tables recall on true >=0.5 pairs is effectively 1 here)
    missing = gate - ml_pairs
    assert not missing, f"ml MinHashLSH missed gate pairs: {missing}"


def test_ml_random_projection_finds_close_vectors(spark, _need_testdata):
    from tpg_weather_etl_spark.operators.lsh_ml import (
        random_projection_ann_pairs,
    )
    from tpg_weather_etl_spark.sources.tables import read_table

    vecs = read_table(spark, SF_DIR, "embeddings")
    pairs = random_projection_ann_pairs(vecs, max_l2_distance=1.2)
    rows = pairs.collect()
    # sanity: symmetric-dedup respected and distances within threshold
    assert all(r.vec_a < r.vec_b for r in rows)
    assert all(r.l2_distance <= 1.2 for r in rows)
    # brute-force check: every returned pair really is within 1.2
    emb = {r.vec_id: r.embedding for r in vecs.select(
        "vec_id", "embedding").collect()}
    for r in rows[:50]:
        d = sum((float(x) - float(y)) ** 2
                for x, y in zip(emb[r.vec_a], emb[r.vec_b])) ** 0.5
        assert abs(d - r.l2_distance) < 1e-4


def test_kmeans_ivf_recall_vs_brute_force(spark, _need_testdata):
    from tpg_weather_etl_spark.queries_embeddings import (
        IVF_TOPK,
        q_embedding_topk,
        q_kmeans_ivf_topk,
    )

    exact = {}
    for r in q_embedding_topk(spark, SF_DIR).collect():
        if r.rank <= IVF_TOPK:
            exact.setdefault(r.qid, set()).add(r.vec_id)
    approx = {}
    for r in q_kmeans_ivf_topk(spark, SF_DIR).collect():
        approx.setdefault(r.qid, set()).add(r.vec_id)

    # recall@3 over the query set: the trained quantizer must place
    # the true neighbors in probed cells for >=80% of (query, hit)s
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert total > 0
    assert hits / total >= 0.8, f"recall {hits}/{total}"


def test_multi_table_neardup_superset_and_candidates(spark, _need_testdata):
    from pyspark.sql import functions as F
    from tpg_weather_etl_spark.queries_embeddings import (
        _bucketed,
        _bucketed_multi,
        q_embedding_neardup,
        q_embedding_neardup_multi,
    )

    single = {(r.vec_a, r.vec_b)
              for r in q_embedding_neardup(spark, SF_DIR).collect()}
    multi = {(r.vec_a, r.vec_b)
             for r in q_embedding_neardup_multi(spark, SF_DIR).collect()}
    # more tables can only ADD candidate pairs; the cosine verify is
    # identical, so multi-table recall dominates single-table
    assert single <= multi

    def n_cand(bkt, keys):
        a = bkt.select(F.col("vec_id").alias("a"), *keys)
        b = bkt.select(F.col("vec_id").alias("b"),
                       *[F.col(k).alias(f"{k}_b") for k in keys])
        cond = F.col("a") < F.col("b")
        for k in keys:
            cond = cond & (F.col(k) == F.col(f"{k}_b"))
        return a.join(b, cond).select("a", "b").distinct().count()

    c1 = n_cand(_bucketed(spark, SF_DIR), ["bucket"])
    cm = n_cand(_bucketed_multi(spark, SF_DIR), ["tbl", "bucket"])
    # L tables inspect more candidates (union over tables) but stay
    # far below the n^2 cross join
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert c1 <= cm < n * (n - 1) / 2


def test_ivf_index_at_rest_prunes_to_probed_cells(spark, tmp_path):
    from pyspark.sql import functions as F
    from tpg_weather_etl_spark.operators.lsh_ml import (
        probe_ivf_index, write_ivf_index,
    )
    from tpg_weather_etl_spark.queries_embeddings import (
        _cell_topm, _centroids,
    )
    from tpg_weather_etl_spark.sources.tables import read_table

    sf = "/root/testdata/sf0.001"
    e = read_table(spark, sf, "embeddings")
    assign = (_cell_topm(e, _centroids(spark, sf), 1)
              .select("vec_id", F.col("cells")[0]["cell"].alias("cell")))
    idx = str(tmp_path / "ivf")
    write_ivf_index(assign, idx)

    probe = probe_ivf_index(spark, idx, [0, 1])
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # the probe must reach the scan as a PartitionFilter — an index
    # read touches nprobe cell directories, not the corpus
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1)[1][:200], plan
    got_cells = {r.cell for r in probe.select("cell").distinct().collect()}
    assert got_cells <= {0, 1}
    # round trip preserves the assignment
    n_all = spark.read.parquet(idx).count()
    assert n_all == assign.count()


def test_ivf_index_rebuild_drops_cells_absent_from_it(spark, tmp_path):
    from tpg_weather_etl_spark.operators.lsh_ml import write_ivf_index

    idx = str(tmp_path / "ivf")
    schema = "vec_id int, cell int"
    write_ivf_index(
        spark.createDataFrame([(1, 0), (2, 1), (3, 2)], schema), idx)
    write_ivf_index(spark.createDataFrame([(1, 0), (2, 1)], schema), idx)
    got = sorted(tuple(r) for r in
                 spark.read.parquet(idx).select("vec_id", "cell").collect())
    assert got == [(1, 0), (2, 1)]


SF_DIR_01 = "/root/testdata/sf0.01"


def test_ml_lsh_recall_pinned_vs_gate_pairs(spark, _need_testdata):
    """Regression pin (VERDICT r4 task 7): the pyspark.ml LSH paths
    must keep recovering the gate's near-dup pairs. Both sides are
    recomputed, so drift in pyspark.ml defaults (hash family, seed
    handling, approxSimilarityJoin semantics) fails here instead of
    silently degrading production recall. Measured 1.0 on both
    estimators at sf0.01; floor 0.9 absorbs benign jitter only."""
    from tpg_weather_etl_spark.operators.lsh_ml import (
        minhash_neardup_pairs,
        random_projection_ann_pairs,
    )
    from tpg_weather_etl_spark.queries_embeddings import q_embedding_neardup
    from tpg_weather_etl_spark.queries_text import q_minhash_pairs
    from tpg_weather_etl_spark.sources.tables import read_table

    if not Path(SF_DIR_01).exists():
        pytest.skip("driver testdata not present")

    gate_mh = {(r.doc_a, r.doc_b)
               for r in q_minhash_pairs(spark, SF_DIR_01).collect()}
    ml_mh = {(r.doc_a, r.doc_b) for r in minhash_neardup_pairs(
        read_table(spark, SF_DIR_01, "documents"),
        max_jaccard_distance=0.5).collect()}
    mh_recall = len(gate_mh & ml_mh) / len(gate_mh)
    assert mh_recall >= 0.9, f"MinHashLSH recall {mh_recall:.2f}"

    # gate near-dups (cos >= 0.35) all sit within L2 1.14 on this
    # data; 1.2 is the production threshold the rp wrapper documents
    gate_nd = {(r.vec_a, r.vec_b)
               for r in q_embedding_neardup(spark, SF_DIR_01).collect()}
    ml_nd = {(r.vec_a, r.vec_b) for r in random_projection_ann_pairs(
        read_table(spark, SF_DIR_01, "embeddings"),
        max_l2_distance=1.2).collect()}
    nd_recall = len(gate_nd & ml_nd) / len(gate_nd)
    assert nd_recall >= 0.9, \
        f"BucketedRandomProjectionLSH recall {nd_recall:.2f}"


def test_hot_band_bucket_cap_binding_and_inert(spark):
    """filter_hot_band_buckets: inert when no bucket exceeds the cap;
    drops the mega-bucket (and its quadratic pair blob) when one
    does — the text-side analogue of the embedding family's
    filter_hot_buckets (round-9 probe find: boilerplate-heavy corpora
    grow one shared header bucket per band linearly with the corpus,
    so uncapped candidates grow quadratically)."""
    from pyspark.sql import functions as F

    from tpg_weather_etl_spark.queries_text import (
        bands_from_shingles,
        filter_hot_band_buckets,
        shingles_from_docs,
    )

    # 12 identical docs -> every band bucket holds all 12
    body = " ".join(f"w{i}" for i in range(30))
    rows = [(i, body) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bands = bands_from_shingles(shingles_from_docs(docs))

    capped_inert = filter_hot_band_buckets(bands, cap=50)
    assert capped_inert.count() == bands.count()  # inert above size

    capped = filter_hot_band_buckets(bands, cap=5)
    assert capped.count() == 0  # the mega-bucket is dropped whole

    # mixed corpus: mega-cluster + 3 small near-dup pairs -> cap keeps the
    # small buckets intact while dropping only the hot one
    rows2 = rows + [(100 + i, " ".join(f"p{i}_{j}" for j in range(30)))
                    for i in range(3)]
    rows2 += [(200 + i, " ".join(f"p{i}_{j}" for j in range(29)) + " zz")
              for i in range(3)]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    bands2 = bands_from_shingles(shingles_from_docs(docs2))
    kept = filter_hot_band_buckets(bands2, cap=5)
    kept_docs = {r.doc_id for r in kept.select("doc_id").distinct().collect()}
    assert not kept_docs & set(range(12))
    assert {100, 101, 102, 200, 201, 202} <= kept_docs
