"""Retrieval/selection operators: BM25, weighted sampling, semantic dedup.

The DuckDB oracles are the main gate; these tests pin the semantic
properties the oracles can't express (weight monotonicity, medoid
uniqueness, determinism across partition layouts).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka2delta_spark.functions.retrieval import (
    SAMPLE_K,
    qx01_bm25_retrieval,
    qx02_weighted_sample,
    qx03_semantic_dedup,
)


def test_bm25_ranks_term_rich_docs(spark, sf_dir):
    out = qx01_bm25_retrieval(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 10
    # ranking is strict: scores non-increasing with rank
    by_rk = sorted(rows, key=lambda r: r["rk"])
    scores = [r["bm25"] for r in by_rk]
    assert scores == sorted(scores, reverse=True)
    assert all(r["bm25"] > 0 for r in rows)


def test_weighted_sample_is_layout_independent(spark, sf_dir, tmp_path):
    """The sample must be a pure function of the data: identical result
    from a differently-partitioned copy of the corpus (rand()-based
    sampling fails this — task seeds follow partition layout)."""
    base = sorted(map(tuple, qx02_weighted_sample(spark, sf_dir).collect()))
    relaid = str(tmp_path / "relaid")
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(7).write.parquet(
        f"{relaid}/documents.parquet"
    )
    assert base == sorted(map(tuple, qx02_weighted_sample(spark, relaid).collect()))
    assert len(base) > 0
    # per-group cap respected
    per_lang = {}
    for lang, _doc, rk in base:
        per_lang.setdefault(lang, []).append(rk)
    for lang, rks in per_lang.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= SAMPLE_K


def test_weighted_sample_favors_heavy_docs(spark, tmp_path):
    """With one doc 1000x the weight of 499 others, Efraimidis-Spirakis
    keeps it with priority u^(1/w) -> ~1: it must appear in the sample."""
    heavy_rows = [(0, "xx", "en", "s", 1_000_000)] + [
        (i, "xx", "en", "s", 10) for i in range(1, 500)
    ]
    df = spark.createDataFrame(
        heavy_rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = qx02_weighted_sample(spark, d).collect()
    assert 0 in {r["doc_id"] for r in out}


def test_semantic_dedup_keeps_one_medoid_per_cluster(spark, sf_dir):
    out = qx03_semantic_dedup(spark, sf_dir)
    # exactly one medoid (kept row with min distance) per cluster; every
    # vector appears exactly once
    assert out.count() == out.select("vec_id").distinct().count()
    per_cluster = (
        out.groupBy("cluster")
        .agg(
            F.sum("keep").alias("n_kept"),
            F.count(F.lit(1)).alias("n"),
            F.min(F.when(F.col("keep") == 1, F.col("sq_dist"))).alias("kept_min"),
            F.min("sq_dist").alias("all_min"),
        )
        .collect()
    )
    for r in per_cluster:
        assert 1 <= r["n_kept"] <= r["n"]
        # the closest-to-centroid vector is always kept (it is the medoid)
        assert r["kept_min"] == r["all_min"]


def test_png_parser_reads_a_real_header(spark):
    """Parse the actual byte prefix of a real-world 1x1 RGBA PNG — the
    synthesize->parse round trip can't hide a shared offset bug; a
    spec-literal header can."""
    from kafka2delta_spark.functions.multimodal import parse_png_header
    from pyspark.sql import functions as F

    real_1x1 = bytes.fromhex(
        "89504E470D0A1A0A" "0000000D" "49484452"
        "00000001" "00000001" "08" "06"
    )
    df = spark.createDataFrame([(1, bytearray(real_1x1)), (2, bytearray(b"notapng_at_all_............"))],
                               "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in df.select("doc_id", *parse_png_header(F.col("payload"))).collect()}
    assert out[1]["is_png"] and (out[1]["width"], out[1]["height"]) == (1, 1)
    assert out[1]["bit_depth"] == 8 and out[1]["color_type"] == 6
    assert not out[2]["is_png"]


def test_countmin_sketch_merges_by_cell_addition(spark, sf_dir):
    """CM mergeability: sketch(first half) + sketch(second half) ==
    sketch(all) cell-wise — what lets per-partition / per-micro-batch
    sketches compose into the global summary without rescanning."""
    from kafka2delta_spark.operators.advanced import countmin_cells
    from kafka2delta_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    mid = ev.approxQuantile("user_id", [0.5], 0.0)[0]
    full = countmin_cells(ev, "user_id")
    a = countmin_cells(ev.filter(F.col("user_id") < mid), "user_id")
    b = countmin_cells(ev.filter(F.col("user_id") >= mid), "user_id")
    merged = (
        a.unionByName(b)
        .groupBy("d", "col")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_countmin_never_undercounts(spark, sf_dir):
    from kafka2delta_spark.operators.advanced import qx11_countmin_heavy_hitters

    out = qx11_countmin_heavy_hitters(spark, sf_dir).collect()
    assert len(out) == 10
    assert all(r["cm_est"] >= r["true_cnt"] for r in out)
