"""Distributed k-means (Lloyd's algorithm) over the embeddings table.

The IVF index (similarity.py q93) documents its label-mean centroids as a
k-means stand-in; this module supplies the real thing as a first-class
operator: K centroids refined with N_ITERS Lloyd iterations, expressed as
the canonical distributed shape —

  * the corpus NEVER shuffles: each iteration is one scan with the K
    centroids broadcast (assignment = argmin over a broadcast cross join);
  * the only aggregation is the centroid update: posexplode to
    (cluster, dim, value) and hash-aggregate K*DIM cells — partial
    (map-side) aggregation makes the shuffle K*DIM rows per task, metadata
    -sized regardless of corpus size;
  * iterations are unrolled in ONE lazy plan (no driver-side collect of
    assignments; only the K centroid rows ever reach the driver, and only
    if an eager checkpoint is requested).

Determinism (the oracle gate hashes values): float arithmetic order is
engine-dependent, so all geometry runs in fixed-point — coordinates scaled
by 1e6 and floored to BIGINT. Squared L2 distances over 64 dims stay under
2^53, so BOTH engines compute them exactly; the centroid update
floor(sum/count) is exact integer arithmetic. Seeds are fixed vec_ids —
k-means++ at scale would be a weighted sample per round, but seeding is
orthogonal to the iteration shape being exhibited here.

DuckDB oracle: the identical algorithm in long form (dimension-unnested),
2 iterations unrolled as CTEs. Ties in argmin break to the smallest
cluster id on both engines (explicit ORDER BY dist, cid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kafka2delta_spark.queryset import register
from kafka2delta_spark.sources.tables import load_embeddings, load_table, memo

K_SEEDS = [0, 17, 34, 51]  # fixed seed vec_ids (K = 4)
N_ITERS = 2
SCALE = 1_000_000  # fixed-point: floor(x * 1e6) per coordinate


def _fixed_vec(col: str = "embedding"):
    return F.transform(
        F.col(col), lambda x: F.floor(x.cast("double") * SCALE).cast("bigint")
    )


def _sq_dist(a, b):
    """Exact squared L2 distance between two BIGINT fixed-point vectors.
    Per-dim squares <= (2e7)^2 = 4e14; summed over 64 dims < 2^55 — fits
    BIGINT (and the per-element products fit exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, z: acc + z,
    )


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd assignment pass: argmin centroid per vector. The corpus
    side streams; the K centroid rows are broadcast. Ties -> smallest cid."""
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "__dist", _sq_dist(F.col("vi"), F.col("c"))
    )
    w = W.partitionBy("vec_id").orderBy("__dist", "cid")
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("vec_id", "vi", "cid", "__dist")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Centroid update: per-(cluster, dim) integer mean, floored. Long-form
    hash agg (K*DIM cells) re-assembled into an array ordered by dim."""
    long_form = assigned.select(
        "cid", F.posexplode("vi").alias("d", "x")
    )
    cells = long_form.groupBy("cid", "d").agg(
        F.floor(F.sum("x") / F.count("*")).cast("bigint").alias("cx")
    )
    return (
        cells.groupBy("cid")
        .agg(F.sort_array(F.collect_list(F.struct("d", "cx"))).alias("pairs"))
        .select(
            "cid",
            F.transform(F.col("pairs"), lambda p: p["cx"]).alias("c"),
        )
    )


def lloyd_centroids(vectors: DataFrame, n_iters: int = N_ITERS) -> DataFrame:
    """Final centroids ``(cid, c)`` after ``n_iters`` Lloyd iterations from
    the :data:`K_SEEDS` start over ``(vec_id, vi)`` fixed-point vectors.
    This is the centroid set the IVF index (similarity.py q93) broadcasts —
    the corpus never shuffles across the whole refinement."""
    centroids = vectors.filter(F.col("vec_id").isin(K_SEEDS)).select(
        F.col("vec_id").alias("cid"), F.col("vi").alias("c")
    )
    for _ in range(n_iters - 1):
        centroids = _update(_assign(vectors, centroids))
    # NOT pinned: measured — checkpointing the K-row result slowed every
    # caller (q76 1.1 s -> 2.8 s, q93/qx03 +30%): the refinement chain
    # re-plans per consumer, but each re-run is broadcast-side work that
    # overlaps the main pass, while the checkpoint serializes the whole
    # chain into a blocking prefix job
    return centroids


def lloyd_oracle_ctes() -> str:
    """DuckDB CTE prefix shared by q76's oracle and q93's IVF oracle:
    fixed-point long-form vectors (``vl``), seed centroids (``c0``), one
    assign+update round (``s1``/``a1``/``c1``) and the final
    per-(vector, centroid) exact squared distances (``s2``) — i.e. Lloyd
    with N_ITERS=2 unrolled, identical geometry to the Spark plan."""
    seeds = ", ".join(str(s) for s in K_SEEDS)
    return f"""vl AS (
        -- promote REAL -> DOUBLE before scaling (matches Spark's
        -- cast("double"); scaling the raw float4 rounds differently).
        -- NULL embeddings are excluded per the vector-operator contract
        -- (sources/tables.py::load_embeddings)
        SELECT vec_id, t.i - 1 AS d,
               CAST(floor((embedding::DOUBLE[])[t.i] * {SCALE}) AS BIGINT) AS x
        FROM embeddings, range(1, 65) AS t(i)
        WHERE embedding IS NOT NULL
    ),
    c0 AS (
        SELECT vec_id AS cid, d, x AS cx FROM vl WHERE vec_id IN ({seeds})
    ),
    s1 AS (
        SELECT vl.vec_id, c0.cid,
               SUM((vl.x - c0.cx) * (vl.x - c0.cx)) AS dist
        FROM vl JOIN c0 USING (d)
        GROUP BY vl.vec_id, c0.cid
    ),
    a1 AS (
        SELECT vec_id, cid FROM s1
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1
    ),
    c1 AS (
        SELECT a1.cid, vl.d,
               CAST(FLOOR(SUM(vl.x) / COUNT(*)) AS BIGINT) AS cx
        FROM a1 JOIN vl USING (vec_id)
        GROUP BY a1.cid, vl.d
    ),
    s2 AS (
        SELECT vl.vec_id, c1.cid,
               SUM((vl.x - c1.cx) * (vl.x - c1.cx)) AS dist
        FROM vl JOIN c1 USING (d)
        GROUP BY vl.vec_id, c1.cid
    )"""


def _oracle() -> str:
    return f"""
    WITH {lloyd_oracle_ctes()},
    a2 AS (
        SELECT vec_id, cid, dist FROM s2
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
           CAST(dist AS BIGINT) AS sq_dist
    FROM a2
    """


@register("q76_kmeans_lloyd", oracle=_oracle())
def q76_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means: {K_SEEDS}-seeded, N_ITERS Lloyd iterations, fixed-point
    geometry. Returns every vector's final cluster and exact squared
    distance. Plan shape per iteration: broadcast-cross-join assignment
    (corpus never shuffles) + K*DIM-cell centroid hash-agg."""
    emb = load_embeddings(spark, sf_dir).select(
        "vec_id", _fixed_vec().alias("vi")
    )
    assigned = _assign(emb, lloyd_centroids(emb))
    return assigned.select(
        "vec_id",
        F.col("cid").cast("bigint").alias("cluster"),
        F.col("__dist").alias("sq_dist"),
    )


# ---------------------------------------------------------------------------
# qx85: product-quantization codebook + encode (the IVF-PQ building block)
# ---------------------------------------------------------------------------
# The embedding is split into PQ_SUBSPACES contiguous sub-vectors; each
# subspace gets its own K-centroid Lloyd codebook (the machinery above,
# unchanged, on sliced vectors), and every vector is encoded as its
# per-subspace nearest-centroid codes. The reconstruction error —
# squared L2 between the vector and its concatenated codebook entries —
# is EXACTLY the sum of per-subspace assignment distances, all in the
# fixed-point BIGINT contract, so the whole encode is hash-gated.

PQ_SUBSPACES = 4
PQ_SUBDIM = 16  # 64 dims / 4 subspaces


def _pq_oracle() -> str:
    seeds = ", ".join(str(s) for s in K_SEEDS)
    chains = []
    for s in range(PQ_SUBSPACES):
        lo, hi = s * PQ_SUBDIM, (s + 1) * PQ_SUBDIM - 1
        chains.append(
            f"""vl_{s} AS (SELECT * FROM vl WHERE d BETWEEN {lo} AND {hi}),
    c0_{s} AS (
        SELECT vec_id AS cid, d, x AS cx FROM vl_{s}
        WHERE vec_id IN ({seeds})),
    s1_{s} AS (
        SELECT vl_{s}.vec_id, c0_{s}.cid,
               SUM((vl_{s}.x - c0_{s}.cx) * (vl_{s}.x - c0_{s}.cx)) AS dist
        FROM vl_{s} JOIN c0_{s} USING (d)
        GROUP BY vl_{s}.vec_id, c0_{s}.cid),
    a1_{s} AS (
        SELECT vec_id, cid FROM s1_{s}
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1),
    c1_{s} AS (
        SELECT a1_{s}.cid, vl_{s}.d,
               CAST(FLOOR(SUM(vl_{s}.x) / COUNT(*)) AS BIGINT) AS cx
        FROM a1_{s} JOIN vl_{s} USING (vec_id)
        GROUP BY a1_{s}.cid, vl_{s}.d),
    s2_{s} AS (
        SELECT vl_{s}.vec_id, c1_{s}.cid,
               SUM((vl_{s}.x - c1_{s}.cx) * (vl_{s}.x - c1_{s}.cx)) AS dist
        FROM vl_{s} JOIN c1_{s} USING (d)
        GROUP BY vl_{s}.vec_id, c1_{s}.cid),
    a2_{s} AS (
        SELECT vec_id, cid, dist FROM s2_{s}
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1)"""
        )
    joins = " ".join(f"JOIN a2_{s} ON a2_{s}.vec_id = a2_0.vec_id" for s in range(1, PQ_SUBSPACES))
    code_cols = ", ".join(
        f"CAST(a2_{s}.cid AS BIGINT) AS code{s}" for s in range(PQ_SUBSPACES)
    )
    err = " + ".join(f"a2_{s}.dist" for s in range(PQ_SUBSPACES))
    return f"""
    WITH vl AS (
        SELECT vec_id, t.i - 1 AS d,
               CAST(floor((embedding::DOUBLE[])[t.i] * {SCALE}) AS BIGINT) AS x
        FROM embeddings, range(1, 65) AS t(i)
        WHERE embedding IS NOT NULL),
    {",".join(chains)}
    SELECT a2_0.vec_id, {code_cols},
           CAST({err} AS BIGINT) AS recon_err
    FROM a2_0 {joins}
    """


@register("qx85_pq_codebook_encode", oracle=_pq_oracle())
def qx85_pq_codebook_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: train {PQ_SUBSPACES} independent Lloyd
    codebooks on {PQ_SUBDIM}-dim sub-vectors (the q76 machinery on
    slices — corpus never shuffles, per-subspace centroid updates are
    K×{PQ_SUBDIM} metadata cells) and encode every vector as its code
    tuple plus the exact reconstruction error. PQ is what makes
    billion-scale ANN memory-feasible: 64 dims × 4 bytes → 4 one-byte
    codes (16×), with recon_err the quantization-quality audit column.

    Plan: {PQ_SUBSPACES} independent Lloyd chains over SLICES of one
    scan — Spark evaluates them as parallel aggregates off the same
    exchange; the final encode is one broadcast-assign per subspace
    joined on vec_id. At 100 TB the codebooks (K×{PQ_SUBDIM} ints each)
    broadcast everywhere and encoding is embarrassingly parallel —
    identical to the production IVF-PQ build. Geometry is the module's
    exact fixed-point contract (docstring above); subspace additivity
    of squared L2 makes recon_err exact with no extra pass. The encode
    is session-cached (``pq_components``) and shared with qx94 — in
    production the codebooks + code columns ARE a materialized index, so
    compute-once is the honest shape."""
    _, codes, _, _ = pq_components(spark, sf_dir)
    err = sum(F.col(f"err{s}") for s in range(PQ_SUBSPACES))
    return codes.select(
        "vec_id",
        *[
            F.col(f"code{s}").cast("bigint").alias(f"code{s}")
            for s in range(PQ_SUBSPACES)
        ],
        err.cast("bigint").alias("recon_err"),
    )


def pq_components(spark: SparkSession, sf_dir: str):
    """Session-memoized (vecs, codes+errs, per-subspace centroids, full
    centroids), each lazily checkpointed. qx85 (encode) and qx94 (search)
    consume ONE materialized quantizer build — the production IVF-PQ
    layout, where codebooks and code columns are index artifacts, not
    per-query derivations."""

    def build():
        emb = load_embeddings(spark, sf_dir)
        vecs = emb.select("vec_id", _fixed_vec().alias("vi")).localCheckpoint(
            eager=False
        )
        codes = None
        sub_cents = []
        for s in range(PQ_SUBSPACES):
            sub = vecs.select(
                "vec_id",
                F.slice("vi", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("vi"),
            )
            cents = lloyd_centroids(sub).localCheckpoint(eager=False)
            sub_cents.append(cents)
            enc = _assign(sub, cents).select(
                "vec_id",
                F.col("cid").alias(f"code{s}"),
                F.col("__dist").alias(f"err{s}"),
            )
            codes = enc if codes is None else codes.join(enc, "vec_id")
        full_cents = lloyd_centroids(vecs).localCheckpoint(eager=False)
        return vecs, codes.localCheckpoint(eager=False), sub_cents, full_cents

    return memo(spark, "pq_quantizer", sf_dir, build=build)


# ---------------------------------------------------------------------------
# qx94: IVF-PQ ANN search with asymmetric distance computation (ADC) —
# the composite of this module's two quantizers, and the memory layout
# every billion-scale ANN system (FAISS IVFPQ) actually serves from:
# a coarse Lloyd quantizer routes each query to NPROBE inverted lists,
# and candidate distances are approximated WITHOUT touching raw vectors
# — each candidate costs only its PQ code tuple, scored against a
# per-query lookup table of (query-subvector → codebook-entry) exact
# squared distances. Everything stays in the fixed-point BIGINT
# contract, so ADC scores, ranking, and the exact re-check are all
# hash-gated.
# ---------------------------------------------------------------------------

IVFPQ_QMOD = 100  # queries: vec_id % 100 == 0
IVFPQ_NPROBE = 2
IVFPQ_TOP_K = 3


def _ivfpq_oracle() -> str:
    seeds = ", ".join(str(s) for s in K_SEEDS)
    # per-subspace PQ chains (same construction as _pq_oracle)
    chains = []
    for s in range(PQ_SUBSPACES):
        lo, hi = s * PQ_SUBDIM, (s + 1) * PQ_SUBDIM - 1
        chains.append(
            f"""vl_{s} AS (SELECT * FROM vl WHERE d BETWEEN {lo} AND {hi}),
    c0_{s} AS (
        SELECT vec_id AS cid, d, x AS cx FROM vl_{s}
        WHERE vec_id IN ({seeds})),
    s1_{s} AS (
        SELECT vl_{s}.vec_id, c0_{s}.cid,
               SUM((vl_{s}.x - c0_{s}.cx) * (vl_{s}.x - c0_{s}.cx)) AS dist
        FROM vl_{s} JOIN c0_{s} USING (d)
        GROUP BY vl_{s}.vec_id, c0_{s}.cid),
    a1_{s} AS (
        SELECT vec_id, cid FROM s1_{s}
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1),
    c1_{s} AS (
        SELECT a1_{s}.cid, vl_{s}.d,
               CAST(FLOOR(SUM(vl_{s}.x) / COUNT(*)) AS BIGINT) AS cx
        FROM a1_{s} JOIN vl_{s} USING (vec_id)
        GROUP BY a1_{s}.cid, vl_{s}.d),
    s2_{s} AS (
        SELECT vl_{s}.vec_id, c1_{s}.cid,
               SUM((vl_{s}.x - c1_{s}.cx) * (vl_{s}.x - c1_{s}.cx)) AS dist
        FROM vl_{s} JOIN c1_{s} USING (d)
        GROUP BY vl_{s}.vec_id, c1_{s}.cid),
    a2_{s} AS (
        SELECT vec_id, cid AS code{s}, dist FROM s2_{s}
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1),
    adc_{s} AS (
        -- per-query lookup table: exact sq dist from the query's
        -- subvector to every codebook entry of subspace {s}
        SELECT q.qid, c1_{s}.cid,
               SUM((vq.x - c1_{s}.cx) * (vq.x - c1_{s}.cx)) AS dq
        FROM qs q
        JOIN vl vq ON vq.vec_id = q.qid AND vq.d BETWEEN {lo} AND {hi}
        JOIN c1_{s} ON c1_{s}.d = vq.d
        GROUP BY q.qid, c1_{s}.cid)"""
        )
    code_joins = " ".join(
        f"JOIN a2_{s} ON a2_{s}.vec_id = cand.nid" for s in range(PQ_SUBSPACES)
    )
    adc_joins = " ".join(
        f"JOIN adc_{s} ON adc_{s}.qid = cand.qid"
        f" AND adc_{s}.cid = a2_{s}.code{s}"
        for s in range(PQ_SUBSPACES)
    )
    adc_sum = " + ".join(f"adc_{s}.dq" for s in range(PQ_SUBSPACES))
    return f"""
    WITH {lloyd_oracle_ctes()},
    ivf AS (
        SELECT vec_id, cid FROM s2
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1),
    qs AS (SELECT vec_id AS qid FROM embeddings
           WHERE vec_id % {IVFPQ_QMOD} = 0),
    probe AS (
        SELECT s2.vec_id AS qid, s2.cid FROM s2 JOIN qs ON qs.qid = s2.vec_id
        QUALIFY ROW_NUMBER() OVER (PARTITION BY s2.vec_id
                                   ORDER BY dist, cid) <= {IVFPQ_NPROBE}),
    {",".join(chains)},
    cand AS (
        SELECT p.qid, v.vec_id AS nid
        FROM probe p JOIN ivf v ON v.cid = p.cid AND v.vec_id <> p.qid),
    scored AS (
        SELECT cand.qid, cand.nid, {adc_sum} AS adc_dist
        FROM cand {code_joins} {adc_joins}),
    topk AS (
        SELECT qid, nid, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc_dist, nid) AS rk
        FROM scored
        QUALIFY rk <= {IVFPQ_TOP_K}),
    exact AS (
        SELECT t.qid, t.nid, SUM((a.x - b.x) * (a.x - b.x)) AS d2
        FROM topk t
        JOIN vl a ON a.vec_id = t.qid
        JOIN vl b ON b.vec_id = t.nid AND b.d = a.d
        GROUP BY t.qid, t.nid)
    SELECT t.qid, t.nid, CAST(t.rk AS BIGINT) AS rk,
           CAST(t.adc_dist AS BIGINT) AS adc_dist,
           CAST(e.d2 AS BIGINT)       AS exact_dist
    FROM topk t JOIN exact e ON e.qid = t.qid AND e.nid = t.nid
    """


@register("qx94_ivfpq_adc_search", oracle=_ivfpq_oracle())
def qx94_ivfpq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN search: route each query (a 1/{IVFPQ_QMOD} id sample)
    to its {IVFPQ_NPROBE} nearest coarse centroids, score every vector
    in those inverted lists by ADC — the sum over subspaces of the
    EXACT squared distance from the query's subvector to the
    candidate's CODEBOOK ENTRY, looked up from a per-query table of
    K × {PQ_SUBSPACES} integers — and return the top {IVFPQ_TOP_K}
    with their exact distances re-checked (the re-rank step).

    Why this is the scale path: candidates cost 4 code bytes + 4 table
    lookups each — raw vectors are read only for the final
    top-{IVFPQ_TOP_K} re-rank. At 100 TB the inverted lists are the
    partition layout (cluster-pruned scans), codebooks and ADC tables
    broadcast (K·subspaces integers per query), and the only shuffle is
    the per-query top-k. Both quantizers reuse this module's Lloyd
    runs; every distance is fixed-point BIGINT, so the whole search —
    routing, ADC scores, ranking, re-rank — hash-matches the oracle.
    The quantizer build (codebooks, codes, coarse centroids) comes from
    the session-cached ``pq_components`` shared with qx85 — the index
    is built once, searched many times."""
    vecs, enc, sub_cents, cents = pq_components(spark, sf_dir)
    ivf = _assign(vecs, cents).select("vec_id", "cid")
    # pinned: the query frame feeds the probe router, every ADC table
    # subspace and the exact re-rank — six consumers of one tiny frame
    queries = vecs.filter(F.col("vec_id") % IVFPQ_QMOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("vi").alias("qv")
    ).localCheckpoint(eager=False)
    probe = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("__d", _sq_dist(F.col("qv"), F.col("c")))
        .withColumn(
            "__rk",
            F.row_number().over(
                W.partitionBy("qid").orderBy("__d", "cid")
            ),
        )
        .filter(F.col("__rk") <= IVFPQ_NPROBE)
        .select("qid", "cid")
    )
    # cached PQ codes for the corpus + per-query ADC lookup tables
    codes = enc.select(
        "vec_id", *[f"code{s}" for s in range(PQ_SUBSPACES)]
    )
    # ONE broadcast ADC-table join instead of PQ_SUBSPACES sequential
    # broadcast joins: all (subspace, code) → distance entries fold into
    # one per-query lookup map (K·subspaces integers — the classic ADC
    # table layout), and the candidate stream does map lookups in a
    # single projected join. Each dq value is the identical _sq_dist
    # expression; the subspace sum keeps the same s = 0..n fold order in
    # exact BIGINT, so adc_dist is bit-identical to the join chain.
    adc_entries = None
    for s in range(PQ_SUBSPACES):
        qsub = queries.select(
            "qid", F.slice("qv", s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("qv")
        )
        part = qsub.crossJoin(F.broadcast(sub_cents[s])).select(
            "qid",
            (F.lit(s * 256) + F.col("cid")).cast("int").alias("k"),
            _sq_dist(F.col("qv"), F.col("c")).alias("dq"),
        )
        adc_entries = part if adc_entries is None else adc_entries.unionByName(part)
    adc_tab = adc_entries.groupBy("qid").agg(
        F.map_from_entries(F.collect_list(F.struct("k", "dq"))).alias("m")
    )
    cand = probe.join(ivf, "cid").filter(F.col("vec_id") != F.col("qid")).select(
        "qid", F.col("vec_id").alias("nid")
    )
    scored = (
        cand.join(codes, cand.nid == codes.vec_id)
        .drop("vec_id")
        .join(F.broadcast(adc_tab), "qid")
        .select(
            "qid",
            "nid",
            sum(
                F.element_at("m", (F.lit(s * 256) + F.col(f"code{s}")).cast("int"))
                for s in range(PQ_SUBSPACES)
            ).alias("adc_dist"),
        )
    )
    # tiny (queries x IVFPQ_TOP_K rows) but consumed twice below (the
    # exact re-rank join and the final join) — pin so the whole
    # routing+ADC scoring pipeline is planned once, not twice
    topk = (
        scored.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("qid").orderBy("adc_dist", "nid")
            ),
        )
        .filter(F.col("rk") <= IVFPQ_TOP_K)
        .localCheckpoint(eager=False)
    )
    # exact re-rank distances for the surviving candidates only; rk and
    # adc_dist ride along, so no join back onto topk is needed (the old
    # topk ⋈ exact join re-paired rows the chain already had together)
    return (
        topk.join(queries, "qid")
        .join(
            vecs.select(F.col("vec_id").alias("nid"), F.col("vi").alias("nv")),
            "nid",
        )
        .select(
            "qid",
            "nid",
            F.col("rk").cast("bigint").alias("rk"),
            F.col("adc_dist").cast("bigint").alias("adc_dist"),
            _sq_dist(F.col("qv"), F.col("nv")).cast("bigint").alias("exact_dist"),
        )
    )
