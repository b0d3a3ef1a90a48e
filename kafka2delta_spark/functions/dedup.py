"""Deduplication operators for training-data pipelines.

Five families, each cross-checked against a DuckDB oracle implementing the
identical algorithm (portable primitives only — md5 for hashing, string
min for minhash — so both engines compute bit-identical signatures):

  * exact dedup — normalized-content hash groupBy.
  * MinHash + LSH — shingle → per-seed minhash (min over md5 hex strings)
    → band keys → bucket join for candidate pairs. The scale path: candidate
    generation is a hash-shuffle on band keys, never an all-pairs join.
  * SimHash — 16-bit signed-sum fingerprint over token hashes.
  * n-gram Jaccard — exact similarity on shingle sets for candidate pairs
    that share ≥1 shingle (explode + equi-join + group).
  * embedding near-dup — cosine threshold within label partitions.

Scale posture (100 TB): everything is explode → hash-shuffle → hash-agg;
the only joins are equi-joins on shingle/band/bucket keys. All-pairs work
only ever happens within a bucket/candidate group. For skewed shingles
(stop-phrases), drop top-frequency shingles before the join (documented
knob in jaccard_candidate_pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka2delta_spark.queryset import register
from kafka2delta_spark.functions.measure import ascii_lower
from kafka2delta_spark.sources.tables import load_embeddings, load_table, memo

N_MINHASH = 8  # minhash permutations (seeds)
BAND_SIZE = 2  # → 4 bands of 2 signatures each
# Candidate-explosion guards: a bucket of b docs emits C(b,2) pairs, so one
# stop-phrase shingle shared by 1M docs would emit 5e11 pairs. Buckets wider
# than the cap are dropped from candidate generation on BOTH engines (for
# q88 the capped shingles leave the shingle space entirely, so Jaccard stays
# exact on the reduced space). Pair output is bounded by n_buckets * C(cap,2).
SHINGLE_DF_CAP = 64  # q88: max docs sharing a shingle
BAND_BUCKET_CAP = 64  # q86: max docs colliding in one band
# Adaptive-cap knob: fraction of the bucket-width distribution kept.
CAP_QUANTILE = 0.99


def adaptive_candidate_cap(
    bucket_sizes: DataFrame,
    size_col: str,
    quantile: float = CAP_QUANTILE,
    floor: int = BAND_BUCKET_CAP,
) -> int:
    """Candidate-explosion cap derived from the observed bucket-width
    distribution instead of a constant.

    Why a constant cap doesn't survive scale-up: at 100x the corpus the
    same shingle/band keys collect ~100x the documents, so a fixed cap of
    64 silently drops a much larger FRACTION of the shingle/band space —
    recall degrades with growth while the pair bound stays flat. Capping
    at a quantile of the width distribution keeps the dropped fraction
    constant (1 - quantile) at any scale: for Zipf-shaped document
    frequencies the P99 width grows ~logarithmically with corpus size, so
    the pair bound n_buckets * C(cap, 2) grows polylog — bounded — while
    recall characteristics are preserved.

    One extra hash-agg job over the (already aggregated, bucket-count-
    sized) width distribution via distributed t-digest
    (``approx_percentile``, accuracy 10000 → error < 0.01%); the driver
    receives one scalar. ``floor`` keeps tiny corpora at the constant cap
    so small-scale results (and the fixed-cap oracles) are unchanged.
    """
    q = bucket_sizes.select(
        F.expr(f"approx_percentile({size_col}, {quantile}, 10000)").alias("q")
    ).collect()[0]["q"]
    return max(floor, int(q or 0))


def pairs_within_groups(
    grouped: DataFrame, out_a: str = "doc_a", out_b: str = "doc_b"
) -> DataFrame:
    """Expand each bucket's sorted id list into ordered (a < b) pairs.

    Input: one row per bucket with an array column ``ids`` (pre-sorted).
    Native-expression pair expansion — for each position i, pair ids[i]
    with every later element — then explode. Replaces the classic
    bucket self-join: one scan and one shuffle instead of two scans,
    two shuffles, and a join, and the upstream pipeline (tokenize /
    shingle / minhash) is evaluated once instead of twice.

    Scale note: output is quadratic in bucket size, exactly like the
    self-join it replaces — callers must bound bucket size upstream
    (shingle width, band width, or a document-frequency cap)."""
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return grouped.select(
        *[c for c in grouped.columns if c != "ids"],
        F.explode(pair_structs).alias("p"),
    ).select(
        *[c for c in grouped.columns if c != "ids"],
        F.col("p.a").alias(out_a),
        F.col("p.b").alias(out_b),
    )


def shingles_sql(col: str = "text", k: int = 3) -> str:
    """DuckDB: distinct k-token shingles of a text column.

    Built from O(1) element indexing, NOT ``toks[i:i+n]`` slices — DuckDB
    evaluates a list slice inside a comprehension by copying the OUTER
    list per element (measured: 100k slices of a 2.4M-token list never
    finish, while 2.4M indexed concats take 0.5 s), so the slice form is
    O(len²) on the pathological fixture's multi-MB documents."""
    elems = ", ".join(f"toks[i + {j}]" for j in range(k))
    return (
        f"list_distinct([concat_ws(' ', {elems}) "
        f"for i in range(1, len(toks) - {k - 2})])"
    )


def shingles_col(toks: Column, k: int = 3) -> Column:
    """Spark: distinct k-token shingles from a token array (native exprs).

    Uses ``slice`` + ``array_join`` rather than per-offset ``element_at``:
    a lambda that indexes the outer array k times defeats codegen and
    measures ~6x slower under ``explode`` (4.7s vs 0.8s on 260k shingles).
    """
    idx = F.sequence(F.lit(1), F.size(toks) - (k - 1))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
    )


def shingle_rows(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle) rows for the documents table.

    Shingles are built with window ``lead`` over position-exploded tokens
    — pure whole-stage-codegen expressions — instead of array
    higher-order functions, whose lambdas execute interpreted per element:
    3x faster end-to-end at bench scale even though it adds a shuffle
    (partition by doc, sort by int position). Trade-off note for 100 TB:
    the HOF form (``shingles_col``) shuffles nothing — prefer it if the
    cluster is shuffle-bound rather than CPU-bound."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    tok_t = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split(ascii_lower(F.col("text")), r"\s+").alias("toks"))
        .filter(F.size("toks") >= k)
    )
    tok_rows = tok_t.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", off).over(w) for off in range(1, k)]
    return (
        tok_rows.select(
            "doc_id",
            F.concat_ws(" ", F.col("tok"), *leads).alias("shingle"),
            leads[-1].alias("last_tok"),
        )
        .filter(F.col("last_tok").isNotNull())
        .select("doc_id", "shingle")
        .distinct()
    )


def shingle_rows_cached(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """Session-memoized :func:`shingle_rows`, keyed on ``k`` (values
    identical; the memo only changes WHERE the explode pipeline's cost is
    paid). Eight k=3 consumers (minhash bands, pair stats, prefix-filter
    join, source overlap, novelty curve, band sweep, vocab coverage,
    weighted Jaccard) each re-shingled the corpus per query; in
    production this is ONE materialized postings table refreshed per
    ingest, and the memo mirrors that shape."""
    return memo(
        spark, "shingle_rows", sf_dir, k,
        build=lambda: shingle_rows(spark, sf_dir, k).localCheckpoint(eager=False),
    )


@register(
    "q85_exact_dedup",
    oracle=r"""
    WITH norm AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')), ' '))
                   AS content_key
        FROM documents)
    SELECT CAST(COUNT(*) AS BIGINT)                      AS n_docs,
           CAST(COUNT(DISTINCT content_key) AS BIGINT)   AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT content_key) AS BIGINT) AS n_dups,
           CAST(MIN(doc_id) AS BIGINT)                   AS first_doc
    FROM norm
    """,
)
def q85_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a normalized content key (sorted lowercase token bag
    → order-insensitive duplicates count as dups). Hash-groupBy — one
    shuffle of (key, 1) pairs; at 100 TB, keys are 16-byte hashes, not
    documents."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(
        F.array_join(F.array_sort(F.split(ascii_lower(F.col("text")), r"\s+")), " ")
    )
    return docs.select("doc_id", key.alias("content_key")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("content_key").alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct("content_key")).alias("n_dups"),
        F.min("doc_id").alias("first_doc"),
    )


_MINHASH_SQL = ", ".join(
    f"list_min([md5('{seed}:' || s) for s in sh]) AS mh{seed}"
    for seed in range(N_MINHASH)
)
_BANDS = [
    (b, [f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE)])
    for b in range(N_MINHASH // BAND_SIZE)
]
_BAND_SQL = ", ".join(
    f"({' || '.join(cols)}) AS band{b}" for b, cols in _BANDS
)
_BAND_UNNEST_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, band{b} AS band_key FROM banded"
    for b, _ in _BANDS
)


@register(
    "q86_minhash_lsh_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS toks
        FROM documents),
    sh_t AS (
        SELECT doc_id, {shingles_sql()} AS sh FROM t WHERE len(toks) >= 3),
    mh AS (
        SELECT doc_id, {_MINHASH_SQL} FROM sh_t),
    banded AS (
        SELECT doc_id, {_BAND_SQL} FROM mh),
    bands AS ({_BAND_UNNEST_SQL}),
    widths AS (
        SELECT band_id, band_key, COUNT(*) AS w
        FROM bands GROUP BY band_id, band_key)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(DISTINCT a.band_id) AS BIGINT) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    JOIN widths w ON w.band_id = a.band_id AND w.band_key = a.band_key
    WHERE w.w <= {BAND_BUCKET_CAP}
    GROUP BY a.doc_id, b.doc_id
    """,
)
def q86_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: 8 minhashes, 4 bands × 2 rows. A pair
    is a candidate iff it collides in ≥1 band. Candidate generation is
    one hash shuffle on band keys → in-bucket pair expansion (see
    pairs_within_groups) — all-pairs comparison never happens and the
    minhash pipeline is evaluated once, not twice as with a self-join.
    Signatures are md5 hex strings so the oracle computes bit-identical
    values. Minhashes are computed in exploded (doc_id, shingle) space —
    8 codegen'd md5 projections + one hash-agg of mins — not inside an
    interpreted array-lambda. Registered with the constant cap (the
    oracle's literal); production scale-up passes cap="adaptive" — see
    minhash_lsh_pairs / adaptive_candidate_cap."""
    return minhash_lsh_pairs(spark, sf_dir, cap=BAND_BUCKET_CAP)


def band_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band_id, band_key) LSH band keys for every document —
    the shared index both full-corpus pairing (q86) and incremental
    new-vs-corpus dedup (qx04) bucket on. Minhashes are computed in
    exploded (doc_id, shingle) space — 8 codegen'd md5 projections + one
    hash-agg of mins — not inside an interpreted array-lambda."""
    sh = shingle_rows_cached(spark, sf_dir)
    hashed = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("shingle"))).alias(f"h{seed}")
            for seed in range(N_MINHASH)
        ],
    )
    mh = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{seed}").alias(f"mh{seed}") for seed in range(N_MINHASH)]
    )
    banded = mh.select(
        "doc_id",
        *[F.concat(*[F.col(c) for c in cols]).alias(f"band{b}") for b, cols in _BANDS],
    )
    return banded.selectExpr(
        "doc_id",
        f"stack({len(_BANDS)}, "
        + ", ".join(f"{b}, band{b}" for b, _ in _BANDS)
        + ") AS (band_id, band_key)",
    )


def minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, cap: int | str = BAND_BUCKET_CAP
) -> DataFrame:
    """q86's core with the candidate-explosion cap as a knob: an int, or
    ``"adaptive"`` to derive it from the P99 of the band-bucket width
    distribution (constant dropped fraction at any corpus size)."""
    bands = band_rows(spark, sf_dir)
    widths = bands.groupBy("band_id", "band_key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    if cap == "adaptive":
        # the quantile is an extra eager job over the bucket widths, so
        # persist them — the pair-expansion scan below reuses the
        # materialized buckets instead of re-running the minhash pipeline
        widths = widths.persist()
        cap = adaptive_candidate_cap(
            widths.select(F.size("ids").alias("w")), "w"
        )
    buckets = widths.filter(F.size("ids").between(2, cap))
    return (
        pairs_within_groups(buckets)
        .groupBy("doc_a", "doc_b")
        .agg(F.count_distinct("band_id").alias("n_shared_bands"))
    )


# Shared CTE chain computing (doc_id, simhash) — reused by the q87 and
# q87b oracles so both engines derive pairs from the identical fingerprint.
_SIMHASH_CTES = (
    r"""tok AS (
        SELECT doc_id, unnest(list_distinct(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+'))) AS tok
        FROM documents),
    h AS (SELECT doc_id, md5(tok) AS hx FROM tok),
    bits AS (
        SELECT doc_id,
               """
    + ",\n               ".join(
        f"SUM(CASE WHEN substring(hx, {b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    + r"""
        FROM h GROUP BY doc_id),
    fp AS (
        SELECT doc_id,
               """
    + " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    + r""" AS simhash
        FROM bits)"""
)


@register(
    "q87_simhash_fingerprints",
    oracle=f"WITH {_SIMHASH_CTES} SELECT doc_id, simhash FROM fp",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) — 16-bit SimHash per document: each distinct token
    votes ±1 per bit position (bit b of md5 nibble b), fingerprint = bits
    with positive sum. Explode + hash-agg — one shuffle on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(ascii_lower(F.col("text")), r"\s+"))
    tok = docs.select("doc_id", F.explode(toks).alias("tok"))
    h = tok.select("doc_id", F.md5("tok").alias("hx"))
    bit_sums = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring("hx", b + 1, 1) >= "8", 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(16)
        ]
    )
    fingerprint = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bit_sums.select("doc_id", fingerprint.cast("bigint").alias("simhash"))


# SimHash neighbor pairing: 16-bit fingerprint split into 4 bands × 4 bits.
# Pigeonhole: a pair at Hamming distance ≤ 3 differs in at most 3 bands, so
# it MUST collide in ≥ 1 band — banded candidate generation + exact
# verification is EXACT (recall 1.0) for hd ≤ HAMMING_MAX = bands - 1.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 4
HAMMING_MAX = SIMHASH_BANDS - 1


@register(
    "q87b_simhash_hamming_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
)
def q87b_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming distance ≤ {HAMMING_MAX}.

    Two-level: dedup to UNIQUE fingerprints first, pair those, then expand
    back to documents — because near-dup corpora collapse many docs onto
    one fingerprint (this corpus: 5000 docs → ~1000 fingerprints), so
    pairing docs directly makes bucket sizes (and the in-bucket quadratic
    term) track document count instead of fingerprint count.

      1. Banded-bits LSH over unique fingerprints: band b = bits
         [4b, 4b+4); fingerprints sharing any band value are candidates
         (hash shuffle on (band_id, band_val) → in-bucket pair expansion,
         the q86 shape); verify exactly with ``bit_count(a XOR b)``.
         Pigeonhole: hd ≤ 3 differs in ≤ 3 of 4 bands → always collides
         somewhere → EXACT (recall 1.0). The oracle brute-forces all doc
         pairs and must agree exactly.
      2. Doc expansion is plain codegen equi-joins on the fingerprint:
         same-fingerprint pairs (hd 0) via self-join, cross-fingerprint
         pairs via fp-pair ⋈ docs ⋈ docs — no giant collect_list buckets.

    Scale: at 100 TB widen the fingerprint (64-bit simhash, 16-bit bands)
    rather than capping buckets — a cap would break the exactness
    guarantee; the doc-expansion joins are output-bound, and the output is
    genuinely quadratic only where the corpus genuinely is."""
    # fp feeds five subtrees (uniq, both sides of the hd-0 self-join, both
    # doc expansions); checkpoint the ~1-row-per-doc (doc_id, simhash)
    # result once instead of re-running the tokenize→explode→md5→hash-agg
    # corpus scan per subtree (the q98 shared-edge-list pattern).
    fp = simhash_fingerprints(spark, sf_dir).localCheckpoint(eager=True)
    uniq = fp.select("simhash").distinct()
    stack_args = ", ".join(
        f"{b}, cast(shiftright(simhash, {b * SIMHASH_BAND_BITS}) & "
        f"{(1 << SIMHASH_BAND_BITS) - 1} as int)"
        for b in range(SIMHASH_BANDS)
    )
    bands = uniq.selectExpr(
        "simhash",
        f"stack({SIMHASH_BANDS}, {stack_args}) AS (band_id, band_val)",
    )
    buckets = (
        bands.groupBy("band_id", "band_val")
        .agg(F.sort_array(F.collect_list("simhash")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    fp_pairs = (
        pairs_within_groups(buckets, "fa", "fb")
        .select("fa", "fb")
        .distinct()
        .filter(
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))) <= HAMMING_MAX
        )
    )
    # hd = 0: docs sharing a fingerprint (self-join, ordered)
    a, b = fp.alias("a"), fp.alias("b")
    same = a.join(
        b,
        (F.col("a.simhash") == F.col("b.simhash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.lit(0).alias("hamming"),
    )
    # hd ≥ 1: every doc with fingerprint fa × every doc with fb (fa < fb
    # canonically, so each unordered doc pair appears exactly once).
    # fp_pairs scales with UNIQUE fingerprints — which approaches corpus
    # cardinality on a diverse corpus — so it is never force-broadcast;
    # the join hashes on the fingerprint key and AQE broadcasts fp_pairs
    # at runtime only when it is actually small.
    cross = (
        fp.alias("da")
        .join(fp_pairs, F.col("da.simhash") == F.col("fa"))
        .join(fp.alias("db"), F.col("fb") == F.col("db.simhash"))
        .select(
            F.least("da.doc_id", "db.doc_id").alias("doc_a"),
            F.greatest("da.doc_id", "db.doc_id").alias("doc_b"),
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
            .cast("int")
            .alias("hamming"),
        )
    )
    return same.unionByName(cross)


# q88's full oracle, shared: q98 re-derives its edge set from this exact
# statement so both engines cluster the identical similarity graph.
_JACCARD_PAIRS_SQL = f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS toks
        FROM documents),
    sh_t AS (
        SELECT doc_id, {shingles_sql(k=3)} AS sh FROM t WHERE len(toks) >= 3),
    raw_ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh_t),
    df AS (SELECT shingle, COUNT(*) AS n_docs FROM raw_ex GROUP BY shingle),
    ex AS (SELECT r.doc_id, r.shingle
           FROM raw_ex r JOIN df USING (shingle)
           WHERE df.n_docs <= {SHINGLE_DF_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(n_common * 1.0 / (sa.sz + sb.sz - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.12
    """


@register("q88_jaccard_similar_pairs", oracle=_JACCARD_PAIRS_SQL)
def q88_jaccard_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (trigram-shingle) Jaccard similarity for pairs sharing
    ≥1 shingle. Candidates come from one shuffle on the shingle hash →
    in-bucket pair expansion (pairs_within_groups), intersection counts
    from a hash-agg; set sizes broadcast back. Shingle width is the candidate-explosion knob: k=3 keeps
    per-shingle document frequency (and the join's quadratic blowup) low —
    k=2 on this vocabulary is ~10x the join output for the same final
    pairs. Shingles shared by more than SHINGLE_DF_CAP docs (stop phrases)
    are dropped from the shingle space before candidates AND set sizes, so
    Jaccard stays exact on the reduced space while pair output is bounded
    by n_shingles * C(cap, 2); both derive from one groupBy(shingle) whose
    exchange the plan reuses (ReusedExchange). Registered with the
    constant cap (the oracle's literal); production scale-up passes
    cap="adaptive" — see jaccard_similar_pairs / adaptive_candidate_cap."""
    return jaccard_similar_pairs(spark, sf_dir, cap=SHINGLE_DF_CAP)


def _shingle_pair_stats(
    spark: SparkSession, sf_dir: str, cap: int | str = SHINGLE_DF_CAP
) -> DataFrame:
    """Shared candidate-pair statistics for q88 (Jaccard) and qx24
    (containment): one row per in-bucket pair with the intersection size
    and both set sizes attached. The document-frequency cap is a knob: an
    int, or ``"adaptive"`` to derive it from the P99 of the docs-per-
    shingle distribution (constant dropped fraction at any corpus size).
    Output is memoized per (session, sf_dir, cap): q88, qx24 and the q98
    edge chain all consume this pipeline, whose cost is the shingle
    shuffle, not the pair rows (bounded by n_shingles * C(cap, 2), tiny
    next to the corpus)."""
    return memo(
        spark, "pair_stats", sf_dir, cap,
        build=lambda: _shingle_pair_stats_uncached(
            spark, sf_dir, cap
        ).localCheckpoint(eager=False),
    )


def _shingle_pair_stats_uncached(
    spark: SparkSession, sf_dir: str, cap: int | str
) -> DataFrame:
    ex = shingle_rows_cached(spark, sf_dir, k=3)
    by_shingle = ex.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    if cap == "adaptive":
        # extra eager quantile job → persist so sizes/buckets below reuse
        # the materialized shingle groups instead of re-shingling
        by_shingle = by_shingle.persist()
        cap = adaptive_candidate_cap(
            by_shingle.select(F.size("ids").alias("w")), "w",
            floor=SHINGLE_DF_CAP,
        )
    grouped = by_shingle.filter(F.size("ids") <= cap)
    sizes = (
        grouped.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("sz"))
    )
    buckets = grouped.filter(F.size("ids") > 1)
    inter = (
        pairs_within_groups(buckets)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # Size lookup is per-document (corpus cardinality) — NEVER force-
    # broadcast it: Spark hard-fails broadcasts > 8 GB, so a hint that is
    # harmless at sf0.1 kills the query at 100 TB. Plain key joins keep
    # the single-pass shingle-exchange reuse (sizes and inter share one
    # groupBy(shingle) shuffle) and stay scale-safe: the pair side is
    # bounded by n_shingles·C(cap,2), so AQE broadcasts THAT side at
    # runtime; at worst this degrades to a shuffle hash join on doc id.
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_similar_pairs(
    spark: SparkSession, sf_dir: str, cap: int | str = SHINGLE_DF_CAP
) -> DataFrame:
    """q88's core over :func:`_shingle_pair_stats`."""
    stats = _shingle_pair_stats(spark, sf_dir, cap)
    jac = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        stats.filter(jac >= 0.12)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# Near-dup clustering: connected components over the verified Jaccard
# similarity graph (q88's edges), then one canonical doc per cluster — the
# step an actual dedup pipeline runs AFTER pair generation, since "keep one
# of each pair" is wrong when A~B and B~C but A!~C (the whole chain is one
# duplicate group). Label propagation converges in O(diameter) rounds;
# near-dup components are dense, so diameter is small. 20 is a safety cap,
# not an accuracy knob — convergence is detected exactly, and hitting the
# cap without a fixpoint raises instead of returning split components.
CC_MAX_ITERS = 20


#: target rows per task for ITERATIVE loop state (CC labels, star edges,
#: k-core alive sets). Small states collapse to a handful of partitions;
#: the session default always caps the result, so big states keep full
#: cluster parallelism.
LOOP_ROWS_PER_TASK = 50_000


def _loop_partitions(spark, n_rows: int, default_parts: int) -> int:
    """Scale-adaptive shuffle-partition count for one fixpoint round.

    Iterative graph loops re-shuffle a state frame that is usually TINY
    (near-dup labels, alive vertex sets) dozens of times; with shuffle
    partitions pinned to the session default (= cores on local, O(cores)
    on a cluster) every round schedules a cluster-width wave of mostly
    empty tasks, so per-round fixed cost GROWS with cluster size while
    the state does not — the r12 core-scaling study measured qx66 at
    0.27x (5.3 s on 32 cores vs 1.45 s on 8) from exactly this. Deriving
    the next round's partition count from the measured state size keeps
    small loops narrow and large loops at full width (min(default, ...)
    never lowers parallelism for data that needs it)."""
    return max(1, min(default_parts, n_rows // LOOP_ROWS_PER_TASK + 1))


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iters: int = CC_MAX_ITERS
) -> DataFrame:
    """(node, label) with label = min node id of each component.

    ``nodes``: one column ``node``; ``edges``: columns ``doc_a``/``doc_b``
    (undirected, any orientation). Iterative min-label propagation; each
    round = join + hash-agg + one metadata-sized convergence sum. Labels
    only decrease, so an unchanged decimal checksum is an exact fixpoint
    proof. ``localCheckpoint`` truncates lineage per round.

    The loop runs over EDGE-TOUCHED nodes only: a node with no edges can
    never change label, and in a near-dup graph the touched set is a small
    fraction of the corpus — so at 100 TB the per-round shuffles are sized
    by the duplicate graph, not the dataset, and the full node set joins
    back exactly once at the end (left join, label defaulting to self)."""
    und = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    # checkpoints are LAZY: the convergence aggregate below is the round's
    # only action and materializes the checkpoint as it runs — one job per
    # round instead of two (eager materialize + probe). Safe here because
    # labels are min-aggregates: any recompute is bit-identical.
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    prev_sum = None
    converged = False
    # scale-adaptive rounds: the convergence aggregate already scans the
    # new labels, so the row count rides the same job and sizes the NEXT
    # round's shuffle (see _loop_partitions). Conf is scoped + restored.
    spark = nodes.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    default_parts = int(prev_parts)
    try:
        for _ in range(max_iters):
            nbr = und.join(labels, F.col("src") == F.col("node")).select(
                F.col("dst").alias("node"), F.col("label")
            )
            labels = (
                labels.unionByName(nbr)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=False)
            )
            row = labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            ).first()
            cur_sum = row["s"]
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
            # label count sizes the next round's reduce side (conf) AND
            # the edge frame's map side (narrow coalesce — edge rows are
            # a small multiple of touched nodes in a capped dup graph);
            # round 1 deliberately runs at full width, it does the bulk
            # of the propagation.
            parts = _loop_partitions(spark, row["n"], default_parts)
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            if parts < default_parts:
                und = und.coalesce(parts)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if not converged:
        # Returning silently would split long chain components into
        # multiple cluster_ids (and keep multiple "canonical" docs from one
        # duplicate group) with nothing signalling it. Min-label
        # propagation needs O(component diameter) rounds, so a hit cap
        # means the graph has a chain longer than max_iters — exactly the
        # regime connected_components_twophase handles in O(log n) rounds.
        raise RuntimeError(
            f"connected_components did not reach a fixpoint in {max_iters} "
            "rounds (component diameter exceeds the cap); raise max_iters "
            "or use connected_components_twophase"
        )
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("label", "node").alias("label")
    )


def _star_round(und: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star contraction over a directed neighbor
    list ``(u, v)`` (both orientations present). For each u with
    m = min(neighbors ∪ {u}): large-star rewires every neighbor v > u to
    m; small-star rewires every neighbor v <= u (and u itself) to m.
    Emitted edges are returned undirected-deduped as (lo, hi) pairs."""
    m = und.groupBy("u").agg(F.min("v").alias("__mv")).select(
        "u", F.least(F.col("__mv"), F.col("u")).alias("m")
    )
    joined = und.join(m, "u")
    if large:
        out = joined.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
    else:
        rewired = joined.filter(F.col("v") <= F.col("u")).select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
        self_edge = joined.select(F.col("u").alias("a"), F.col("m").alias("b"))
        out = rewired.unionByName(self_edge)
    return (
        out.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
    )


def connected_components_twophase(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """Same contract as :func:`connected_components` — (node, label) with
    label = component min — via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): each pair of rounds at least halves tree heights, so
    convergence is O(log n) ROUNDS REGARDLESS OF DIAMETER, where label
    propagation needs O(diameter). This is the adversarial-graph path —
    chain-shaped components (crawl rings, boilerplate link chains) that
    would blow label propagation's round cap contract here in a handful
    of rounds. Per round: one hash-agg (per-node min) + one join, both
    sized by the CURRENT edge set, which only shrinks as stars form.

    Convergence: the edge multiset is a fixpoint when a full
    large+small round leaves the canonical (lo, hi) edge set unchanged
    (checked by count + decimal checksum — contraction only ever rewires
    toward minima, so an unchanged pair is an exact fixpoint). At the
    fixpoint every edge is (component-min, member): labels read off as
    min neighbor per node."""
    und = (
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(edges.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = und.select(
        F.least("u", "v").alias("lo"), F.greatest("u", "v").alias("hi")
    ).distinct()
    prev_sig = None
    converged = False
    # scale-adaptive rounds (see _loop_partitions): the signature agg
    # already returns the edge count, which sizes the next round's
    # shuffles; conf is scoped + restored.
    spark = nodes.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    default_parts = int(prev_parts)
    try:
        for _ in range(max_rounds):
            und_dir = cur.select(
                F.col("lo").alias("u"), F.col("hi").alias("v")
            ).union(cur.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
            after_large = _star_round(und_dir, large=True)
            und_dir2 = after_large.select(
                F.col("lo").alias("u"), F.col("hi").alias("v")
            ).union(
                after_large.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
            )
            cur = _star_round(und_dir2, large=False).localCheckpoint(eager=True)
            sig = cur.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    (F.col("lo") * 1_000_003 + F.col("hi")).cast("decimal(38,0)")
                ).alias("s"),
            ).first()
            sig = (sig["n"], sig["s"])
            if sig == prev_sig:
                converged = True
                break
            prev_sig = sig
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(_loop_partitions(spark, sig[0] * 2, default_parts)),
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if not converged:
        raise RuntimeError(
            f"two-phase CC did not converge in {max_rounds} rounds "
            "(log-round contraction should converge in ~log2(n); "
            "check the edge data)"
        )
    # at the fixpoint each component is a star centered at its min
    labels = (
        cur.select(F.col("hi").alias("node"), F.col("lo").alias("label"))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("label", "node").alias("label")
    )


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized q88 output (doc_a, doc_b, jaccard) — ONE
    materialized pair table feeds every similarity-graph consumer (q98
    clustering, qx06 leakage-safe split, qx66 k-core, ...); deriving it
    per consumer would repeat the most expensive stage of each."""
    return memo(
        spark, "jaccard_edges", sf_dir,
        build=lambda: q88_jaccard_similar_pairs(spark, sf_dir).localCheckpoint(
            eager=True
        ),
    )


def _jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")


def _neardup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized q98 component labels (node, label) over the
    shared Jaccard edge list. Five queries consume this assignment
    (q98, qx06, qx17, qx68 via q98, qx97 via qx06); before this cache
    each of them re-ran the whole driver-synchronized CC fixpoint loop
    per call even though the edge list itself was shared. Same pattern
    (and same justification) as :func:`_jaccard_pairs`: one
    materialization per session of an intermediate that is recomputed
    from the parquet inputs on every fresh session."""

    def build() -> DataFrame:
        nodes = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("node")
        )
        return connected_components(
            nodes, _jaccard_edges(spark, sf_dir)
        ).localCheckpoint(eager=False)

    return memo(spark, "neardup_labels", sf_dir, build=build)


@register(
    "q98_neardup_clusters",
    oracle=f"""
    WITH RECURSIVE edges AS (SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS_SQL}) jp),
    und AS (SELECT doc_a AS a, doc_b AS b FROM edges
            UNION ALL SELECT doc_b, doc_a FROM edges),
    reach AS (
        SELECT doc_id AS node, doc_id AS root FROM documents
        UNION
        SELECT u.b AS node, r.root FROM reach r JOIN und u ON u.a = r.node),
    cl AS (SELECT node, MIN(root) AS cluster_id FROM reach GROUP BY node)
    SELECT node AS doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           (node = cluster_id) AS is_canonical
    FROM cl
    """,
)
def q98_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components of the q88 Jaccard
    graph via iterative min-label propagation, cluster id = min doc_id in
    the component, every doc assigned (singletons are their own cluster),
    ``is_canonical`` marks the one doc per cluster a pipeline keeps.

    Plan: the edge list is materialized ONCE (``localCheckpoint`` — it is
    tiny relative to the corpus: near-dup pairs, not documents), then each
    round is one equi-join (labels ⋈ out-edges) + one hash-agg (min label
    per node) + one metadata-sized sum for convergence. Labels only ever
    decrease, so an unchanged checksum (decimal sum of labels — overflow-
    safe at any doc count) proves the exact fixpoint; the oracle's
    recursive CTE computes the same components declaratively.
    ``localCheckpoint`` per round truncates lineage so the plan does not
    grow with iterations. At 100 TB: rounds = component diameter (small
    for near-dup graphs); for adversarial long-chain graphs
    :func:`connected_components_twophase` (alternating large-star/
    small-star, log-round contraction) is implemented and
    equivalence-tested — label propagation stays the default because a
    round costs half as much and near-dup diameters are small."""
    labels = _neardup_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


# Near-dup LSH layout: 2 tables x 8 hyperplane bits (256 buckets/table),
# reusing the 16 deterministic planes shared with q91. More bits -> smaller
# buckets (pair space ~ sum of bucket^2); more tables -> higher recall.
ND_TABLES = 2
ND_BITS = 8


def _neardup_oracle() -> str:
    from kafka2delta_spark.functions.similarity import plane_bucket_sql

    bucket_cols = ", ".join(
        f"{plane_bucket_sql(t * ND_BITS, ND_BITS)} AS b{t}" for t in range(ND_TABLES)
    )
    unnest = " UNION ALL ".join(
        f"SELECT vec_id, b{t} AS bucket, {t} AS tbl FROM n" for t in range(ND_TABLES)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE embedding IS NOT NULL),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                 {bucket_cols}
          FROM e),
    hashed AS ({unnest}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM hashed a JOIN hashed b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT c.vec_a, c.vec_b,
           ROUND(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS cosine
    FROM cand c
    JOIN n x ON x.vec_id = c.vec_a
    JOIN n y ON y.vec_id = c.vec_b
    WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) > 0.35
    """


@register("q89_embedding_near_dups", oracle=_neardup_oracle())
def q89_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicates at scale: sign-LSH bucket candidates,
    exact-cosine verification, threshold after exact scoring.

    Candidates come from 2 LSH tables x 8 deterministic hyperplane bits
    (planes shared with q91's ANN): a pair is compared iff it collides in
    at least one table, so the pair space is bounded by bucket size — at
    100x the corpus, buckets grow 100x but the all-pairs blowup stays
    inside buckets (and the bit count is the knob that shrinks them),
    unlike the label-partitioned all-pairs this replaces. Each bucket
    carries (vec_id, v, nrm) structs so scoring needs no join-back; pairs
    colliding in both tables dedup on (vec_a, vec_b) before emit. Dot
    products go through :func:`similarity.dot` — HOF ``aggregate`` by
    default (bit-identical to the oracle's ``list_dot_product``), numpy
    pandas_udf when ``K2D_VECTORIZED_DOT=1`` (the production path)."""
    from kafka2delta_spark.functions.similarity import dot, plane_bucket_spark

    emb = load_embeddings(spark, sf_dir)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    e = emb.select("vec_id", v.alias("v"))
    n = e.select(
        "vec_id",
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        *[
            plane_bucket_spark(F.col("v"), t * ND_BITS, ND_BITS).alias(f"b{t}")
            for t in range(ND_TABLES)
        ],
    )
    hashed = n.selectExpr(
        "vec_id",
        "v",
        "nrm",
        f"stack({ND_TABLES}, "
        + ", ".join(f"{t}, b{t}" for t in range(ND_TABLES))
        + ") AS (tbl, bucket)",
    )
    buckets = (
        hashed.groupBy("tbl", "bucket")
        .agg(
            F.sort_array(F.collect_list(F.struct("vec_id", "v", "nrm"))).alias("ids")
        )
        .filter(F.size("ids") > 1)
    )
    pairs = pairs_within_groups(buckets, "pa", "pb")
    cos = dot(F.col("pa.v"), F.col("pb.v")) / (F.col("pa.nrm") * F.col("pb.nrm"))
    return (
        pairs.select(
            F.col("pa.vec_id").alias("vec_a"),
            F.col("pb.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") > 0.35)
        .groupBy("vec_a", "vec_b")
        .agg(F.round(F.min("cosine"), 4).alias("cosine"))
    )


# Boilerplate detection: fixed-width token chunks shared across documents.
# The sub-document analogue of exact dedup — real pipelines strip repeated
# headers/footers/navigation at paragraph granularity; this corpus has no
# paragraph delimiters, so the unit is a non-overlapping 8-token chunk.
BOILER_CHUNK = 8
BOILER_MIN_DOCS = 3


@register(
    "q67_boilerplate_chunks",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+') AS toks
        FROM documents),
    chunks AS (
        SELECT doc_id,
               -- indexed concat, not a list slice (slices copy the
               -- outer list per element, O(len²) on multi-MB docs)
               unnest([md5(concat_ws(' ',
                           {", ".join(f"toks[(i-1)*{BOILER_CHUNK} + {j}]" for j in range(1, BOILER_CHUNK + 1))}))
                       for i in range(1, len(toks)//{BOILER_CHUNK} + 1)])
                   AS chunk_hash
        FROM t)
    SELECT chunk_hash, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM chunks
    GROUP BY chunk_hash
    HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
    """,
)
def q67_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunks of {BOILER_CHUNK} tokens appearing verbatim in ≥
    {BOILER_MIN_DOCS} distinct documents — boilerplate candidates a
    pipeline would strip before training.

    Plan: per-doc chunking is a native ``transform`` over chunk indices
    (``slice`` + ``array_join`` — no outer-array ``element_at`` indexing,
    the interpreted-lambda trap), then explode → md5 → one hash-agg on the
    16-byte chunk hash. Embarrassingly parallel; distinct-doc counting is
    a partial-aggregated count_distinct on a key that CANNOT be skewed
    past corpus size — and at 100 TB the output (shared chunks) is tiny
    relative to input, so nothing downstream blows up.

    The token array is bound as a named ALIAS in a child projection
    before the lambda touches it: the earlier shape captured the raw
    ``split(...)`` EXPRESSION in the lambda, and non-lambda
    subexpressions inside a higher-order function are re-evaluated per
    element — the 16.9 MB pathological doc re-split its body once per
    chunk index (187k × O(len), a never-finishing task). With the alias,
    CollapseProject keeps the projections separate (a non-cheap alias
    referenced more than once is not inlined), so the split runs once
    per row and no shuffle is needed — an earlier repartition-barrier
    variant measured 2.4× slower on the 50k-doc clean corpus for the
    same protection."""
    docs = load_table(spark, sf_dir, "documents")
    tok_t = docs.select(
        "doc_id", F.split(ascii_lower(F.col("text")), r"\s+").alias("toks")
    )
    toks = F.col("toks")
    n_chunks = F.floor(F.size(toks) / BOILER_CHUNK).cast("int")
    # sequence(1, 0) yields a DESCENDING [1, 0] (Spark defaults step to -1
    # when start > stop), which would emit two bogus chunks for a
    # sub-{BOILER_CHUNK}-token doc; guard with an explicit empty array.
    idx = F.when(n_chunks >= 1, F.sequence(F.lit(1), n_chunks)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        idx,
        lambda i: F.md5(
            F.array_join(F.slice(toks, (i - 1) * BOILER_CHUNK + 1, BOILER_CHUNK), " ")
        ),
    )
    return (
        tok_t.select("doc_id", F.explode(chunks).alias("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
    )


# Incremental dedup: the shape production pipelines actually run — a NEW
# ingest batch checked against the already-deduped corpus, never
# all-pairs over everything. "New" is a deterministic fifth of doc ids
# (doc_id % 5 == 4) so both engines carve the identical split.
NEW_MOD = 5
NEW_REMAINDER = 4


def _incdedup_oracle() -> str:
    return f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS toks
        FROM documents),
    sh_t AS (
        SELECT doc_id, {shingles_sql()} AS sh FROM t WHERE len(toks) >= 3),
    mh AS (
        SELECT doc_id, {_MINHASH_SQL} FROM sh_t),
    banded AS (
        SELECT doc_id, {_BAND_SQL} FROM mh),
    bands AS ({_BAND_UNNEST_SQL}),
    widths AS (
        SELECT band_id, band_key, COUNT(*) AS w
        FROM bands GROUP BY band_id, band_key),
    cand AS (
        SELECT CASE WHEN a.doc_id % {NEW_MOD} = {NEW_REMAINDER}
                    THEN a.doc_id ELSE b.doc_id END AS new_id,
               CASE WHEN a.doc_id % {NEW_MOD} = {NEW_REMAINDER}
                    THEN b.doc_id ELSE a.doc_id END AS old_id
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        JOIN widths w ON w.band_id = a.band_id AND w.band_key = a.band_key
        WHERE w.w <= {BAND_BUCKET_CAP}
          AND (a.doc_id % {NEW_MOD} = {NEW_REMAINDER})
              <> (b.doc_id % {NEW_MOD} = {NEW_REMAINDER})),
    near AS (SELECT new_id AS doc_id, MIN(old_id) AS near_id
             FROM cand GROUP BY new_id),
    h AS (SELECT doc_id, md5(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS h FROM documents),
    oldh AS (SELECT h, MIN(doc_id) AS exact_id FROM h
             WHERE doc_id % {NEW_MOD} <> {NEW_REMAINDER} GROUP BY h),
    newd AS (SELECT doc_id, h FROM h
             WHERE doc_id % {NEW_MOD} = {NEW_REMAINDER})
    SELECT n.doc_id,
           CASE WHEN o.exact_id IS NOT NULL THEN 'exact'
                WHEN nr.near_id IS NOT NULL THEN 'near'
                ELSE 'unique' END AS kind,
           COALESCE(o.exact_id, nr.near_id) AS match_id
    FROM newd n
    LEFT JOIN oldh o USING (h)
    LEFT JOIN near nr ON nr.doc_id = n.doc_id
    """


@register("qx04_incremental_dedup", oracle=_incdedup_oracle())
def qx04_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new ingest batch against the deduped corpus
    — the production shape: at 100 TB nobody re-pairs the whole corpus
    per ingest; the daily batch is checked against the standing index.

    Each new doc gets a verdict: ``exact`` (normalized-content md5 found
    in the corpus), ``near`` (shares a minhash LSH band bucket with a
    corpus doc, same banding as q86), or ``unique`` — plus the smallest
    matching corpus doc id. Plan: the exact leg is one equi-join on the
    16-byte hash; the near leg reuses the shared band index
    (:func:`band_rows`), expands cap-bounded buckets once, and keeps
    only cross (new x corpus) pairs, so candidate work scales with the
    BATCH, not the corpus. In production the corpus-side bands/hashes
    are a precomputed table that only ever gets appended — the per-doc
    band index IS the dedup index."""
    is_new = (F.col("doc_id") % NEW_MOD) == NEW_REMAINDER
    # NOT pinned: the two consumers filter to DISJOINT mod-classes of
    # doc_id, so the "duplicate" subtree md5-hashes each document once
    # in total — a checkpoint would hash everything up front and then
    # filter, adding a full-width materialization for zero saved work
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(ascii_lower("text")).alias("h")
    )
    oldh = (
        docs.filter(~is_new)
        .groupBy("h")
        .agg(F.min("doc_id").alias("exact_id"))
    )
    newd = docs.filter(is_new)
    bands = band_rows(spark, sf_dir)
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids").between(2, BAND_BUCKET_CAP))
    )
    pa, pb = F.col("doc_a") % NEW_MOD == NEW_REMAINDER, (
        F.col("doc_b") % NEW_MOD == NEW_REMAINDER
    )
    cross = pairs_within_groups(buckets).filter(pa != pb)
    near = (
        cross.select(
            F.when(pa, F.col("doc_a")).otherwise(F.col("doc_b")).alias("new_id"),
            F.when(pa, F.col("doc_b")).otherwise(F.col("doc_a")).alias("old_id"),
        )
        .groupBy("new_id")
        .agg(F.min("old_id").alias("near_id"))
    )
    kind = (
        F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
        .when(F.col("near_id").isNotNull(), F.lit("near"))
        .otherwise(F.lit("unique"))
    )
    return (
        newd.join(oldh, "h", "left")
        .join(near, newd["doc_id"] == near["new_id"], "left")
        .select(
            "doc_id",
            kind.alias("kind"),
            F.coalesce("exact_id", "near_id").alias("match_id"),
        )
    )


# Leakage-safe splitting: train/val/test fractions over CLUSTERS, not
# docs. Splitting by doc hash (pipeline.py q63) leaks near-duplicates
# across splits — a test doc's twin in train inflates eval. Hashing the
# cluster id sends every near-dup component to one split atomically.
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # remainder = test
_SPLIT_U32 = 4294967296.0


def _leakage_split_oracle() -> str:
    return f"""
    WITH RECURSIVE edges AS (SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS_SQL}) jp),
    und AS (SELECT doc_a AS a, doc_b AS b FROM edges
            UNION ALL SELECT doc_b, doc_a FROM edges),
    reach AS (
        SELECT doc_id AS node, doc_id AS root FROM documents
        UNION
        SELECT u.b AS node, r.root FROM reach r JOIN und u ON u.a = r.node),
    cl AS (SELECT node, MIN(root) AS cluster_id FROM reach GROUP BY node),
    hashed AS (
        SELECT node AS doc_id, cluster_id,
               100.0 * CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                            AS BIGINT) / {_SPLIT_U32} AS pct
        FROM cl)
    SELECT doc_id, cluster_id,
           CASE WHEN pct < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN pct < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM hashed
    """


@register("qx06_leakage_safe_split", oracle=_leakage_split_oracle())
def qx06_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    splits: the unit of assignment is the q98 connected component, hashed
    once per CLUSTER — every doc in a near-dup group lands in the same
    split by construction. Per-doc hash splitting (q63) does not have
    this property: a test doc whose twin sits in train silently inflates
    eval numbers, the classic contamination bug.

    Plan: reuses the checkpointed Jaccard edge list + min-label
    propagation (component count of rounds, joins sized by the duplicate
    graph); the split itself is one md5 projection on the cluster id —
    deterministic, layout-independent, stable across backfills as long
    as cluster membership is stable. The edge list is shared with q98
    through the session-scoped checkpoint cache (_jaccard_edges) — the
    two consumers read one materialized graph, not two derivations, and
    the component labels themselves come from the session-scoped
    _neardup_labels cache shared with q98/qx17."""
    labels = _neardup_labels(spark, sf_dir)
    pct = (
        F.lit(100.0)
        * F.conv(
            F.substring(F.md5(F.col("label").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        / F.lit(_SPLIT_U32)
    )
    split = (
        F.when(pct < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(pct < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        split.alias("split"),
    )


@register(
    "qx17_canonical_doc_rollup",
    oracle=f"""
    WITH RECURSIVE edges AS (SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS_SQL}) jp),
    und AS (SELECT doc_a AS a, doc_b AS b FROM edges
            UNION ALL SELECT doc_b, doc_a FROM edges),
    reach AS (
        SELECT doc_id AS node, doc_id AS root FROM documents
        UNION
        SELECT u.b AS node, r.root FROM reach r JOIN und u ON u.a = r.node),
    cl AS (SELECT node, MIN(root) AS cluster_id FROM reach GROUP BY node)
    SELECT cl.cluster_id AS canonical_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           array_to_string(list_sort(list_distinct(list(d.source))), '|')
               AS sources,
           array_to_string(list_sort(list_distinct(list(d.lang))), '|')
               AS langs
    FROM cl JOIN documents d ON d.doc_id = cl.node
    GROUP BY cl.cluster_id
    """,
)
def qx17_canonical_doc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The collapse step AFTER near-dup clustering: one output row per
    duplicate group, keyed by the canonical doc, carrying the merged
    metadata a dedup pipeline must not lose — how many copies existed,
    which sources and languages carried them, total bytes collapsed.
    (Dropping duplicates without this rollup silently destroys source
    attribution and dedup-rate accounting.) One hash-agg over the
    cluster labels joined to the doc metadata; the merged source/lang
    sets are emitted as sorted ``'|'``-joined strings (not arrays) so
    any downstream row canonicalizer — including ones that lexsort on
    column values — can hash them; both engines join identically."""
    labels = _neardup_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"), "source", "lang", "n_chars"
    )
    return (
        labels.join(docs, "node")
        .groupBy(F.col("label").alias("canonical_doc_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.array_join(F.array_sort(F.collect_set("source")), "|").alias(
                "sources"
            ),
            F.array_join(F.array_sort(F.collect_set("lang")), "|").alias(
                "langs"
            ),
        )
    )


# ---------------------------------------------------------------------------
# qx20: duplicated-span detection — the hashed-n-gram approximation of
# suffix-array substring dedup (Lee et al., "Deduplicating Training Data
# Makes Language Models Better", ACL 2022: exact 50-token substring
# matches; here width-8 word spans so the sf0.01 corpus has hits).
# ---------------------------------------------------------------------------

SPAN_W = 8


@register(
    "qx20_duplicated_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS w
               FROM documents),
    s AS (SELECT DISTINCT doc_id,
                 -- indexed concat, not a list slice (slices copy the
                 -- outer list per element, O(len²) on multi-MB docs)
                 unnest([concat_ws(' ', {", ".join(f"w[i + {j}]" for j in range(SPAN_W))})
                         for i in range(1, len(w) - {SPAN_W - 2})]) AS gram
          FROM t WHERE len(w) >= {SPAN_W}),
    g AS (SELECT gram, COUNT(*) AS nd FROM s GROUP BY gram)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT)                            AS n_unique_spans,
           CAST(SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                                                               AS n_dup_spans,
           ROUND(SUM(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4)                                AS dup_coverage
    FROM s JOIN g USING (gram)
    GROUP BY s.doc_id
    """,
)
def qx20_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span stats: of a doc's distinct width-8
    word spans, how many also occur in at least one OTHER document (or
    twice here — corpus frequency >= 2 over distinct (doc, span) rows),
    and what fraction of the doc that covers. The span report is what a
    substring-dedup pass trims; high ``dup_coverage`` docs are boilerplate
    or templated near-copies that doc-level hashing misses.

    Plan: reuses ``shingle_rows`` (posexplode + window lead, distinct
    (doc, span)); one shuffle on the span groups it for the corpus
    frequency, and the join back to per-doc rows reuses that exchange
    (same key) before the final per-doc hash-agg. Span strings act as
    their own keys here; at 100 TB you'd md5 them first to fix the
    shuffle width at 16 bytes — same counts, collision odds ~n²/2^128."""
    # rows feeds both the corpus-frequency agg and the join back — the
    # captured plan showed the whole explode+window shingle pipeline
    # planned twice (guide §7.2, duplicated subtrees); one
    # materialization for both consumers.
    rows = shingle_rows(spark, sf_dir, k=SPAN_W).localCheckpoint(eager=False)
    freq = rows.groupBy("shingle").agg(F.count(F.lit(1)).alias("nd"))
    return (
        rows.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_unique_spans"),
            F.sum((F.col("nd") >= 2).cast("int"))
            .cast("bigint")
            .alias("n_dup_spans"),
            F.round(
                F.sum((F.col("nd") >= 2).cast("int"))
                / F.count(F.lit(1)),
                4,
            ).alias("dup_coverage"),
        )
    )


# ---------------------------------------------------------------------------
# qx22: PageRank centrality over the near-dup similarity graph — which
# documents sit at the center of duplication neighborhoods (the doc a
# curation pass keeps as canonical, weighted by how much of the corpus
# orbits it). Public algorithm: Page et al., "The PageRank Citation
# Ranking" (1999); simplified dangling-mass-dropped variant.
# ---------------------------------------------------------------------------

PR_SCALE = 10**12
PR_ITERS = 3


def _pagerank_oracle() -> str:
    steps = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        steps.append(
            f"""r{i} AS (
        SELECT r0.node,
               15 * (SELECT b FROM base) // 100
               + 85 * COALESCE(inc.s, 0) // 100 AS r
        FROM r0
        LEFT JOIN (
            SELECT u.b AS node, SUM(rp.r // dg.outdeg) AS s
            FROM und u
            JOIN {prev} rp ON rp.node = u.a
            JOIN deg dg ON dg.node = u.a
            GROUP BY u.b) inc USING (node))"""
        )
        prev = f"r{i}"
    return f"""
    WITH jp AS ({_JACCARD_PAIRS_SQL}),
    und AS (SELECT doc_a AS a, doc_b AS b FROM jp
            UNION ALL SELECT doc_b AS a, doc_a AS b FROM jp),
    deg AS (SELECT a AS node, COUNT(*) AS outdeg FROM und GROUP BY a),
    base AS (SELECT {PR_SCALE} // COUNT(*) AS b FROM documents),
    r0 AS (SELECT doc_id AS node, (SELECT b FROM base) AS r FROM documents),
    {",".join(steps)}
    SELECT node AS doc_id, CAST(r AS BIGINT) AS pr_score
    FROM {prev}
    """


@register("qx22_pagerank_centrality", oracle=_pagerank_oracle())
def qx22_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, damping 0.85) over the undirected
    q88 Jaccard near-dup graph; isolated docs settle at the uniform
    floor, hub docs of duplication neighborhoods rise above it.

    All arithmetic is integer fixed-point at 1e-12 resolution (rank mass
    scaled by PR_SCALE; every division is truncating integer division in
    a fixed order) so the scores hash-match the oracle bit-for-bit —
    float PageRank would diverge across engines in the last ulps.

    Plan: the edge list is the SAME checkpointed artifact q98/qx06 use
    (near-dup pairs, tiny vs the corpus); each iteration is one
    broadcast-degree join + hash-agg on the destination node, then a
    left join back to the constant node set. Iteration count is fixed,
    so lineage depth is bounded; at 100 TB each round shuffles only the
    edge list — the classic Pregel-free DataFrame PageRank shape."""
    docs = load_table(spark, sf_dir, "documents")
    edges = _jaccard_edges(spark, sf_dir)
    und = edges.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).unionByName(
        edges.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
    )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("outdeg"))
    # ONE docs scan: the node set is pinned (it is re-joined every
    # iteration — unpinned, docs was planned 8x in the final plan) and
    # the node count for the uniform base reads off the pinned frame.
    # greatest(..., 1) only matters for an empty corpus (zero nodes ->
    # base value irrelevant); on any real corpus it is the plain ratio
    node_ids = docs.select(F.col("doc_id").alias("node")).localCheckpoint(
        eager=False
    )
    base = node_ids.agg(
        F.expr(f"cast({PR_SCALE} as bigint) div greatest(count(1), 1)").alias("b")
    )
    nodes = node_ids.crossJoin(F.broadcast(base)).localCheckpoint(
        eager=False
    )
    r = nodes.select("node", F.col("b").alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            und.join(r.withColumnRenamed("node", "a"), "a")
            # deg is per-linked-node (corpus cardinality in the worst
            # case) — no forced broadcast; the join key is the same "a"
            # as the rank join, so it rides the same hash partitioning,
            # and AQE still broadcasts when the graph is actually small
            .join(deg, "a")
            .select(F.col("b").alias("node"), F.expr("r div outdeg").alias("c"))
        )
        inc = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        r = (
            nodes.join(inc, "node", "left")
            .select(
                "node",
                F.expr(
                    "15 * b div 100 + 85 * coalesce(s, cast(0 as bigint)) div 100"
                ).alias("r"),
            )
        )
    return r.select(F.col("node").alias("doc_id"), F.col("r").cast("bigint").alias("pr_score"))


# ---------------------------------------------------------------------------
# qx24: directional shingle containment — catches subset duplication
# (one doc quoted/embedded inside another) that symmetric Jaccard
# under-scores: a 20-shingle doc fully inside a 500-shingle doc has
# containment 1.0 but Jaccard 0.04. Public measure: Broder, "On the
# resemblance and containment of documents" (SEQUENCES 1997).
# ---------------------------------------------------------------------------

CONTAIN_MIN = 0.5


@register(
    "qx24_containment_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS toks
        FROM documents),
    sh_t AS (
        SELECT doc_id, {shingles_sql(k=3)} AS sh FROM t WHERE len(toks) >= 3),
    raw_ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh_t),
    df AS (SELECT shingle, COUNT(*) AS n_docs FROM raw_ex GROUP BY shingle),
    ex AS (SELECT r.doc_id, r.shingle
           FROM raw_ex r JOIN df USING (shingle)
           WHERE df.n_docs <= {SHINGLE_DF_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    both_dir AS (
        SELECT doc_a AS doc_id, doc_b AS container_id, n_common,
               sa.sz AS sz_doc, sb.sz AS sz_container
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS container_id, n_common,
               sb.sz AS sz_doc, sa.sz AS sz_container
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b)
    SELECT doc_id, container_id, CAST(n_common AS BIGINT) AS n_common,
           ROUND(n_common * 1.0 / sz_doc, 4) AS containment
    FROM both_dir
    WHERE n_common * 1.0 / sz_doc >= {CONTAIN_MIN}
    """,
)
def qx24_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment pairs: C(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|
    over the capped shingle space, both directions emitted, threshold
    CONTAIN_MIN. The dedup decision this feeds differs from Jaccard's:
    keep the CONTAINER and drop the contained doc (it adds no content),
    whereas near-identical Jaccard pairs keep the canonical.

    Plan: identical physical shape to q88 — both consume
    ``_shingle_pair_stats`` (one shingle shuffle, in-bucket pair
    expansion, broadcast size joins); the direction split is a pure
    projection union, no extra shuffle."""
    stats = _shingle_pair_stats(spark, sf_dir, cap=SHINGLE_DF_CAP)
    fwd = stats.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("container_id"),
        "n_common",
        F.col("sz_a").alias("sz_doc"),
    )
    rev = stats.select(
        F.col("doc_b").alias("doc_id"),
        F.col("doc_a").alias("container_id"),
        "n_common",
        F.col("sz_b").alias("sz_doc"),
    )
    c = F.col("n_common") / F.col("sz_doc")
    return (
        fwd.unionByName(rev)
        .filter(c >= CONTAIN_MIN)
        .select(
            "doc_id",
            "container_id",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(c, 4).alias("containment"),
        )
    )


@register(
    "qx34_source_coduplication",
    oracle=f"""
    WITH jp AS ({_JACCARD_PAIRS_SQL}),
    lab AS (
        SELECT jp.doc_a, jp.doc_b,
               LEAST(da.source, db.source)    AS source_x,
               GREATEST(da.source, db.source) AS source_y
        FROM jp
        JOIN documents da ON da.doc_id = jp.doc_a
        JOIN documents db ON db.doc_id = jp.doc_b)
    SELECT source_x, source_y,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           (source_x = source_y)    AS within_source
    FROM lab GROUP BY source_x, source_y
    """,
)
def qx34_source_coduplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source co-duplication matrix: for every unordered source pair,
    how many near-duplicate document pairs (q88 edges) span it. The
    provenance question behind dedup policy — high cross-source counts
    mean mirrored/scraped content (dedup globally, attribute once);
    within-source counts mean templating (fix extraction). Sources are
    canonically ordered (least/greatest) so each unordered pair is one
    row.

    Plan: consumes the SAME checkpointed edge list as q98/qx06/qx22
    (tiny), shuffle-joins the 2-column documents projection twice on
    doc id (corpus-sized — never forced broadcast; AQE broadcasts the
    tiny edge side instead), one hash-agg on the sources-squared key
    space."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    edges = _jaccard_edges(spark, sf_dir)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    lab = (
        # documents is the corpus — a forced broadcast would hard-fail at
        # 100 TB (>8 GB cap). Shuffle-join on doc ids; edges are tiny, so
        # AQE broadcasts THAT side at runtime instead.
        edges.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
    )
    return lab.groupBy("source_x", "source_y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    ).withColumn("within_source", F.col("source_x") == F.col("source_y"))


# ---------------------------------------------------------------------------
# qx54: edit-distance verification of near-dup candidates — the character-
# level second opinion on the shingle-level pairs. Classic fuzzy-matching
# primitive (Levenshtein 1966); candidate generation stays bucketed (the
# shared Jaccard edge list), never all-pairs — edit distance is O(len^2)
# per pair, so the cap on WHICH pairs get it is the entire scale story.
# ---------------------------------------------------------------------------

EDIT_PREFIX_CHARS = 80
EDIT_NEAR_IDENTICAL = 8


@register(
    "qx54_editdist_pair_verify",
    oracle=f"""
    WITH pairs AS (SELECT doc_a, doc_b, jaccard FROM ({{jp}}) jp),
    p AS (
        SELECT pr.doc_a, pr.doc_b, pr.jaccard,
               levenshtein(substr(translate(da.text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), 1, {EDIT_PREFIX_CHARS}),
                           substr(translate(db.text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), 1, {EDIT_PREFIX_CHARS}))
                   AS edit_dist
        FROM pairs pr
        JOIN documents da ON da.doc_id = pr.doc_a
        JOIN documents db ON db.doc_id = pr.doc_b)
    SELECT doc_a, doc_b, jaccard,
           CAST(edit_dist AS BIGINT) AS edit_dist,
           CASE WHEN edit_dist <= {EDIT_NEAR_IDENTICAL}
                THEN 'near_identical' ELSE 'paraphrase' END AS verdict
    FROM p
    """.replace("{jp}", _JACCARD_PAIRS_SQL),
)
def qx54_editdist_pair_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of shingle-level near-dup candidates:
    Levenshtein distance over the lowercased {80}-char prefix splits each
    candidate pair into near_identical (template copies — byte-level
    edits only) vs paraphrase (same content, different wording) — the
    policy fork in a dedup pass (drop the former, keep-and-attribute the
    latter).

    Plan + scale: edit distance is O(len_a * len_b) PER PAIR, so the
    operator's cost is governed entirely by candidate generation — here
    the session-checkpointed Jaccard edge list (bucketed, never
    all-pairs), and the prefix cap fixes per-pair cost at {80}^2 char
    ops. The doc texts join onto the (tiny) pair list by id — two
    data-sized shuffles bounded by the edge count.

    Distance counts UTF-8 BYTES: DuckDB's ``levenshtein`` is byte-based
    (levenshtein('café','cafe') = 2) while Spark's counts code points,
    so the byte definition — encoding-stable and tokenizer-style — is
    the portable contract. Spark measures it by decoding the prefix's
    UTF-8 bytes as ISO-8859-1 (a lossless byte→char bijection), making
    its per-char DP a per-byte DP."""
    edges = _jaccard_pairs(spark, sf_dir)

    def _bytes_as_chars(c):
        return F.decode(F.encode(c, "UTF-8"), "ISO-8859-1")

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        _bytes_as_chars(
            F.substring(ascii_lower("text"), 1, EDIT_PREFIX_CHARS)
        ).alias("pfx"),
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("pfx").alias("pa"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("pfx").alias("pb"))
    dist = F.levenshtein("pa", "pb")
    return (
        edges.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            dist.cast("bigint").alias("edit_dist"),
            F.when(dist <= EDIT_NEAR_IDENTICAL, F.lit("near_identical"))
            .otherwise(F.lit("paraphrase"))
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# qx60: EXACT set-similarity self-join via prefix filtering (PPJoin-style;
# Chaudhuri et al. "A Primitive Operator for Similarity Joins", ICDE 2006;
# Xiao et al. "Efficient Similarity Joins for Near Duplicate Detection",
# WWW 2008). The guaranteed-complete alternative to MinHash-LSH (q86/qx04,
# which trade false negatives for speed): two documents with word-Jaccard
# >= t MUST share a token inside both of their df-rarest prefixes, so the
# candidate join touches only prefix tokens — no all-pairs expansion, no
# probabilistic recall.
# ---------------------------------------------------------------------------

#: Jaccard threshold in thousandths (500 = 0.5). Integer comparisons only:
#: J >= t  <=>  1000 * |A∩B| >= PPJOIN_T_E3 * |A∪B|.
PPJOIN_T_E3 = 500


@register(
    "qx60_prefix_filter_jaccard_join",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS toks
        FROM documents),
    sh AS (
        SELECT doc_id, {shingles_sql()} AS shs FROM t WHERE len(toks) >= 3),
    s AS (SELECT doc_id, len(shs) AS sz FROM sh),
    tok AS (SELECT doc_id, unnest(shs) AS tok FROM sh),
    pair AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    j AS (
        SELECT doc_a, doc_b, inter, sa.sz + sb.sz - inter AS un
        FROM pair
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b)
    SELECT doc_a, doc_b,
           CAST(inter AS BIGINT) AS inter_sz,
           CAST(un AS BIGINT)    AS union_sz,
           ROUND(inter * 1.0 / un, 4) AS jaccard
    FROM j WHERE 1000 * inter >= {PPJOIN_T_E3} * un
    """,
)
def qx60_prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached accessor for the exact PPJoin pair table (see
    :func:`_ppjoin_compute` for the algorithm; qx75 measures LSH
    banding against the SAME materialization — one exact-pairs table
    per session, the production shape)."""
    return _ppjoin_exact_pairs(spark, sf_dir)


def _ppjoin_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with trigram-shingle Jaccard >= 0.5, found by
    prefix filtering — EXACT (the oracle is the brute-force all-pairs
    join; the Spark side must reproduce it from candidates only). The
    guaranteed-complete counterpart to q88: q88 bounds its candidate join
    by dropping shingles with df > SHINGLE_DF_CAP (stop phrases) — a
    recall trade; qx60 drops nothing and still never goes all-pairs.
    (Shingle sets, not word sets: this corpus is template-generated, so
    word-level Jaccard >= 0.5 holds for ~70% of ALL pairs — word sets
    separate nothing; shingle Jaccard >= 0.5 is the near-dup signal.)

    Prefix theorem: order each doc's tokens globally by (document
    frequency, token); if J(A,B) >= t then |A∩B| >= t·max(|A|,|B|), so
    the intersection cannot hide entirely inside the ceil(t·|A|)-1 tail —
    at least one common token sits within the first
    |A| - ceil(t·|A|) + 1 tokens of BOTH docs. Candidates are therefore
    the prefix⋈prefix equi-join on token, plus the length filter
    t·|A| <= |B| <= |A|/t (sizes outside that band cannot reach t).

    Plan: shingle rows come from the shared ``shingle_rows`` (lead-window
    codegen path) and are computed ONCE; df via one hash-agg; per-doc
    rarest-first positions via a doc-partitioned window (window input is
    doc-size-bounded). The candidate join shuffles ONLY prefix shingles —
    and the rarest-first order makes those exactly the shingles with the
    smallest df, so bucket widths (the quantity LSH must cap with
    SHINGLE_DF_CAP) are minimized by construction. Verification is
    PPJoin's inverted-list step restricted to candidate documents: a
    broadcast semi-join keeps only candidate docs' shingle rows, whose
    self-join yields exact intersection counts — candidate-doc-sized,
    never a second corpus-wide shuffle. At 100 TB the prefix join is the
    only data-sized exchange; everything after is candidate-sized.
    """
    from pyspark.sql.window import Window as W

    # (doc_id, shingle) distinct — localCheckpoint so the explode+distinct
    # pipeline runs once even though both the ranking and the verify
    # branches consume it (same materialize-the-shared-spine move as
    # _shingle_pair_stats)
    sh = shingle_rows_cached(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    part = W.partitionBy("doc_id")
    ranked = (
        sh.join(sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")), "shingle")
        .select(
            "doc_id",
            "shingle",
            "df",
            F.count(F.lit(1)).over(part).alias("sz"),
            F.row_number().over(w).alias("pos"),
        )
    )
    # prefix length |d| - ceil(t*|d|) + 1, ceil in pure integers
    plen = F.col("sz") - F.expr(
        f"cast(({PPJOIN_T_E3} * sz + 999) div 1000 as int)"
    ) + F.lit(1)
    prefix = ranked.filter(F.col("pos") <= plen).select("doc_id", "sz", "shingle")
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"), "shingle"
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"), "shingle"
    )
    cand = (
        pa.join(pb, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.lit(1000) * F.col("szb") >= F.lit(PPJOIN_T_E3) * F.col("sza"))
            & (F.lit(1000) * F.col("sza") >= F.lit(PPJOIN_T_E3) * F.col("szb"))
        )
        .select("doc_a", "doc_b", "sza", "szb")
        .distinct()
    )
    # verify via inverted lists restricted to candidate docs: shingle rows
    # of candidate docs only (semi-join), self-joined on shingle, then
    # inner-joined back to the candidate pair set for intersection counts
    cdocs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select("doc_b"))
        .distinct()
    )
    vt = sh.join(F.broadcast(cdocs), "doc_id", "left_semi")
    va = vt.select(F.col("doc_id").alias("doc_a"), "shingle")
    vb = vt.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        va.join(vb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_sz"))
    )
    un = F.col("sza") + F.col("szb") - F.col("inter_sz")
    return (
        cand.join(inter, ["doc_a", "doc_b"])
        .withColumn("inter_sz", F.col("inter_sz").cast("bigint"))
        .withColumn("union_sz", un.cast("bigint"))
        .filter(
            F.lit(1000) * F.col("inter_sz")
            >= F.lit(PPJOIN_T_E3) * F.col("union_sz")
        )
        .select(
            "doc_a",
            "doc_b",
            "inter_sz",
            "union_sz",
            F.round(F.col("inter_sz") / F.col("union_sz"), 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# qx69: cross-source CONTENT overlap matrix — exact shingle-set Jaccard
# and directional containment between every pair of sources. qx34 counts
# co-duplicated DOCUMENT pairs over the near-dup graph; this measures
# content MASS overlap directly (a mirror site shows up here even when
# per-document pairing is defeated by chunking or interleaving). The
# provenance audit run before mixing corpora: a source 90%-contained in
# another contributes almost nothing new.
# ---------------------------------------------------------------------------


@register(
    "qx69_source_overlap_matrix",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS toks
        FROM documents),
    sh AS (
        SELECT source, {shingles_sql()} AS shs FROM t WHERE len(toks) >= 3),
    ds AS (SELECT DISTINCT source, unnest(shs) AS shingle FROM sh),
    sz AS (SELECT source, COUNT(*) AS sz FROM ds GROUP BY source),
    pair AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS inter
        FROM ds a JOIN ds b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY a.source, b.source),
    j AS (
        SELECT source_a, source_b, inter, sa.sz AS sza, sb.sz AS szb
        FROM pair
        JOIN sz sa ON sa.source = source_a
        JOIN sz sb ON sb.source = source_b)
    SELECT source_a, source_b,
           CAST(inter AS BIGINT)             AS inter_sz,
           CAST(sza + szb - inter AS BIGINT) AS union_sz,
           ROUND(inter * 1.0 / (sza + szb - inter), 4) AS jaccard,
           ROUND(inter * 1.0 / LEAST(sza, szb), 4)     AS containment
    FROM j
    """,
)
def qx69_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, inter_sz, union_sz, jaccard, containment) for
    every source pair sharing at least one trigram shingle — containment
    is intersection over the SMALLER side, the "is one a subset of the
    other" signal Jaccard dilutes when sizes differ.

    Plan: distinct (source, shingle) from the shared shingle spine — the
    alphabet-bounded projection of the corpus (distinct shingles × the
    handful of sources that carry each). Pair expansion happens INSIDE
    each shingle group via collect_set + pairs_within_groups (bounded by
    the source alphabet, C(n_sources, 2) accumulator keys — never a
    corpus-sized self-join); per-source sizes broadcast back. At 100 TB
    this is one shuffle of 16-byte-hashable shingle keys plus
    metadata-sized joins."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # pinned: consumed by the per-source sizes AND the pair expansion —
    # unpinned, the shingle-join + distinct re-ran per consumer
    ds = (
        shingle_rows_cached(spark, sf_dir)
        .join(docs, "doc_id")
        .select("source", "shingle")
        .distinct()
        .localCheckpoint(eager=False)
    )
    sz = ds.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    grouped = ds.groupBy("shingle").agg(
        F.sort_array(F.collect_set("source")).alias("ids")
    )
    pair = (
        pairs_within_groups(grouped, out_a="source_a", out_b="source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("sz").alias("sza"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("sz").alias("szb"))
    un = F.col("sza") + F.col("szb") - F.col("inter")
    return (
        pair.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("inter").cast("bigint").alias("inter_sz"),
            un.cast("bigint").alias("union_sz"),
            F.round(F.col("inter") / un, 4).alias("jaccard"),
            F.round(F.col("inter") / F.least("sza", "szb"), 4).alias(
                "containment"
            ),
        )
    )


# ---------------------------------------------------------------------------
# qx71: corpus novelty (dedup saturation) curve — per ingest chunk, what
# fraction of its shingle occurrences is content the corpus has never
# seen before. The diminishing-returns curve that decides when to STOP
# collecting from a source: a chunk whose novelty falls under a few
# percent is re-crawling what dedup will delete anyway. Ingest order is
# doc_id (the synthetic corpus's ingest key); "first seen" is the
# minimum doc_id carrying the shingle.
# ---------------------------------------------------------------------------

#: docs per ingest chunk in the novelty curve
NOVELTY_BUCKET = 100


@register(
    "qx71_corpus_novelty_curve",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS toks
        FROM documents),
    sh AS (
        SELECT doc_id, {shingles_sql()} AS shs FROM t WHERE len(toks) >= 3),
    sr AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
    f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sr GROUP BY shingle),
    per AS (
        SELECT s.doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                   AS n_new
        FROM sr s JOIN f USING (shingle) GROUP BY s.doc_id),
    b AS (
        SELECT doc_id // {NOVELTY_BUCKET} AS bucket, COUNT(*) AS n_docs,
               SUM(n_sh) AS n_shingles, SUM(n_new) AS n_first_seen
        FROM per GROUP BY doc_id // {NOVELTY_BUCKET})
    SELECT CAST(bucket AS BIGINT)       AS bucket,
           CAST(n_docs AS BIGINT)       AS n_docs,
           CAST(n_shingles AS BIGINT)   AS n_shingles,
           CAST(n_first_seen AS BIGINT) AS n_first_seen,
           CAST(n_first_seen * 10000 // n_shingles AS BIGINT) AS novelty_e4
    FROM b
    """,
)
def qx71_corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-{NOVELTY_BUCKET}-doc ingest chunk: shingle occurrences, how
    many are first-ever occurrences (their minimum-doc_id carrier is in
    this chunk's doc), and the novelty ratio at 1e4 fixed point.

    Plan: one shingle-keyed hash-agg finds each shingle's first carrier;
    joined back to the (checkpointed) shingle rows, everything else is
    doc- then chunk-keyed hash-aggs with map-side partials. The join is
    shingle-hash-partitioned — at 100 TB this is the same shuffle width
    as building the dedup index itself, and the output is
    corpus/{NOVELTY_BUCKET} rows. All counts integer; division is the
    cross-engine truncating div."""
    sr = shingle_rows_cached(spark, sf_dir)
    first = sr.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per = (
        sr.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_new"),
        )
    )
    return (
        per.groupBy(F.expr(f"doc_id div {NOVELTY_BUCKET}").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_sh").cast("bigint").alias("n_shingles"),
            F.sum("n_new").cast("bigint").alias("n_first_seen"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_docs",
            "n_shingles",
            "n_first_seen",
            F.expr("cast(n_first_seen * 10000 div n_shingles as bigint)").alias(
                "novelty_e4"
            ),
        )
    )


def _ppjoin_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized qx60 exact pair table — the sweep evaluator
    (qx75) measures LSH configs against the same ground truth qx60
    publishes (same share-the-index shape as :func:`_jaccard_pairs`)."""
    return memo(
        spark, "ppjoin_pairs", sf_dir,
        build=lambda: _ppjoin_compute(spark, sf_dir).localCheckpoint(eager=True),
    )


# ---------------------------------------------------------------------------
# qx75: LSH band-configuration sweep — recall AND candidate cost of
# MinHash banding at (rows-per-band, bands) ∈ {(2,4), (4,2), (8,1)}
# over the SAME 8-hash signatures, measured against the exact
# Jaccard >= 0.5 pair set (qx60's definition). The S-curve theory says
# P(candidate) = 1 - (1 - s^r)^b; this measures it on the real corpus —
# the evidence a pipeline owner needs before trading q86's r=2 default
# for a cheaper-but-stricter banding. Bucket caps apply identically in
# both engines, so every count is exact.
# ---------------------------------------------------------------------------

SWEEP_CONFIGS = [(2, 4), (4, 2), (8, 1)]  # (rows_per_band, n_bands)


def _qx75_oracle() -> str:
    per_cfg = []
    for r, b in SWEEP_CONFIGS:
        band_cols = ", ".join(
            "(" + " || ".join(f"mh{k * r + j}" for j in range(r)) + f") AS band{k}"
            for k in range(b)
        )
        unnest = " UNION ALL ".join(
            f"SELECT doc_id, {k} AS band_id, band{k} AS band_key"
            f" FROM banded_{r}" for k in range(b)
        )
        per_cfg.append(
            f"""banded_{r} AS (SELECT doc_id, {band_cols} FROM mh),
    bands_{r} AS ({unnest}),
    widths_{r} AS (
        SELECT band_id, band_key, COUNT(*) AS w
        FROM bands_{r} GROUP BY band_id, band_key),
    cand_{r} AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_{r} a JOIN bands_{r} b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        JOIN widths_{r} w
          ON w.band_id = a.band_id AND w.band_key = a.band_key
        WHERE w.w <= {BAND_BUCKET_CAP}),
    stat_{r} AS (
        SELECT {r} AS rows_per_band, {b} AS n_bands,
               (SELECT COUNT(*) FROM cand_{r}) AS n_candidates,
               (SELECT COUNT(*) FROM truth)    AS n_true,
               (SELECT COUNT(*) FROM cand_{r} c
                JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                   AS n_hits)"""
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM stat_{r}" for r, _ in SWEEP_CONFIGS
    )
    return f"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS toks
        FROM documents),
    sh_t AS (
        SELECT doc_id, {shingles_sql()} AS sh FROM t WHERE len(toks) >= 3),
    mh AS MATERIALIZED (
        SELECT doc_id, {_MINHASH_SQL} FROM sh_t),
    tok AS (SELECT doc_id, unnest(sh) AS tok FROM sh_t),
    sz AS (SELECT doc_id, len(sh) AS sz FROM sh_t),
    pr AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    truth AS MATERIALIZED (
        SELECT doc_a, doc_b
        FROM pr
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b
        WHERE 1000 * inter >= {PPJOIN_T_E3} * (sa.sz + sb.sz - inter)),
    {",".join(per_cfg)}
    SELECT CAST(rows_per_band AS INT) AS rows_per_band,
           CAST(n_bands AS INT)      AS n_bands,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true AS BIGINT)       AS n_true,
           CAST(n_hits AS BIGINT)       AS n_hits,
           CAST(CASE WHEN n_true = 0 THEN 0
                     ELSE n_hits * 10000 // n_true END AS BIGINT)
               AS recall_e4,
           CAST(CASE WHEN n_candidates = 0 THEN 0
                     ELSE n_hits * 10000 // n_candidates END AS BIGINT)
               AS precision_e4
    FROM ({union})
    """


@register("qx75_lsh_band_sweep", oracle=_qx75_oracle())
def qx75_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per LSH banding configuration over the same 8 minhashes:
    candidate-pair count, exact true-pair count (shingle Jaccard >= 0.5),
    hits, and integer recall/precision at 1e4 — measured, not the
    S-curve formula.

    Plan: the three banding configurations run as ONE pass — banding is
    a pure projection, so a single explode emits every config's
    (cfg, band_id, band_key) rows per doc (4+2+1 = 7 rows) and the
    bucket groupBy, capped in-bucket pair expansion (same width cap as
    q86), per-config distinct, and truth join each happen once with cfg
    as an extra group key, instead of once per configuration (guide
    §2.4: three identically-keyed shuffle chains share one). A literal
    cfg spine re-emits the row for a configuration with zero candidate
    pairs, preserving the old per-config aggregate's 0-row. Ground
    truth reuses qx60's exact prefix-filter join (itself
    checkpoint-shared). Every count is an exact integer, so the sweep
    is hash-gated, unlike typical recall-eval harnesses that only
    sample."""
    sh = shingle_rows_cached(spark, sf_dir)
    hashed = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("shingle"))).alias(
                f"h{seed}"
            )
            for seed in range(N_MINHASH)
        ],
    )
    mh = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{seed}").alias(f"mh{seed}") for seed in range(N_MINHASH)]
    )
    truth = _ppjoin_exact_pairs(spark, sf_dir).select("doc_a", "doc_b")
    n_true = truth.count()
    band_structs = []
    for ci, (r, b) in enumerate(SWEEP_CONFIGS):
        for k in range(b):
            band_structs.append(
                F.struct(
                    F.lit(ci).alias("cfg"),
                    F.lit(k).alias("band_id"),
                    F.concat(
                        *[F.col(f"mh{k * r + j}") for j in range(r)]
                    ).alias("band_key"),
                )
            )
    bands = mh.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.cfg", "bk.band_id", "bk.band_key")
    buckets = bands.groupBy("cfg", "band_id", "band_key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    cand = (
        pairs_within_groups(
            buckets.filter(F.size("ids").between(2, BAND_BUCKET_CAP))
        )
        .select("cfg", "doc_a", "doc_b")
        .distinct()
    )
    stats = (
        cand.join(
            truth.withColumn("__hit", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.coalesce(F.sum("__hit"), F.lit(0))
            .cast("bigint")
            .alias("n_hits"),
        )
    )
    spine = spark.range(0, len(SWEEP_CONFIGS), 1, 1).select(
        F.col("id").cast("int").alias("cfg")
    )
    r_of = F.element_at(
        F.array(*[F.lit(r) for r, _ in SWEEP_CONFIGS]), F.col("cfg") + 1
    )
    b_of = F.element_at(
        F.array(*[F.lit(b) for _, b in SWEEP_CONFIGS]), F.col("cfg") + 1
    )
    return (
        spine.join(F.broadcast(stats), "cfg", "left")
        .select(
            r_of.cast("int").alias("rows_per_band"),
            b_of.cast("int").alias("n_bands"),
            F.coalesce("n_candidates", F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.lit(n_true).cast("bigint").alias("n_true"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.expr(
                f"cast(case when {n_true} = 0 then 0"
                f" else coalesce(n_hits, 0) * 10000 div {n_true}"
                " end as bigint)"
            ).alias("recall_e4"),
            F.expr(
                "cast(case when coalesce(n_candidates, 0) = 0 then 0"
                " else coalesce(n_hits, 0) * 10000"
                " div coalesce(n_candidates, 0) end as bigint)"
            ).alias("precision_e4"),
        )
    )


# ---------------------------------------------------------------------------
# qx87: dedup operating-point sweep — cluster structure vs Jaccard threshold
# ---------------------------------------------------------------------------
# The complement of qx75's LSH banding sweep: qx75 fixes the threshold and
# sweeps the INDEX configuration; this fixes the exact pair pipeline and
# sweeps the THRESHOLD, measuring what each operating point does to corpus
# yield — edges, component count, largest cluster, and docs removed. This
# is the table a data-curation owner reads to pick the dedup threshold.

THRESH_SWEEP_E3 = (300, 500, 700)


def _threshold_sweep_oracle() -> str:
    per_t = []
    for t in THRESH_SWEEP_E3:
        per_t.append(
            f"""edges_{t} AS MATERIALIZED (
        SELECT doc_a, doc_b FROM pairstats
        WHERE 1000 * n_common >= {t} * (sz_a + sz_b - n_common)),
    und_{t} AS MATERIALIZED (
        SELECT doc_a AS a, doc_b AS b FROM edges_{t}
        UNION ALL SELECT doc_b, doc_a FROM edges_{t}),
    reach_{t} AS (
        SELECT doc_id AS node, doc_id AS root FROM documents
        UNION
        SELECT u.b AS node, r.root FROM reach_{t} r JOIN und_{t} u
          ON u.a = r.node),
    cl_{t} AS (SELECT node, MIN(root) AS label FROM reach_{t} GROUP BY node),
    stat_{t} AS (
        SELECT {t} AS threshold_e3,
               (SELECT COUNT(*) FROM edges_{t}) AS n_edges,
               (SELECT COUNT(DISTINCT a) FROM und_{t}) AS n_linked_docs,
               (SELECT COUNT(DISTINCT label) FROM cl_{t}) AS n_clusters,
               (SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM cl_{t}
                                    GROUP BY label)) AS largest_cluster)"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM stat_{t}" for t in THRESH_SWEEP_E3)
    return f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+') AS toks
        FROM documents),
    sh_t AS (
        SELECT doc_id, {shingles_sql(k=3)} AS sh FROM t WHERE len(toks) >= 3),
    raw_ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh_t),
    df AS (SELECT shingle, COUNT(*) AS n_docs FROM raw_ex GROUP BY shingle),
    ex AS (SELECT r.doc_id, r.shingle
           FROM raw_ex r JOIN df USING (shingle)
           WHERE df.n_docs <= {SHINGLE_DF_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
    pairstats AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common,
               MIN(sa.sz) AS sz_a, MIN(sb.sz) AS sz_b
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN sizes sa ON sa.doc_id = a.doc_id
        JOIN sizes sb ON sb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    {",".join(per_t)},
    nd AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT CAST(threshold_e3 AS INT)     AS threshold_e3,
           CAST(n_edges AS BIGINT)       AS n_edges,
           CAST(n_linked_docs AS BIGINT) AS n_linked_docs,
           CAST(n_clusters AS BIGINT)    AS n_clusters,
           CAST(largest_cluster AS BIGINT) AS largest_cluster,
           CAST(nd.n_docs - n_clusters AS BIGINT) AS n_removed,
           CAST(n_clusters * 10000 // nd.n_docs AS BIGINT) AS yield_e4
    FROM ({union}) CROSS JOIN nd
    """


@register("qx87_dedup_threshold_sweep", oracle=_threshold_sweep_oracle())
def qx87_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per candidate Jaccard threshold: exact edge count, linked
    docs, connected-component count, largest cluster, docs removed, and
    corpus yield (e4) — the operating-point table for choosing a dedup
    threshold. Edges at every threshold come from ONE shared pair-stats
    materialization (the session-checkpointed q88/qx24/qx34 candidate
    pipeline — sweeping thresholds costs three integer filters, not
    three shingle shuffles); components run per threshold via the q98
    min-label propagation with exact-fixpoint detection.

    Plan: pair-stats is the only data-sized work and is reused across
    the sweep AND across every other similarity-graph consumer in the
    session; each CC round is edge-sized (near-dup pairs ≪ corpus).
    Thresholds are integer e3 — the edge predicate
    1000·∩ ≥ t·∪ is exact cross-multiplication on both engines. At
    100 TB: same argument as q98; the sweep adds |thresholds| CC runs
    over strictly shrinking edge subsets (edges(0.7) ⊆ edges(0.3)).

    The |thresholds| CC runs execute as ONE fixpoint loop over the
    DISJOINT UNION graph: node ids encode (doc, threshold-index) as
    doc·3 + ti (bijective, order-preserving within a fixed ti — needs
    |doc_id| < 2^62, documented slack for any realistic id space), so
    each threshold's subgraph propagates independently inside the same
    join+agg round and the per-threshold labels read back off as
    ``label div 3``. Identical results by construction: min-label
    propagation never crosses the disjoint components, the global
    checksum is stable exactly when every subgraph's is (labels only
    decrease), and a converged subgraph's extra rounds are no-ops. What
    it buys: one driver-synchronized round chain instead of three
    (round count = max, not sum — the former thread-pool overlap hid
    wall time but still paid 3x the jobs, checkpoints and convergence
    actions; measured 41 -> ~17 jobs), and the per-threshold stat
    aggregates fold into per-ti groupBys over one labels/edges frame
    instead of 12 crossJoined scalar aggs."""
    stats = _shingle_pair_stats(spark, sf_dir, SHINGLE_DF_CAP)
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    k = len(THRESH_SWEEP_E3)
    tagged = None
    for ti, t in enumerate(THRESH_SWEEP_E3):
        e = stats.filter(
            1000 * F.col("n_common")
            >= t * (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
        ).select(
            F.lit(ti).alias("ti"),
            (F.col("doc_a") * k + ti).alias("doc_a"),
            (F.col("doc_b") * k + ti).alias("doc_b"),
        )
        tagged = e if tagged is None else tagged.unionByName(e)
    # consumed by the CC loop AND the edge-stat aggs — pin one
    # materialization of the three filters over pair-stats
    tagged = tagged.localCheckpoint(eager=False)

    nodes = docs.crossJoin(
        spark.range(0, k, 1, 1).select(F.col("id").cast("int").alias("ti"))
    ).select((F.col("doc_id") * k + F.col("ti")).alias("node"))
    # decode is exact for any id sign: pmod recovers ti, and label - ti
    # is divisible by k so the division has no truncation to get wrong
    labels = connected_components(nodes, tagged).select(
        F.pmod(F.col("node"), F.lit(k)).cast("int").alias("ti"),
        F.expr(f"(label - pmod(label, {k})) div {k}").alias("label"),
    )

    comp = (
        labels.groupBy("ti", "label")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("ti")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.max("c").cast("bigint").alias("largest_cluster"),
        )
    )
    # endpoint explode + countDistinct — two-phase distinct agg, never a
    # per-group multiset in an aggregate buffer; each edge contributes
    # exactly 2 endpoint rows so n_edges = count div 2 off the same pass
    edge_stats = (
        tagged.select(
            "ti", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("ti")
        .agg(
            F.expr("count(1) div 2").cast("bigint").alias("n_edges"),
            F.countDistinct("d").cast("bigint").alias("n_linked_docs"),
        )
    )
    # the ti spine is a literal frame so every threshold emits its row
    # even over an empty corpus / empty edge set (the EMPTY_AGG contract)
    spine = spark.range(0, k, 1, 1).select(F.col("id").cast("int").alias("ti"))
    thresh = F.element_at(
        F.array(*[F.lit(t) for t in THRESH_SWEEP_E3]), F.col("ti") + 1
    )
    return (
        spine.join(F.broadcast(comp), "ti", "left")
        .join(F.broadcast(edge_stats), "ti", "left")
        .select(
            thresh.cast("int").alias("threshold_e3"),
            F.coalesce("n_edges", F.lit(0)).cast("bigint").alias("n_edges"),
            F.coalesce("n_linked_docs", F.lit(0))
            .cast("bigint")
            .alias("n_linked_docs"),
            F.coalesce("n_clusters", F.lit(0))
            .cast("bigint")
            .alias("n_clusters"),
            "largest_cluster",
            (F.lit(n_docs) - F.coalesce("n_clusters", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            # n_docs is a driver literal; on an empty corpus the yield
            # ratio is undefined -> NULL, not an ANSI divide-by-zero
            (
                F.expr(
                    f"cast(coalesce(n_clusters, 0) * 10000 div {n_docs}"
                    " as bigint)"
                )
                if n_docs
                else F.lit(None).cast("bigint")
            ).alias("yield_e4"),
        )
    )


# ---------------------------------------------------------------------------
# qx97: cross-split vocabulary OOV — what fraction of eval-split tokens
# the training split never saw. Doc-level leakage safety (qx06) is
# necessary but not sufficient for a meaningful eval: if the test split
# is lexically disjoint from train (high OOV), the eval measures
# generalization to a different DOMAIN, not quality; if OOV ≈ 0 on a
# template corpus, the splits are near-interchangeable. This query
# measures exactly that, on qx06's own split assignment.
# ---------------------------------------------------------------------------


def _split_oov_oracle() -> str:
    return f"""
    WITH RECURSIVE edges AS (SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS_SQL}) jp),
    und AS (SELECT doc_a AS a, doc_b AS b FROM edges
            UNION ALL SELECT doc_b, doc_a FROM edges),
    reach AS (
        SELECT doc_id AS node, doc_id AS root FROM documents
        UNION
        SELECT u.b AS node, r.root FROM reach r JOIN und u ON u.a = r.node),
    cl AS (SELECT node, MIN(root) AS cluster_id FROM reach GROUP BY node),
    sp AS (
        SELECT node AS doc_id,
               CASE WHEN pct < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN pct < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT node,
                     100.0 * CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                                  AS BIGINT) / {_SPLIT_U32} AS pct
              FROM cl)),
    tok AS MATERIALIZED (
        -- select-level unnest, not LATERAL: DuckDB's lateral unnest
        -- never finishes on the pathological fixture's multi-MB token
        -- arrays (the select-level form takes seconds); materialized
        -- because two consumers would otherwise re-run the inlined
        -- split/CC chain above
        SELECT sp.split,
               unnest(regexp_split_to_array(translate(d.text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'))
                   AS tok
        FROM documents d
        JOIN sp ON sp.doc_id = d.doc_id),
    train_vocab AS MATERIALIZED (
        SELECT DISTINCT tok FROM tok WHERE split = 'train'),
    ev AS (
        SELECT tok.split, tok.tok,
               CASE WHEN tv.tok IS NULL THEN 1 ELSE 0 END AS oov
        FROM tok LEFT JOIN train_vocab tv ON tv.tok = tok.tok
        WHERE tok.split <> 'train')
    SELECT split,
           CAST(COUNT(*) AS BIGINT)                 AS n_tokens,
           CAST(SUM(oov) AS BIGINT)                 AS n_oov,
           CAST(SUM(oov) * 10000 // COUNT(*) AS BIGINT) AS oov_rate_e4,
           CAST(COUNT(DISTINCT tok) AS BIGINT)      AS n_distinct,
           CAST(COUNT(DISTINCT CASE WHEN oov = 1 THEN tok END) AS BIGINT)
               AS n_distinct_oov
    FROM ev GROUP BY split
    """


@register("qx97_split_vocab_oov", oracle=_split_oov_oracle())
def qx97_split_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level out-of-vocabulary rates of the val/test splits
    against the train split's vocabulary, on qx06's leakage-safe
    cluster-hash assignment: occurrence and distinct-type OOV counts
    plus integer e4 rates per eval split — see the section comment for
    why this is the companion check to doc-level leakage safety.

    Plan: the split assignment reuses the session-checkpointed edge
    list + components (shared with qx06/q98); tokens are ONE explode
    folded immediately into a (split, token) -> count hash-agg
    (map-side combined), so the corpus is scanned once — the old shape
    filtered the explode twice (train vocabulary pass + eval join
    pass) and shipped raw occurrence rows into the vocabulary join.
    Everything downstream (vocabulary membership, occurrence and
    distinct-type OOV counts) reads off the Zipf-bounded count table:
    n_tokens = sum(c), n_oov = sum(c·oov), n_distinct = row count,
    n_distinct_oov = sum(oov) — identical integers by construction.
    At 100 TB the vocabulary join is now count-table × count-table
    keyed by token (the known hot keys are stop-words; qx44's
    skew-profile feeds a salting decision). All counts exact."""
    splits = qx06_leakage_safe_split(spark, sf_dir).select("doc_id", "split")
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.join(splits, "doc_id")
        .select(
            "split",
            F.explode(F.split(ascii_lower("text"), r"\s+")).alias("tok"),
        )
    )
    # vocab-sized, two consumers (train side + eval side) — pin so the
    # corpus explode+agg is planned once
    tcounts = (
        tok.groupBy("split", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    train_vocab = (
        tcounts.filter(F.col("split") == "train").select("tok")
        .withColumn("__in_train", F.lit(1))
    )
    ev = (
        tcounts.filter(F.col("split") != "train")
        .join(train_vocab, "tok", "left")
        .select(
            "split",
            "c",
            F.when(F.col("__in_train").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    return ev.groupBy("split").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(F.col("c") * F.col("oov")).cast("bigint").alias("n_oov"),
        F.expr("cast(sum(c * oov) * 10000 div sum(c) as bigint)").alias(
            "oov_rate_e4"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum("oov").cast("bigint").alias("n_distinct_oov"),
    )
