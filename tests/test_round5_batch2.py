"""Invariant tests for the round-5 second batch of operators —
properties the DuckDB oracle hash can't see:

- qx60: prefix filtering finds EXACTLY the brute-force pair set (the
  completeness theorem, verified against an all-pairs Spark computation).
- qx61: KMV overlap estimates are exact below sketch capacity and obey
  the deterministic union monotonicity.
- qx62: the reported mode really is the argmax with the pinned tiebreak.
- qx63: per-cell chi-square contributions sum to the float statistic.
- qx64: the window-function closed form equals the sequential CUSUM
  recursion replayed in Python.
- qx65: the exact integer dot numerator matches a numpy recomputation.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_prefix_filter_matches_bruteforce(spark):
    from kafka2delta_spark.functions.dedup import (
        PPJOIN_T_E3,
        qx60_prefix_filter_jaccard_join,
    )

    got = {
        (r["doc_a"], r["doc_b"]): (r["inter_sz"], r["union_sz"])
        for r in qx60_prefix_filter_jaccard_join(spark, SF_DIR).collect()
    }
    # brute force: all-pairs over trigram-shingle sets via python
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    toks = {}
    for r in docs:
        w = r["text"].lower().split()
        if len(w) >= 3:
            toks[r["doc_id"]] = {
                " ".join(w[i : i + 3]) for i in range(len(w) - 2)
            }
    want = {}
    ids = sorted(toks)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(toks[a] & toks[b])
            union = len(toks[a] | toks[b])
            if 1000 * inter >= PPJOIN_T_E3 * union:
                want[(a, b)] = (inter, union)
    assert got == want, "prefix filtering must be exact (no false neg/pos)"
    assert want, "test data should contain at least one near-dup pair"


def test_kmv_overlap_exact_below_capacity(spark):
    from kafka2delta_spark.operators.advanced import (
        KMV_K,
        qx61_kmv_set_overlap,
    )

    rows = qx61_kmv_set_overlap(spark, SF_DIR).collect()
    assert rows
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_type", "user_id")
        .collect()
    )
    users = defaultdict(set)
    for r in ev:
        users[r["event_type"]].add(r["user_id"])
    for r in rows:
        ua, ub = users[r["type_a"]], users[r["type_b"]]
        # union monotonicity holds for the deterministic estimator
        assert r["est_union"] >= max(r["est_a"], r["est_b"]) or (
            len(ua | ub) >= KMV_K
        )
        assert r["est_union"] <= r["est_a"] + r["est_b"]
        if len(ua | ub) < KMV_K:
            # below capacity every sketch is exact, so overlap is exact
            assert r["est_a"] == len(ua)
            assert r["est_b"] == len(ub)
            assert r["est_union"] == len(ua | ub)
            assert r["est_inter"] == len(ua & ub)


def test_grouped_mode_is_argmax_with_tiebreak(spark):
    from kafka2delta_spark.operators.advanced import qx62_grouped_mode

    rows = qx62_grouped_mode(spark, SF_DIR).collect()
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id", "event_type")
        .collect()
    )
    counts = defaultdict(lambda: defaultdict(int))
    for r in ev:
        counts[r["user_id"]][r["event_type"]] += 1
    assert len(rows) == len(counts), "one row per user"
    for r in rows:
        c = counts[r["user_id"]]
        best = min(((-n, t) for t, n in c.items()))
        assert (r["mode_type"], r["mode_cnt"]) == (best[1], -best[0])
        assert r["n_events"] == sum(c.values())
        assert r["n_types"] == len(c)


def test_chi2_contributions_sum_to_statistic(spark):
    from kafka2delta_spark.functions.curation import (
        CHI2_SCALE,
        qx63_chi2_source_lang,
    )

    rows = qx63_chi2_source_lang(spark, SF_DIR).collect()
    n = sum(r["o"] for r in rows)
    # marginals are consistent
    by_src = defaultdict(int)
    for r in rows:
        by_src[r["source"]] += r["o"]
    for r in rows:
        assert by_src[r["source"]] == r["row_total"]
    # fixed-point contributions track the float statistic
    chi2_float = sum(
        (r["o"] - r["row_total"] * r["col_total"] / n) ** 2
        / (r["row_total"] * r["col_total"] / n)
        for r in rows
    )
    chi2_fixed = sum(r["chi2_contrib_e4"] for r in rows) / CHI2_SCALE
    # each cell truncates toward zero by < 1/CHI2_SCALE
    assert chi2_float - len(rows) / CHI2_SCALE <= chi2_fixed <= chi2_float + 1e-9


def test_cusum_closed_form_equals_recursion(spark):
    from kafka2delta_spark.operators.advanced import (
        CUSUM_SLACK_DIV,
        qx64_cusum_changepoints,
    )

    rows = qx64_cusum_changepoints(spark, SF_DIR).collect()
    series = defaultdict(list)
    for r in rows:
        series[r["event_type"]].append(r)
    for et, rs in series.items():
        rs.sort(key=lambda r: r["day"])
        mu = rs[0]["mu"]
        assert all(r["mu"] == mu for r in rs)
        s = 0
        for r in rs:
            s = max(0, s + r["cnt"] - mu - mu // CUSUM_SLACK_DIV)
            assert r["cusum"] == s, f"{et} {r['day']}: closed form != recursion"
            assert r["alarm"] == (1 if s > mu else 0)


def test_centroid_drift_matches_numpy(spark):
    np = pytest.importorskip("numpy")
    from kafka2delta_spark.functions.similarity import (
        DIMSTAT_SCALE,
        qx65_centroid_drift,
    )

    rows = qx65_centroid_drift(spark, SF_DIR).collect()
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("label", "embedding")
        .collect()
    )
    sums = defaultdict(lambda: None)
    for r in emb:
        v = np.floor(np.array(r["embedding"], dtype=np.float64) * DIMSTAT_SCALE)
        v = v.astype(object)  # python ints: no int64 overflow in the dot
        sums[r["label"]] = v if sums[r["label"]] is None else sums[r["label"]] + v
    g = sum(sums.values())
    for r in rows:
        s = sums[r["label"]]
        dot = int(np.dot(s, g))
        assert int(r["dot_num"]) == dot
        cos = dot / math.sqrt(float(np.dot(s, s)) * float(np.dot(g, g)))
        assert abs(r["cosine"] - cos) < 5e-4
        assert -1.0 <= r["cosine"] <= 1.0


def test_kcore_fixpoint_and_peeling_equivalence(spark):
    """The bounded-round Jacobi peel must reach the true 2-core (fixpoint
    well before KCORE_ROUNDS), verified against an unbounded sequential
    peel in Python; within-core degrees must all be >= K."""
    from kafka2delta_spark.functions.dedup import _jaccard_edges
    from kafka2delta_spark.operators.mining import (
        KCORE_K,
        qx66_kcore_decomposition,
    )

    rows = qx66_kcore_decomposition(spark, SF_DIR).collect()
    edges = [
        (r["doc_a"], r["doc_b"])
        for r in _jaccard_edges(spark, SF_DIR).collect()
    ]
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    alive = set(adj)
    while True:  # peel to the TRUE fixpoint, no round cap
        drop = {v for v in alive if len(adj[v] & alive) < KCORE_K}
        if not drop:
            break
        alive -= drop
    got_core = {r["doc_id"] for r in rows if r["in_core"] == 1}
    assert got_core == alive, "bounded peel must reach the true 2-core"
    for r in rows:
        assert r["deg_full"] == len(adj[r["doc_id"]])
        if r["in_core"]:
            assert r["deg_core"] >= KCORE_K
            assert r["deg_core"] == len(adj[r["doc_id"]] & alive)
        else:
            assert r["deg_core"] == 0


def test_temporal_holdout_counts_and_boundary(spark):
    from kafka2delta_spark.functions.pipeline import (
        HOLDOUT_PCT,
        qx67_temporal_holdout_split,
    )

    rows = qx67_temporal_holdout_split(spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_events = ev.count()
    assert sum(r["n_train"] + r["n_test"] for r in rows) == n_events
    # the holdout is a genuine suffix: ~20% of the SPAN, so both sides
    # must be non-empty on this uniformly-spread synthetic data
    n_test = sum(r["n_test"] for r in rows)
    assert 0 < n_test < n_events
    for r in rows:
        assert r["cold_start"] == (
            1 if r["n_train"] == 0 and r["n_test"] > 0 else 0
        )


def test_dedup_yield_funnel_consistency(spark):
    from kafka2delta_spark.functions.dedup import q98_neardup_clusters
    from kafka2delta_spark.functions.pipeline import qx68_dedup_yield_funnel

    rows = qx68_dedup_yield_funnel(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    per_source = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert {r["source"]: r["n_docs"] for r in rows} == per_source
    for r in rows:
        assert 0 < r["n_exact_unique"] <= r["n_docs"]
        assert 0 <= r["n_canonical"] <= r["n_docs"]
    # exactly one canonical per near-dup cluster, summed across sources
    n_clusters = (
        q98_neardup_clusters(spark, SF_DIR)
        .select("cluster_id")
        .distinct()
        .count()
    )
    assert sum(r["n_canonical"] for r in rows) == n_clusters


def test_source_overlap_matrix_matches_python(spark):
    from kafka2delta_spark.functions.dedup import qx69_source_overlap_matrix

    rows = qx69_source_overlap_matrix(spark, SF_DIR).collect()
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    sets = defaultdict(set)
    for r in docs:
        w = r["text"].lower().split()
        sets[r["source"]] |= {
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        }
    for r in rows:
        a, b = sets[r["source_a"]], sets[r["source_b"]]
        assert r["inter_sz"] == len(a & b)
        assert r["union_sz"] == len(a | b)
        assert r["jaccard"] <= r["containment"] + 1e-9
    # every source pair with any shared shingle must be present
    srcs = sorted(sets)
    expected_pairs = {
        (x, y)
        for i, x in enumerate(srcs)
        for y in srcs[i + 1 :]
        if sets[x] & sets[y]
    }
    assert {(r["source_a"], r["source_b"]) for r in rows} == expected_pairs


def test_streaming_cusum_replay_is_noop_and_matches_batch(spark, tmp_path):
    """Additive daily-count cells under the ledger: a replayed batch must
    not double-count, split application must equal the single-batch
    aggregate, and the CUSUM read over the maintained table must equal
    qx64's batch output."""
    from kafka2delta_spark.operators.advanced import (
        cusum_from_daily,
        qx64_cusum_changepoints,
    )
    from kafka2delta_spark.state.store import ParquetStateStore
    from kafka2delta_spark.streaming.incremental import (
        apply_batch,
        daily_count_fold,
    )
    from kafka2delta_spark.sources.tables import load_table

    events = load_table(spark, SF_DIR, "events")
    b0 = events.filter(F.col("event_id") % 2 == 0)
    b1 = events.filter(F.col("event_id") % 2 == 1)
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    assert apply_batch(store, b0, 0, daily_count_fold) is True
    assert apply_batch(store, b0, 0, daily_count_fold) is False  # replay no-op
    snap = {tuple(r) for r in store.read().collect()}
    apply_batch(store, b0, 0, daily_count_fold)
    assert {tuple(r) for r in store.read().collect()} == snap
    assert apply_batch(store, b1, 1, daily_count_fold) is True
    # maintained table == batch aggregate
    want = {
        (r["event_type"], str(r["day"]), r["cnt"])
        for r in events.groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    got = {
        (r["event_type"], str(r["day"]), r["cnt"])
        for r in store.read().collect()
    }
    assert got == want
    # CUSUM over the maintained table == the batch query
    got_c = sorted(
        tuple(r) for r in cusum_from_daily(store.read()).collect()
    )
    want_c = sorted(
        tuple(r) for r in qx64_cusum_changepoints(spark, SF_DIR).collect()
    )
    assert got_c == want_c


def test_novelty_curve_conservation(spark):
    """Bucket-level first-seen counts must conserve the global shingle
    vocabulary, and a full Python replay must agree."""
    from kafka2delta_spark.functions.dedup import (
        NOVELTY_BUCKET,
        qx71_corpus_novelty_curve,
        shingle_rows,
    )

    rows = {r["bucket"]: r for r in qx71_corpus_novelty_curve(spark, SF_DIR).collect()}
    sr = shingle_rows(spark, SF_DIR).collect()
    first = {}
    per_doc = defaultdict(set)
    for r in sr:
        per_doc[r["doc_id"]].add(r["shingle"])
        if r["shingle"] not in first or r["doc_id"] < first[r["shingle"]]:
            first[r["shingle"]] = r["doc_id"]
    assert sum(r["n_first_seen"] for r in rows.values()) == len(first)
    assert sum(r["n_shingles"] for r in rows.values()) == len(sr)
    want = defaultdict(lambda: [0, 0, 0])  # docs, shingles, new
    for d, shs in per_doc.items():
        b = d // NOVELTY_BUCKET
        want[b][0] += 1
        want[b][1] += len(shs)
        want[b][2] += sum(1 for s in shs if first[s] == d)
    assert set(rows) == set(want)
    for b, (nd, ns, nn) in want.items():
        r = rows[b]
        assert (r["n_docs"], r["n_shingles"], r["n_first_seen"]) == (nd, ns, nn)
        assert r["novelty_e4"] == nn * 10000 // ns


def test_quality_quantile_norm_is_rank_exact(spark):
    from kafka2delta_spark.functions.curation import (
        qx72_quality_quantile_norm,
    )

    rows = qx72_quality_quantile_norm(spark, SF_DIR).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r["source"]].append(r)
    for src, rs in by_src.items():
        logits = sorted(r["logit_micro"] for r in rs)
        n = len(logits)
        for r in rs:
            rk = logits.index(r["logit_micro"]) + 1  # RANK: 1 + #strictly-less
            want = (rk - 1) * 1_000_000 // (n - 1) if n > 1 else 0
            assert r["pct_rank_e6"] == want
        assert min(r["pct_rank_e6"] for r in rs) == 0
        assert max(r["pct_rank_e6"] for r in rs) <= 1_000_000


def test_gini_matches_bruteforce_rank_sum(spark):
    """The histogram closed form must equal the naive sorted-rank Gini
    (integer arithmetic replayed in Python), and the Lorenz curve must be
    monotone, convex-bounded, and end at exactly 1e6."""
    from kafka2delta_spark.operators.advanced import (
        qx73_event_concentration_gini,
    )

    rows = sorted(
        qx73_event_concentration_gini(spark, SF_DIR).collect(),
        key=lambda r: r["decile"],
    )
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    counts = defaultdict(int)
    for r in ev:
        counts[r["user_id"]] += 1
    xs = sorted(counts.values())
    n, sx = len(xs), sum(xs)
    sixi = sum((i + 1) * x for i, x in enumerate(xs))
    gini = (2 * sixi - (n + 1) * sx) * 1_000_000 // (n * sx)
    assert all(r["gini_e6"] == gini for r in rows)
    for r in rows:
        rk = r["decile"] * n // 10
        assert r["rank_at"] == rk
        assert r["cum_events"] == sum(xs[:rk])
        assert r["lorenz_e6"] == sum(xs[:rk]) * 1_000_000 // sx
    shares = [r["lorenz_e6"] for r in rows]
    assert shares == sorted(shares), "Lorenz must be monotone"
    assert rows[-1]["lorenz_e6"] == 1_000_000
    # below the diagonal (inequality): each decile's share <= its rank share
    for r in rows:
        assert r["lorenz_e6"] <= r["decile"] * 100_000 + 1


def test_feature_correlation_matches_python(spark):
    """Exact covariance numerators replayed in Python int arithmetic."""
    from kafka2delta_spark.operators.advanced import (
        qx74_feature_correlation_audit,
    )

    rows = qx74_feature_correlation_audit(spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    feats = defaultdict(list)
    for r in ev:
        ts = r["ts"]
        feats[r["event_type"]].append(
            {
                "value_e3": math.floor(r["value"] * 1000),
                "hod": ts.hour,
                "dow": ts.isoweekday(),
            }
        )
    for r in rows:
        xs = [f[r["feat_a"]] for f in feats[r["event_type"]]]
        ys = [f[r["feat_b"]] for f in feats[r["event_type"]]]
        n = len(xs)
        num = n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
        assert r["n"] == n
        assert int(r["cov_num"]) == num
        da = n * sum(x * x for x in xs) - sum(xs) ** 2
        db = n * sum(y * y for y in ys) - sum(ys) ** 2
        want_r = num / math.sqrt(da * db)
        assert abs(r["pearson_r"] - want_r) < 5e-4


def test_lsh_sweep_matches_python_minhash(spark):
    """Third independent implementation: hashlib minhash + banding +
    width cap in pure Python must reproduce every sweep count, and
    recall must be non-increasing in rows-per-band."""
    import hashlib

    from kafka2delta_spark.functions.dedup import (
        BAND_BUCKET_CAP,
        N_MINHASH,
        PPJOIN_T_E3,
        SWEEP_CONFIGS,
        qx75_lsh_band_sweep,
    )

    rows = {
        r["rows_per_band"]: r
        for r in qx75_lsh_band_sweep(spark, SF_DIR).collect()
    }
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    shingles = {}
    for d in docs:
        w = d["text"].lower().split()
        if len(w) >= 3:
            shingles[d["doc_id"]] = {
                " ".join(w[i : i + 3]) for i in range(len(w) - 2)
            }
    sig = {
        doc: [
            min(
                hashlib.md5(f"{seed}:{s}".encode()).hexdigest()
                for s in shs
            )
            for seed in range(N_MINHASH)
        ]
        for doc, shs in shingles.items()
    }
    ids = sorted(shingles)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(shingles[a] & shingles[b])
            union = len(shingles[a] | shingles[b])
            if 1000 * inter >= PPJOIN_T_E3 * union:
                truth.add((a, b))
    for r, nb in SWEEP_CONFIGS:
        buckets = defaultdict(list)
        for doc, mh in sig.items():
            for k in range(nb):
                buckets[(k, "".join(mh[k * r : k * r + r]))].append(doc)
        cand = set()
        for ds in buckets.values():
            if 2 <= len(ds) <= BAND_BUCKET_CAP:
                ds = sorted(ds)
                for i, a in enumerate(ds):
                    for b in ds[i + 1 :]:
                        cand.add((a, b))
        row = rows[r]
        assert row["n_candidates"] == len(cand)
        assert row["n_true"] == len(truth)
        assert row["n_hits"] == len(cand & truth)
    recalls = [rows[r]["recall_e4"] for r, _ in SWEEP_CONFIGS]
    assert recalls == sorted(recalls, reverse=True), (
        "stricter banding must not gain recall"
    )


def test_centroid_separation_matches_numpy(spark):
    np = pytest.importorskip("numpy")
    from kafka2delta_spark.functions.similarity import (
        DIMSTAT_SCALE,
        qx76_centroid_separation,
    )

    rows = qx76_centroid_separation(spark, SF_DIR).collect()
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("label", "embedding")
        .collect()
    )
    sums = defaultdict(lambda: None)
    ns = defaultdict(int)
    for r in emb:
        v = np.floor(
            np.array(r["embedding"], dtype=np.float64) * DIMSTAT_SCALE
        ).astype(object)
        sums[r["label"]] = v if sums[r["label"]] is None else sums[r["label"]] + v
        ns[r["label"]] += 1
    labels = sorted(sums)
    assert len(rows) == len(labels) * (len(labels) - 1) // 2
    trunc_div = lambda s, n: int(s // n) if s >= 0 else -int((-s) // n)
    for r in rows:
        a, b = r["label_a"], r["label_b"]
        ca = [trunc_div(s, ns[a]) for s in sums[a]]
        cb = [trunc_div(s, ns[b]) for s in sums[b]]
        d2 = sum((x - y) ** 2 for x, y in zip(ca, cb))
        assert r["d2_e12"] == d2
        dot = int(np.dot(sums[a], sums[b]))
        cos = dot / math.sqrt(
            float(np.dot(sums[a], sums[a])) * float(np.dot(sums[b], sums[b]))
        )
        assert abs(r["cosine"] - cos) < 5e-4


def test_image_batch_plan_replays_packing(spark):
    from kafka2delta_spark.functions.multimodal import (
        PIX_BUDGET,
        qx77_image_batch_plan,
    )

    rows = qx77_image_batch_plan(spark, SF_DIR).collect()
    docs = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .collect()
    )
    want = defaultdict(lambda: [0, 0])  # (class, batch) -> [n, px]
    cum = defaultdict(int)
    for d in docs:
        w, h = 640 + d % 1280, 360 + d % 720
        px = w * h
        cls = (
            ("landscape" if w > h else "portrait" if w < h else "square")
            + "_"
            + ("large" if px >= 1_000_000 else "small")
        )
        cum[cls] += px
        b = (cum[cls] - 1) // PIX_BUDGET
        want[(cls, b)][0] += 1
        want[(cls, b)][1] += px
    got = {(r["shape_class"], r["batch_id"]): (r["n_images"], r["batch_pixels"]) for r in rows}
    assert got == {k: tuple(v) for k, v in want.items()}
    # batch ids are contiguous from 0 within each class
    by_cls = defaultdict(list)
    for cls, b in got:
        by_cls[cls].append(b)
    for cls, bs in by_cls.items():
        assert sorted(bs) == list(range(len(bs)))


def _python_sessions(ev_rows, gap_min=30):
    """Replay the shared gap-rule sessionizer in Python: per user, split
    at >gap_min inactivity; returns list of sessions as ordered rows."""
    by_user = defaultdict(list)
    for r in ev_rows:
        by_user[r["user_id"]].append(r)
    sessions = []
    for u, rs in by_user.items():
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        cur = []
        last = None
        for r in rs:
            if last is not None and (
                (r["ts"] - last).total_seconds() * 1_000_000
                > gap_min * 60 * 1_000_000
            ):
                sessions.append(cur)
                cur = []
            cur.append(r)
            last = r["ts"]
        sessions.append(cur)
    return sessions


def test_sequence_motifs_match_python(spark):
    from kafka2delta_spark.operators.analytic import (
        ATTR_GAP_MIN,
        MOTIF_MIN_SUPPORT,
        qx78_sequence_motifs,
    )

    got = {
        (r["t1"], r["t2"], r["t3"]): (r["support"], r["n_users"])
        for r in qx78_sequence_motifs(spark, SF_DIR).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    support = defaultdict(int)
    users = defaultdict(set)
    for sess in _python_sessions(ev, ATTR_GAP_MIN):
        for i in range(len(sess) - 2):
            key = tuple(r["event_type"] for r in sess[i : i + 3])
            support[key] += 1
            users[key].add(sess[i]["user_id"])
    want = {
        k: (n, len(users[k]))
        for k, n in support.items()
        if n >= MOTIF_MIN_SUPPORT
    }
    assert got == want
    assert got, "corpus should contain at least one motif"


def test_linear_attribution_matches_python(spark):
    from kafka2delta_spark.operators.analytic import (
        ATTR_GAP_MIN,
        qx79_linear_attribution,
    )

    got = {
        r["event_type"]: (
            r["credit_e6"],
            r["n_touches"],
            r["revenue_1000_share"],
        )
        for r in qx79_linear_attribution(spark, SF_DIR).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    credit = defaultdict(lambda: [0, 0, 0])
    for sess in _python_sessions(ev, ATTR_GAP_MIN):
        for i, r in enumerate(sess):
            if r["event_type"] == "purchase" and i > 0:
                k = i
                v1000 = math.floor(r["value"] * 1000)
                for t in sess[:i]:
                    c = credit[t["event_type"]]
                    c[0] += 1_000_000 // k
                    c[1] += 1
                    c[2] += v1000 // k if v1000 >= 0 else -((-v1000) // k)
    assert got == {k: tuple(v) for k, v in credit.items()}
    # linear attribution conserves credit: each purchase hands out
    # exactly k * (1e6 div k) micro-credits <= 1e6
    assert sum(v[0] for v in got.values()) <= sum(
        1 for s in _python_sessions(ev, ATTR_GAP_MIN)
        for i, r in enumerate(s)
        if r["event_type"] == "purchase" and i > 0
    ) * 1_000_000
