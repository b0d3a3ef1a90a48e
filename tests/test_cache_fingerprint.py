"""Session memos must not serve stale checkpoints when files under the
memoized sf_dir change mid-session: the compute-once materializations
(pair stats / edge lists / PQ quantizer) key on a content fingerprint
(name, size, mtime_ns per parquet file) in addition to the path, in a
table owned by the session object.

VERDICT r06 item 8: the scale-stress tests write scaled copies to NEW
dirs today, so the staleness was latent — this pins the guard directly.
"""

import gc
import shutil
import weakref

from kafka2delta_spark.sources.tables import (
    _MEMO_ATTR,
    clear,
    memo,
    sf_fingerprint,
)

SF_DIR = "/root/testdata/sf0.001"


def _clone_sf(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    for t in ("documents", "embeddings"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def test_fingerprint_changes_on_rewrite(tmp_path):
    d = _clone_sf(tmp_path)
    fp1 = sf_fingerprint(d)
    assert fp1, "non-empty fingerprint for a populated dir"
    # rewrite one table with different content (truncated copy)
    src = open(f"{d}/documents.parquet", "rb").read()
    with open(f"{d}/documents.parquet", "wb") as f:
        f.write(src[: len(src) // 2])
    fp2 = sf_fingerprint(d)
    assert fp1 != fp2


def test_fingerprint_missing_dir_is_empty():
    assert sf_fingerprint("/nonexistent/path") == ()


class _Session:
    """Plain stand-in for a SparkSession: the memo needs only an object."""


class _Built:
    pass


def test_memo_builds_once_per_session_until_cleared():
    builds = []

    def build():
        builds.append(1)
        return _Built()

    s1, s2 = _Session(), _Session()
    first = memo(s1, "kind", "/no/such/dir", 3, build=build)
    assert memo(s1, "kind", "/no/such/dir", 3, build=build) is first
    assert len(builds) == 1, "second call on the same session must hit"

    other = memo(s2, "kind", "/no/such/dir", 3, build=build)
    assert other is not first and len(builds) == 2, "each session builds its own"

    assert memo(s1, "kind", "/no/such/dir", 4, build=build) is not first
    assert len(builds) == 3, "a different extra key part is a different entry"

    clear(s1)
    assert memo(s1, "kind", "/no/such/dir", 3, build=build) is not first
    assert len(builds) == 4, "clear forces a rebuild"
    assert memo(s2, "kind", "/no/such/dir", 3, build=build) is other


def test_memo_replaces_superseded_entry_on_rewrite(tmp_path):
    """A rewritten file rebuilds the entry AND drops the superseded one:
    the table holds one entry per (kind, sf_dir), not one per fingerprint."""
    builds = []

    def build():
        builds.append(1)
        return _Built()

    d = str(tmp_path)
    (tmp_path / "events.parquet").write_bytes(b"v1")
    s = _Session()
    first = memo(s, "kind", d, build=build)
    assert memo(s, "kind", d, build=build) is first and len(builds) == 1

    (tmp_path / "events.parquet").write_bytes(b"version two")
    second = memo(s, "kind", d, build=build)
    assert second is not first and len(builds) == 2, "rewrite must rebuild"
    assert memo(s, "kind", d, build=build) is second and len(builds) == 2

    table = s.__dict__[_MEMO_ATTR]
    assert [k for k in table if k[:2] == ("kind", d)] == [("kind", d)]


def test_memo_table_dies_with_its_session():
    s = _Session()
    value = weakref.ref(memo(s, "kind", "/no/such/dir", build=_Built))
    assert value() is not None
    del s
    gc.collect()
    assert value() is None, "memo entry outlived its session"


def test_pair_stats_cache_invalidates_on_mutation(spark, tmp_path):
    """Mutating documents.parquet under a cached dir must yield a FRESH
    materialization (different row universe), not the stale checkpoint."""
    import pyspark.sql.functions as F

    from kafka2delta_spark.functions.dedup import _jaccard_pairs

    d = _clone_sf(tmp_path)
    before = _jaccard_pairs(spark, d).count()

    # shrink the corpus to its first half by doc_id and rewrite IN PLACE
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    half = (
        docs.filter(F.col("doc_id") < n // 2)
        .toPandas()
    )
    half.to_parquet(f"{d}/documents.parquet", index=False)

    after = _jaccard_pairs(spark, d).count()
    # the half corpus cannot contain MORE near-dup pairs; and for this
    # dataset it strictly loses some (both counts verified non-trivial)
    assert after != before, "cache served a stale checkpoint after mutation"
    assert after < before


def test_pq_cache_invalidates_on_mutation(spark, tmp_path):
    import pandas as pd

    from kafka2delta_spark.functions.clustering import pq_components

    d = _clone_sf(tmp_path)
    vecs1, *_ = pq_components(spark, d)
    n1 = vecs1.count()

    emb = pd.read_parquet(f"{d}/embeddings.parquet")
    emb.iloc[: len(emb) // 2].to_parquet(f"{d}/embeddings.parquet", index=False)

    vecs2, *_ = pq_components(spark, d)
    assert vecs2.count() == len(emb) // 2 != n1


def test_shingle_rows_cache_matches_uncached_and_invalidates(spark, tmp_path):
    """The shared postings materialization (round-7 shingle_rows_cached)
    must return exactly shingle_rows' rows, and a mutated table under a
    cached dir must yield a fresh postings set, not the stale one."""
    import pyspark.sql.functions as F

    from kafka2delta_spark.functions.dedup import (
        shingle_rows,
        shingle_rows_cached,
    )

    d = _clone_sf(tmp_path)
    cached = {
        (r.doc_id, r.shingle) for r in shingle_rows_cached(spark, d).collect()
    }
    direct = {
        (r.doc_id, r.shingle) for r in shingle_rows(spark, d).collect()
    }
    assert cached == direct and cached

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    half = docs.filter(F.col("doc_id") < n // 2).toPandas()
    half.to_parquet(f"{d}/documents.parquet", index=False)

    after = {
        (r.doc_id, r.shingle) for r in shingle_rows_cached(spark, d).collect()
    }
    assert after != cached  # fresh materialization, not the checkpoint
    assert {i for i, _ in after} == {i for i, _ in cached if i < n // 2}
