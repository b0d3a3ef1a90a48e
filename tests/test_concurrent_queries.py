"""Concurrent batch-query submission on one SparkSession.

Spark's FAIR/FIFO scheduler handles concurrent jobs from threads; what
this guards is OUR layer — the query registry, the session memos
(``sources.tables.memo``: pair stats, Jaccard edges), and the absence
of hidden session-conf mutation in batch paths (the streaming drain DOES
mutate conf, which is why it takes a lock and is excluded here: its
guard raising on concurrent entry is covered by
test_incremental_ivm.py::test_concurrent_drain_raises).
"""

from concurrent.futures import ThreadPoolExecutor

SF_DIR = "/root/testdata/sf0.001"

# pure-batch queries spanning the registry's families, including two that
# share the pair-stats/edge caches (q88, qx24) to race the cache fill
NAMES = [
    "q01_pricing_summary",
    "q26_distinct_counts",
    "q80_text_quality_stats",
    "q85_exact_dedup",
    "q88_jaccard_similar_pairs",
    "qx24_containment_pairs",
    "qx19_kmv_distinct_sketch",
    "qx25_session_transition_matrix",
]


def _freeze(rows):
    return sorted(tuple(str(v) for v in r) for r in rows)


def test_concurrent_batch_queries_match_serial(spark):
    from kafka2delta_spark.queryset import QUERIES, load_all_querysets

    load_all_querysets()

    serial = {n: _freeze(QUERIES[n](spark, SF_DIR).collect()) for n in NAMES}

    def run(n):
        return n, _freeze(QUERIES[n](spark, SF_DIR).collect())

    with ThreadPoolExecutor(max_workers=4) as ex:
        concurrent = dict(ex.map(run, NAMES))

    assert concurrent == serial
