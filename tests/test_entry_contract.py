"""The driver contract in ``__spark_entry__.py``, pinned structurally.

The driver records the first 50 entries of ``queries()`` in sorted-name
order as the round's correctness gate. A rotation mistake (51 aliases, an
alias without an oracle, a key matching zero or two registry names) would
silently burn gate rows, so the selection mechanics are tested without
starting Spark.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from kafka2delta_spark.queryset import ORACLES, QUERIES, load_all_querysets


def test_gate_block_is_exactly_the_first_fifty():
    qmap = entry.queries()
    gate = sorted(qmap)[:50]
    assert all(n.startswith(entry._ALIAS_PREFIX) for n in gate), (
        "a non-alias name sorted into the driver's 50-row budget"
    )
    aliases = [n for n in qmap if n.startswith(entry._ALIAS_PREFIX)]
    assert len(aliases) == 50, (
        f"alias block must be exactly the driver budget: {len(aliases)}"
    )


def test_every_alias_key_matches_exactly_one_registry_query():
    load_all_querysets()
    for key in entry._A12_KEYS:
        names = [n for n in QUERIES if n.split("_")[0] == key]
        assert len(names) == 1, f"gate key {key} matches {names}"


def test_every_alias_has_a_value_oracle():
    omap = entry.oracle_sql()
    qmap = entry.queries()
    missing = [
        n
        for n in qmap
        if n.startswith(entry._ALIAS_PREFIX) and n not in omap
    ]
    assert not missing, f"gated aliases without oracles (rows-only rows): {missing}"


def test_full_registry_remains_enumerable_behind_the_aliases():
    load_all_querysets()
    qmap = entry.queries()
    for name in QUERIES:
        assert name in qmap, f"registry query {name} missing from queries()"
    omap = entry.oracle_sql()
    for name in ORACLES:
        assert name in omap, f"oracle for {name} missing from oracle_sql()"
