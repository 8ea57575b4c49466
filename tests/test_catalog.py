"""Spark-free invariants of the query catalog and of the repo's live docs.

The catalog is assembled by merging each operator module's ``QUERIES``
and ``ORACLES`` in module order, so a name registered twice would silently
shadow the earlier entry, and a stale name in a timer suite or an
amplified gate would only fail minutes into a run.
"""

from __future__ import annotations

import os
import re

import __spark_entry__ as entrymod
from simple_query_engine_spark.operators import _modules, all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CATALOG_SIZE = 269

LIVE_DOCS = [
    "README.md",
    "SCALING.md",
    "BASELINE.md",
    "FIXTURES.md",
    "TESTDATA.md",
    "SURVEY.md",
    "ROADMAP.md",
    ".claude/skills/verify/SKILL.md",
]

# A root-level file name: capitalised, not part of a longer path.
_ROOT_FILE = re.compile(r"(?<![\w/.-])[A-Z][\w-]*\.(?:json|md|txt)\b")


def test_catalog_invariants():
    from tools.amplified_correctness import AMPLIFIED_GATE, CORPUS_GATE
    from tools.bench_one import SUITES

    modules = _modules()
    merged = all_queries()
    # A name registered by two modules would shadow the first silently.
    assert sum(len(m.QUERIES) for m in modules) == len(merged)
    assert list(merged) == [name for m in modules for name in m.QUERIES]
    queries = entrymod.queries()
    assert len(queries) == CATALOG_SIZE
    assert set(entrymod.oracle_sql()) <= set(queries)
    listed = SUITES["all"] + AMPLIFIED_GATE + CORPUS_GATE
    assert [n for n in listed if n not in queries] == []


def test_live_docs_cite_existing_root_files():
    dangling = {}
    for doc in LIVE_DOCS:
        with open(os.path.join(REPO, doc)) as fh:
            names = set(_ROOT_FILE.findall(fh.read()))
        missing = sorted(
            n for n in names if not os.path.isfile(os.path.join(REPO, n))
        )
        if missing:
            dangling[doc] = missing
    assert dangling == {}
