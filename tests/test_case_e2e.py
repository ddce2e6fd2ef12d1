"""End-to-end labeled pair cases through the full Spark pipeline.

The 25 two-record cases from the reference
(/root/reference/tests/test_cases.json, schema dedupe_test_cases/v1) are
run in ONE combined pipeline invocation: with exactly two records per
case, co-clustering is equivalent to a duplicate-labeled edge between the
pair, and both blocking and rule evaluation are per-pair local — so the
combined run yields the same per-case verdicts as 25 isolated runs.
"""
import json
from pathlib import Path

import pytest

from bib_dedupe_spark import block, match, prep
from tests.reference_cases import REFERENCE_ROOT, reference_available

pytestmark = pytest.mark.skipif(
    not reference_available(), reason="reference checkout not available"
)

_FIELDS = [
    "ID",
    "ENTRYTYPE",
    "author",
    "title",
    "journal",
    "booktitle",
    "volume",
    "number",
    "pages",
    "year",
    "abstract",
    "doi",
]


def _load_cases() -> list:
    # read only when the reference exists: parametrize calls this at
    # collection, before the module's skipif applies
    if not reference_available():
        return []
    data = json.loads(
        (REFERENCE_ROOT / "tests" / "test_cases.json").read_text(encoding="utf-8")
    )
    return data["cases"]


@pytest.fixture(scope="module")
def duplicate_edges(spark):
    rows = []
    for case in _CASES:
        for side in ("record_a", "record_b"):
            rec = case[side]
            row = {
                f: "" if rec.get(f) is None else str(rec.get(f))
                for f in _FIELDS
            }
            row["ID"] = f"{case['id']}::{rec['ID']}"
            rows.append(row)
    records = spark.createDataFrame(rows)
    prepared = prep(records)
    pairs = block(prepared, max_block_size=None)
    matched = match(pairs)
    edges = {
        frozenset((r["ID_1"], r["ID_2"]))
        for r in matched.filter("duplicate_label = 'duplicate'").collect()
    }
    return edges


_CASES = _load_cases()


@pytest.mark.parametrize("case", _CASES, ids=[c["id"] for c in _CASES])
def test_labeled_pair(case, duplicate_edges):
    a = f"{case['id']}::{case['record_a']['ID']}"
    b = f"{case['id']}::{case['record_b']['ID']}"
    got = frozenset((a, b)) in duplicate_edges
    assert got == case["expected_duplicate"], case.get("note", "")
