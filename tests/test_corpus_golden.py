"""Characterization golden of the three index trees on a generated corpus.

The release comes from the benchmark's seeded generator
(``perfbench/corpus.py``, imported only): 12 donors over 3 studies with
half of them in the first study, 2 children per donor and ontology terms
10 ancestors deep. It adds to the 3-donor fixture golden
(``tests/test_index_golden.py``) study skew, many nested rows per donor,
and main categories found only at the end of a deep ``ancestors`` array.
Documents and the index schema are canonicalized as that golden does.

Regenerate ``tests/golden/corpus.json``, only when an output change is
intended, with ``python -m tests.test_corpus_golden``.
"""

from __future__ import annotations

import json
import tempfile

import pytest

from perfbench.corpus import Shape, write_release
from tests.test_index_golden import GOLDEN, TREES, process_release, snapshot_of

SHAPE = Shape(donors=12, children=2, ancestors=10, studies=3, skew=0.5)
SEED = 17


def corpus_snapshot(spark, root: str) -> dict:
    release = write_release(root, SHAPE, SEED)
    frames = process_release(
        spark, release.raw, release.ontology, release.dictionary, root
    )
    return snapshot_of(frames, root)


@pytest.fixture(scope="module")
def snapshot(spark, tmp_path_factory):
    return corpus_snapshot(spark, str(tmp_path_factory.mktemp("corpus")))


@pytest.fixture(scope="module")
def golden():
    return json.loads((GOLDEN / "corpus.json").read_text())


@pytest.mark.parametrize("tree", TREES)
def test_corpus_schema_matches_golden(snapshot, golden, tree):
    assert snapshot["schema"][tree] == golden["schema"][tree]


@pytest.mark.parametrize("tree", TREES)
def test_corpus_documents_match_golden(snapshot, golden, tree):
    got, want = snapshot["docs"][tree], golden["docs"][tree]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w


if __name__ == "__main__":
    from cqdg_etl_spark.session import get_spark

    session = get_spark(app_name="cqdg-corpus-golden", shuffle_partitions=8)
    GOLDEN.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory() as root:
        data = corpus_snapshot(session, root)
    (GOLDEN / "corpus.json").write_text(json.dumps(data, indent=1) + "\n")
    print("wrote", GOLDEN / "corpus.json")
