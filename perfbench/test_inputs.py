"""Tests of the benchmark's own inputs: seeded, deterministic, and with
expectations that follow from the plants.

    python3 -m pytest perfbench/test_inputs.py -q

Nothing here starts Spark; the input builders use a 2-process pool.
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import inputs  # noqa: E402


def _pages(seed: int, n: int):
    return inputs._page_texts((0, n, seed))


def _batches(seed: int, batch: int, n_batches: int):
    return inputs.build_curate_batches(
        _pages(seed, inputs.n_pages(batch, n_batches)), batch, n_batches)


def _curate_digest(seed: int, batch: int = 120) -> str:
    return inputs.docs_digest(_batches(seed, batch, 3))


def test_curate_digest_follows_the_seed():
    assert _curate_digest(3) == _curate_digest(3)
    assert _curate_digest(3) != _curate_digest(4)


def test_model_plants_reach_every_stage_and_replay_appends_nothing():
    batches = _batches(5, 200, 4)
    model = inputs.CorpusModel()
    counts = [model.ingest(docs) for docs in batches]
    replay = model.ingest(batches[-1])
    for c in counts:
        assert c["n_after_quality"] < c["n_new"]                    # junk and short pages
        assert c["n_after_near_dedup"] < c["n_after_exact_dedup"]  # near plants
        assert c["n_appended"] > 0
    for c in counts[1:]:
        assert c["n_dropped_vs_corpus_exact"] > 0                   # cross-batch copies
        assert c["n_new"] < c["n_batch"]                            # partly ingested
    assert replay["n_appended"] == 0
    assert model.index_rows == inputs.LSH_BANDS * sum(c["n_appended"] for c in counts)


def test_batch_ids_are_unique():
    for docs in _batches(6, 200, 4):
        assert len({d.id for d in docs}) == len(docs)


def test_near_variant_keeps_words_but_not_bytes():
    text = "scan filter join.\nmerge sort"
    assert inputs.near_variant(text) != text
    assert inputs.near_variant(text).lower().split() == text.lower().split()


def test_extract_digest_follows_the_seed(tmp_path):
    def digest(seed, tag):
        return inputs.build_extract_inputs(str(tmp_path / tag), seed, 64, 8, 2).digest

    first = digest(1, "a")
    assert digest(1, "b") == first
    assert digest(2, "c") != first


def test_extract_tables_hold_the_planned_rows(tmp_path):
    import pyarrow.parquet as pq

    ei = inputs.build_extract_inputs(str(tmp_path), 9, 64, 8, 2)

    def rows(paths):
        return sum(pq.read_table(p).num_rows for p in paths)

    assert rows(ei.fresh) == ei.n_fresh == 64
    assert rows(ei.resume) == ei.resume_rows == 48 + 16 + 8
    assert rows(ei.sample) == 8
