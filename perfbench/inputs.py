"""Seeded inputs for the benchmark workloads and the closed-form
expectations the outputs are checked against.

Everything is a pure function of ``seed``.  Pages are the rows
``corpus.pages_df(seed=…)`` gives — built here chunk by chunk with
``corpus.pages_pandas`` in a small process pool and written with
pyarrow, so building the inputs costs no Spark work.  The curation
batches are built from the pages' ``text`` plus planted documents whose
fate is known by construction.  The program only ever sees the parquet
tables written here.
"""

from __future__ import annotations

import gc
import hashlib
import multiprocessing
import os
from dataclasses import dataclass, field

FOOTER = "shared crawl footer boilerplate line"
JUNK = ":::: ~~~~ !!!! #### " * 12
# planted-document id bases: far above any page index, so a plant's id
# is always larger than its source's (the keeper policies keep the
# smaller id)
NEAR_IN_BATCH = 1_000_000_000
EXACT_CROSS = 2_000_000_000
NEAR_CROSS = 3_000_000_000
PLANT_STRIDE = 100_000_000  # per batch, so cross-batch plant ids never repeat
# the quality gate the workload passes explicitly: with the defaults
# (min_words=50, min_stopword_hits=2) every generated document fails
# stage 1, so the benchmark would time an empty pipeline
GOPHER_KW = {"min_words": 40, "min_stopword_hits": 0}
MIN_WORDS = 40
MAX_WORDS = 100_000
LSH_BANDS = 8  # dedup.minhash_index default
# the pages table the program reads: the generator's columns but "variant"
PAGE_COLS = ("url", "warc_ts", "html", "text", "lang")
CHUNK = 1024   # pages per generation task and per parquet file


def _pages(start: int, stop: int, seed: int):
    """Pages [start, stop) as ``corpus.pages_pandas`` builds them, indexed
    by page index."""
    from ocr_translate_spark.corpus import pages_pandas

    df = pages_pandas(stop - start, seed, start)
    df.index = range(start, stop)
    return df


def _write_pages(job) -> "tuple[int, str]":
    """Pool task: generate pages [start, stop) and write the rows that
    fall in each ``(lo, hi, directory)`` range as one parquet file there.
    Returns (start, sha256 of the generated rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    start, stop, seed, dests = job
    df = _pages(start, stop, seed)[list(PAGE_COLS)]
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        for v in row:
            h.update(v if isinstance(v, bytes) else str(v).encode("utf-8"))
            h.update(b"\x1f")
    for lo, hi, directory in dests:
        part = df.loc[max(lo, start):min(hi, stop) - 1]
        if len(part):
            os.makedirs(directory, exist_ok=True)
            pq.write_table(pa.Table.from_pandas(part, schema=schema, preserve_index=False),
                           os.path.join(directory, f"part-{start:09d}.parquet"))
    return start, h.hexdigest()


def _page_texts(job) -> "list[tuple[int, str, str]]":
    """Pool task: (index, text, variant) of pages [start, stop)."""
    start, stop, seed = job
    df = _pages(start, stop, seed)
    return list(zip(df.index, df["text"], df["variant"]))


def _pool(fn, jobs: list, procs: int) -> list:
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        out = pool.map(fn, jobs)
        pool.close()
        pool.join()
    return out


def pool_map(fn, jobs: list, procs: int) -> list:
    """``fn`` over ``jobs`` in ``procs`` spawned processes, all of which
    have exited when this returns — the resource tracker that spawning
    starts included (it would otherwise live as long as this process).
    The pool is released before the tracker stops, so the tracker sees
    every semaphore unregistered."""
    from multiprocessing import resource_tracker

    try:
        out = _pool(fn, jobs, procs)
        gc.collect()
    finally:
        resource_tracker._resource_tracker._stop()
    return out


def chunks(total: int, size: int) -> "list[tuple[int, int]]":
    return [(lo, min(lo + size, total)) for lo in range(0, total, size)]


def parquet_bytes(*paths: str) -> int:
    """Bytes of the data files under ``paths``; hidden and ``_``-prefixed
    entries (checksums, markers, the snapshot manifests) excluded."""
    total = 0
    for dirpath, dirs, files in (w for p in paths for w in os.walk(p)):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ---------------------------------------------------------------------
# extraction inputs
# ---------------------------------------------------------------------

@dataclass
class ExtractInputs:
    n_fresh: int
    n_new: int
    fresh: "tuple[str, ...]"    # parquet directories of pages [0, n)
    resume: "tuple[str, ...]"   # pages [n/4, n + n/4) plus repeated urls
    sample: "tuple[str, ...]"   # pages [0, n_sample)
    golden: str                 # every generated page
    resume_rows: int
    digest: str


def page_index(url_col):
    """The generator's page index, the last 9 digits of every url."""
    from pyspark.sql import functions as F

    return F.regexp_extract(url_col, r"(\d{9})$", 1).cast("long")


def build_extract_inputs(root: str, seed: int, n: int, n_sample: int,
                         procs: int) -> ExtractInputs:
    """Generate ``n + n/4`` pages once, into four index-range directories
    and a directory of repeats, and compose the fresh, resume and sample
    tables from them.

    The resume table holds the last three quarters of the fresh input
    (already committed), ``n/4`` new pages and ``n/8`` repeated rows —
    half of them repeats of new pages, half of old ones."""
    n_new, n_rep = n // 4, n // 16
    pages = os.path.join(root, "pages")

    def part(name):
        return os.path.join(pages, f"part={name}")

    dests = [
        (0, n_sample, part("s")), (n_sample, n // 4, part("a")),
        (n // 4, n, part("b")), (n, n + n_new, part("c")),
        (n // 2, n // 2 + n_rep, os.path.join(root, "repeats_old")),
        (n, n + n_rep, os.path.join(root, "repeats_new")),
    ]
    hashes = pool_map(
        _write_pages, [(lo, hi, seed, dests) for lo, hi in chunks(n + n_new, CHUNK)], procs)
    digest = hashlib.sha256("".join(h for _, h in sorted(hashes)).encode("ascii"))
    return ExtractInputs(
        n_fresh=n, n_new=n_new, fresh=(part("s"), part("a"), part("b")),
        resume=(part("b"), part("c"), dests[4][2], dests[5][2]),
        sample=(part("s"),), golden=pages,
        resume_rows=(n - n // 4) + n_new + 2 * n_rep, digest=digest.hexdigest(),
    )


# ---------------------------------------------------------------------
# curation inputs and their expected survivor counts
# ---------------------------------------------------------------------

@dataclass
class Doc:
    id: int
    text: str      # before the footer is appended
    junk: bool = False


def near_variant(text: str) -> str:
    """Different bytes, same lower-cased word sequence: MinHash sees an
    identical shingle set (estimated Jaccard 1.0), exact dedup does not."""
    return text.swapcase()


def build_curate_batches(pages: "list[tuple[int, str, str]]", batch: int,
                         n_batches: int) -> "list[list[Doc]]":
    """A sequence of crawl batches from ``(index, text, variant)`` page
    rows: pages [0, batch) first, then ``batch // 2`` further pages per
    batch.

    Batch 1 goes into the empty warehouse.  Every later batch re-crawls
    80% of the previous batch's pages and plants exact copies of every
    7th and near copies of every 9th of them.  In every batch each 13th
    new page is replaced by symbol junk (fails the quality gate) and
    every 11th new page gets a near duplicate of its own.  Plant ids are
    far above any page index, so a plant never wins against its source.
    ``edge_garbage`` pages are left out: their '#' symbols make the
    Gopher symbol and alphabetic-fraction rules depend on the draw, and
    the expectations below are closed-form only without them."""
    by_idx = {i: t for i, t, v in pages if v != "edge_garbage"}

    def base(i: int) -> Doc:
        if i % 13 == 5:
            return Doc(i, JUNK, junk=True)
        return Doc(i, by_idx[i])

    out: "list[list[Doc]]" = []
    prev: "list[Doc]" = []
    lo, hi = 0, batch
    for k in range(n_batches):
        fresh = [base(i) for i in range(lo, hi) if i in by_idx]
        cur = [d for d in prev if d.id % 5 != 0] + fresh
        docs = cur + [
            Doc(NEAR_IN_BATCH + d.id, near_variant(d.text), junk=d.junk)
            for d in fresh if d.id % 11 == 2
        ]
        tag = k * PLANT_STRIDE
        docs += [Doc(EXACT_CROSS + tag + d.id, d.text, junk=d.junk)
                 for d in prev if d.id % 7 == 3]
        docs += [Doc(NEAR_CROSS + tag + d.id, near_variant(d.text), junk=d.junk)
                 for d in prev if d.id % 9 == 4]
        out.append(docs)
        prev = cur
        lo, hi = hi, hi + batch // 2
    return out


def n_pages(batch: int, n_batches: int) -> int:
    """Pages behind ``build_curate_batches(…, batch, n_batches)``."""
    return batch + (n_batches - 1) * (batch // 2)


def framed(doc: Doc) -> str:
    return doc.text + "\n" + FOOTER


def _n_words(text: str) -> int:
    return len(text.split())


@dataclass
class CorpusModel:
    """What the warehouse holds after each batch, as curate_incremental
    defines it: the ids, exact texts and near-dup keys of survivors."""

    ids: set = field(default_factory=set)
    texts: set = field(default_factory=set)
    near_keys: set = field(default_factory=set)
    index_rows: int = 0

    def ingest(self, docs: "list[Doc]") -> dict:
        """Expected IncrementalReport counts for one batch; updates the
        model with its survivors."""
        new = [d for d in docs if d.id not in self.ids]
        # stage 1: Gopher gate; the footer's words count here.  For the
        # generated text every rule but the word-count bounds is vacuous
        # (alphabetic words, no '#', no bullets or ellipses); the junk
        # plant fails the symbol and alphabetic-fraction rules.
        quality = [
            d for d in new
            if not d.junk and MIN_WORDS <= _n_words(framed(d)) <= MAX_WORDS
        ]
        # stage 2: the footer is in every document, so it is stripped
        # everywhere and the post-clean length gate sees the bare text
        line = [d for d in quality if _n_words(d.text) >= MIN_WORDS]
        # stage 4: exact dedup, smallest id per text, then vs stored texts
        first_of: dict = {}
        for d in sorted(line, key=lambda d: d.id):
            first_of.setdefault(d.text, d)
        batch_exact = list(first_of.values())
        exact = [d for d in batch_exact if d.text not in self.texts]
        # stage 5: near dedup on the word sequence MinHash shingles;
        # the corpus wins, then the smallest id in the batch
        kept: dict = {}
        for d in sorted(exact, key=lambda d: d.id):
            key = tuple(d.text.lower().split())
            if key not in self.near_keys:
                kept.setdefault(key, d)
        near = list(kept.values())
        for d in near:
            self.ids.add(d.id)
            self.texts.add(d.text)
            self.near_keys.add(tuple(d.text.lower().split()))
        self.index_rows += LSH_BANDS * len(near)
        return {
            "n_batch": len(docs),
            "n_new": len(new),
            "n_after_quality": len(quality),
            "n_after_line_dedup": len(line),
            "n_after_exact_dedup": len(exact),
            "n_dropped_vs_corpus_exact": len(batch_exact) - len(exact),
            "n_after_near_dedup": len(near),
            "n_appended": len(near),
        }


def docs_digest(batches: "list[list[Doc]]") -> str:
    h = hashlib.sha256()
    for b, docs in enumerate(batches):
        for d in docs:
            h.update(f"{b}\x1f{d.id}\x1f{framed(d)}\x1e".encode("utf-8"))
    return h.hexdigest()


@dataclass
class CurateInputs:
    """Batch k (0-based) is ``paths[k]``; ``expected[k]`` its
    IncrementalReport counts and ``index_rows[k]`` the dedup_bands rows
    after it.  ``expected_replay``: the last batch ingested again."""

    paths: "list[str]"
    docs: "list[list[Doc]]"
    expected: "list[dict]"
    expected_replay: dict
    index_rows: "list[int]"
    digest: str
    # the warehouse after batch 1, built by the warmup and copied for
    # every round: {"wh", "bytes", "report"}
    base: dict = field(default_factory=dict)


def write_docs(path: str, docs: "list[Doc]", files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("id", pa.int64()), ("text", pa.string())])
    for k in range(files):
        part = docs[k::files]
        pq.write_table(
            pa.Table.from_pylist([{"id": d.id, "text": framed(d)} for d in part], schema=schema),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


def build_curate_inputs(root: str, seed: int, batch: int, n_batches: int,
                        procs: int, files: int) -> CurateInputs:
    pages = [
        row for rows in pool_map(
            _page_texts, [(lo, hi, seed) for lo, hi in chunks(n_pages(batch, n_batches), CHUNK)],
            procs)
        for row in rows
    ]
    batches = build_curate_batches(pages, batch, n_batches)
    model = CorpusModel()
    expected, index_rows, paths = [], [], []
    for k, docs in enumerate(batches):
        expected.append(model.ingest(docs))
        index_rows.append(model.index_rows)
        paths.append(os.path.join(root, f"batch_{k + 1}"))
        write_docs(paths[-1], docs, files)
    return CurateInputs(
        paths=paths, docs=batches, expected=expected,
        expected_replay=model.ingest(batches[-1]), index_rows=index_rows,
        digest=docs_digest(batches),
    )
