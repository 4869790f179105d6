"""The two workloads: inputs, warmup, the timed round with its
correctness checks, and the per-layer probes of the traced run.

Each round is a closed loop: one client issues each call after the
previous one returns.

``extract`` (``pipeline.run_extraction``), per round, into a new
warehouse: twice ``fresh`` — 8k new pages into an empty warehouse;
three times, each on a copy of the first fresh warehouse, ``resume`` —
three quarters of them again plus 2k new pages and 1k repeated rows;
three times ``replay`` — the resume input again, which must write 0 rows.

``curate_ingest`` (``curate.curate_incremental``): the warmup ingests
batch 1 into the empty warehouse (the call that pays the one-time
cost); every round copies that warehouse and times batches 2 and 3 in
sequence — each partly ingested already, with planted cross-batch
duplicates — into it, then ``replay`` — batch 3 again, which must append
0 documents.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field, replace

import inputs as inp_mod
from harness import JobGroups, Tracer, start_session, stop_session

EXTRACT_PAGES = 8192        # fresh input; the resume input adds n/4 new pages
EXTRACT_SAMPLE = 1024       # warmup, kernel probe and parallel-efficiency input
# pages behind batch 1; every later batch adds half as many.  A curate
# call costs 11-16 s at any size from 500 to 3000 documents (Spark-driver
# planning of its 44 jobs), so the batches are kept small
CURATE_BATCH = 1000
CURATE_BATCHES = 3          # batch 1 in the warmup, the rest timed per round
NEAR_THRESHOLD = 0.8        # curate_incremental default
# extract calls per round: a fresh call takes ~5 s, a resume ~3.5 s and
# a replay ~2 s on 4 cores; one call alone varies by 10-15% from run to
# run, so the round reports the median of several
EXTRACT_CALLS = {"fresh": 2, "resume": 3, "replay": 3}


class WorkloadError(RuntimeError):
    """Raised when a workload cannot continue (a call raised)."""


@dataclass
class Run:
    """One benchmark process: the session, its work directory and the
    operation ledger behind ``attempted`` / ``failed``.  With
    ``tracing`` every call runs under its own Spark job group and
    ``jobs`` sums, per call name, what statusTracker reported."""

    spark: object
    cpus: int
    work: str
    tracing: bool = False
    attempted: int = 0
    failures: "list[tuple[str, str]]" = field(default_factory=list)
    jobs: "dict[str, dict]" = field(default_factory=dict)

    @property
    def failed(self) -> int:
        return len({op for op, _ in self.failures})

    @property
    def partitions(self) -> int:
        return 4 * self.cpus

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, name: str) -> str:
        self.attempted += 1
        return f"{name}#{self.attempted}"

    def fail(self, op: str, reason: str) -> None:
        self.failures.append((op, reason))

    def check(self, op: str, ok: bool, reason: str) -> None:
        if not ok:
            self.fail(op, reason)

    def call(self, name: str, fn, tracer: "Tracer | None" = None):
        """Issue one program call; returns (op, seconds, result)."""
        op = self.op(name)
        span = tracer.span(name) if tracer else nullcontext({})
        group = JobGroups(self.spark).group(name) if self.tracing else nullcontext({})
        try:
            with span as attrs, group as jobs:
                t0 = time.monotonic()
                out = fn()
                dt = time.monotonic() - t0
        except Exception as exc:  # the boundary: record and stop the workload
            self.fail(op, f"{type(exc).__name__}: {str(exc)[:300]}")
            raise WorkloadError(op) from exc
        if self.tracing:
            total = self.jobs.setdefault(name, dict.fromkeys(("calls", *jobs), 0))
            total["calls"] += 1
            for k, v in jobs.items():
                total[k] += v
            attrs.update(jobs)
        return op, dt, out


def noop(df) -> None:
    """Force every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def counted_noop(df, name: str) -> int:
    from pyspark.sql import Observation, functions as F

    obs = Observation(name)
    noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def jvm_busy(spark) -> "tuple[float, float]":
    """Seconds the driver JVM has spent in garbage collection and in JIT
    compilation since it started."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


def summary(rounds: "list[dict]") -> dict:
    return {
        "docs_per_s": median([r["docs"] / r["timed_s"] for r in rounds]),
        "batch_p50_s": median([median(r["batch_s"]) for r in rounds]),
        "resume_s": median([r["resume_s"] for r in rounds]),
        "replay_s": median([r["replay_s"] for r in rounds]),
        "stored_bytes_per_input_byte": median(
            [r["stored_bytes"] / r["input_bytes"] for r in rounds]
        ),
    }


# ---------------------------------------------------------------------
# extract
# ---------------------------------------------------------------------

def text_mismatches(spark, wh: str, golden: str, max_idx: int) -> int:
    """Urls whose committed text differs from the generator's, byte for
    byte, plus urls missing on either side."""
    from pyspark.sql import functions as F

    from ocr_translate_spark.pipeline import read_extracted

    got = read_extracted(spark, wh).select("url", "extracted_text")
    gold = (
        spark.read.parquet(golden)
        .filter(inp_mod.page_index(F.col("url")) < max_idx)
        .select("url", "text")
    )
    return (
        gold.join(got, "url", "full_outer")
        .filter(~F.col("text").eqNullSafe(F.col("extracted_text")))
        .count()
    )


def extract_call(run: Run, phase: str, src, wh: str, expect: int,
                 tracer: "Tracer | None"):
    """One ``run_extraction`` call; ``n_written`` must equal ``expect``."""
    from ocr_translate_spark.pipeline import run_extraction

    spark = run.spark
    op, dt, stats = run.call(
        f"extract.{phase}",
        lambda: run_extraction(spark, spark.read.parquet(*src), wh, repartition=run.partitions),
        tracer,
    )
    run.check(op, stats["n_written"] == expect,
              f"n_written {stats['n_written']} != {expect} new distinct urls")
    return op, dt, stats


def extract_calls(run: Run, ei: "inp_mod.ExtractInputs", wh: str, counts: "dict[str, int]",
                  tracer: "Tracer | None" = None) -> dict:
    """``counts["fresh"]`` fresh calls, each into its own empty warehouse;
    ``counts["resume"]`` resume calls, each into its own copy of the
    warehouse the first fresh call left; ``counts["replay"]`` replays of
    the resume input on the last of them.  Times are medians."""
    res = {"wh": wh}
    times = []
    for i in range(counts["fresh"]):
        target = wh if i == 0 else f"{wh}_fresh{i}"
        op, dt, stats = extract_call(run, "fresh", ei.fresh, target, ei.n_fresh, tracer)
        times.append(dt)
        res.setdefault("fresh_stats", stats)
        res.setdefault("fresh_first_s", dt)
    res["fresh_s"] = median(times)
    res["batch_s"] = times
    res["stored_bytes"] = inp_mod.parquet_bytes(wh)
    last, covered, times = wh, ei.n_fresh, []
    for i in range(counts["resume"]):
        last = f"{wh}_resume{i}"
        shutil.copytree(wh, last)
        op, dt, _ = extract_call(run, "resume", ei.resume, last, ei.n_new, tracer)
        times.append(dt)
        covered = ei.n_fresh + ei.n_new
    res["resume_s"] = median(times)
    # every url the fresh and the resume calls committed, byte for byte
    bad = text_mismatches(run.spark, last, ei.golden, covered)
    run.check(op, bad == 0, f"{bad} urls with wrong or missing extracted_text")
    res["replay_s"] = median([
        extract_call(run, "replay", ei.resume, last, 0, tracer)[1]
        for _ in range(counts["replay"])
    ])
    return res


def extract_inputs(run: Run, seed: int) -> "inp_mod.ExtractInputs":
    return inp_mod.build_extract_inputs(
        run.path("in"), seed, EXTRACT_PAGES, EXTRACT_SAMPLE, run.cpus)


def extract_warmup(run: Run, ei: "inp_mod.ExtractInputs") -> None:
    """Extract the sample into its own warehouse, then replay it."""
    warm = replace(ei, n_fresh=EXTRACT_SAMPLE, n_new=0, fresh=ei.sample,
                   resume=ei.sample, resume_rows=EXTRACT_SAMPLE)
    extract_calls(run, warm, run.path("wh_warm"), {"fresh": 1, "resume": 0, "replay": 1})


def extract_round(run: Run, ei: "inp_mod.ExtractInputs", tag: str,
                  tracer: "Tracer | None" = None) -> dict:
    res = extract_calls(run, ei, run.path(f"wh_{tag}"), EXTRACT_CALLS, tracer)
    res.update(docs=ei.n_fresh, timed_s=res["fresh_s"],
               input_bytes=inp_mod.parquet_bytes(*ei.fresh))
    return res


def extract_trace_targets():
    from ocr_translate_spark import pipeline
    from ocr_translate_spark.io import tables

    return [
        (pipeline, "pending_pages", "pipeline.pending_pages"),
        (pipeline, "extract_pages", "operators.extract.extract_pages"),
        (pipeline, "partition_metrics", "operators.extract.partition_metrics"),
        (tables.Warehouse, "stage", "io.tables.stage"),
        (tables.Warehouse, "read_staged", "io.tables.read_staged"),
        (tables.Warehouse, "commit", "io.tables.commit"),
        (tables.Warehouse, "read", "io.tables.read"),
    ]


def kernel_probe(ei: "inp_mod.ExtractInputs") -> dict:
    """Direct single-core kernel calls over the sample's payloads."""
    import pyarrow.parquet as pq

    from ocr_translate_spark.kernels.html_extract import extract_html
    from ocr_translate_spark.kernels.pdf_extract import extract_pdf, is_pdf
    from ocr_translate_spark.operators.extract import ExtractOptions

    opts = ExtractOptions()
    payloads = [
        bytes(b or b"")
        for path in ei.sample
        for b in pq.read_table(path, columns=["html"])["html"].to_pylist()
    ]
    html_s = pdf_s = worst = 0.0
    n_html = n_pdf = html_bytes = 0
    for raw in payloads:
        t0 = time.perf_counter()
        if is_pdf(raw):
            extract_pdf(raw)
            dt = time.perf_counter() - t0
            pdf_s += dt
            n_pdf += 1
        else:
            extract_html(raw, max_link_density=opts.max_link_density,
                         min_content_chars=opts.min_content_chars)
            dt = time.perf_counter() - t0
            html_s += dt
            n_html += 1
            html_bytes += len(raw)
        worst = max(worst, dt)
    return {
        "kernels.html_extract.pages_per_s": n_html / html_s,
        "kernels.html_extract.mb_per_s": html_bytes / 1e6 / html_s,
        "kernels.pdf_extract.pages_per_s": n_pdf / pdf_s,
        "kernels.max_page_s": worst,
    }


def io_probe(run: Run, src_wh: str, table: str, tracer: Tracer) -> dict:
    """Stage, commit and read back one committed table of the round."""
    from ocr_translate_spark.io.tables import Warehouse

    spark = run.spark
    out = {}
    probe = Warehouse(run.path("io_probe", table))
    frame = Warehouse(src_wh).read(spark, table)
    _, out["io.tables.stage_s"], staged = run.call(
        "io.tables.stage", lambda: probe.stage(frame, table), tracer)
    files = [f for f in os.listdir(staged) if not f.startswith((".", "_"))]
    out["io.tables.files_written"] = len(files)
    out["io.tables.bytes_written"] = inp_mod.parquet_bytes(staged)
    _, out["io.tables.commit_s"], _ = run.call(
        "io.tables.commit", lambda: probe.commit({table: [staged]}), tracer)
    _, out["io.tables.read_s"], _ = run.call(
        "io.tables.read", lambda: noop(probe.read(spark, table)), tracer)
    return out


def extract_probes(run: Run, ei: "inp_mod.ExtractInputs", traced: dict,
                   tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from ocr_translate_spark.io.tables import Warehouse
    from ocr_translate_spark.operators.extract import ExtractOptions, extract_pages
    from ocr_translate_spark.pipeline import pending_pages
    from ocr_translate_spark.schemas import RUNS

    spark = run.spark
    out = kernel_probe(ei)
    _, out["operators.extract.stage_s"], _ = run.call(
        "operators.extract.extract_pages",
        lambda: noop(extract_pages(spark.read.parquet(*ei.fresh), repartition=run.partitions)),
        tracer,
    )
    wh = Warehouse(traced["wh"])
    fresh = traced["fresh_stats"]
    walls = [
        r["wall_clock_ms"] for r in wh.read(spark, "metrics")
        .filter(F.col("run_id") == fresh["run_id"]).select("wall_clock_ms").collect()
    ]
    busy = sum(walls) / 1000.0
    out["operators.extract.python_busy_s"] = busy
    out["operators.extract.busy_share"] = busy / (traced["fresh_first_s"] * run.cpus)
    out["operators.extract.partition_skew"] = max(walls) / max(median(walls), 1.0)

    runs = wh.read(spark, "runs", schema=RUNS, snapshot_id=fresh["snapshot_id"])
    pending = {}
    _, out["pipeline.pending_pages_s"], _ = run.call(
        "pipeline.pending_pages",
        lambda: pending.setdefault("n", counted_noop(
            pending_pages(spark.read.parquet(*ei.resume), runs,
                          ExtractOptions().accepted_hashes(), dedupe=False),
            "pending")),
        tracer,
    )
    out["pipeline.rows_examined_per_pending"] = ei.resume_rows / max(pending["n"], 1)
    out.update(io_probe(run, traced["wh"], "extracted", tracer))
    return out


def parallel_efficiency(run: Run, ei: "inp_mod.ExtractInputs") -> float:
    """t(1 core) / (P * t(P cores)) for one fresh extraction of the
    sample; the single-core session first extracts the sample once to
    warm up.  Stops the P-core session (``run.spark`` becomes None)."""
    from ocr_translate_spark.pipeline import run_extraction

    def timed(spark, tag):
        t0 = time.monotonic()
        run_extraction(spark, spark.read.parquet(*ei.sample), run.path(tag),
                       repartition=run.partitions)
        return time.monotonic() - t0

    t_par = timed(run.spark, "pe_par")
    stop_session(run.spark)
    run.spark = None
    single = start_session(1)
    try:
        timed(single, "pe_warm")
        t_one = timed(single, "pe_one")
    finally:
        stop_session(single)
    return t_one / (run.cpus * t_par)


# ---------------------------------------------------------------------
# curate_ingest
# ---------------------------------------------------------------------

REPORT_STAGES = ("n_new", "n_after_quality", "n_after_line_dedup",
                 "n_after_exact_dedup", "n_after_near_dedup", "n_appended")


def curate_call(run: Run, ci: "inp_mod.CurateInputs", wh: str, k: int,
                tracer: "Tracer | None" = None, replay: bool = False):
    """Batch ``k`` (0-based) into ``wh``; its IncrementalReport must
    match the model.  Returns (seconds, report)."""
    from ocr_translate_spark.curate import curate_incremental

    spark = run.spark

    def call():
        out, rep = curate_incremental(
            spark, wh, spark.read.parquet(ci.paths[k]),
            id_col="id", text_col="text", min_words=inp_mod.MIN_WORDS,
            gopher_kwargs=dict(inp_mod.GOPHER_KW),
        )
        out.unpersist()  # the caller owns the survivors' cache
        return rep

    name = "curate.replay" if replay else "curate.fresh" if k == 0 else "curate.batch"
    op, dt, rep = run.call(name, call, tracer)
    got = rep.as_dict()
    want = ci.expected_replay if replay else ci.expected[k]
    diff = {key: (got[key], v) for key, v in want.items() if got[key] != v}
    run.check(op, not diff, f"batch {k + 1} survivor counts (got, expected): {diff}")
    if not replay:
        empty = [key for key in REPORT_STAGES if got[key] == 0]
        run.check(op, not empty, f"batch {k + 1} stages with 0 survivors: {empty}")
    return dt, got


def curate_inputs(run: Run, seed: int) -> "inp_mod.CurateInputs":
    return inp_mod.build_curate_inputs(
        run.path("in"), seed, CURATE_BATCH, CURATE_BATCHES, run.cpus, files=run.cpus)


def curate_warmup(run: Run, ci: "inp_mod.CurateInputs") -> None:
    """Batch 1 into the empty base warehouse: the first call pays the
    one-time cost (about 30 s on 4 cores, against 13-17 s for later
    calls)."""
    wh = run.path("cwh_base")
    _, report = curate_call(run, ci, wh, 0)
    run.spark.catalog.clearCache()
    ci.base.update(wh=wh, bytes=inp_mod.parquet_bytes(wh), report=report)


def curate_round(run: Run, ci: "inp_mod.CurateInputs", tag: str,
                 tracer: "Tracer | None" = None) -> dict:
    """Batches 2.. in sequence into a copy of the base warehouse, then
    the last batch again."""
    wh = run.path(f"cwh_{tag}")
    shutil.copytree(ci.base["wh"], wh)
    times, reports = [], [ci.base["report"]]
    for k in range(1, len(ci.paths)):
        dt, report = curate_call(run, ci, wh, k, tracer)
        times.append(dt)
        reports.append(report)
    # bytes the timed batches committed, per byte of those batches
    stored = inp_mod.parquet_bytes(wh) - ci.base["bytes"]
    replay_s, _ = curate_call(run, ci, wh, len(ci.paths) - 1, tracer, replay=True)
    # drop what the operators left cached (drop_boilerplate_lines and the
    # MinHash stage persist intermediates) before the next round
    run.spark.catalog.clearCache()
    return {
        "wh": wh, "batch_s": times, "timed_s": sum(times),
        "docs": sum(len(d) for d in ci.docs[1:]),
        "resume_s": times[-1], "replay_s": replay_s,
        "stored_bytes": stored, "input_bytes": inp_mod.parquet_bytes(*ci.paths[1:]),
        "reports": reports,
    }


def curate_trace_targets():
    from ocr_translate_spark.io import tables
    from ocr_translate_spark.operators import curation, dedup, textstats

    return [
        (textstats, "gopher_rules", "operators.textstats.gopher_rules"),
        (curation, "drop_boilerplate_lines", "operators.curation.drop_boilerplate_lines"),
        (dedup, "dedup_exact", "operators.dedup.dedup_exact"),
        (dedup, "incremental_minhash_candidates", "operators.dedup.incremental_minhash_candidates"),
        (dedup, "minhash_index", "operators.dedup.minhash_index"),
        (tables.Warehouse, "stage", "io.tables.stage"),
        (tables.Warehouse, "commit", "io.tables.commit"),
        (tables.Warehouse, "read", "io.tables.read"),
    ]


def curate_probes(run: Run, ci: "inp_mod.CurateInputs", traced: dict,
                  tracer: Tracer) -> dict:
    from pyspark.sql import functions as F

    from ocr_translate_spark.curate import BANDS_TABLE, SIGS_TABLE
    from ocr_translate_spark.io.tables import Warehouse
    from ocr_translate_spark.operators import curation, dedup, textstats

    spark = run.spark
    b1 = spark.read.parquet(ci.paths[0])
    b2 = spark.read.parquet(ci.paths[1])
    # the dedup operators see documents that passed the quality gate and
    # exact dedup (the identical junk plants would otherwise pair up
    # quadratically); those inputs are written first, untimed
    for name, df in (("b1_exact", b1), ("b2_exact", b2)):
        passing = textstats.gopher_rules(
            df, "id", "text", keep=("id", "text"), **inp_mod.GOPHER_KW
        ).filter("passes").select("id", "text")
        dedup.dedup_exact(passing, "id", "text").write.parquet(run.path(name))
    b1x, b2x = spark.read.parquet(run.path("b1_exact")), spark.read.parquet(run.path("b2_exact"))
    wh = Warehouse(traced["wh"])
    snap = traced["reports"][0]["snapshot_id"]
    sigs = wh.read(spark, SIGS_TABLE, snapshot_id=snap)
    bands = wh.read(spark, BANDS_TABLE, snapshot_id=snap)
    ops = {
        "operators.textstats.gopher_rules": lambda: textstats.gopher_rules(
            b1, "id", "text", keep=("id", "text"), **inp_mod.GOPHER_KW),
        "operators.curation.drop_boilerplate_lines": lambda: curation.drop_boilerplate_lines(
            b1, "id", "text"),
        "operators.curation.scrub_pii": lambda: b1.select(
            "id", curation.scrub_pii(F.col("text")).alias("text")),
        "operators.dedup.dedup_exact": lambda: dedup.dedup_exact(b1, "id", "text"),
        "operators.dedup.minhash_index": lambda: dedup.minhash_index(b1x, "id", "text")[1],
        "operators.dedup.incremental_minhash_candidates": lambda: (
            dedup.incremental_minhash_candidates(b2x, sigs, bands, "id", "text")),
    }
    out = {}
    frames = {}
    for name, build in ops.items():
        _, out[f"{name}_s"], frames[name] = run.call(
            name, lambda build=build: _forced(build()), tracer)
    cands = frames["operators.dedup.incremental_minhash_candidates"].collect()
    kept = sum(1 for r in cands if r["est_jaccard"] >= NEAR_THRESHOLD)
    out["operators.dedup.candidate_pairs"] = len(cands)
    out["operators.dedup.candidates_kept_frac"] = kept / max(len(cands), 1)
    spark.catalog.clearCache()

    for k, report in enumerate(traced["reports"]):
        rows = wh.read(spark, BANDS_TABLE, snapshot_id=report["snapshot_id"]).count()
        out[f"curate.index_rows.b{k + 1}"] = rows
        op = run.op(f"curate.index_rows.b{k + 1}")
        run.check(op, rows == ci.index_rows[k],
                  f"dedup_bands rows {rows} != {ci.index_rows[k]}")
        for stage in REPORT_STAGES:
            out[f"curate.b{k + 1}.{stage}"] = report[stage]
    out.update(io_probe(run, traced["wh"], "curated", tracer))
    return out


def _forced(df):
    noop(df)
    return df


# ---------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------

@dataclass(frozen=True)
class Workload:
    inputs: object         # (run, seed) -> inputs
    warmup: object         # (run, inputs) -> None; part of setup_s
    round: object          # (run, inputs, tag, tracer=None) -> round record
    trace_targets: object  # () -> [(owner, attribute, span name)]
    probes: object         # (run, inputs, traced round, tracer) -> per-layer metrics
    # SPARK_GRAFT_DRIVER_MEM for the run; None keeps the shipped default
    driver_mem: "str | None" = None


WORKLOADS = {
    "extract": Workload(
        extract_inputs, extract_warmup, extract_round, extract_trace_targets, extract_probes,
    ),
    "curate_ingest": Workload(
        curate_inputs, curate_warmup, curate_round, curate_trace_targets, curate_probes,
        # with the shipped 48g heap the JVM passes 12 GB of memory within
        # the first curate_incremental call and keeps growing, on a 15 GB
        # host: every run would be killed.  NOTES.md has the measurement
        driver_mem="4g",
    ),
}
