"""Benchmark entry point.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one ``local[nproc]``
session.  Builds the workload's inputs from ``--seed``, warms the
session, then runs closed-loop rounds until ``--seconds`` have elapsed
(at least one), checking every output.  Prints one ``metric`` line per
metric, one ``detail`` JSON line (seed, input digest, raw timings,
failures), and, last, the result object.  ``--trace 1`` reports the
per-layer metrics instead and writes the span file under
``.perfbench_work/traces/``.  See NOTES.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

# a run whose JVM + Python workers pass this is killed and reported
# failed, before the JVM's heap (48g by default) takes the host's memory
MEM_CAP_MB = 10 * 1024
PHASES = ("fresh", "resume", "replay", "batch")


def prepare_env(work: Path, driver_mem: "str | None") -> None:
    """Keep every file Spark and Python write inside the checkout, and
    let the Python workers import the package from it.

    The benchmark reads and writes only inside its checkout, so Spark's
    shuffle and spill space moves there from the shipped default
    (``/dev/shm``); NOTES.md gives the measured effect.  The one
    ``SPARK_GRAFT_*`` setting ever changed is the driver heap, for a
    workload the shipped heap cannot run on a 15 GB host."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    if driver_mem is not None:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem


def host_steal_s() -> float:
    """Seconds of CPU time stolen from this guest, all CPUs, since boot."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def timed_round(run, wl, data, tag: str, tracer=None) -> dict:
    t0 = time.monotonic()
    res = wl.round(run, data, tag, tracer)
    res["round_s"] = time.monotonic() - t0
    return res


def traced_run(run, wl, data, ref_s: float, seed: int, workload: str):
    """Rerun the round with spans, then probe each layer; returns the
    per-layer metrics and the span file's path.  ``ref_s``: the untraced
    round's wall-clock time."""
    from harness import Tracer
    import workloads

    tracer = Tracer(f"{workload}-{seed}-{os.getpid()}")
    with tracer.span("round"), tracer.wrapped(wl.trace_targets()):
        traced = timed_round(run, wl, data, "traced", tracer)
    out = {"trace.overhead_s": traced["round_s"] - ref_s}
    with tracer.span("probes"):
        out.update(wl.probes(run, data, traced, tracer))
    for name, jobs in run.jobs.items():
        kind, _, phase = name.partition(".")
        if kind == workload.split("_")[0] and phase in PHASES:
            out[f"calls.{phase}.jobs"] = jobs["jobs"] / jobs["calls"]
    out["spark.failed_tasks"] = sum(j["failed_tasks"] for j in run.jobs.values())
    out["spark.retried_stages"] = sum(j["retried_stages"] for j in run.jobs.values())
    if workload == "extract":
        with tracer.span("session.parallel_efficiency"):
            out["session.parallel_efficiency"] = workloads.parallel_efficiency(run, data)
    path = ROOT / ".perfbench_work" / "traces" / f"{workload}-seed{seed}.json"
    tracer.dump(str(path))
    return out, path


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        import ocr_translate_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        print(f"cannot import the program: {exc}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)

    from harness import MemoryWatch, nproc, process_age_s, start_session, stop_session
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    prepare_env(work, wl.driver_mem)
    cpus = nproc()
    watch = MemoryWatch(MEM_CAP_MB).start()
    run = None
    e2e: dict = {}
    layers: dict = {}
    detail: dict = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
                    "driver_mem": wl.driver_mem or "shipped default"}
    try:
        t0 = time.monotonic()
        spark = start_session(cpus)
        layers["session.get_spark_s"] = time.monotonic() - t0
        session_ready_s = process_age_s()
        run = workloads.Run(spark, cpus, str(work), tracing=bool(args.trace))
        t0 = time.monotonic()
        data = wl.inputs(run, args.seed)
        detail["inputs_s"] = time.monotonic() - t0
        detail["input_digest"] = data.digest
        t0 = time.monotonic()
        wl.warmup(run, data)
        layers["session.warmup_s"] = time.monotonic() - t0
        e2e["setup_s"] = session_ready_s + layers["session.warmup_s"]

        jvm_before = workloads.jvm_busy(run.spark)
        steal_before = host_steal_s()
        rounds = []
        t_begin = time.monotonic()
        while not rounds or time.monotonic() - t_begin < args.seconds:
            rounds.append(timed_round(run, wl, data, f"r{len(rounds)}"))
        e2e.update(workloads.summary(rounds))
        # where the JVM spent the timed rounds: garbage collection and
        # JIT compilation, in seconds (a diagnostic, not a metric)
        detail["jvm_gc_jit_s"] = [
            a - b for a, b in zip(workloads.jvm_busy(run.spark), jvm_before)]
        # CPU time the hypervisor gave to other guests during the rounds:
        # on a shared host this, not the program, explains most slow runs
        detail["host_steal_s"] = host_steal_s() - steal_before
        detail["rounds"] = [
            {k: v for k, v in r.items() if k.endswith(("_s", "_bytes", "reports"))}
            for r in rounds
        ]
        if args.trace:
            ref_s = workloads.median([r["round_s"] for r in rounds])
            more, span_path = traced_run(run, wl, data, ref_s, args.seed, args.workload)
            layers.update(more)
            detail["span_file"] = str(span_path.relative_to(ROOT))
    except Exception as exc:
        traceback.print_exc()
        if run is None:  # no session: nothing was measured
            return 1
        if not isinstance(exc, workloads.WorkloadError):
            # Spark work of the benchmark's own (a check, a read) failed:
            # the JVM was killed, or the program left bad state behind
            run.fail(run.op("harness"), f"{type(exc).__name__}: {str(exc)[:300]}")
    finally:
        if run is not None and run.spark is not None:
            try:
                stop_session(run.spark)
            except Exception:  # noqa: BLE001 - the JVM was killed already
                traceback.print_exc()
        watch.stop()
        shutil.rmtree(work, ignore_errors=True)

    detail["peak_rss_mb"] = watch.peak_mb
    if watch.killed_at_mb is not None:
        run.fail(run.op("memory"), f"JVM + workers reached {watch.killed_at_mb:.0f} MB; killed")
    failed_frac = run.failed / max(run.attempted, 1)
    detail["failed_frac"] = failed_frac
    detail["failures"] = run.failures

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    # a failed run reports no figures: its timings are not the program's.
    # A layer the workload never calls reads 0
    metrics = {} if run.failed else {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    for name, m in metrics.items():
        print(f"metric {args.workload} {name} {m['value']:.6g} {m['unit']}")
    # reported, not gated: failed_frac is 0 when the run is right, and
    # peak_rss_mb does not repeat within a tenth (NOTES.md)
    print(f"metric {args.workload} peak_rss_mb {watch.peak_mb:.6g} MB")
    print(f"metric {args.workload} failed_frac {failed_frac:.6g} ratio")
    print("detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
