"""perfbench: closed-loop benchmark of the transcript pipeline.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 5 --trace 0

Run from the repository root. One client, one ``run_pipeline`` at a
time, in one process, on a ``local[N]`` session sized to this host.

--trace 0 prints the end-to-end metrics: set-up (session, lookups and the
cold first run), warm throughput, peak memory, sink bytes and the share of
runs that passed the correctness gate. --trace 1 prints the per-layer
breakdown instead: after the cold run, a second Spark context of the same
JVM enables the event log, times run_pipeline's layers as a chain of
prefixes, runs the pipeline warm and resumes it after losing half its
commits; a third context without the log gives the untraced reference.
The last stdout line is the result JSON; the line before it is the full
report (conf, versions, fixture hashes, counts, checks). Inputs are
cached under perfbench/.work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, "perfbench", ".work")

#: the result's end-to-end (--trace 0) and per-layer (--trace 1) metrics and units
E2E_UNITS = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "peak_rss_mb": "MB",
    "sink_bytes_per_turn": "B/turn",
    "ok_share": "ratio",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "lookups.build_s": "s",
    "lookups.broadcast_bytes": "B",
    "scan.s": "s",
    "scan.bytes_read": "B",
    "scan.rows_per_turn": "rows/turn",
    "extract.s": "s",
    "extract.pub_share": "ratio",
    "exchange.s": "s",
    "exchange.bytes_per_turn": "B/turn",
    "exchange.spill_bytes": "B",
    "exchange.task_skew": "ratio",
    "joins.s": "s",
    "joins.probes": "count",
    "joins.broadcast_builds": "count",
    "joins.broadcast_build_s": "s",
    "joins.hit_share": "ratio",
    "parse.s": "s",
    "parse.python_s": "s",
    "parse.python_rows_per_turn": "rows/turn",
    "parse.python_useful_share": "ratio",
    "parse.python_bytes": "B",
    "parse.raw_share": "ratio",
    "route.s": "s",
    "write.s": "s",
    "write.sort_s": "s",
    "write.files": "count",
    "write.task_commit_s": "s",
    "commit.sql_executions": "count",
    "commit.jobs": "count",
    "commit.driver_s": "s",
    "commit.overlap": "ratio",
    "resume.rows_per_uncommitted_turn": "rows/turn",
    "jvm.gc_s": "s",
    "cpu.busy_share": "ratio",
    "trace.overhead": "ratio",
    "trace.coverage": "ratio",
}

ORACLE_SAMPLE = 48


def confine(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the program from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH")] if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def tail(xs: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 11 samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return xs[-1], 100, n
    k = n - 11
    return xs[k], int(100 * (k + 1) / n), n


#: warm runs per measurement, at least: one warm run of this
#: pipeline already takes longer than the benchmark's --seconds, so the
#: count is fixed and the median is taken over the same number every time
WARM_MIN_RUNS = 2


def warm_loop(fn, seconds: float) -> list:
    """Closed loop: start the next run only after the previous ends, until
    ``seconds`` have passed and at least WARM_MIN_RUNS runs were made."""
    out = []
    t_end = time.perf_counter() + seconds
    while len(out) < WARM_MIN_RUNS or time.perf_counter() < t_end:
        out.append(fn(len(out) + 1))
    return out


def record(args, inp, cores: int, conf: dict, spark) -> dict:
    import platform

    import pyarrow

    from perfbench.workloads import dir_hashes
    from logboost_spark.fixtures.lookups import LOOKUP_PARQUET_DIR

    return {
        "workload": inp.workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "turns": inp.turns,
        "n_groups": inp.workload.n_groups,
        "input_digest": inp.digest,
        "cores": cores,
        "conf": {k: v for k, v in conf.items() if not k.endswith("dir")},
        "versions": {
            "spark": spark.version,
            "pyarrow": pyarrow.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        },
        "lookup_hashes": dir_hashes(inp.lookup_dir or LOOKUP_PARQUET_DIR),
    }


# ---------------------------------------------------------------------------
# --trace 0: end-to-end metrics
# ---------------------------------------------------------------------------


def end_to_end(args, inp, run_dir: str) -> tuple[dict, dict, object]:
    from perfbench import harness as H
    from perfbench.workloads import sample_rows

    cores = H.host_cores()
    conf = H.session_conf(WORK)
    sess = H.start_session(cores, conf, inp.lookup_dir)
    gate = H.Gate(inp.turns)
    out = os.path.join(run_dir, "out")
    sample = sample_rows(inp, ORACLE_SAMPLE)
    report = record(args, inp, cores, conf, sess.spark)
    report["setup"] = {"start_s": sess.start_s, "lookups_s": sess.lookups_s}

    def request(kind, with_sample=False):
        run = H.pipeline_run(sess, inp, out, kind)
        gate.check(sess.spark, run, out, sample if with_sample else None)
        return run

    with H.PeakMemory(H.jvm_process(sess.spark).pid) as rss:
        cold = gate.attempt(request, "cold", with_sample=True)
        sink_b = H.sink_bytes(out) if cold else None
        warm = [r for r in warm_loop(lambda k: gate.attempt(request, f"warm:{k}"), args.seconds) if r]

    walls = [r.wall_s for r in warm]
    gaps = [g for r in warm for g in r.gaps_s]
    metrics = {"peak_rss_mb": rss.peak / 2**20}
    if cold:
        # set-up runs until the pipeline is warm: a fresh process pays the
        # session, the lookups and the cold first run before steady state
        metrics["setup_s"] = sess.setup_s + cold.wall_s
        metrics["sink_bytes_per_turn"] = sink_b / inp.turns
        report["cold_s"] = cold.wall_s
    if walls:
        metrics["turns_per_s"] = inp.turns / H.median(walls)
    if gaps:
        value, pct, n = tail(gaps)
        report["commit_gap_s"] = {"p50": H.median(gaps), "tail": value, "percentile": pct, "samples": n}
    metrics["ok_share"] = (gate.attempted - gate.failed) / max(gate.attempted, 1)
    report["peak_rss_processes"] = rss.peak_procs
    report["fail_share"] = gate.failed / max(gate.attempted, 1)
    report["warm_walls_s"] = walls
    report["errors"] = gate.errors
    report["digest"] = gate.reference
    return metrics, report, gate


# ---------------------------------------------------------------------------
# --trace 1: per-layer metrics
# ---------------------------------------------------------------------------


def layers(args, inp, run_dir: str) -> tuple[dict, dict, object]:
    from perfbench import eventlog as EL
    from perfbench import harness as H
    from perfbench.workloads import sample_rows

    cores = H.host_cores()
    parts = cores * inp.workload.n_groups
    gate = H.Gate(inp.turns)
    sample = sample_rows(inp, ORACLE_SAMPLE)

    # 1. a fresh JVM: set-up spans and the cold run, as in --trace 0
    conf = H.session_conf(WORK)
    first = H.start_session(cores, conf, inp.lookup_dir)
    report = record(args, inp, cores, conf, first.spark)
    cold_out = os.path.join(run_dir, "cold")
    cold = gate.attempt(
        lambda: gate.check(first.spark, H.pipeline_run(first, inp, cold_out, "cold"), cold_out, sample)
    )
    first.spark.stop()
    if cold is None:
        raise SystemExit(f"perfbench: the cold run failed: {gate.errors}")
    def measure(sess: "H.Session", out: str, tag: str) -> tuple[list[dict], list]:
        """Check the chain's parity and time it twice (which also warms the
        new context), then run the pipeline warm."""
        chain = H.chain_digest(sess, inp, parts)
        if chain != gate.reference:
            raise SystemExit(
                f"perfbench: prefix chain no longer matches run_pipeline "
                f"(chain {chain}, pipeline {gate.reference}); update perfbench/harness.py"
            )
        passes = [H.time_prefixes(sess, inp, parts, f"chain{i}") for i in (1, 2)]

        def request(k):
            run = H.pipeline_run(sess, inp, out, f"{tag}:{k}")
            gate.check(sess.spark, run, out)
            return run

        return passes, [r for r in warm_loop(lambda k: gate.attempt(request, k), args.seconds) if r]

    # 2. a second context of the same JVM with the event log: the traced
    # chain, warm runs and a resume after losing half the commits
    event_dir = os.path.join(run_dir, "events")
    os.makedirs(event_dir)
    traced = H.start_session(cores, H.session_conf(WORK, event_dir), inp.lookup_dir)
    out = os.path.join(run_dir, "out")
    passes, warm = measure(traced, out, "warm")
    uncommitted = H.uncommit_half(out) if warm else 0
    resumed = gate.attempt(
        lambda: gate.check(traced.spark, H.pipeline_run(traced, inp, out, "resume", resume=True), out)
    ) if warm else None
    traced.spark.stop()  # flushes the event log
    if not warm or resumed is None:
        raise SystemExit(f"perfbench: traced runs failed: {gate.errors}")
    prefix = {layer: min(p[layer] for p in passes) for layer in H.CHAIN}

    # 3. a third context without the log, warmed the same way: the
    # untraced reference for trace.overhead
    plain = H.start_session(cores, H.session_conf(WORK), inp.lookup_dir)
    _, plain_runs = measure(plain, os.path.join(run_dir, "plain"), "plain")
    if not plain_runs:
        raise SystemExit(f"perfbench: untraced runs failed: {gate.errors}")

    (log_name,) = os.listdir(event_dir)
    log = EL.load(os.path.join(event_dir, log_name))
    fact = "file:" + os.path.abspath(inp.path)
    warm_ph = [(r, EL.phase(log, r.kind, fact, r.window_ms)) for r in warm]
    # row and byte volumes of the Python hop come from the chain's last
    # prefix: one execution over the whole input, parity-checked above
    py = EL.phase(log, "chain2:route", fact)["metrics"]
    resume_ph = EL.phase(log, "resume", fact)
    turns = inp.turns
    digest = gate.reference

    def med(fn):
        return H.median([fn(r, ph) for r, ph in warm_ph])

    def m(ph, key):
        return ph["metrics"].get(key, 0.0)

    traced_wall = med(lambda r, ph: r.wall_s)
    plain_wall = H.median([r.wall_s for r in plain_runs])
    self_s = {
        layer: prefix[layer] - (prefix[H.CHAIN[i - 1]] if i else 0.0)
        for i, layer in enumerate(H.CHAIN)
    }
    self_s["write"] = traced_wall - prefix["route"]
    metrics = {
        "session.start_s": first.start_s,
        "lookups.build_s": first.lookups_s,
        "lookups.broadcast_bytes": med(lambda r, ph: ph["bcast_bytes_per_write"]),
        "scan.s": self_s["scan"],
        "scan.bytes_read": med(lambda r, ph: m(ph, "fact_scan/size of files read")),
        "scan.rows_per_turn": med(lambda r, ph: m(ph, "fact_scan/number of output rows")) / turns,
        "extract.s": self_s["extract"],
        "extract.pub_share": digest["pub"] / turns,
        "exchange.s": self_s["exchange"],
        "exchange.bytes_per_turn": med(lambda r, ph: m(ph, "Exchange/shuffle bytes written")) / turns,
        "exchange.spill_bytes": med(lambda r, ph: ph["spill_bytes"]),
        "exchange.task_skew": med(lambda r, ph: ph["task_skew"] or 1.0),
        "joins.s": self_s["joins"],
        "joins.probes": med(lambda r, ph: ph["fact_bhj_per_write"]),
        "joins.broadcast_builds": med(lambda r, ph: ph["broadcast_exchanges"]),
        "joins.broadcast_build_s": med(
            lambda r, ph: sum(
                m(ph, f"BroadcastExchange/{k}")
                for k in ("time to collect", "time to build", "time to broadcast")
            )
        ),
        "joins.hit_share": digest["hit"] / max(digest["pub"], 1),
        "parse.s": self_s["parse"],
        "parse.python_s": med(lambda r, ph: m(ph, "ArrowEvalPython/time to run Python workers")),
        "parse.python_rows_per_turn": py.get("ArrowEvalPython/number of output rows", 0.0) / turns,
        "parse.python_useful_share": digest["json"]
        / max(py.get("ArrowEvalPython/number of output rows", 0.0), 1),
        "parse.python_bytes": py.get("ArrowEvalPython/data sent to Python workers", 0.0),
        "parse.raw_share": digest["raw"] / turns,
        "route.s": self_s["route"],
        "write.s": self_s["write"],
        "write.sort_s": med(lambda r, ph: m(ph, "Sort/sort time")),
        "write.files": med(lambda r, ph: m(ph, "Execute/number of written files")),
        "write.task_commit_s": med(lambda r, ph: m(ph, "Execute/task commit time")),
        "commit.sql_executions": med(lambda r, ph: ph["sql_executions"]),
        "commit.jobs": med(lambda r, ph: ph["jobs"]),
        "commit.driver_s": med(lambda r, ph: ph["idle_s"]),
        "commit.overlap": med(lambda r, ph: ph["write_exec_wall_s"] / r.wall_s),
        "resume.rows_per_uncommitted_turn": m(resume_ph, "fact_scan/number of output rows")
        / max(uncommitted, 1),
        "jvm.gc_s": med(lambda r, ph: ph["gc_s"]),
        "cpu.busy_share": med(lambda r, ph: ph["cpu_s"] / (r.wall_s * cores)),
        "trace.overhead": traced_wall / plain_wall,
        "trace.coverage": sum(max(v, 0.0) for v in self_s.values()) / plain_wall,
    }
    report["setup"] = {"start_s": first.start_s, "lookups_s": first.lookups_s}
    report["prefix_s"] = passes
    report["self_s"] = self_s
    report["traced_wall_s"] = [r.wall_s for r in warm]
    report["untraced_wall_s"] = [r.wall_s for r in plain_runs]
    report["trace_within_10pct"] = abs(metrics["trace.coverage"] - 1.0) <= 0.10
    report["plan_fingerprint"] = EL.plan_fingerprint(log, warm[0].kind)
    report["warm_phase"] = {k: v for k, v in warm_ph[0][1].items() if k != "metrics"}
    report["resume_uncommitted_rows"] = uncommitted
    report["digest"] = digest
    report["errors"] = gate.errors
    return metrics, report, gate


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "logboost_spark")):
        print("perfbench: run from the repository root (no logboost_spark/ here)", file=sys.stderr)
        return 2
    confine(WORK)
    sys.path.insert(0, ROOT)
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    inp = W.materialize(W.WORKLOADS[args.workload], args.seed, WORK)
    W.evict_inputs(WORK, keep=inp.path)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    from perfbench.harness import shutdown

    try:
        fn = layers if args.trace else end_to_end
        metrics, report, gate = fn(args, inp, run_dir)
    finally:
        shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    units = LAYER_UNITS if args.trace else E2E_UNITS
    missing = sorted(set(units) - set(metrics))
    correct = gate.failed == 0 and not missing
    report["missing_metrics"] = missing
    print("perfbench report: " + json.dumps(report, default=str), flush=True)
    result = {
        "correct": correct,
        "attempted": gate.attempted,
        "failed": gate.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items() if k in metrics},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
