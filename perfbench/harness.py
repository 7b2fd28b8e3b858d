"""Session, pipeline runs, correctness gate and resource sampling.

Everything here calls the program through its public surface only:
``session.get_spark(cores=..., extra_conf=...)``,
``fixtures.lookups.build_lookup_dfs``, ``plans.pipeline.run_pipeline``,
``plans.checkpoint.read_sinks`` and, for the traced prefix chain, the
layer functions ``run_pipeline`` composes.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logboost_spark import oracle
from logboost_spark.fixtures.lookups import build_lookup_dfs
from logboost_spark.operators.enrich import enrich_extract, enrich_joins
from logboost_spark.parsers.formats import parse_stage
from logboost_spark.plans.checkpoint import read_sinks
from logboost_spark.plans.pipeline import run_pipeline
from logboost_spark.plans.route import route_stage, salted_repartition
from logboost_spark.session import get_spark

from .workloads import GROUP_COL, Input

# ---------------------------------------------------------------------------
# host-fitted session
# ---------------------------------------------------------------------------


def _cgroup_value(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def host_cores() -> int:
    """CPUs this process may use: affinity mask, capped by a cgroup quota."""
    n = len(os.sched_getaffinity(0))
    quota = _cgroup_value("/sys/fs/cgroup/cpu.max")
    if quota and not quota.startswith("max"):
        q, period = quota.split()
        n = min(n, max(1, int(q) // int(period)))
    return n


def host_mem_mb() -> int:
    """Physical memory, capped by a cgroup memory limit."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    limit = _cgroup_value("/sys/fs/cgroup/memory.max")
    if limit and limit.isdigit():
        total = min(total, int(limit) // 2**20)
    return total


def session_conf(work: str, event_dir: str | None = None) -> dict[str, str]:
    """extra_conf for get_spark: a heap of a quarter of host memory (1 to
    2 GiB: the inputs are small and the host is shared), every scratch
    directory inside ``work``, and the event log when ``event_dir`` is set."""
    driver_mb = max(1024, min(2048, host_mem_mb() // 4))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{driver_mb}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    conf["spark.eventLog.enabled"] = str(event_dir is not None).lower()
    if event_dir is not None:
        conf.update(
            {
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


@dataclass
class Session:
    spark: object
    lookups: dict
    start_s: float
    lookups_s: float

    @property
    def setup_s(self) -> float:
        return self.start_s + self.lookups_s


def start_session(cores: int, conf: dict, lookup_dir: str | None) -> Session:
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    t1 = time.perf_counter()
    lookups = build_lookup_dfs(spark, lookup_dir)
    return Session(spark, lookups, t1 - t0, time.perf_counter() - t1)


def jvm_process(spark):
    return getattr(spark.sparkContext._gateway, "proc", None)


def shutdown() -> None:
    """Stop the active Spark context, end the JVM and its Python workers and
    wait for them. Safe to call when nothing runs."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    family = descendants(proc.pid) if proc else []
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in family:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, 9)


# ---------------------------------------------------------------------------
# process-tree RSS sampling
# ---------------------------------------------------------------------------


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers count
    once across the tree instead of once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakMemory:
    """Peak memory of a process tree (the JVM and its Python workers),
    sampled every ``period_s``, summing each process's PSS. ``peak_procs``
    is how many processes the tree had then."""

    def __init__(self, root_pid: int, period_s: float = 0.2):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            pids = descendants(self.root_pid)
            total = sum(_pss_bytes(p) for p in pids)
            if total > self.peak:
                self.peak, self.peak_procs = total, len(pids)
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# pipeline runs + correctness gate
# ---------------------------------------------------------------------------


class CheckFailed(Exception):
    pass


@dataclass
class Run:
    kind: str
    start: float  # epoch seconds
    wall_s: float
    gaps_s: list[float]

    @property
    def window_ms(self) -> tuple[int, int]:
        return int(self.start * 1e3), int((self.start + self.wall_s) * 1e3)


def manifest_dir(out: str) -> str:
    return os.path.join(out, "_manifest")


def pipeline_run(sess: Session, inp: Input, out: str, kind: str, resume: bool = False) -> Run:
    """One closed-loop client request: a full ``run_pipeline`` (CLI
    defaults: TI, DNS, WHOIS, IDB and parse on) over the partitioned input.
    Commit gaps are read from outside: manifest mtimes after the run start."""
    if not resume:
        shutil.rmtree(out, ignore_errors=True)
    sess.spark.sparkContext.setJobDescription(kind)
    t0 = time.time()
    run_pipeline(
        sess.spark,
        sess.spark.read.parquet(inp.path),
        sess.lookups,
        out,
        n_groups=inp.workload.n_groups,
        group_col_name=GROUP_COL,
        resume=resume,
    )
    wall = time.time() - t0
    sess.spark.sparkContext.setJobDescription(None)
    mdir = manifest_dir(out)
    stamps = sorted(
        m for m in (os.path.getmtime(os.path.join(mdir, n)) for n in os.listdir(mdir)) if m >= t0
    )
    gaps = [b - a for a, b in zip([t0] + stamps, stamps)]
    return Run(kind, t0, wall, gaps)


def committed_rows(out: str) -> int:
    mdir = manifest_dir(out)
    total = 0
    for name in os.listdir(mdir):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                total += int(json.load(f)["rows"])
    return total


def uncommit_half(out: str) -> int:
    """Delete the manifests of the even-numbered groups (a crash that lost
    half the commits); return the input rows those groups held."""
    mdir = manifest_dir(out)
    lost = 0
    for name in sorted(os.listdir(mdir)):
        if name.startswith("group-") and int(name[6:-5]) % 2 == 0:
            with open(os.path.join(mdir, name)) as f:
                lost += int(json.load(f)["rows"])
            os.remove(os.path.join(mdir, name))
    return lost


def frame_digest(df: DataFrame) -> dict:
    """Order-independent digest of (conv_id, turn_idx, sink, format, lb_*)
    plus the row counts the layer ratios need, in one aggregation."""
    lb = sorted(c for c in df.columns if c.startswith("lb_"))
    h = F.xxhash64("conv_id", "turn_idx", "sink", "format", *lb).cast("decimal(38,0)")
    pub = F.col("lb_class") == "pub"
    hit = pub & (
        (F.col("lb_ASN") != "")
        | (F.col("lb_Domains") != "none")
        | (F.col("lb_IPWhois_CIDR") != "err")
        | (F.col("lb_IDB_cpes") != "err")
    )

    def count(cond):
        return F.sum(cond.cast("long"))

    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(h).alias("digest"),
        count(pub).alias("pub"),
        count(hit).alias("hit"),
        count(F.col("format").isin("json", "json_multi")).alias("json"),
        count(F.col("format") == "raw").alias("raw"),
    ).first()
    return {k: (str(v) if k == "digest" else int(v or 0)) for k, v in r.asDict().items()}


def sink_bytes(out: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(os.path.join(out, "data")):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet"))
    return total


def oracle_mismatches(spark, out: str, sample: list[dict]) -> list[str]:
    """Compare sampled output rows with oracle.enrich_text/route_category."""
    key = F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
    wanted = [f"{r['conv_id']}#{r['turn_idx']}" for r in sample]
    got = {
        (r["conv_id"], r["turn_idx"]): r.asDict()
        for r in read_sinks(spark, out).filter(key.isin(wanted)).collect()
    }
    bad = []
    for r in sample:
        row = got.get((r["conv_id"], r["turn_idx"]))
        if row is None:
            bad.append(f"{r['conv_id']}#{r['turn_idx']}: missing from sinks")
            continue
        expect = oracle.enrich_text(r["text"])
        expect["sink"] = oracle.route_category({**expect, "role": r["role"], "tool": r["tool"]})
        diff = {k: (row.get(k), v) for k, v in expect.items() if row.get(k) != v}
        if diff:
            bad.append(f"{r['conv_id']}#{r['turn_idx']}: (got, oracle) {diff}")
    return bad


@dataclass
class Gate:
    """Per-run correctness: every pipeline run is checked, failures counted."""

    turns: int
    reference: dict | None = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, spark, run: Run, out: str, sample: list[dict] | None = None) -> dict:
        """Conservation, digest equality with the first run, and (when a
        sample is given) oracle parity. Raises CheckFailed."""
        rows = committed_rows(out)
        if rows != self.turns:
            raise CheckFailed(f"{run.kind}: manifests commit {rows} rows, input has {self.turns}")
        spark.sparkContext.setJobDescription("check")
        try:
            dig = frame_digest(read_sinks(spark, out))
            if dig["rows"] != self.turns:
                raise CheckFailed(f"{run.kind}: sinks hold {dig['rows']} rows, input has {self.turns}")
            if self.reference is None:
                self.reference = dig
            elif dig["digest"] != self.reference["digest"]:
                raise CheckFailed(f"{run.kind}: sink digest differs from the first run")
            if sample:
                bad = oracle_mismatches(spark, out, sample)
                if bad:
                    raise CheckFailed(f"{run.kind}: {len(bad)} oracle mismatches, e.g. {bad[0]}")
        finally:
            spark.sparkContext.setJobDescription(None)
        return dig

    def attempt(self, fn, *args, **kwargs):
        """Run one pipeline request plus its checks; count and log failures."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # a failed request is a measured outcome
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:2000])
            traceback.print_exc()
            return None


# ---------------------------------------------------------------------------
# traced prefix chain
# ---------------------------------------------------------------------------

CHAIN = ("scan", "extract", "exchange", "joins", "parse", "route")


def prefix_frames(sess: Session, inp: Input, partitions: int) -> list[tuple[str, DataFrame]]:
    """run_pipeline's layers as prefixes, in its order, over the whole input:
    scan -> enrich_extract -> salted_repartition -> enrich_joins ->
    parse_stage -> route_stage."""
    scan = sess.spark.read.parquet(inp.path).drop(GROUP_COL)
    extract = enrich_extract(scan)
    exchange = salted_repartition(extract, partitions, sort_cols=None)
    joins = enrich_joins(exchange, sess.lookups)
    parse = parse_stage(joins)
    route = route_stage(parse)
    return list(zip(CHAIN, [scan, extract, exchange, joins, parse, route]))


def time_prefixes(sess: Session, inp: Input, partitions: int, tag: str) -> dict[str, float]:
    """Wall time of each prefix written to the noop sink."""
    out = {}
    for layer, df in prefix_frames(sess, inp, partitions):
        sess.spark.sparkContext.setJobDescription(f"{tag}:{layer}")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[layer] = time.perf_counter() - t0
    sess.spark.sparkContext.setJobDescription(None)
    return out


def chain_digest(sess: Session, inp: Input, partitions: int) -> dict:
    sess.spark.sparkContext.setJobDescription("check")
    try:
        return frame_digest(prefix_frames(sess, inp, partitions)[-1][1])
    finally:
        sess.spark.sparkContext.setJobDescription(None)


def median(xs):
    return statistics.median(xs) if xs else None
