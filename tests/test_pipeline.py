"""End-to-end pipeline: per-sink counts vs oracle, stable ordering,
resume-from-checkpoint semantics."""

import glob
import json
import os
import shutil

from logboost_spark import oracle as O
from logboost_spark.fixtures import transcripts as TR
from logboost_spark.plans.checkpoint import committed_groups, read_sinks, sink_counts
from logboost_spark.plans.pipeline import run_pipeline


def _oracle_sink_counts(pdf):
    counts = {}
    for r in pdf.itertuples():
        e = O.enrich_text(r.text)
        s = O.route_category({**e, "role": r.role, "tool": r.tool})
        counts[s] = counts.get(s, 0) + 1
    return counts


def test_pipeline_counts_and_resume(spark, lookups, tmp_path):
    out = str(tmp_path / "sinks")
    pdf = TR.gen_pandas(3000)
    sdf = spark.createDataFrame(pdf)

    manifests = run_pipeline(
        spark, sdf, lookups, out, n_groups=4, partitions_per_group=4,
        use_whois=False, use_idb=False,
    )
    assert len(manifests) == 4
    got = sink_counts(spark, out)
    want = _oracle_sink_counts(pdf)
    assert {k: v for k, v in got.items() if v} == want

    # routed-row sets: every turn lands in exactly one sink, none lost
    allrows = read_sinks(spark, out)
    assert allrows.count() == 3000
    assert allrows.select("conv_id", "turn_idx").distinct().count() == 3000

    # --- stable (conv_id, turn_idx) order within every output file -------
    files = glob.glob(os.path.join(out, "data", "group=*", "sink=*", "*.parquet"))
    assert files
    import pandas as pd

    for f in files[:20]:
        part = pd.read_parquet(f, columns=["conv_id", "turn_idx"])
        key = list(zip(part["conv_id"], part["turn_idx"]))
        assert key == sorted(key), f

    # --- resume: nuke 2 groups' commits, rerun, content identical --------
    for g in [1, 3]:
        os.remove(os.path.join(out, "_manifest", f"group-{g:04d}.json"))
        shutil.rmtree(os.path.join(out, "data", f"group={g}"))
    assert committed_groups(out) == {0, 2}
    before = {
        g: os.path.getmtime(os.path.join(out, "_manifest", f"group-{g:04d}.json"))
        for g in [0, 2]
    }
    redo = run_pipeline(
        spark, sdf, lookups, out, n_groups=4, partitions_per_group=4, resume=True,
        use_whois=False, use_idb=False,
    )
    assert sorted(m["group"] for m in redo) == [1, 3]  # committed groups skipped
    for g, mt in before.items():
        assert os.path.getmtime(os.path.join(out, "_manifest", f"group-{g:04d}.json")) == mt
    assert sink_counts(spark, out) == got  # identical final counts
    assert read_sinks(spark, out).count() == 3000


def test_manifest_metrics(spark, lookups, tmp_path):
    out = str(tmp_path / "m")
    sdf = spark.createDataFrame(TR.gen_pandas(500))
    manifests = run_pipeline(
        spark, sdf, lookups, out, n_groups=2, partitions_per_group=2,
        use_whois=False, use_idb=False,
    )
    total = sum(m["rows"] for m in manifests)
    assert total == 500
    for m in manifests:
        assert m["rows"] == sum(m[f"rows_{s}"] for s in ["threat", "internal", "noip", "tool_activity", "general"])
        assert "wall_sec" in m
        with open(os.path.join(out, "_manifest", f"group-{m['group']:04d}.json")) as f:
            assert json.load(f)["rows"] == m["rows"]


def test_resume_refuses_changed_group_count(spark, tmp_path):
    """Manifests record n_groups; resuming under different bucketing
    must refuse, not silently skip/double-write conversations."""
    import pytest
    from logboost_spark.fixtures.lookups import build_lookup_dfs
    from logboost_spark.fixtures.transcripts import gen_spark
    from logboost_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "sinks")
    df = gen_spark(spark, 400)
    lookups = build_lookup_dfs(spark)
    run_pipeline(spark, df, lookups, out, n_groups=2, use_whois=False, use_idb=False)
    with pytest.raises(ValueError, match="n_groups"):
        run_pipeline(
            spark, df, lookups, out, n_groups=4, resume=True,
            use_whois=False, use_idb=False,
        )
    # same count resumes cleanly as a no-op
    m = run_pipeline(
        spark, df, lookups, out, n_groups=2, resume=True,
        use_whois=False, use_idb=False,
    )
    assert m == []


def test_group_partitioned_source_parity(spark, lookups, tmp_path):
    """The production path: a source laid out bucket-partitioned by commit
    group (Iceberg bucket(conv_id); a parquet partition column locally)
    with group_col_name= must produce byte-identical routed rows to the
    on-the-fly pmod(xxhash64(conv_id)) fallback, with the group filter
    arriving at the scan as a PartitionFilter (pruning, not a data scan)."""
    from pyspark.sql import functions as F

    pdf = TR.gen_pandas(2000)
    sdf = spark.createDataFrame(pdf)
    src = str(tmp_path / "src")
    (
        sdf.withColumn("cgroup", F.pmod(F.xxhash64("conv_id"), F.lit(3)))
        .repartition(4)
        .write.partitionBy("cgroup")
        .parquet(src)
    )
    part = spark.read.parquet(src)

    # pruning reaches the scan
    plan = (
        part.filter(F.col("cgroup").cast("bigint") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [(cgroup" in plan

    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    run_pipeline(
        spark, part, lookups, out_a, n_groups=3, group_col_name="cgroup",
        use_whois=False, use_idb=False,
    )
    run_pipeline(
        spark, sdf, lookups, out_b, n_groups=3,
        use_whois=False, use_idb=False,
    )
    assert sink_counts(spark, out_a) == sink_counts(spark, out_b)

    def canon(out):
        return read_sinks(spark, out).drop("group").withColumn(
            "fields",
            F.to_json(F.map_from_entries(F.array_sort(F.map_entries("fields")))),
        )

    a, b = canon(out_a), canon(out_b)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_group_col_modulus_mismatch_refused(spark, lookups, tmp_path):
    """A source partitioned with MORE groups than the run (pmod(...,8)
    column but n_groups=4) must raise before any group job — otherwise
    rows with group >= n_groups match no filter and silently vanish from
    every sink while manifests still commit."""
    import pytest
    from pyspark.sql import functions as F

    pdf = TR.gen_pandas(500)
    sdf = spark.createDataFrame(pdf)
    src = str(tmp_path / "src8")
    (
        sdf.withColumn("cgroup", F.pmod(F.xxhash64("conv_id"), F.lit(8)))
        .write.partitionBy("cgroup")
        .parquet(src)
    )
    part = spark.read.parquet(src)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="outside this run's n_groups=4"):
        run_pipeline(
            spark, part, lookups, out, n_groups=4, group_col_name="cgroup",
            use_whois=False, use_idb=False,
        )
    # nothing was committed
    assert committed_groups(out) == set()
    # matching modulus passes the validation and runs clean
    m = run_pipeline(
        spark, part, lookups, out, n_groups=8, group_col_name="cgroup",
        use_whois=False, use_idb=False,
    )
    assert len(m) == 8
    assert read_sinks(spark, out).count() == 500


def test_group_pruning_reaches_scan_without_barrier(spark, lookups, tmp_path):
    """With enrich's extraction barrier disabled, the per-group commit
    filter pushes all the way below enrich+parse+route to the parquet
    scan as a PartitionFilter — real scan-level pruning, not just a
    post-scan filter (a localCheckpoint is a LogicalRDD the filter
    cannot push below)."""
    from pyspark.sql import functions as F

    from logboost_spark.operators.enrich import enrich
    from logboost_spark.parsers.formats import parse_stage
    from logboost_spark.plans.route import route_stage

    pdf = TR.gen_pandas(600)
    sdf = spark.createDataFrame(pdf)
    src = str(tmp_path / "srcp")
    (
        sdf.withColumn("cgroup", F.pmod(F.xxhash64("conv_id"), F.lit(3)))
        .write.partitionBy("cgroup")
        .parquet(src)
    )
    part = spark.read.parquet(src)
    routed = route_stage(
        parse_stage(enrich(part, lookups, barrier=False, use_whois=False, use_idb=False))
    )
    plan = (
        routed.filter(F.col("cgroup").cast("bigint") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [(cgroup" in plan, plan[:4000]


def test_concurrent_groups_no_cross_row_bleed(spark, lookups, tmp_path):
    """r07 regression guard: overlapping commit-group jobs must not share
    driver-side expression trees — shared trees produced cross-row value
    bleed (lb_IP from another row) at ~1 row/2k per run. The extracted
    lb_IP must always be a substring of the row's own text (or NoIP).
    Probabilistic detector (the race fired in ~1/3 of runs pre-fix), so
    several runs are checked; any hit is a hard failure."""
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(TR.gen_pandas(2000))
    for trial in range(4):
        out = str(tmp_path / f"bleed{trial}")
        run_pipeline(
            spark, sdf, lookups, out, n_groups=3,
            use_whois=False, use_idb=False,
        )
        bad = (
            read_sinks(spark, out)
            .filter(
                (F.col("lb_class") != "noip")
                & ~F.col("text").contains(F.col("lb_IP"))
            )
            .count()
        )
        assert bad == 0, f"trial {trial}: {bad} rows carry another row's lb_IP"


def _canon_sinks(spark, out):
    """Committed sink rows with the fields map made comparable."""
    from pyspark.sql import functions as F

    return read_sinks(spark, out).withColumn(
        "fields",
        F.to_json(F.map_from_entries(F.array_sort(F.map_entries("fields")))),
    )


def _same_rows(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_truncated_manifest_is_not_committed(spark, lookups, tmp_path):
    """A manifest cut short by a crash mid-write is not a commit: it is
    neither reported by committed_groups nor counted by sink_counts, and
    resume redoes that group to sinks identical to a fresh run."""
    sdf = spark.createDataFrame(TR.gen_pandas(900))
    flags = dict(n_groups=3, partitions_per_group=2, use_whois=False, use_idb=False)
    fresh, out = str(tmp_path / "fresh"), str(tmp_path / "out")
    run_pipeline(spark, sdf, lookups, fresh, **flags)
    first = run_pipeline(spark, sdf, lookups, out, **flags)
    mdir = os.path.join(out, "_manifest")
    assert sorted(os.listdir(mdir)) == [f"group-{g:04d}.json" for g in range(3)]

    path = os.path.join(mdir, "group-0001.json")
    with open(path) as f:
        text = f.read()
    with open(path, "w") as f:
        f.write(text[: len(text) // 2])
    assert committed_groups(out) == {0, 2}
    assert committed_groups(out, n_groups=3) == {0, 2}
    lost = next(m for m in first if m["group"] == 1)
    assert sum(sink_counts(spark, out).values()) == 900 - lost["rows"]

    redo = run_pipeline(spark, sdf, lookups, out, resume=True, **flags)
    assert [m["group"] for m in redo] == [1]
    assert committed_groups(out, n_groups=3) == {0, 1, 2}
    assert sink_counts(spark, out) == sink_counts(spark, fresh)
    assert _same_rows(_canon_sinks(spark, out), _canon_sinks(spark, fresh))
    assert sorted(os.listdir(mdir)) == [f"group-{g:04d}.json" for g in range(3)]


def _plan_nodes(plan):
    """Every node of a logical plan (py4j), depth first."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        out.append(node)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _expressions(nodes, skip):
    """Every node of every expression of ``nodes`` (py4j), minus the
    classes named in ``skip``."""
    out, todo = [], []
    for n in nodes:
        es = n.expressions()
        todo.extend(es.apply(i) for i in range(es.size()))
    while todo:
        e = todo.pop()
        if e.getClass().getSimpleName() in skip:
            continue
        out.append(e)
        kids = e.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _identity_set(jvm, objs):
    """A JVM IdentityHashMap of ``objs``: membership by
    System.identityHashCode and reference equality, not equals()."""
    m = jvm.java.util.IdentityHashMap()
    for o in objs:
        m.put(o, True)
    return m


def _assert_group_jobs_share_only_input(spark, transcripts, lookups, tmp_path, monkeypatch):
    """Two group plans built by write_routed's factory from one run's
    compiled pipeline, date filter included, share no expression
    instance: every expression node of one analyzed plan is a different
    JVM object from every node of the other (JVM identity,
    System.identityHashCode plus reference equality). Excluded: the
    subplans both jobs read by construction (``transcripts``, which must
    be an expression-free leaf, and the prepared lookup sides: plan nodes
    that are the same object in both must lie inside them) and attribute
    references, which only name those relations' columns."""
    from logboost_spark.plans import pipeline
    from logboost_spark.plans.checkpoint import group_rows

    got = {}  # the (source, finish) pair run_pipeline hands to write_routed

    def capture(source, finish, *args, **kwargs):
        got.update(source=source, finish=finish)
        return []

    monkeypatch.setattr(pipeline, "write_routed", capture)
    run_pipeline(
        spark, transcripts, lookups, str(tmp_path / "unused"), n_groups=2,
        start="2000-01-01 00:00:00", end="2100-01-01 00:00:00",
    )
    jvm = spark.sparkContext._jvm

    def analyzed(g):
        df = group_rows(got["source"], got["finish"], g, 2, 2)
        return df._jdf.queryExecution().analyzed()

    skip = {"AttributeReference"}
    scan = transcripts._jdf.queryExecution().analyzed()
    assert scan.children().size() == 0 and not _expressions([scan], skip), (
        "the pipeline input must be a plain leaf"
    )
    nodes_a, nodes_b = _plan_nodes(analyzed(0)), _plan_nodes(analyzed(1))
    in_a, in_b = _identity_set(jvm, nodes_a), _identity_set(jvm, nodes_b)
    shared = [n for n in nodes_a if in_b.containsKey(n)]
    # what both jobs may read: the input and every join's lookup side
    roots = [scan] + [
        n.right() for n in nodes_a if n.getClass().getSimpleName() == "Join"
    ]
    relations = _identity_set(jvm, [n for r in roots for n in _plan_nodes(r)])
    assert in_b.containsKey(scan), "expected the input to be shared"
    assert all(relations.containsKey(n) for n in shared), (
        "group plans share nodes above the input and lookup relations"
    )

    exprs_a = _expressions([n for n in nodes_a if not in_b.containsKey(n)], skip)
    exprs_b = _expressions([n for n in nodes_b if not in_a.containsKey(n)], skip)
    assert len(exprs_a) > 500 and len(exprs_b) > 500
    in_exprs_a = _identity_set(jvm, exprs_a)
    both = [e.toString() for e in exprs_b if in_exprs_a.containsKey(e)]
    assert not both, f"{len(both)} expression instances shared, e.g. {both[:3]}"


def test_group_jobs_share_no_expression_instances(spark, lookups, tmp_path, monkeypatch):
    """The r07 cross-row-bleed race needs two in-flight group jobs to share
    driver-side expression instances; over a parquet scan they share none."""
    src = str(tmp_path / "src")
    spark.createDataFrame(TR.gen_pandas(200)).write.parquet(src)
    _assert_group_jobs_share_only_input(
        spark, spark.read.parquet(src), lookups, tmp_path, monkeypatch
    )


def test_log_input_group_jobs_share_no_expression_instances(
    spark, lookups, tmp_path, monkeypatch
):
    """The CLI's log-directory input (read_log_directory: a regexp_replace,
    a window and a join) is staged before the pipeline, so group jobs
    over it share no expression instances either."""
    import main as M

    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.log").write_text(
        "".join(f"conn {i} from 8.8.8.{i % 200} ok\n" for i in range(60))
    )
    (logs / "b.txt").write_text("no address here\nfrom 10.0.0.5 denied\n")
    args = M.build_parser().parse_args(
        ["--input", str(logs), "--output", str(tmp_path / "out"), "--input-format", "logs"]
    )
    _assert_group_jobs_share_only_input(
        spark, M.read_transcripts(spark, args), lookups, tmp_path, monkeypatch
    )


def test_builders_run_once_per_run(spark, lookups, tmp_path, monkeypatch):
    """run_pipeline builds its expressions once, however many commit-group
    jobs bind them: a 3-group run calls each expression builder exactly
    as often as a 1-group run, and writes the same rows."""
    from logboost_spark.functions import ip
    from logboost_spark.operators import enrich
    from logboost_spark.parsers import formats

    calls = {}

    def counting(module, name):
        real = getattr(module, name)

        def wrapper(*a, **k):
            calls[name] = calls.get(name, 0) + 1
            return real(*a, **k)

        monkeypatch.setattr(module, name, wrapper)

    counting(formats, "detect_format")
    for name in ("ipv4_to_long", "is_private_ipv4_long", "is_private_ipv6_str"):
        counting(ip, name)
    counting(enrich, "_sentinel")
    sdf = spark.createDataFrame(TR.gen_pandas(600))
    flags = dict(partitions_per_group=2, use_idb=False)
    one, three = str(tmp_path / "one"), str(tmp_path / "three")

    run_pipeline(spark, sdf, lookups, one, n_groups=1, **flags)
    per_run = dict(calls)
    assert set(per_run) == {
        "detect_format", "ipv4_to_long", "is_private_ipv4_long",
        "is_private_ipv6_str", "_sentinel",
    }
    assert per_run["detect_format"] == 1
    calls.clear()
    run_pipeline(spark, sdf, lookups, three, n_groups=3, **flags)
    assert calls == per_run
    assert sink_counts(spark, three) == sink_counts(spark, one)
    assert _same_rows(
        _canon_sinks(spark, three).drop("group"), _canon_sinks(spark, one).drop("group")
    )
