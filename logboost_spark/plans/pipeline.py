"""End-to-end pipeline: parse → (date filter) → enrich → route → sinks → agg.

The Spark shape of the reference's per-file goroutine pipeline
(main.go:487 → enrichLogs → processFile → Parse* → ProcessRecords →
enrichRecord → ListenOnWriteChannel): one declarative plan, Catalyst
schedules everything, the three goroutine tiers collapse into partition
parallelism (SURVEY.md §3.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.goformat import go_layout_to_jvm
from ..operators.enrich import compile_extract, compile_joins
from ..parsers.formats import compile_parse
from .checkpoint import write_routed
from .route import route_category


def date_filter(
    df: DataFrame,
    date_col: str,
    go_layout: str | None,
    start: str,
    end: str,
) -> DataFrame:
    """F1 semantics (helpers/helpers.go:253-265): keep start ≤ ts ≤ end
    (inclusive both ends); rows whose timestamp fails to parse are KEPT."""
    return df.filter(date_range(F.col(date_col), go_layout, start, end))


def date_range(col: Column, go_layout: str | None, start: str, end: str) -> Column:
    """:func:`date_filter`'s keep predicate over ``col``."""
    ts = (
        F.to_timestamp(col)
        if go_layout is None
        else F.try_to_timestamp(col.cast("string"), F.lit(go_layout_to_jvm(go_layout)))
    )
    return ts.isNull() | ts.between(F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp"))


class CompiledPipeline:
    """Every stage's Columns plus the prepared broadcast sides, built once.

    Building the pipeline's expressions in Python costs thousands of py4j
    round trips (several per expression node); binding prebuilt Columns
    to a DataFrame costs a few per stage. :meth:`extract` and :meth:`finish`
    bind the stages to whatever frame they are given, so every commit-group
    job of one :func:`run_pipeline` call and every micro-batch of one
    streaming query gets its own plan from the same Columns. That is safe
    under concurrency: a Column is an immutable expression AST, and each
    Dataset converts it into fresh Catalyst expression instances, so two
    plans bound from one CompiledPipeline share no expression trees.
    """

    def __init__(
        self,
        lookups: dict[str, DataFrame],
        do_parse: bool,
        kv_separator: str,
        kv_delimiter: str,
        raw_fallthrough: bool = True,
        text_col: str = "text",
        ip_col_name: str | None = None,
        json_col_name: str | None = None,
        **join_flags,
    ):
        self.extract = compile_extract(text_col, ip_col_name, json_col_name)
        self._joins = compile_joins(lookups, **join_flags)
        self._parse = (
            compile_parse(kv_separator=kv_separator, kv_delimiter=kv_delimiter)
            if do_parse
            else None
        )
        # reference main.go:442: content with no recognized parser is
        # processed as raw ONLY under -getall/-rawtxt; otherwise it is
        # skipped (per-file there, per-line in this engine's model)
        self._parsed_only = (
            F.col("format") != "raw" if do_parse and not raw_fallthrough else None
        )
        self._sink = route_category()

    def parse(self, df: DataFrame) -> DataFrame:
        """The parse stage, dropping unparsed rows unless raw falls through."""
        out = self._parse(df)
        return out if self._parsed_only is None else out.filter(self._parsed_only)

    def finish(self, df: DataFrame, project=None) -> DataFrame:
        """Joins → parse → ``project`` (the -fullparse projection) → route,
        over extraction output. ORDER MATTERS: parse after enrich so the
        map<string,string> never rides a join's row copy."""
        out = self._joins(df)
        if self._parse is not None:
            out = self.parse(out)
            if project is not None:
                out = project(out)
        return out.withColumn("sink", self._sink)


def run_pipeline(
    spark,
    transcripts: DataFrame,
    lookups: dict[str, DataFrame],
    out_dir: str,
    start: str | None = None,
    end: str | None = None,
    date_col: str = "ts",
    date_layout: str | None = None,
    resume: bool = False,
    n_groups: int = 8,
    partitions_per_group: int | None = None,
    do_parse: bool = True,
    raw_fallthrough: bool = True,
    group_col_name: str | None = None,
    kv_separator: str = "=",
    kv_delimiter: str = ",",
    full_parse: bool = False,
    **enrich_flags,
) -> list[dict]:
    """Full run; returns the lineage manifest entries written.

    ``start``/``end`` keep rows with ``start ≤ date_col ≤ end`` as
    :func:`date_filter` does (``date_layout``: the column's Go time
    layout, None for a timestamp column).

    The pipeline's expressions are built once per call, as a
    :class:`CompiledPipeline`, and each commit-group job binds them — and
    the date predicate — to its own plan over ``transcripts``. The one
    plan all group jobs share is ``transcripts`` itself, so it should be
    a plain scan: expressions a caller puts into it are shared by group
    jobs running concurrently.
    """
    if full_parse and not do_parse:
        raise ValueError(
            "full_parse=True requires do_parse=True: the -fullparse "
            "projection is over the parsed fields map (ADVICE r06)"
        )
    compiled = CompiledPipeline(
        lookups,
        do_parse=do_parse,
        raw_fallthrough=raw_fallthrough,
        kv_separator=kv_separator,
        kv_delimiter=kv_delimiter,
        **enrich_flags,
    )
    in_range = None
    if start is not None and end is not None:
        in_range = date_range(F.col(date_col), date_layout, start, end)

    def scan() -> DataFrame:
        return transcripts if in_range is None else transcripts.filter(in_range)

    project = None
    if full_parse:
        # -fullparse (main.go:56): one column per key seen ANYWHERE in
        # the input. The key union must be GLOBAL (a per-group union
        # would give groups different schemas), so run the two-pass
        # aggregation over the whole input up front — fields depend only
        # on text, so this prunes to a text-only scan (the reference's
        # first full-file scan, parsers/extra_keys.deep_keys).
        from ..parsers.extra_keys import deep_keys, shallow_project

        full_keys = deep_keys(compiled.parse(scan()))

        def project(out: DataFrame) -> DataFrame:
            return shallow_project(out, full_keys)

    # BYTE-DIET SHAPE (guide §2.3/§8, SURVEY §1.1): the per-group salted
    # exchange moves only the raw columns + the slim extraction output
    # (_ip/_cls/_join keys ≈ 30 B/row); the broadcast join pyramid, the
    # fields map and every lb_* sentinel string are computed AFTER the
    # shuffle, directly above each group's write — measured ~40% fewer
    # shuffle bytes, and the exchange doubles as the codegen barrier
    # between the extraction regexes and the join stage (fusing them
    # measured 3-20× slower). Every post-shuffle op is per-row
    # deterministic, so output rows are identical.
    return write_routed(
        lambda: compiled.extract(scan()),
        lambda df: compiled.finish(df, project),
        out_dir,
        n_groups=n_groups,
        resume=resume,
        partitions_per_group=partitions_per_group,
        group_col_name=group_col_name,
    )
