"""Golden test: Spark enrichment equals the pure-Python reference oracle
cell-for-cell on generated transcripts (SURVEY.md §5 plan item 3)."""

import pandas as pd

from logboost_spark import oracle as O
from logboost_spark.fixtures import transcripts as TR
from logboost_spark.operators.enrich import enrich


def test_enrich_matches_oracle(spark, lookups):
    pdf = TR.gen_pandas(2000)
    sdf = spark.createDataFrame(pdf)
    eng = (
        enrich(sdf, lookups)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    base = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    ora = pd.DataFrame([O.enrich_text(t) for t in base["text"]])
    for c in ora.columns:
        neq = eng[c].astype(str) != ora[c].astype(str)
        assert not neq.any(), f"{c}: {int(neq.sum())} mismatches, e.g. {base.loc[neq[neq].index[0], 'text']!r}"


def test_enrich_flags_gate_columns(spark, lookups):
    pdf = TR.gen_pandas(50)
    sdf = spark.createDataFrame(pdf)
    cols = enrich(sdf, lookups, use_whois=False, use_idb=False).columns
    assert not any(c.startswith("lb_IPWhois") or c.startswith("lb_IDB") for c in cols)
    assert "lb_ThreatFeeds" in cols and "lb_Domains" in cols


def test_route_matches_oracle(spark, lookups):
    from pyspark.sql import functions as F

    from logboost_spark.plans.route import route_category

    pdf = TR.gen_pandas(1500)
    sdf = spark.createDataFrame(pdf)
    eng = (
        enrich(sdf, lookups)
        .withColumn("sink", route_category())
        .select("conv_id", "turn_idx", "sink")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    base = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = [
        O.route_category({**O.enrich_text(r.text), "role": r.role, "tool": r.tool})
        for r in base.itertuples()
    ]
    assert list(eng["sink"]) == want


def test_prepared_lookups_frozen_and_with_ti_isolated(spark, lookups):
    """build_lookup_dfs hands every caller one frozen set: assigning to it
    raises, and a custom TI feed (the CLI's --intelfile) lives only in the
    new set with_ti returns, never in the session's own."""
    import pytest

    from logboost_spark.fixtures.lookups import build_lookup_dfs

    assert build_lookup_dfs(spark) is lookups
    with pytest.raises(TypeError):
        lookups["ti"] = lookups["ti"]
    with pytest.raises(AttributeError):
        lookups.combined_ip = lookups["ti"]
    custom = spark.createDataFrame(
        [("8.8.8.8", "customfeed", "suspicious")], "ip string, feed_name string, category string"
    )
    sdf = spark.createDataFrame(
        [("c", 0, "conn from 8.8.8.8 ok")], "conv_id string, turn_idx int, text string"
    )

    def feeds(lk):
        return enrich(sdf, lk, use_whois=False, use_idb=False).first()["lb_ThreatFeeds"]

    assert "customfeed" in feeds(lookups.with_ti(custom))
    assert "customfeed" not in feeds(build_lookup_dfs(spark))
