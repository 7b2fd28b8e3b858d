"""Seeded inputs: determinism, mix stability, Spark-compatible grouping and
padding that can never match a fact row."""

import bisect
import ipaddress
import dataclasses
from collections import Counter

import pyarrow.parquet as pq
import pytest

from perfbench import workloads as W
from perfbench.run import tail
from logboost_spark.fixtures import lookups as L


def small(name, turns=600):
    return dataclasses.replace(W.WORKLOADS[name], turns=turns)


@pytest.mark.parametrize("name", ["mixed", "enrich_wide"])
def test_same_seed_same_input(name):
    w = small(name)
    assert W.table_digest(W.fact_table(w, 7)) == W.table_digest(W.fact_table(w, 7))


@pytest.mark.parametrize("name", ["mixed", "enrich_wide"])
def test_other_seed_other_rows_same_mix(name):
    w = small(name)
    a, b = W.row_ids(w, 1), W.row_ids(w, 2)
    assert not set(a) & set(b)
    assert W.table_digest(W.fact_table(w, 1)) != W.table_digest(W.fact_table(w, 2))
    assert Counter(W.fmt_of(a)) == Counter(W.fmt_of(b))
    assert Counter(W.ip_class(a)) == Counter(W.ip_class(b))


def test_workload_filters():
    ids = W.row_ids(small("enrich_wide"), 3)
    assert set(W.ip_class(ids)) == {0}
    assert not set(W.fmt_of(ids)) & W.JSON_FORMATS
    ids = W.row_ids(small("mixed"), 3)
    assert set(W.fmt_of(ids)) == set(range(12)) and set(W.ip_class(ids)) == {0, 1, 2, 3}


def test_xxhash64_matches_spark():
    # values printed by Spark 4.1.2: SELECT xxhash64(s)
    spark_values = {
        "conv-00000000": -6158415912329366596,
        "conv-00000001": 6835646529004027683,
        "": -7444071767201028348,
        "abc": 1423657621850124518,
        "x" * 40: -5348608777870439244,
        "conv-123456789012345678901234567890": -27207042107720792,
    }
    for s, h in spark_values.items():
        assert W.xxhash64(s.encode()) == h, s


def test_materialized_layout(tmp_path):
    w = dataclasses.replace(W.WORKLOADS["mixed"], turns=300)
    inp = W.materialize(w, 5, str(tmp_path))
    table = pq.read_table(inp.path)
    assert table.num_rows == inp.turns == 300
    for conv, g in zip(table.column("conv_id").to_pylist(), table.column(W.GROUP_COL).to_pylist()):
        assert g == W.commit_group(conv, w.n_groups)
    assert W.materialize(w, 5, str(tmp_path)).digest == inp.digest


def test_padding_never_covers_a_pool_ip():
    n = W.WORKLOADS["enrich_wide"].pad_rows
    pool = {int(ipaddress.IPv4Address(ip)) for ip in L.PUBLIC_V4_POOL + L.PRIVATE_V4_POOL}
    pad_ips = {int(ipaddress.IPv4Address(ip)) for ip in W.pad_ips(n)}
    assert not pad_ips & pool
    assert not set(W.pad_ips(n)) & (set(L.PUBLIC_V4_POOL) | set(L.PRIVATE_V4_POOL))
    starts = sorted(pool)
    for lo, hi in W.pad_intervals(n):
        i = bisect.bisect_left(starts, lo)
        assert i == len(starts) or starts[i] > hi, (lo, hi)
    # and padded intervals stay clear of the fixture's own intervals
    fixture = L.geo_asn_rows() + L.geo_city_rows()
    for lo, hi in W.pad_intervals(n)[:: max(1, n // 1000)] + W.pad_intervals(n)[-1:]:
        assert all(hi < a or lo > b for a, b, *_ in fixture)


def test_padded_dims_keep_schema(tmp_path):
    d = W.padded_dims(50, str(tmp_path))
    for name in ["geo_merged", "geo_asn", "geo_city", "ti", "dns_ptr", "whois_domain", "whois_ip", "shodan_idb", "dc_asn"]:
        base = pq.read_table(f"{L.LOOKUP_PARQUET_DIR}/{name}.parquet")
        padded = pq.read_table(f"{d}/{name}.parquet")
        assert padded.schema == base.schema
        assert padded.num_rows == base.num_rows + (0 if name == "dc_asn" else 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 21)]
    value, pct, n = tail(xs)
    assert (n, pct) == (20, 50) and sum(x > value for x in xs) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)
