"""The committed lookup fixtures (data/lookups/*.parquet) are the only
source of the engine's dimension tables: each must still equal the row
generator in fixtures/lookups.py that tools/build_fixtures.py wrote it
from (pyarrow only, no Spark), and a missing one is an error naming it."""

import os
import shutil

import pyarrow.parquet as pq
import pytest

from logboost_spark.fixtures import lookups as L
from logboost_spark.operators.geo_join import flatten_intervals, merge_disjoint_interval_tables


def _rows(name, cols):
    t = pq.read_table(os.path.join(L.LOOKUP_PARQUET_DIR, f"{name}.parquet"))
    return [tuple(r[c] for c in cols) for r in t.to_pylist()]


def test_fixtures_match_generators():
    geo = ["net_start", "net_end"]
    assert _rows("geo_asn", geo + ["asn_org", "asn_number"]) == L.geo_asn_rows()
    assert _rows("geo_asn", ["asn_number", "is_dc"]) == [
        (r[3], r[3] in L.DC_ASN_NUMBERS) for r in L.geo_asn_rows()
    ]
    assert _rows("geo_city", geo + ["country", "city"]) == L.geo_city_rows()
    assert _rows("geo_merged", geo + ["asn_org", "asn_number", "country", "city"]) == [
        tuple(r)
        for r in merge_disjoint_interval_tables(
            flatten_intervals(L.geo_asn_rows()), flatten_intervals(L.geo_city_rows()), 2, 2
        )
    ]
    assert _rows("ti", ["ip", "feed_name", "category"]) == L.ti_rows()
    assert _rows("dc_asn", ["asn_number"]) == [(n,) for n in L.DC_ASN_NUMBERS]
    assert _rows("dns_ptr", ["ip", "domains", "domains_joined", "tld"]) == [
        (ip, ds, "|".join(ds), L.parse_psl_domain(ds[0])) for ip, ds in L.dns_ptr_rows()
    ]
    assert _rows(
        "whois_domain", ["domain", "created", "updated", "country", "org"]
    ) == L.whois_domain_rows()
    assert _rows(
        "whois_ip",
        ["ip", "cidr", "netname", "nettype", "org", "created", "updated", "country", "parent"],
    ) == L.whois_ip_rows()
    assert _rows("shodan_idb", ["ip", "cpes", "hostnames", "ports", "tags", "vulns"]) == [
        tuple(r) for r in L.shodan_idb_rows()
    ]


def test_missing_fixture_is_named(spark, tmp_path):
    d = tmp_path / "lookups"
    d.mkdir()
    for name in L.LOOKUP_TABLES:
        if name != "ti":
            shutil.copy(os.path.join(L.LOOKUP_PARQUET_DIR, f"{name}.parquet"), d)
    with pytest.raises(FileNotFoundError, match=r"ti\.parquet"):
        L.build_lookup_dfs(spark, str(d))
