"""Deterministic lookup (dimension) tables.

Stand-ins for the reference's live sources (FIXTURES.md §2):

* ``geo_asn`` / ``geo_city`` — MaxMind-style CIDR interval tables
  (helpers/helpers.go:369-391). Stored as [net_start, net_end] integer
  ranges; the engine joins them with a /16-prefix-bucketed broadcast
  range join (operators/geo_join.py).
* ``ti`` — threat-intel (ip, feed_name, category) rows, the SQLite
  ips⋈feeds⋈categories star flattened (helpers/threatIntel.go:195-206).
* ``dc_asn`` — datacenter ASN membership (vars/vars.go:91).
* ``dns_ptr`` — reverse-DNS PTR results (helpers/network.go:114-122).
* ``whois_domain`` / ``whois_ip`` — WHOIS parse results
  (helpers/helpers.go:560-762).
* ``shodan_idb`` — InternetDB responses (helpers/helpers.go:523-557).

All content is generated from a fixed seed; IP keys deliberately overlap
the transcript generator's IP pool so a fixed fraction of turns hit each
table.
"""

from __future__ import annotations

import atexit
import ipaddress
import os
import shutil
import tempfile
from collections.abc import Mapping
from functools import cached_property, lru_cache
from types import MappingProxyType

# ---------------------------------------------------------------------------
# IP pools (shared with the transcript generator)
# ---------------------------------------------------------------------------

# 1024 public IPv4s across four documentation/public ranges.
PUBLIC_V4_POOL = (
    [f"203.0.113.{i}" for i in range(256)]
    + [f"198.51.100.{i}" for i in range(256)]
    + [f"8.8.8.{i}" for i in range(256)]
    + [f"13.107.42.{i}" for i in range(256)]
)

PRIVATE_V4_POOL = (
    [f"10.0.0.{i}" for i in range(64)]
    + [f"192.168.1.{i}" for i in range(64)]
    + [f"172.16.5.{i}" for i in range(64)]
    + ["127.0.0.1"] * 64
)

PUBLIC_V6_POOL = [f"2001:db8:85a3::8a2e:370:{i:x}" for i in range(1, 257)]

# Public-suffix subset used by fixture domains (tldparserr stand-in).
PSL_SUFFIXES = ["com", "net", "org", "io", "dev", "co.uk", "ac.uk", "com.au", "de", "fr", "jp", "co.jp"]

_DOMAIN_WORDS = ["example", "contoso", "fabrikam", "initech", "umbrella", "hooli", "acme", "globex"]


def _cidr_range(cidr: str) -> tuple[int, int]:
    net = ipaddress.ip_network(cidr)
    return int(net.network_address), int(net.broadcast_address)


# ---------------------------------------------------------------------------
# geo tables — CIDR intervals with deliberate granularity differences
# ---------------------------------------------------------------------------

# Subset of the reference's hardcoded datacenter ASN list (vars/vars.go:91)
# — 16509/15169/14618/8075 are members there; 64501/64502 are not.
DC_ASN_NUMBERS = [16509, 15169, 14618, 8075, 20473, 63949]
NON_DC_ASN_NUMBERS = [64501, 64502, 64503, 7018]


@lru_cache(maxsize=1)
def geo_asn_rows() -> list[tuple]:
    """(net_start, net_end, asn_org, asn_number) — CIDR intervals."""
    blocks = [
        ("203.0.113.0/25", "EXAMPLE-NET-A", 64501),
        ("203.0.113.128/25", "AMAZON-02", 16509),  # DC ASN
        ("198.51.100.0/24", "GOOGLE", 15169),  # DC ASN
        ("8.8.8.0/24", "GOOGLE", 15169),  # DC ASN
        ("13.107.42.0/26", "MICROSOFT-CORP", 8075),  # DC ASN
        ("13.107.42.64/26", "EXAMPLE-NET-B", 64502),
        # 13.107.42.128/25 intentionally uncovered → geo miss ("")
    ]
    return [(*_cidr_range(c), org, num) for c, org, num in blocks]


@lru_cache(maxsize=1)
def geo_city_rows() -> list[tuple]:
    """(net_start, net_end, country, city) — different granularity than ASN."""
    blocks = [
        ("203.0.113.0/26", "United States", "Ashburn"),
        ("203.0.113.64/26", "United States", "Boardman"),
        ("203.0.113.128/25", "Ireland", "Dublin"),
        ("198.51.100.0/25", "Germany", "Frankfurt"),
        ("198.51.100.128/25", "Japan", "Tokyo"),
        ("8.8.8.0/24", "United States", "Mountain View"),
        ("13.107.42.0/25", "Netherlands", "Amsterdam"),
        # 13.107.42.128/25 uncovered → miss
    ]
    return [(*_cidr_range(c), country, city) for c, country, city in blocks]


# ---------------------------------------------------------------------------
# threat intel — ~12% of the public pool, 1-3 (feed, category) rows each
# ---------------------------------------------------------------------------

TI_FEEDS = ["feodo", "sslbl", "urlhaus", "cins-badguys", "tor-exits"]
TI_CATEGORIES = ["tor", "proxy", "suspicious", "vpn", "scanner"]


@lru_cache(maxsize=1)
def ti_rows() -> list[tuple]:
    """(ip, feed_name, category) — deterministic pseudo-random membership."""
    rows = []
    for i, ip in enumerate(PUBLIC_V4_POOL):
        h = (i * 2654435761) % 97
        if h < 12:  # ~12% of pool IPs are "bad"
            n = 1 + (i % 3)
            for j in range(n):
                feed = TI_FEEDS[(i + j * 7) % len(TI_FEEDS)]
                cat = TI_CATEGORIES[(i * 3 + j * 11) % len(TI_CATEGORIES)]
                rows.append((ip, feed, cat))
    return rows


# ---------------------------------------------------------------------------
# reverse DNS + TLD source domains
# ---------------------------------------------------------------------------


def _domain_for(i: int, j: int) -> str:
    word = _DOMAIN_WORDS[(i + j) % len(_DOMAIN_WORDS)]
    suffix = PSL_SUFFIXES[(i * 5 + j) % len(PSL_SUFFIXES)]
    return f"host{i % 50}.{word}.{suffix}"


@lru_cache(maxsize=1)
def dns_ptr_rows() -> list[tuple]:
    """(ip, domains list) — ~55% of the public pool has PTR records."""
    rows = []
    for i, ip in enumerate(PUBLIC_V4_POOL):
        h = (i * 40503) % 100
        if h < 55:
            n = 1 + (i % 3)
            rows.append((ip, [_domain_for(i, j) for j in range(n)]))
    return rows


@lru_cache(maxsize=1)
def whois_domain_rows() -> list[tuple]:
    """(domain, created, updated, country, org) for the 'main.tld' domains
    derivable from dns_ptr first records (the only ones the engine asks for,
    helpers/helpers.go:560-605)."""
    seen = {}
    for i, (_ip, domains) in enumerate(dns_ptr_rows()):
        first = domains[0]
        parsed = parse_psl_domain(first)
        if parsed == "none" or parsed in seen:
            continue
        if (i * 7) % 10 < 7:  # 70% of domains have whois data
            seen[parsed] = (
                parsed,
                f"200{i % 10}-0{1 + i % 9}-15",
                f"202{i % 4}-1{i % 2}-01",
                ["US", "DE", "JP", "GB", "AU"][i % 5],
                f"{_DOMAIN_WORDS[i % len(_DOMAIN_WORDS)].title()} Inc.",
            )
    return list(seen.values())


@lru_cache(maxsize=1)
def whois_ip_rows() -> list[tuple]:
    """(ip, cidr, netname, nettype, org, created, updated, country, parent)."""
    rows = []
    for i, ip in enumerate(PUBLIC_V4_POOL):
        if (i * 17) % 100 < 40:  # 40% coverage
            rows.append(
                (
                    ip,
                    ip.rsplit(".", 1)[0] + ".0/24",
                    f"NET-{i % 100}",
                    ["Direct Allocation", "Reallocated", "Direct Assignment"][i % 3],
                    f"{_DOMAIN_WORDS[i % len(_DOMAIN_WORDS)].title()} LLC",
                    f"19{90 + i % 10}-01-01",
                    f"201{i % 10}-06-30",
                    ["US", "IE", "NL", "SG"][i % 4],
                    "NET-PARENT-1",
                )
            )
    return rows


@lru_cache(maxsize=1)
def shodan_idb_rows() -> list[tuple]:
    """(ip, cpes, hostnames, ports, tags, vulns) arrays."""
    rows = []
    for i, ip in enumerate(PUBLIC_V4_POOL):
        if (i * 29) % 100 < 30:  # 30% coverage
            rows.append(
                (
                    ip,
                    [f"cpe:/a:vendor{i % 7}:prod{i % 5}"],
                    [_domain_for(i, 0)],
                    sorted({22, 80 + (i % 3) * 363, 8080}),
                    ["cloud"] if i % 2 else ["cdn", "cloud"],
                    [f"CVE-202{i % 4}-{1000 + i % 500}"] if i % 3 == 0 else [],
                )
            )
    return rows


# ---------------------------------------------------------------------------
# Public-suffix parse: the real PSL matcher lives in functions/psl.py
# (wildcards, exceptions, multi-label suffixes); re-exported here because
# the fixture generators were built around this name.
# Every PSL_SUFFIXES entry above is a genuine public-suffix rule, so
# fixture domains parse identically under the full list.
# ---------------------------------------------------------------------------

from ..functions.psl import parse_psl_domain  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Spark-side constructors
# ---------------------------------------------------------------------------


#: committed parquet fixtures (tools/build_fixtures.py): built from the
#: row generators above (tests/test_lookup_fixtures.py checks that they
#: still match), byte-stable, and what the DuckDB oracle reads
LOOKUP_PARQUET_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "data",
    "lookups",
)

#: the dimension tables, one ``<name>.parquet`` each in a fixture directory
LOOKUP_TABLES = (
    "geo_asn",
    "geo_city",
    "geo_merged",
    "ti",
    "dc_asn",
    "dns_ptr",
    "whois_domain",
    "whois_ip",
    "shodan_idb",
)


class PreparedLookups(Mapping):
    """The dimension tables of one session, prepared once and immutable.

    Reads as a mapping of the base tables (``lookups["ti"]``) and refuses
    item and attribute assignment. The tables enrich binds are derived on
    first use and kept for the life of the object (:attr:`dc_asns`,
    :attr:`combined_ip`). A variant with a custom TI feed is a new object
    (:meth:`with_ti`), so it cannot leak into other callers of
    :func:`build_lookup_dfs`.
    """

    def __init__(self, tables):
        object.__setattr__(self, "_tables", MappingProxyType(dict(tables)))

    def __getitem__(self, name):
        return self._tables[name]

    def __iter__(self):
        return iter(self._tables)

    def __len__(self):
        return len(self._tables)

    def __setattr__(self, name, value):
        raise AttributeError(f"PreparedLookups is immutable: cannot set {name!r}")

    def __delattr__(self, name):
        raise AttributeError(f"PreparedLookups is immutable: cannot delete {name!r}")

    @cached_property
    def dc_asns(self) -> list[int]:
        """The datacenter ASNs as a literal list (enrich's ``isin`` test)."""
        return [r[0] for r in self._tables["dc_asn"].collect()]

    @cached_property
    def combined_ip(self):
        """Every IP-keyed lookup pre-joined into one ``_ipk``-keyed table
        (:func:`..operators.enrich.combined_ip_table`), materialised once.

        Without the materialisation every Spark action (each commit-group
        job, every bench rep) re-ran the lookup-side pre-join: aggregation
        exchanges and a union-distinct per broadcast build. It goes through
        a temporary parquet directory, not ``createDataFrame(rows)``: a
        rows-list frame scans through a pickled Python RDD and would start
        a Python worker on every later broadcast build, while the
        read-back is a one-file JVM scan. Dimension data only, removed at
        interpreter exit."""
        from ..operators.enrich import combined_ip_table

        combined = combined_ip_table(self)
        d = tempfile.mkdtemp(prefix="lb_combined_lookup_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        combined.coalesce(1).write.mode("overwrite").parquet(d)
        return combined.sparkSession.read.parquet(d)

    def with_ti(self, extra) -> PreparedLookups:
        """A new set whose TI table also holds ``extra``'s (ip, feed_name,
        category) rows (the CLI's ``--intelfile`` feed); ``self`` is
        unchanged."""
        ti = self._tables["ti"].unionByName(extra).dropDuplicates(
            ["ip", "feed_name", "category"]
        )
        return PreparedLookups({**self._tables, "ti": ti})


def build_lookup_dfs(spark, parquet_dir: str | None = None) -> PreparedLookups:
    """The dimension tables read from the parquet fixtures in
    ``parquet_dir`` (default: the committed ones), as one
    :class:`PreparedLookups` per (session, directory).

    Parquet, not ``createDataFrame(list_of_rows)``: a rows-list frame
    scans through a pickled Python RDD, so every broadcast build (one per
    Spark action) paid a Python-worker round trip per lookup, profiled at
    4-8 s of near-idle task wait per action. A missing fixture raises
    FileNotFoundError naming it.
    """
    return _prepare(spark, LOOKUP_PARQUET_DIR if parquet_dir is None else parquet_dir)


@lru_cache(maxsize=None)
def _prepare(spark, parquet_dir: str) -> PreparedLookups:
    paths = {name: os.path.join(parquet_dir, f"{name}.parquet") for name in LOOKUP_TABLES}
    missing = [os.path.basename(p) for p in paths.values() if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(
            f"lookup fixtures missing from {parquet_dir}: {', '.join(missing)} "
            "(tools/build_fixtures.py writes them)"
        )
    tables = {name: spark.read.parquet(p) for name, p in paths.items()}
    # the engine tests dc_asn membership itself; is_dc is the DuckDB oracle's column
    tables["geo_asn"] = tables["geo_asn"].select(
        "net_start", "net_end", "asn_org", "asn_number"
    )
    return PreparedLookups(tables)
