"""Seeded benchmark inputs: transcript tables and (padded) dimension tables.

Every fact row comes from ``logboost_spark.fixtures.transcripts.row_for``,
the generator's single source of truth (row id -> row). A workload picks
which row ids it keeps; the seed picks where the id range starts. The
range start is a multiple of ``SEED_STRIDE``, which is a multiple of 12
(formats), 10 (IP classes) and 1000 (hot conversations), so every seed
sees the same format mix, IP-class mix and hot-conversation share while
drawing different rows.

Inputs are written once per (workload, seed) as parquet partitioned by
commit group, ``cgroup = pmod(xxhash64(conv_id), n_groups)``: the
production layout ``run_pipeline(group_col_name=...)`` expects. The group
hash is computed here in Python (Spark's XXH64, seed 42), so making an
input starts no JVM and stays outside every timed region.
"""

from __future__ import annotations

import hashlib
import ipaddress
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from logboost_spark.fixtures import lookups as L
from logboost_spark.fixtures import transcripts as TR

GROUP_COL = "cgroup"

#: seeds map to disjoint row-id ranges of this width (wide enough for the
#: largest filtered workload; seeds wrap at SEED_WRAP so timestamps stay
#: inside datetime's range)
SEED_STRIDE = 1_200_000
SEED_WRAP = 100_000

JSON_FORMATS = {7, 8, 10}  # json line, CloudTrail multi-record, Azure audit


def ip_class(ids: np.ndarray) -> np.ndarray:
    """The generator's IP class per row id (transcripts._ip_for):
    0 public IPv4, 1 IPv6, 2 private IPv4, 3 no IP."""
    c = (ids * 104729) % 10
    return np.select([c <= 6, c == 7, c == 8], [0, 1, 2], 3)


def fmt_of(ids: np.ndarray) -> np.ndarray:
    return (ids * 7919) % TR.N_FORMATS


@dataclass(frozen=True)
class Workload:
    name: str
    turns: int
    n_groups: int
    #: row filters over the generator's format / IP class (None: all)
    formats: frozenset[int] | None = None
    ip_classes: frozenset[int] | None = None
    #: rows of padding per dimension table (0 = the committed fixtures)
    pad_rows: int = 0

    def keep(self, ids: np.ndarray) -> np.ndarray:
        mask = np.ones(len(ids), dtype=bool)
        if self.formats is not None:
            mask &= np.isin(fmt_of(ids), sorted(self.formats))
        if self.ip_classes is not None:
            mask &= np.isin(ip_class(ids), sorted(self.ip_classes))
        return mask


_NON_JSON = frozenset(set(range(TR.N_FORMATS)) - JSON_FORMATS)

#: BENCHMARK.json lists the workloads the benchmark reports; the others stay
#: runnable by name for manual breakdowns (see perfbench/README.md)
WORKLOADS = {
    w.name: w
    for w in [
        # the generator's natural mix: 12 formats, 70/10/10/10 IP classes,
        # ~20% of turns in 17 hot conversations
        Workload("mixed", turns=24_000, n_groups=2),
        # non-JSON formats, public IPv4 only: every row probes every join,
        # against dimension tables padded far past the fixture sizes
        Workload(
            "enrich_wide", turns=12_000, n_groups=2,
            formats=_NON_JSON, ip_classes=frozenset({0}), pad_rows=20_000,
        ),
        # JSON formats only, private or no IP: the Python parse hop does the
        # work and null join keys fall through the join layer
        Workload(
            "json_parse", turns=24_000, n_groups=2,
            formats=JSON_FORMATS, ip_classes=frozenset({2, 3}),
        ),
        # small natural mix, many commit groups: per-group-job fixed cost
        Workload("many_groups", turns=24_000, n_groups=32),
    ]
}


# ---------------------------------------------------------------------------
# Spark-compatible xxhash64 (org.apache.spark.unsafe.hash.XXH64, seed 42)
# ---------------------------------------------------------------------------

_M = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Signed 64-bit XXH64, equal to Spark's ``xxhash64`` of a string."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i <= n - 32:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k : i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def commit_group(conv_id: str, n_groups: int) -> int:
    """``pmod(xxhash64(conv_id), n_groups)``."""
    return xxhash64(conv_id.encode()) % n_groups


# ---------------------------------------------------------------------------
# fact rows
# ---------------------------------------------------------------------------


def row_ids(w: Workload, seed: int) -> np.ndarray:
    """The first ``w.turns`` generator row ids the workload keeps, counted
    from the seed's range start."""
    start = (seed % SEED_WRAP) * SEED_STRIDE
    ids = np.arange(start, start + SEED_STRIDE, dtype=np.int64)
    kept = ids[w.keep(ids)][: w.turns]
    if len(kept) < w.turns:
        raise ValueError(f"{w.name}: seed range holds only {len(kept)} matching rows")
    return kept


_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def fact_table(w: Workload, seed: int) -> pa.Table:
    """The workload's transcript rows in id order, with turn_idx dense per
    conversation (the same rule as ``transcripts.gen_pandas``)."""
    rows = [TR.row_for(int(i)) for i in row_ids(w, seed)]
    next_turn: dict[int, int] = {}
    turn_idx = []
    for r in rows:
        t = next_turn.get(r["conv_raw"], 0)
        next_turn[r["conv_raw"]] = t + 1
        turn_idx.append(t)
    cols = {
        "conv_id": [r["conv_id"] for r in rows],
        "turn_idx": turn_idx,
        "role": [r["role"] for r in rows],
        "text": [r["text"] for r in rows],
        "tool": [r["tool"] for r in rows],
        "ts": [r["ts"] for r in rows],
    }
    return pa.table(cols, schema=_SCHEMA)


def table_digest(table: pa.Table) -> str:
    h = hashlib.sha256()
    for batch in table.to_batches():
        for col in batch.columns:
            for buf in col.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()[:16]


@dataclass(frozen=True)
class Input:
    workload: Workload
    seed: int
    path: str
    turns: int
    digest: str
    lookup_dir: str | None


def materialize(w: Workload, seed: int, work: str) -> Input:
    """Write (once) the workload's partitioned fact table and, for padded
    workloads, its dimension tables; return where they are."""
    lookup_dir = padded_dims(w.pad_rows, work) if w.pad_rows else None
    path = os.path.join(work, "inputs", f"{w.name}-g{w.n_groups}-n{w.turns}-s{seed}")
    marker = os.path.join(path, "_input.json")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        table = fact_table(w, seed)
        groups = [commit_group(c, w.n_groups) for c in table.column("conv_id").to_pylist()]
        digest = table_digest(table)
        table = table.append_column(GROUP_COL, pa.array(groups, pa.int32()))
        pq.write_to_dataset(table, path, partition_cols=[GROUP_COL])
        with open(marker, "w") as f:
            json.dump({"turns": table.num_rows, "digest": digest}, f)
    with open(marker) as f:
        meta = json.load(f)
    return Input(w, seed, path, meta["turns"], meta["digest"], lookup_dir)


def evict_inputs(work: str, keep: str, limit: int = 6) -> None:
    """Bound the input cache: keep ``keep`` and the newest others."""
    root = os.path.join(work, "inputs")
    others = sorted(
        (os.path.getmtime(p), p)
        for p in (os.path.join(root, d) for d in os.listdir(root))
        if p != keep
    )
    for _, p in others[: max(0, len(others) - (limit - 1))]:
        shutil.rmtree(p, ignore_errors=True)


def sample_rows(inp: Input, k: int) -> list[dict]:
    """A seeded sample of ``k`` input rows (for the oracle check)."""
    table = pq.read_table(inp.path, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    rng = np.random.default_rng(inp.seed)
    picks = rng.choice(table.num_rows, size=min(k, table.num_rows), replace=False)
    return table.take(pa.array(np.sort(picks))).to_pylist()


# ---------------------------------------------------------------------------
# padded dimension tables (enrich_wide)
# ---------------------------------------------------------------------------

#: padding addresses live in 20.0.0.0/8 (IP-keyed tables) and 30.0.0.0/8
#: (interval tables): public space outside every generator pool, so no
#: fact row can hit a padded row and oracle.py stays exact
_PAD_IP_BASE = int(ipaddress.IPv4Address("20.0.0.0"))
_PAD_NET_BASE = int(ipaddress.IPv4Address("30.0.0.0"))
_PAD_NET_STRIDE, _PAD_NET_LEN = 64, 32


def pad_ips(n: int) -> list[str]:
    return [str(ipaddress.IPv4Address(_PAD_IP_BASE + i)) for i in range(n)]


def pad_intervals(n: int) -> list[tuple[int, int]]:
    return [
        (_PAD_NET_BASE + i * _PAD_NET_STRIDE, _PAD_NET_BASE + i * _PAD_NET_STRIDE + _PAD_NET_LEN - 1)
        for i in range(n)
    ]


def _padding(name: str, n: int) -> dict[str, list] | None:
    """Padding columns for one dimension table (None: copied unchanged)."""
    ips = pad_ips(n)
    nets = pad_intervals(n)
    starts, ends = [s for s, _ in nets], [e for _, e in nets]
    idx = range(n)
    if name == "geo_merged":
        return {
            "net_start": starts, "net_end": ends,
            "asn_org": [f"PAD-ORG-{i}" for i in idx], "asn_number": [4_200_000_000 + i for i in idx],
            "country": [f"Padland {i % 97}" for i in idx], "city": [f"Padcity {i}" for i in idx],
        }
    if name == "geo_asn":
        return {
            "net_start": starts, "net_end": ends, "asn_org": [f"PAD-ORG-{i}" for i in idx],
            "asn_number": [4_200_000_000 + i for i in idx], "is_dc": [False] * n,
        }
    if name == "geo_city":
        return {
            "net_start": starts, "net_end": ends,
            "country": [f"Padland {i % 97}" for i in idx], "city": [f"Padcity {i}" for i in idx],
        }
    if name == "ti":
        return {
            "ip": ips, "feed_name": [L.TI_FEEDS[i % len(L.TI_FEEDS)] for i in idx],
            "category": [L.TI_CATEGORIES[i % len(L.TI_CATEGORIES)] for i in idx],
        }
    if name == "dns_ptr":
        doms = [f"pad{i}.padding.invalid" for i in idx]
        return {"ip": ips, "domains": [[d] for d in doms], "domains_joined": doms, "tld": ["padding.invalid"] * n}
    if name == "whois_domain":
        return {
            "domain": [f"pad{i}.invalid" for i in idx], "created": ["2000-01-01"] * n,
            "updated": ["2020-01-01"] * n, "country": ["ZZ"] * n, "org": [f"Pad {i} Inc." for i in idx],
        }
    if name == "whois_ip":
        return {
            "ip": ips, "cidr": [ip.rsplit(".", 1)[0] + ".0/24" for ip in ips],
            "netname": [f"PAD-NET-{i}" for i in idx], "nettype": ["Direct Allocation"] * n,
            "org": [f"Pad {i} LLC" for i in idx], "created": ["1999-01-01"] * n,
            "updated": ["2019-06-30"] * n, "country": ["ZZ"] * n, "parent": ["PAD-PARENT"] * n,
        }
    if name == "shodan_idb":
        return {
            "ip": ips, "cpes": [[f"cpe:/a:pad:p{i}"] for i in idx],
            "hostnames": [[f"pad{i}.padding.invalid"] for i in idx], "ports": [[22, 443]] * n,
            "tags": [["pad"]] * n, "vulns": [[]] * n,
        }
    return None


def padded_dims(pad_rows: int, work: str) -> str:
    """A lookup parquet directory (build_lookup_dfs layout): the committed
    fixtures with ``pad_rows`` never-matching rows appended per table."""
    out = os.path.join(work, "dims", f"pad{pad_rows}")
    marker = os.path.join(out, "_dims.json")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for fname in sorted(os.listdir(L.LOOKUP_PARQUET_DIR)):
        if not fname.endswith(".parquet"):
            continue
        base = pq.read_table(os.path.join(L.LOOKUP_PARQUET_DIR, fname))
        cols = _padding(fname[: -len(".parquet")], pad_rows)
        if cols is not None:
            base = pa.concat_tables([base, pa.table(cols, schema=base.schema)])
        pq.write_table(base, os.path.join(out, fname))
    with open(marker, "w") as f:
        json.dump({"pad_rows": pad_rows}, f)
    return out


def dir_hashes(path: str) -> dict[str, str]:
    """sha256 prefix of every parquet fixture in a lookup directory."""
    out = {}
    for fname in sorted(os.listdir(path)):
        if fname.endswith(".parquet"):
            with open(os.path.join(path, fname), "rb") as f:
                out[fname] = hashlib.sha256(f.read()).hexdigest()[:16]
    return out
