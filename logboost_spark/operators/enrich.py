"""The enrichment stage: LogBoost's ``enrichRecord`` as broadcast joins.

Reference flow (helpers/helpers.go:295-480): extract IP from the row →
classify (none / invalid / private / public) → for public IPs, look up
geo-ASN, geo-city, threat intel (+ datacenter-ASN merge), reverse DNS,
TLD, WHOIS (domain + IP), Shodan InternetDB — appending the fixed
``lb_*`` column suffix with string sentinels on each miss path.

Spark shape: ONE pass over the fact table with two broadcast probes,
both against tables the session's PreparedLookups prepares once:
  * one prefix-bucketed broadcast range join against the merged
    geo ASN + city interval table,
  * one broadcast hash left join against the combined IP-keyed table
    (TI, reverse DNS with its precomputed TLD, WHOIS-IP, InternetDB,
    and WHOIS-domain pre-joined on that TLD),
plus one ``isin`` literal membership test (datacenter ASNs). No Python
runs per row and no fact-side shuffle happens; every lookup side
broadcasts. Private / no-IP rows carry null join keys, so they fall
through both joins for free and get sentinel-filled at the end (the
reference's early-exit, expressed declaratively).

Sentinel matrix (see semantics.py for the ragged-row normalization note):
  no IP found / unparseable  → lb_IP="NoIP", every enrich col "NoIP"
  private IP                 → lb_IP=ip,    every enrich col "PVT"
  public, geo miss           → ""           (helpers/helpers.go:373-389)
  public, TI miss            → none/0/none  (helpers/threatIntel.go:403)
  public, DNS miss           → "none"/"none" (helpers/helpers.go:499-509)
  public, WHOIS/IDB miss     → "err"×4/×8/×5 (lookup attempted, no data)
  public, DNS hit but TLD=none → domain-WHOIS "NA"×4 (helpers.go:469-473)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fixtures.lookups import PreparedLookups
from ..functions.ip import compile_ip_extract
from ..semantics import (
    DNS_FIELDS,
    GEO_FIELDS,
    IDB_FIELDS,
    THREAT_FIELDS,
    WHOIS_DOMAIN_FIELDS,
    WHOIS_IP_FIELDS,
)
from .geo_join import compile_range_lookup

_DC_CATEGORY = "dc"
_DC_FEED = "internal datacenter list"
_WHOIS_IP_SRC = ["cidr", "netname", "nettype", "org", "created", "updated", "country", "parent"]


def ti_by_ip(ti: DataFrame) -> DataFrame:
    """Pre-aggregate (ip, feed_name, category) rows to one row per IP,
    with the output strings FULLY precomputed lookup-side.

    Mirrors CheckIPinTI's dedupe+sort (helpers/threatIntel.go:381-423,
    helpers/helpers.go:1111-1122): both lists sorted, distinct; the feed
    count is the number of distinct feeds. Done once on the tiny lookup
    side, so the fact-side join stays 1:1 (no row explosion).

    Besides the plain joined strings, the datacenter-ASN variants
    (category/feed lists with the DC entry merged in, helpers.go:448-455)
    are also precomputed here: the fact side then just picks a string by
    the per-row ``_is_dc`` flag instead of running
    array_sort∘array_distinct∘concat∘array_join on EVERY row — per-row
    output-expression work measured as the marginal cost of enrich.
    """
    base = ti.groupBy("ip").agg(
        F.array_sort(F.collect_set("category")).alias("_c"),
        F.array_sort(F.collect_set("feed_name")).alias("_f"),
    )
    dc_c = F.array_sort(
        F.array_distinct(F.concat(F.col("_c"), F.array(F.lit(_DC_CATEGORY))))
    )
    dc_f = F.array_sort(
        F.array_distinct(F.concat(F.col("_f"), F.array(F.lit(_DC_FEED))))
    )
    return base.select(
        "ip",
        F.array_join("_c", "|").alias("_ti_cats_str"),
        F.array_join("_f", "|").alias("_ti_feeds_str"),
        F.size("_f").cast("string").alias("_ti_nfeeds_str"),
        F.array_join(dc_c, "|").alias("_ti_cats_dc_str"),
        F.array_join(dc_f, "|").alias("_ti_feeds_dc_str"),
        F.size(dc_f).cast("string").alias("_ti_nfeeds_dc_str"),
    )


def enrich_extract(
    df: DataFrame,
    text_col: str = "text",
    ip_col_name: str | None = None,
    json_col_name: str | None = None,
) -> DataFrame:
    """Phase 1 of enrich: IP extraction + join-key columns
    (:func:`compile_extract` bound to ``df``)."""
    return compile_extract(text_col, ip_col_name, json_col_name)(df)


def compile_extract(
    text_col: str = "text",
    ip_col_name: str | None = None,
    json_col_name: str | None = None,
):
    """Build phase 1 of enrich once; return ``bind(df)``.

    ``bind`` appends ``_ip``/``_cls`` (compile_ip_extract) plus the
    public-only join keys ``_join_ip`` (string) and ``_join_v4`` (int
    form). This is the only part of enrich that reads ``text``;
    everything downstream (enrich_joins) references these slim
    attributes — which is what lets the pipeline shuffle extraction
    output instead of formatted rows.
    """
    extract_ip = compile_ip_extract(
        text_col, ip_col_name=ip_col_name, json_col_name=json_col_name
    )
    pub = F.col("_cls") == "pub"
    join_ip = F.when(pub, F.col("_ip"))
    join_v4 = F.when(pub, F.col("_v4l"))

    def bind(df: DataFrame) -> DataFrame:
        df = extract_ip(df).withColumn("_join_ip", join_ip)
        return df.withColumn("_join_v4", join_v4).drop("_v4l")

    return bind


def enrich(
    df: DataFrame,
    lookups: PreparedLookups,
    text_col: str = "text",
    use_ti: bool = True,
    use_dns: bool = True,
    use_whois: bool = True,
    use_idb: bool = True,
    ip_col_name: str | None = None,
    json_col_name: str | None = None,
    barrier: bool = True,
) -> DataFrame:
    """Append the lb_* enrichment suffix. Flags mirror -useti/-usedns/
    -usewhois/-useidb (+ -ipcol/-jsoncol source precedence); column
    order is fixed (vars/vars.go:51-56).

    ``barrier`` cuts the plan lineage between the extraction stage and
    the join pyramid with a lazy localCheckpoint: the Catalyst analyzer
    otherwise re-walks the big extraction expression trees once per
    join, superlinearly — measured 20s → 120s → minutes of pure
    driver time as joins accumulate. The barrier also materializes the
    extraction once, so multi-action consumers don't recompute it. On a
    cluster with unreliable local disks prefer `spark.checkpoint.dir` +
    .checkpoint(), or stage the extraction to a table. run_pipeline does
    not call this: there the per-group salted exchange sits between
    extraction and joins.

    CONTRACT: every stage here is deterministic over its input rows
    (broadcast lookups are fixed tables; no sampling, no wall-clock
    reads, no monotonically_increasing_id). The streaming sink's
    exactly-once replay (plans/streaming.stream_pipeline) depends on
    this — a nondeterministic enrichment would silently weaken the
    crash-rerun guarantee from identical-content to same-cardinality.
    """
    df = enrich_extract(
        df, text_col, ip_col_name=ip_col_name, json_col_name=json_col_name
    )
    if barrier:
        df = df.localCheckpoint(eager=False)
    return enrich_joins(
        df,
        lookups,
        use_ti=use_ti,
        use_dns=use_dns,
        use_whois=use_whois,
        use_idb=use_idb,
    )


def _sentinel(col, is_noip, is_pvt):
    """The no-IP / private-IP sentinel wrapper around a public-path value,
    given the two ``_cls`` tests (built once and shared by every sentinel
    Column of a stage)."""
    return F.when(is_noip, "NoIP").when(is_pvt, "PVT").otherwise(col)


def enrich_joins(
    df: DataFrame,
    lookups: PreparedLookups,
    use_ti: bool = True,
    use_dns: bool = True,
    use_whois: bool = True,
    use_idb: bool = True,
) -> DataFrame:
    """Phase 2 of enrich: the two broadcast probes + lb_* output columns
    (:func:`compile_joins` bound to ``df``).

    Expects the enrich_extract columns (``_ip``/``_cls``/``_join_ip``/
    ``_join_v4``) as real attributes on ``df``.
    """
    return compile_joins(lookups, use_ti, use_dns, use_whois, use_idb)(df)


def compile_joins(
    lookups: PreparedLookups,
    use_ti: bool = True,
    use_dns: bool = True,
    use_whois: bool = True,
    use_idb: bool = True,
):
    """Build every output Column of phase 2 once; return ``bind(df)``,
    which adds the two broadcast probes and the lb_* select to ``df`` in
    a handful of DataFrame calls. The flags pick output columns only:
    every flag set probes the same prepared tables."""
    # Every Column below is built once per pipeline, and each Column API
    # call is several py4j round trips: share repeated sub-expressions
    # (a Column is an immutable AST) and name columns by string.
    cls = F.col("_cls")
    is_noip, is_pvt = cls == "noip", cls == "pvt"

    def sentinel(col):
        return _sentinel(col, is_noip, is_pvt)

    # --- geo (J1/J2): ONE prefix-bucketed broadcast range join ----------
    # geo_asn + geo_city are outer-merged into a single disjoint interval
    # table (segments carry asn attrs, city attrs, or both), so the fact
    # table is range-joined — and its rows re-copied — once instead of
    # twice. Row-for-row identical to two sequential left joins
    # (merge_disjoint_interval_tables docstring). The merged table is a
    # fixture built offline (tools/build_fixtures.py): a full
    # GeoLite2-City table is ~3M intervals, so merging it through the
    # driver per session would be minutes of serial time.
    geo_join = compile_range_lookup(
        F.col("_join_v4"),
        lookups["geo_merged"],
        ["asn_org", "asn_number", "country", "city"],
        prefix="_g_",
    )

    # --- datacenter ASN membership (J4): literal set, codegen'd ---------
    is_dc_col = F.coalesce(
        F.col("_g_asn_number").isin(lookups.dc_asns), F.lit(False)
    )

    # --- geo output columns ---------------------------------------------
    geo_out = [
        # lb_IP on the PVT path carries the extracted private IP (helpers.go:349)
        F.when(is_noip, "NoIP")
        .otherwise(F.col("_ip"))
        .alias("lb_IP"),
        sentinel(F.coalesce("_g_asn_org", F.lit(""))).alias("lb_ASN"),
        sentinel(
            F.coalesce(F.col("_g_asn_number").cast("string"), F.lit(""))
        ).alias("lb_ASN_Number"),
        sentinel(F.coalesce("_g_country", F.lit(""))).alias("lb_Country"),
        sentinel(F.coalesce("_g_city", F.lit(""))).alias("lb_City"),
    ]

    # --- ONE broadcast probe for every ip-keyed lookup -------------------
    # TI (J3), DNS (J5), WHOIS-IP (J8) and IDB (J9) all key on _join_ip,
    # and WHOIS-domain (J7) keys on the TLD of the IP's first PTR record:
    # the prepared combined table holds all five, one row per IP, so one
    # left join is row-for-row identical to the sequential ones. It only
    # matches public rows (_join_ip is null otherwise), so every _ti_*/
    # _tld_lk/_wd_*/_wi_*/_idb_* column is null off the public path.
    combined = None
    if use_ti or use_dns or use_whois or use_idb:
        combined = lookups.combined_ip
        combined_side = F.broadcast(combined)
        combined_cond = F.col("_join_ip") == combined["_ipk"]

    # --- threat intel (J3+J4+A1) -----------------------------------------
    ti_out = []
    if use_ti:
        # every array op happened lookup-side in ti_by_ip; per fact row
        # this is just a flag-picked string coalesce. Semantics preserved:
        # dc + ti-hit → merged lists; dc + no-hit → the DC entry alone
        # (old code's concat-with-empty path); no-dc + no-hit → none/0.
        is_dc = F.col("_is_dc")
        ti_out = [
            sentinel(
                F.when(
                    is_dc, F.coalesce("_ti_cats_dc_str", F.lit(_DC_CATEGORY))
                ).otherwise(F.coalesce("_ti_cats_str", F.lit("none")))
            ).alias("lb_ThreatCategories"),
            sentinel(
                F.when(
                    is_dc, F.coalesce("_ti_nfeeds_dc_str", F.lit("1"))
                ).otherwise(F.coalesce("_ti_nfeeds_str", F.lit("0")))
            ).alias("lb_ThreatFeedCount"),
            sentinel(
                F.when(
                    is_dc, F.coalesce("_ti_feeds_dc_str", F.lit(_DC_FEED))
                ).otherwise(F.coalesce("_ti_feeds_str", F.lit("none")))
            ).alias("lb_ThreatFeeds"),
        ]

    # --- DNS + TLD (J5+J6) ------------------------------------------------
    dns_out = []
    if use_dns:
        dns_out = [
            sentinel(
                F.coalesce("_domains_str", F.lit("none"))
            ).alias("lb_Domains"),
            sentinel(F.coalesce("_tld_lk", F.lit("none"))).alias("lb_TLD"),
        ]

    # --- WHOIS domain (J7) -------------------------------------------------
    wd_out = []
    if use_whois and use_dns:
        tld = F.col("_tld_lk")
        no_domain = ~(tld.isNotNull() & (tld != "none"))
        # valid domain + lookup miss → "err" (live lookup failed);
        # no domain at all → "NA" (lookup skipped, helpers.go:469-473)
        for src, name in zip(
            ["_wd_created", "_wd_updated", "_wd_country", "_wd_org"],
            WHOIS_DOMAIN_FIELDS,
        ):
            wd_out.append(
                sentinel(
                    F.when(no_domain, "NA").otherwise(F.coalesce(src, F.lit("err")))
                ).alias(name)
            )

    # --- WHOIS IP (J8) -------------------------------------------------------
    wi_out = []
    if use_whois:
        for src, name in zip(_WHOIS_IP_SRC, WHOIS_IP_FIELDS):
            wi_out.append(
                sentinel(F.coalesce(f"_wi_{src}", F.lit("err"))).alias(name)
            )

    # --- Shodan InternetDB (J9) ----------------------------------------------
    idb_out = []
    if use_idb:
        for src, name in zip(
            ["cpes", "hostnames", "ports", "tags", "vulns"], IDB_FIELDS
        ):
            idb_out.append(
                sentinel(F.coalesce(f"_idb_{src}", F.lit("err"))).alias(name)
            )

    lb_out = [
        cls.alias("lb_class"),
        *geo_out,
        *ti_out,
        *dns_out,
        *wd_out,
        *wi_out,
        *idb_out,
    ]

    def bind(df: DataFrame) -> DataFrame:
        df = geo_join(df).withColumn("_is_dc", is_dc_col)
        keep = [c for c in df.columns if not c.startswith("_") and c != "domains"]
        if combined is not None:
            df = df.join(combined_side, combined_cond, "left")
        return df.select(*keep, *lb_out)

    return bind


def combined_ip_table(lookups: PreparedLookups) -> DataFrame:
    """TI, reverse DNS, WHOIS-IP and InternetDB pre-joined into one
    ``_ipk``-keyed table, one row per IP in any of them, with every
    per-row output string precomputed and the WHOIS-domain row of each
    IP's TLD joined on. Lookup-side work only: dimension-sized, done once
    per :class:`PreparedLookups` (its ``combined_ip`` materialises it)."""
    ip_lookups = [
        ti_by_ip(lookups["ti"]).withColumnRenamed("ip", "_ipk"),
        # domains_joined/tld are fixture columns (tools/build_fixtures.py
        # runs functions/psl.parse_psl_domain), so no Python runs here
        lookups["dns_ptr"].select(
            F.col("ip").alias("_ipk"),
            F.col("domains_joined").alias("_domains_str"),
            F.col("tld").alias("_tld_lk"),
        ),
        lookups["whois_ip"].select(
            F.col("ip").alias("_ipk"),
            *[F.col(c).alias(f"_wi_{c}") for c in _WHOIS_IP_SRC],
        ),
        lookups["shodan_idb"].select(
            F.col("ip").alias("_ipk"),
            F.array_join("cpes", "|").alias("_idb_cpes"),
            F.array_join("hostnames", "|").alias("_idb_hostnames"),
            F.array_join(F.transform("ports", lambda x: x.cast("string")), "|").alias(
                "_idb_ports"
            ),
            F.array_join("tags", "|").alias("_idb_tags"),
            F.array_join("vulns", "|").alias("_idb_vulns"),
        ),
    ]
    # key union + left joins rather than chained full_outer: full outer
    # can't broadcast (it would plan lookup-side SortMergeJoins); left
    # joins of dimension-sized frames stay BroadcastHashJoin all the way
    # down, keeping the whole enrich plan shuffle-free.
    keys = ip_lookups[0].select("_ipk")
    for lk in ip_lookups[1:]:
        keys = keys.union(lk.select("_ipk"))
    combined = keys.distinct()
    for lk in ip_lookups:
        combined = combined.join(F.broadcast(lk), "_ipk", "left")
    # a "none" TLD (no registrable domain) never matches a WHOIS row
    wd = lookups["whois_domain"].selectExpr(
        "domain AS _wd_domain",
        "created AS _wd_created",
        "updated AS _wd_updated",
        "country AS _wd_country",
        "org AS _wd_org",
    )
    tld = F.col("_tld_lk")
    wd_cond = F.when(tld != "none", tld) == wd["_wd_domain"]
    return combined.join(F.broadcast(wd), wd_cond, "left").drop("_wd_domain")
