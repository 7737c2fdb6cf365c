"""Robots prefix filter + per-host politeness budget (window rank).

The robots filter is the engine's SkipContainer analog
(container_crawler/exceptions.py SkipContainer — a handler refusing a whole
container for a cycle; here a host's disallow rules excluding its URLs).
The budget window is the flagship ordering operator: per host, rank pending
URLs by (priority DESC, crawl_ts ASC, url_hash ASC) — a TOTAL order thanks
to the unique 64-bit hash tiebreak — and schedule the top `budget(host)`.

Both the robots table and the budget table are small dimensions -> broadcast
joins (never a shuffle of the big frontier side beyond the window itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Java-regex metachars escaped by the RFC rule translation ("*" excluded —
# it becomes ".*"); shared with the pyspark-free semantics module so the
# two translations cannot drift
from .robots_rfc import SPARK_ESC_CLASS as _RX_META


def budgets_df(spark, budgets: dict[str, int]) -> DataFrame:
    """Politeness budgets as a broadcastable dimension (host, budget).

    Built from an Arrow table, so the plan leaf is a LocalTableScan: a
    frame built from a Python list is an RDD scan, and every evaluation
    of it runs a job through Python workers."""
    import pyarrow as pa

    hosts = sorted(budgets)
    table = pa.table({
        "host": pa.array(hosts, pa.string()),
        "budget": pa.array([budgets[h] for h in hosts], pa.int32()),
    })
    return spark.createDataFrame(table, "host string, budget int")


def apply_robots(
    pending: DataFrame, robots: DataFrame, rfc: bool = False,
    small: bool = True,
) -> DataFrame:
    """Adds boolean ``blocked``.

    Default mode: any NON-EMPTY disallow prefix matches the path (the
    reference's SkipContainer shape; an empty rule — a bare "Disallow:"
    line, RFC 9309 allow-all — matches nothing in every mode). ``rfc=True`` runs the RFC 9309 decision over
    (allow, disallow) rule arrays: the MOST SPECIFIC (longest) matching
    rule wins and allow wins length ties, with full §2.2.3 wildcard
    support — ``*`` matches any character sequence and a trailing ``$``
    anchors the end of the match target, which per §2.2.2 is the URI's
    path PLUS query (scheme/authority/fragment stripped) — rules like
    ``/*sessionid`` target query params. Rules are translated to anchored Java
    regexes ON THE RULE-DIM SIDE (robots is host-cardinality — never
    collected driver-side) with built-in string functions, mirroring
    robots_rfc.rule_regex exactly (parity pinned by the wildcard golden);
    the big side then evaluates one regexp_like per rule inside the same
    broadcast join — no extra shuffle, no Python on the data path. A
    robots table without an ``allow`` column behaves as all-empty allows.
    Hosts without a robots row are unblocked (left join, null-safe).
    Wildcard-free rules compile to ``^literal`` regexes, so decisions are
    byte-identical to the previous prefix-longest-match behavior.

    ``small=False`` drops the broadcast hint: the robots dim is
    host-cardinality and rule-array-wide — at ~10^8 north-star hosts it
    is far past broadcast size, and AQE must pick the join strategy. The
    scheduler computes the flag once per instance (graph.
    BROADCAST_HOST_MAX gate).
    """
    has_allow = rfc and "allow" in robots.columns
    r = robots.select(
        "host", "disallow", *(["allow"] if has_allow else [])
    )
    if rfc:
        # Translate rules to (len, rx) structs HERE, in the dim
        # projection BEFORE the join: the two regexp_replaces + concat
        # per rule are per-host work (host-cardinality rows), not
        # per-(pending row x rule) work. The joined big side only
        # evaluates one regexp_like per rule below.
        empty = F.array().cast("array<string>")

        def rule_rx(x):
            # column twin of robots_rfc.rule_regex: trailing "$" = end
            # anchor, "*" = ".*", everything else regex-escaped
            endd = x.endswith("$")
            body = F.when(
                endd, F.substring(x, F.lit(1), F.length(x) - 1)
            ).otherwise(x)
            esc = F.regexp_replace(body, _RX_META, r"\\$1")
            return F.concat(
                F.lit("^"),
                F.regexp_replace(esc, r"\*", ".*"),
                F.when(endd, F.lit("$")).otherwise(F.lit("")),
            )

        def rule_structs(col):
            return F.transform(
                F.coalesce(col, empty),
                lambda x: F.struct(
                    F.length(x).alias("l"), rule_rx(x).alias("rx")
                ),
            )

        alw_src = F.col("allow") if has_allow else empty
        r = r.select(
            "host",
            rule_structs(F.col("disallow")).alias("_dis_rx"),
            rule_structs(alw_src).alias("_alw_rx"),
        )
    # path extraction mirrors refspec's path_of (urlsplit().path or "/"),
    # NOT F.parse_url: java.net.URI returns NULL for URLs it can't parse
    # (e.g. raw spaces canonicalize() preserves verbatim), which would
    # silently unblock rows the refspec blocks. Steps: strip "scheme:",
    # then "//authority" if present, cut at "?", empty -> "/".
    no_scheme = F.regexp_replace(
        F.col("url_canon"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*:", ""
    )
    no_auth = F.when(
        no_scheme.startswith("//"),
        F.regexp_replace(no_scheme, r"^//[^/?]*", ""),
    ).otherwise(no_scheme)
    if rfc:
        # RFC 9309 §2.2.2 match target: path AND query (only scheme /
        # authority / fragment are stripped — rules like "/*sessionid"
        # exist to hit query params; the RFC authors' reference
        # implementation extracts path+params+query). Fragments are gone
        # at canonicalization. Mirrors refspec's path_query_of.
        # degenerate spellings canonicalization never emits but raw test
        # inputs can ("http://h" -> "", "http://h?a=1" -> "?a=1"): align
        # with path_query_of, whose path component is never empty
        path = F.when(no_auth == "", F.lit("/")).otherwise(
            F.when(
                no_auth.startswith("?"), F.concat(F.lit("/"), no_auth)
            ).otherwise(no_auth)
        )
    else:
        # prefix mode keeps the reference's path-only SkipContainer shape
        path = F.substring_index(no_auth, "?", 1)
        path = F.when(path == "", F.lit("/")).otherwise(path)
    joined = pending.join(
        F.broadcast(r) if small else r, "host", "left"
    ).withColumn("_path", path)
    if rfc:
        empty_structs = F.array().cast(
            "array<struct<l:int,rx:string>>"
        )

        def longest_match(col):
            # the structs were pre-translated on the dim side; per
            # (row x rule) only the regexp_like match runs here.
            # coalesce covers hosts with no robots row (left join).
            return F.aggregate(
                F.filter(
                    F.coalesce(col, empty_structs),
                    lambda s: F.regexp_like(F.col("_path"), s["rx"]),
                ),
                F.lit(0),
                lambda acc, s: F.greatest(acc, s["l"]),
            )

        blocked = (
            longest_match(F.col("_dis_rx")) > longest_match(F.col("_alw_rx"))
        )
    else:
        # an empty-string rule (a bare "Disallow:" line, which RFC 9309
        # defines as allow-all and robots_parse-style parses emit as "")
        # must be a no-match: startswith("") is true for every path, so
        # without the length guard one such rule blacked out the whole
        # host in prefix mode while rfc mode (match length 0 -> never
        # wins) and the refspec left it unblocked
        blocked = F.coalesce(
            F.exists(
                "disallow",
                lambda d: (F.length(d) > 0) & F.col("_path").startswith(d),
            ),
            F.lit(False),
        )
    return (
        joined.withColumn("blocked", blocked)
        .drop("disallow", "allow", "_path", "_dis_rx", "_alw_rx")
    )


_ORDER = lambda: [F.desc("priority"), F.asc("crawl_ts"), F.asc("url_hash")]  # noqa: E731


def rank_by_budget(
    eligible: DataFrame,
    budgets: DataFrame,
    default_budget: int,
    salt: int = 1,
    bucketed: bool = False,
) -> DataFrame:
    """Adds ``rk`` (per-host rank in crawl order, exact for every row with
    rk <= budget) and ``budget``; the caller schedules rk <= budget.

    salt > 1 runs the skew-safe TWO-PHASE top-k: a single-window
    ``partitionBy(host)`` puts a hot host's entire pending set in one task
    (at the 10^10-URL north star a 30%-skew host is ~3*10^9 rows in one
    sort). Phase 1 ranks within (host, pmod(url_hash, salt)) and keeps only
    the per-salt top-``budget``; phase 2 runs the exact window over the
    <= salt*budget survivors per host. Exactness: a row dropped in phase 1
    has >= budget same-host rows ahead of it (its own salt group's top
    ``budget``, all survivors), so its true rank > budget — deferred either
    way; and a survivor whose survivor-rank <= budget has NO dropped row
    ahead of it (any dropped row ahead would contribute its budget-sized
    prefix, all survivors, pushing the survivor-rank past budget), so
    survivor-rank == true rank. rk values > budget are not meaningful ranks
    (only the `> budget` comparison is used; rk/budget are dropped before
    any write).

    ``bucketed=True`` (single-window mode only): the caller has already
    hash-partitioned ``eligible`` by host_bucket, so the window partitions
    by (host_bucket, host) — host_bucket is a pure function of host, so
    the per-host rank is IDENTICAL, but HashPartitioning(host_bucket)
    satisfies the composite ClusteredDistribution and the window runs
    with NO exchange of its own (guide §2.4).
    """
    withb = (
        eligible.join(F.broadcast(budgets), "host", "left")
        .withColumn("budget", F.coalesce("budget", F.lit(default_budget)))
    )
    if salt <= 1:
        keys = ["host_bucket", "host"] if bucketed else ["host"]
        w = Window.partitionBy(*keys).orderBy(*_ORDER())
        return withb.withColumn("rk", F.row_number().over(w).cast("long"))
    pre = Window.partitionBy(
        "host", F.pmod(F.col("url_hash"), F.lit(salt))
    ).orderBy(*_ORDER())
    pr = withb.withColumn("_r1", F.row_number().over(pre))
    survivors = pr.where(F.col("_r1") <= F.col("budget"))
    overflow = pr.where(F.col("_r1") > F.col("budget"))
    w = Window.partitionBy("host").orderBy(*_ORDER())
    exact = survivors.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).drop("_r1")
    over = overflow.withColumn(
        "rk", F.col("budget").cast("long") + F.col("_r1").cast("long")
    ).drop("_r1")
    return exact.unionByName(over)
