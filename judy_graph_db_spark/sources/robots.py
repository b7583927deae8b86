"""robots.txt parsing and URL policy filtering (RFC 9309, the Robots
Exclusion Protocol) — the crawl-side policy stage of a web pipeline:
respect-robots is both etiquette and, increasingly, a dataset-governance
requirement (opt-out compliance audits ask exactly "which fetched URLs
were disallowed at fetch time?").

Spark-first: parsing is one scan-stage split/explode over the robots
documents (group accumulation via a running MAX window keyed by the
file), and policy evaluation is a relational LONGEST-MATCH join — per
(url, matching rule) the longest path prefix wins, ``allow`` beating
``disallow`` on equal length (RFC 9309 §2.2.2) — one window over the
matched pairs. No UDF anywhere.

Reference: judy-graph-db has no crawl surface (parity-plus); semantics
follow the public RFC. Wildcard ``*`` (any char run) and the ``$``
end-anchor — the Google extension RFC 9309 §2.2.3 explicitly permits
and every large crawler honors — are fully evaluated: wildcard rules
translate to anchored regexes in the match join and rank by raw pattern
length, the tie-break Google's reference matcher implements. A wildcard
rule that does not actually match never ranks at all, so the old
literal-prefix false positives are gone. ``matched_wild`` still marks
wins by wildcard rules for audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from judy_graph_db_spark.schema import union_all


def parse_robots(robots: DataFrame, host_col: str = "host",
                 text_col: str = "text") -> DataFrame:
    """Parse robots.txt bodies into one row per rule:
    ``(host, agent, rule, path, order)`` where ``rule`` ∈
    {'allow','disallow'} and ``agent`` is the lowercased user-agent the
    enclosing group names ('*' for the wildcard group). Group structure
    (consecutive ``User-agent:`` lines share the following rules, RFC
    9309 §2.2.1) is recovered relationally: lines explode with their
    position, each rule line attaches to the nearest preceding
    user-agent run via a running-MAX window keyed by the host — one
    window, no UDF."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), "\r?\n"))
        .alias("order", "line"),
    ).select(
        "host", "order",
        # strip comments + whitespace
        F.trim(F.regexp_replace("line", "#.*$", "")).alias("line"),
    ).filter(F.col("line") != "")
    kv = lines.select(
        "host", "order",
        F.lower(F.trim(F.regexp_extract("line", r"^([^:]+):", 1)))
        .alias("key"),
        F.trim(F.regexp_extract("line", r"^[^:]+:(.*)$", 1)).alias("val"),
    ).filter(F.col("key").isin("user-agent", "allow", "disallow"))
    w = Window.partitionBy("host").orderBy("order") \
        .rowsBetween(Window.unboundedPreceding, 0)
    # a NEW group starts at a user-agent line NOT preceded by another
    # user-agent line (consecutive UA lines share one group)
    wlag = Window.partitionBy("host").orderBy("order")
    grouped = kv.withColumn(
        "__new_grp",
        ((F.col("key") == "user-agent")
         & (F.coalesce(F.lag("key").over(wlag), F.lit("")) != "user-agent")
         ).cast("long"),
    ).withColumn("grp", F.sum("__new_grp").over(w))
    agents = grouped.filter(F.col("key") == "user-agent").select(
        "host", "grp", F.lower(F.col("val")).alias("agent"))
    rules = grouped.filter(
        F.col("key").isin("allow", "disallow") & (F.col("val") != "")
    ).select("host", "grp", F.col("key").alias("rule"),
             F.col("val").alias("path"), "order")
    return agents.join(rules, ["host", "grp"]).select(
        "host", "agent", "rule", "path", "order")


def robots_url_policy(urls: DataFrame, rules: DataFrame,
                      agent: str = "*",
                      url_col: str = "url",
                      broadcast_rules: bool = True) -> DataFrame:
    """Evaluate each URL against the parsed rules for ``agent`` (with
    fallback to the ``'*'`` group when the named agent has no group on
    that host, RFC 9309 §2.2.1): longest matching path prefix wins,
    ``allow`` beats ``disallow`` at equal length, no matching rule =
    allowed. Rule paths may use the ``*`` wildcard and ``$`` end anchor
    (RFC 9309 §2.2.3 / Google's documented extension); "length" for the
    longest-match rank is the RAW pattern length including wildcard
    characters — the tie-break Google's reference matcher implements and
    its published example table requires (``allow: /page`` loses to
    ``disallow: /*.htm`` on ``/page.htm``: 5 < 6).
    Returns ``(url_col, host, allowed, matched_rule, matched_path,
    matched_wild)`` — ONE row per distinct URL value: duplicate input
    rows collapse and extra input columns are not carried through (join
    the result back on ``url_col`` to re-attach them).

    Relational shape: the match is one host equi-join, then one
    url-keyed window picks the winner. A single site's robots rules are
    broadcast-sized, so the join broadcasts by default; for a
    web-crawl-wide audit (millions of hosts — the rule relation is then
    host-scale, NOT broadcastable) pass ``broadcast_rules=False`` and the
    same plan runs as a plain shuffled equi-join on ``host``. Literal
    rules (the overwhelming majority) match with a plain ``startswith``
    prefix predicate; only rules actually containing ``*``/``$`` take
    the per-row regex branch — both scan-stage, no UDF."""
    from judy_graph_db_spark.functions.text import url_host

    a = str(agent).lower()
    named = rules.filter(F.col("agent") == a)
    star = rules.filter(F.col("agent") == "*")
    if a != "*":
        # hosts where the named agent HAS a group use only that group
        named_hosts = named.select("host").distinct()
        star = star.join(named_hosts, "host", "left_anti")
        rules = union_all([named, star], by_name=True)
    else:
        rules = star
    u = urls.withColumn("host", url_host(F.col(url_col))).withColumn(
        "__path",
        F.coalesce(
            F.when(F.regexp_extract(url_col, r"^[a-z+.\-]*://[^/]+(/.*)$",
                                    1) == "", None)
            .otherwise(F.regexp_extract(url_col,
                                        r"^[a-z+.\-]*://[^/]+(/.*)$", 1)),
            F.lit("/")),
    )
    # wildcard translation: strip a trailing '$' anchor, regex-escape the
    # literal chars, turn '*' into '.*', re-anchor — only for rules that
    # actually need it (the startswith fast path covers literal rules)
    anchored = F.col("path").endswith("$")
    core = F.when(anchored,
                  F.expr("substring(path, 1, length(path) - 1)")) \
        .otherwise(F.col("path"))
    esc = F.regexp_replace(core, r"([\\^$.|?+()\[\]{}])", r"\\$1")
    rex = F.concat(F.lit("^"), F.regexp_replace(esc, r"\*", ".*"),
                   F.when(anchored, F.lit("$")).otherwise(F.lit("")))
    is_wild = F.col("path").contains("*") | anchored
    rules_side = F.broadcast(rules) if broadcast_rules else rules
    cand = u.join(rules_side, "host", "left").withColumn(
        "__m",
        F.col("path").isNotNull() & F.when(
            is_wild, F.rlike(F.col("__path"), rex)
        ).otherwise(F.col("__path").startswith(F.col("path"))),
    )
    win = Window.partitionBy(url_col).orderBy(
        F.when(F.col("__m"), F.length("path")).otherwise(-1).desc(),
        # allow wins ties: 'allow' < 'disallow' lexically
        F.col("rule").asc_nulls_last(), F.col("order").asc_nulls_last())
    best = (cand.withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") == 1))
    return best.select(
        url_col, "host",
        (~F.col("__m").eqNullSafe(F.lit(True))
         | (F.col("rule") == "allow")).alias("allowed"),
        F.when(F.col("__m"), F.col("rule")).alias("matched_rule"),
        F.when(F.col("__m"), F.col("path")).alias("matched_path"),
        F.when(F.col("__m"),
               F.col("path").contains("*") | F.col("path").endswith("$"))
        .otherwise(F.lit(False)).alias("matched_wild"),
    )
