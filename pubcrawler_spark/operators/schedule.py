"""Fetch scheduling: robots rules, per-host politeness budgets with skew
salting, deterministic global crawl order (SURVEY.md W3/W4/X2/X7).

The reference serializes tasks and fetches in submission order with a
per-task thread budget (/root/reference/src/crawlers/run_crawler.py:110,
src/scrapers/acl_scraper.py:93-94) and paces with wall-clock sleeps
(iclr_scraper.py:67, tpami_scraper.py:111). The engine replaces sleeps
with *slots*: at most ``host_budget`` URLs per host per iteration, picked
by a deterministic total order.

Ordering contract (deterministic under any parallelism):
``(priority DESC, depth ASC, seq ASC, url_hash ASC)`` where ``seq`` is
the deterministic discovery sequence (parent_seq * 100_000 + link_pos).

Skew handling (north rule: explicit partitioning/shuffle/skew):
a Zipf-hot host would make one `Window.partitionBy(host)` partition
giant — AQE does NOT split skewed window partitions. We salt:
``host_salt = pmod(url_hash, S)`` with S scaled to the host's candidate
count, take the per-(host, salt) top-``budget`` first (bounds every
window partition to ~count/S rows), then re-rank the ≤ S·budget
survivors per host to enforce the exact budget. Correctness: the true
per-host top-budget set is a subset of pass-1 winners because each salt
keeps ``budget`` rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

FRONTIER_SCHEMA = (
    "url string, url_canon string, url_hash long, host string, "
    "priority double, depth int, seq long"
)

def ORDER_COLS():
    """Deterministic total order: (priority desc, depth, seq, url_hash)."""
    return [
        F.col("priority").desc(),
        F.col("depth").asc(),
        F.col("seq").asc(),
        F.col("url_hash").asc(),
    ]


def dedup_candidates(frontier: DataFrame) -> DataFrame:
    """One row per url_canon: keep the best-ordered discovery (U3)."""
    w = Window.partitionBy("url_canon").orderBy(*ORDER_COLS())
    return (
        frontier.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def parse_robots_rules(robots: DataFrame) -> DataFrame:
    """robots(host, robots_txt) -> (host, disallow array<string>,
    rules array<struct<pattern,allow>>, has_advanced boolean,
    crawl_delay_ms int).

    Vectorized over distinct robots_txt values (hosts overwhelmingly
    share a handful of robots shapes at scale). ``disallow`` keeps the
    plain Disallow prefixes (the pure-expression fast path);
    ``rules`` carries the full RFC 9309 rule list (Allow + Disallow,
    ``*``/``$`` wildcards) and ``has_advanced`` flags hosts that need
    the longest-match evaluator (any Allow rule or wildcard pattern).
    """

    def _parse_one(txt: str) -> tuple[list[str], list[tuple[str, bool]], bool, int]:
        active, dis, rules, delay = False, [], [], 0
        advanced = False
        for line in (txt or "").splitlines():
            line = line.split("#", 1)[0].strip()
            if not line:
                continue
            key, _, val = line.partition(":")
            key, val = key.strip().lower(), val.strip()
            if key == "user-agent":
                active = val == "*"
            elif key in ("disallow", "allow") and active and val:
                allow = key == "allow"
                rules.append((val, allow))
                if allow or "*" in val or val.endswith("$"):
                    advanced = True
                if not allow:
                    dis.append(val)
            elif key == "crawl-delay" and active:
                try:
                    delay = int(float(val) * 1000)
                except ValueError:
                    pass
        return dis, rules, advanced, delay

    @F.pandas_udf(
        "struct<disallow: array<string>, "
        "rules: array<struct<pattern: string, allow: boolean>>, "
        "has_advanced: boolean, crawl_delay_ms: int>"
    )
    def _parse(txts: pd.Series) -> pd.DataFrame:
        cache = {t: _parse_one(t) for t in txts.unique()}
        mapped = txts.map(cache)
        return pd.DataFrame(
            {
                "disallow": mapped.str[0],
                "rules": mapped.map(
                    lambda r: [{"pattern": p, "allow": a} for p, a in r[1]]
                ),
                "has_advanced": mapped.str[2],
                "crawl_delay_ms": mapped.str[3],
            }
        )

    parsed = robots.withColumn("__r", _parse("robots_txt"))
    return parsed.select(
        "host",
        F.col("__r.disallow").alias("disallow"),
        F.col("__r.rules").alias("rules"),
        F.col("__r.has_advanced").alias("has_advanced"),
        F.col("__r.crawl_delay_ms").alias("crawl_delay_ms"),
    )


def _robots_pattern_matches(path: str, pattern: str, _cache: dict = {}) -> bool:
    """RFC 9309 path-pattern match: '*' any sequence, '$' end anchor,
    otherwise prefix match. Compiled-regex cache per worker."""
    import re as _re

    rx = _cache.get(pattern)
    if rx is None:
        anchored = pattern.endswith("$")
        body = pattern[:-1] if anchored else pattern
        rx = _re.compile(
            "^" + ".*".join(_re.escape(seg) for seg in body.split("*"))
            + ("$" if anchored else "")
        )
        _cache[pattern] = rx
    return rx.match(path) is not None


def robots_allowed_rfc9309(path: str, rules) -> bool:
    """Longest-match-wins rule evaluation (RFC 9309 §2.2.2): the
    matching rule with the longest pattern decides; on a tie between an
    Allow and a Disallow of equal length, Allow wins; no match ⇒
    allowed."""
    best_allow, best_dis = -1, -1
    if rules is None:  # not `rules or []`: Arrow hands numpy arrays in
        rules = []
    for r in rules:
        pattern = r["pattern"] if isinstance(r, dict) else r.pattern
        allow = r["allow"] if isinstance(r, dict) else r.allow
        if _robots_pattern_matches(path, pattern):
            n = len(pattern)
            if allow:
                best_allow = max(best_allow, n)
            else:
                best_dis = max(best_dis, n)
    return best_dis < 0 or best_allow >= best_dis


def tag_robots(
    frontier: DataFrame,
    robots_rules: DataFrame,
    advanced: bool = False,
    small_dim: bool = True,
) -> DataFrame:
    """Add ``robots_ok`` per robots rules (single pass — callers filter).

    ``robots_rules`` is a per-host dim table — broadcast join when
    ``small_dim`` (the caller knows the dim's row count; the frontier
    counts its cached rules dim once at init and flips this off past
    ``HOST_SIDE_BROADCAST_LIMIT`` hosts — at real-web cardinality
    (~10^8 robots hosts) the dim stays a distributed shuffle join,
    same gate pattern as the fetch join's ``FETCH_BROADCAST_ROWS``),
    then:

    - fast path (``advanced=False``, correct while no host has Allow or
      wildcard rules): a pure-expression prefix test — path starts-with
      any Disallow prefix (``F.exists``; no UDF, whole-stage codegen);
    - RFC 9309 path (``advanced=True``): longest-match-wins over the
      full Allow/Disallow rule list with ``*``/``$`` wildcards,
      evaluated in an Arrow-batched UDF ONLY for rows whose host has
      advanced rules — plain-prefix hosts keep the pure expression.

    Callers detect ``advanced`` once from the tiny rules dim
    (``has_advanced`` column) rather than per batch.
    """
    with_path = frontier.withColumn(
        "__path",
        F.concat(F.lit("/"), F.coalesce(F.element_at(F.split(F.col("url_canon"), "://|/", 3), 3), F.lit(""))),
    )
    drop_cols = [c for c in ("disallow", "rules", "has_advanced", "crawl_delay_ms")
                 if c in robots_rules.columns]
    rules_side = F.broadcast(robots_rules) if small_dim else robots_rules
    joined = with_path.join(rules_side, "host", "left")
    is_disallowed = F.when(
        F.col("disallow").isNotNull(),
        F.exists("disallow", lambda p: F.col("__path").startswith(p)),
    ).otherwise(F.lit(False))
    fast_ok = ~is_disallowed
    if advanced:
        @F.pandas_udf("boolean")
        def _rfc_ok(paths: pd.Series, rules: pd.Series) -> pd.Series:
            return pd.Series(
                [robots_allowed_rfc9309(p, r) for p, r in zip(paths, rules)]
            )

        ok = F.when(
            F.coalesce(F.col("has_advanced"), F.lit(False)),
            _rfc_ok(F.col("__path"), F.col("rules")),
        ).otherwise(fast_ok)
    else:
        ok = fast_ok
    return joined.withColumn("robots_ok", ok).drop("__path", *drop_cols)


def host_budgets_from_robots(
    robots_rules: DataFrame, host_budget: int, iteration_window_ms: int
) -> DataFrame:
    """Per-host slot budgets (X2): a robots ``Crawl-delay`` of d ms caps
    a host at ``iteration_window_ms / d`` fetches per iteration — the
    slot-based replacement for the reference's wall-clock sleeps
    (iclr_scraper.py:67, tpami_scraper.py:111)."""
    return robots_rules.filter(F.col("crawl_delay_ms") > 0).select(
        "host",
        F.least(
            F.lit(host_budget),
            F.greatest(F.lit(1), F.floor(F.lit(iteration_window_ms) / F.col("crawl_delay_ms"))),
        )
        .cast("int")
        .alias("max_per_iter"),
    )


# past this many candidate rows the per-host side tables (iteration
# host counts, robots crawl-delay budgets) stop being broadcast and the
# joins go distributed: distinct hosts are bounded above by candidate
# rows, and at real-web host cardinality (~10^8) a per-host broadcast
# is a multi-GB driver-serialized relation. Same gate shape as the
# fetch join's ``FETCH_BROADCAST_ROWS`` (plans/frontier.py).
HOST_SIDE_BROADCAST_LIMIT = 4_000_000

# rows per salted pass-1 window partition: a Zipf-hot host's window
# would otherwise sort all its candidates in one task
SALT_ROWS = 50_000

# past this many candidate rows the global rank's single sort task
# becomes the bottleneck, so the rank goes range-partitioned instead
SERIAL_RANK_ROWS = 2_000_000


def _picked_rows(
    allowed: DataFrame,
    host_budget: int,
    salt_rows: int,
    host_budgets: DataFrame | None,
    size_hint: int | None = None,
) -> DataFrame:
    """Per-host top-k core of :func:`schedule_ranks`: salted pass-1
    bound + exact pass-2 budget.

    ``size_hint`` (candidate row count, free from parquet footers in
    the frontier loop) gates the two per-host broadcasts: below
    ``HOST_SIDE_BROADCAST_LIMIT`` rows the host-count / host-budget
    sides broadcast; past it they stay distributed shuffle joins (AQE
    may still convert at runtime from the TRUE built size, which the
    static hint deliberately over-estimates)."""
    small_hosts = size_hint is None or size_hint <= HOST_SIDE_BROADCAST_LIMIT

    def _host_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_hosts else df

    if size_hint is not None and size_hint <= salt_rows:
        # salt-skip fast path (r8): with ≤ salt_rows candidate rows in
        # TOTAL, no single host can exceed salt_rows, so every salt
        # factor S would be 1 and the salted pass-1 window would equal
        # pass 2 — skip the host-count aggregation, its join, and the
        # extra repartition+window outright (one fewer exchange + window
        # in the per-iteration sched job; output provably identical).
        # The skew machinery below engages exactly when the footer
        # count says a giant host is POSSIBLE — scale-adaptive, not a
        # local-mode tuning.
        pass1 = allowed
    else:
        # per-iteration host frequency → salt factor S (skew-aware)
        host_counts = allowed.groupBy("host").agg(F.count("*").alias("__hc"))
        salted = (
            allowed.join(_host_side(host_counts), "host")
            .withColumn("__S", F.greatest(F.lit(1), F.ceil(F.col("__hc") / F.lit(salt_rows))).cast("int"))
            .withColumn("host_salt", F.pmod(F.col("url_hash"), F.col("__S")).cast("int"))
        )
        # pass 1: bound each window partition to ~salt_rows rows, keep
        # budget rows per salt (superset of the true per-host top-budget).
        # Literal limit here so WindowGroupLimit (rank pushdown) applies.
        w1 = Window.partitionBy("host", "host_salt").orderBy(*ORDER_COLS())
        pass1 = (
            salted.repartition("host", "host_salt")
            .withColumn("__rn1", F.row_number().over(w1))
            .filter(F.col("__rn1") <= host_budget)
        )
    # pass 2: exact per-host budget over the ≤ S·budget survivors;
    # per-host crawl-delay budgets (≤ host_budget) bind here
    if host_budgets is not None:
        pass1 = pass1.join(_host_side(host_budgets), "host", "left")
        budget_col = F.coalesce(F.col("max_per_iter"), F.lit(host_budget))
    else:
        budget_col = F.lit(host_budget)
    w2 = Window.partitionBy("host").orderBy(*ORDER_COLS())
    return (
        pass1.withColumn("__rn2", F.row_number().over(w2))
        .filter(F.col("__rn2") <= budget_col)
        .drop("__rn1", "__rn2", "__hc", "__S", "host_salt", "max_per_iter")
    )


def schedule_ranks(
    allowed: DataFrame,
    host_budget: int,
    salt_rows: int = SALT_ROWS,
    host_budgets: DataFrame | None = None,
    size_hint: int | None = None,
    serial_limit: int = SERIAL_RANK_ROWS,
) -> DataFrame:
    """The fetch schedule as a slim ``(url_canon, sched_seq)`` table:
    per-host top-k (k = ``host_budget``, reduced per host by
    ``host_budgets.max_per_iter`` where present), then a dense 0-based
    global rank over ``(priority DESC, depth, seq, url_hash)``.

    Callers join the ranks back on ``url_canon`` onto the table
    ``allowed`` was read from: the crawl engine onto its materialized
    candidates (and an anti-join against them gives the budget-deferred
    leftovers), q26 onto its pinned frontier. The slim side is a few
    bytes per scheduled URL, so the join-back broadcasts at
    fetch-schedule sizes and shuffles past them.
    """
    return global_ranks(
        _picked_rows(allowed, host_budget, salt_rows, host_budgets, size_hint),
        order_col_names=["priority", "depth", "seq", "url_hash"],
        descending={"priority"},
        key_col="url_canon",
        out_col="sched_seq",
        size_hint=size_hint,
        serial_limit=serial_limit,
    )


def global_ranks(
    df: DataFrame,
    order_col_names: list[str],
    descending: set[str],
    key_col: str,
    out_col: str = "seq",
    size_hint: int | None = None,
    serial_limit: int = SERIAL_RANK_ROWS,
) -> DataFrame:
    """Deterministic dense 0-based global rank over a total order, as a
    slim ``(key_col, out_col)`` mapping the caller joins back.

    Two physical strategies, gated by ``size_hint`` (an upper bound the
    caller knows for free, e.g. the candidate count from parquet
    footers):

    - **slim single-sort** (default / ≤ ``serial_limit``): a SLIM
      (key + order columns) projection is ranked through one
      single-partition window. Only the ~40-byte slim rows serialize
      through the one sort task; the caller's join-back keeps every
      downstream stage at full parallelism.
    - **pinned two-phase range rank** (> ``serial_limit``): see
      :func:`_global_ranks_ranged` — no serial stage at all; this is
      the 10^8-row path.

    Both produce the IDENTICAL (key → rank) mapping: the rank is a
    property of the total order, not of the physical plan (the range
    boundaries only decide which task computes which slice).

    ``order_col_names`` must form a total order and ``key_col`` must be
    unique per row.
    """
    order = [
        F.col(c).desc() if c in descending else F.col(c).asc()
        for c in order_col_names
    ]
    if size_hint is not None and size_hint > serial_limit:
        return _global_ranks_ranged(df, order_col_names, order, key_col, out_col)
    w = Window.orderBy(*order)
    return (
        df.select(key_col, *order_col_names)
        .withColumn(out_col, F.row_number().over(w).cast("long") - 1)
        .select(key_col, out_col)
    )


def _global_ranks_ranged(
    df: DataFrame, order_col_names: list[str], order: list, key_col: str, out_col: str
) -> DataFrame:
    """Two-phase distributed rank with the intermediate PINNED:

    1. slim projection → ``repartitionByRange`` on the total order →
       stamp ``spark_partition_id()`` as a DATA column → eager
       ``localCheckpoint``. Pinning here is load-bearing: the two
       consumers below would otherwise re-execute the range exchange
       (re-sampled boundaries / AQE re-coalescing can shift partition
       ids between executions — the corruption that sank the first
       attempt). Checkpointing freezes the pid VALUES in the rows, so
       both consumers see one consistent assignment.
    2. per-pid counts → cumulative offsets (a window over the tiny
       P-row table), local row_number per pid, rank = offset + rn − 1.
    3. return the slim ``(key_col, rank)`` mapping — the caller joins.

    Cross-run determinism: sampled range boundaries may differ between
    runs, but the (key → rank) mapping cannot — a row's rank is its
    position in the total order, wherever the boundary slices land
    (equal range-keys land in one partition, and the order is total, so
    ranks never depend on the split).
    """
    slim = df.select(key_col, *order_col_names)
    pinned = (
        slim.repartitionByRange(*order)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = pinned.groupBy("__pid").agg(F.count("*").alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).cast("long")
    )
    w_local = Window.partitionBy("__pid").orderBy(*order)
    return (
        pinned.withColumn("__rn", F.row_number().over(w_local))
        .join(F.broadcast(offsets.select("__pid", "__off")), "__pid")
        .select(
            key_col,
            (F.col("__off") + F.col("__rn") - 1).cast("long").alias(out_col),
        )
    )
