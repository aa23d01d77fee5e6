"""Round-6 additions, batch 19: Spearman rank correlation and the
Kruskal-Wallis H test (completing the rank-statistics family started by
Mann-Whitney), landmark closeness centrality (the third global graph
metric after diameter and Katz), and geohash encoding (the geo
clustering/sharding key every spatial pipeline writes).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..catalog import cte, load_tables
from ..operators import algorithms
from ..plans.iterate import checkpoint_without_stats

#: closeness centrality: landmark count and BFS hop cap
CLOSE_K = 6
CLOSE_HOPS = 5

#: geohash precision: bits per axis (15+15 = 30 bits = 6 base32 chars)
GH_BITS = 15
GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"

#: chi-square critical value at alpha=0.05 for df=6 (7 weekday groups)
KW_CRIT_05_DF6 = 12.592


def _rank2(value_col: str) -> F.Column:
    """Twice the tie-averaged rank of `value_col` — exact integer:
    2*avg_rank = 2*rank() + count(ties) - 1.  Single-partition window is
    fine here: every caller ranks a pre-aggregated DAILY table, bounded
    at ~2,406 rows by the fixture's fixed 1992-1998 date span at any SF
    (same argument as the TA windows)."""
    return (
        2 * F.rank().over(Window.orderBy(value_col))
        + F.count(F.lit(1)).over(Window.partitionBy(value_col))
        - 1
    ).cast("long")


def q_agg_spearman_corr(spark, sf_dir):
    """Spearman rank correlation between daily order COUNT and daily
    REVENUE — the monotone-association measure that, unlike Pearson
    (agg_corr_covar), is robust to the heavy right tail of revenue.

    Exact arithmetic end to end: one partial+final agg to the bounded
    daily grain, tie-averaged ranks as exact integers (2*avg_rank =
    2*rank + ties - 1, the agg_mann_whitney identity), then Pearson on
    the integer rank pairs — every sum is an exact BIGINT (n<=2406,
    2r<=4812, n*Sxy ~ 1.3e14), so both engines feed IDENTICAL integers
    into the single final sqrt/divide.  Scale: the only unbounded work
    is the first agg; the rank window runs on <=2,406 rows at any SF."""
    load_tables(spark, sf_dir)
    # complete-case: unpriced orders carry no revenue signal, and a day
    # whose orders all lack a price would rank as NULL — where the
    # engines' default NULL sort orders differ; excluded on both sides
    o = spark.table("orders").filter(F.col("o_totalprice").isNotNull())
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("revenue"),
    )
    ranked = daily.select(
        _rank2("n_orders").alias("rx2"), _rank2("revenue").alias("ry2")
    )
    a = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # try_divide: a single day has zero rank variance and no defined
    # correlation — NULL on both engines (DuckDB x/0 is NULL)
    return a.select(
        n.alias("n_days"),
        F.round(F.try_divide(num, F.sqrt(dx * dy)), 6).alias("spearman_rho"),
    )


def q_agg_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H test: does daily revenue differ by day-of-week?
    The k-group generalization of Mann-Whitney — the non-parametric
    ANOVA every seasonality audit runs before trusting weekday splits.

    Rank arithmetic exact as in agg_spearman_corr; the per-group term
    R_j^2/n_j is a half-up x10^6 integer quotient (identical integer
    ops on both engines — the unordered 7-term float sum this replaces
    is exactly the cross-engine drift trap), and H folds those exact
    integers with one fixed-shape double expression.  Weekday id is
    (day - 1992-01-01) % 7, portable across engines (dayofweek
    anchors differ).  Uncorrected-for-ties form, documented: revenue is
    a DECIMAL sum, ties are structurally absent at every fixture SF."""
    load_tables(spark, sf_dir)
    # complete-case: see agg_spearman_corr — NULL-revenue days rank
    # differently across engines; excluded on both sides
    o = spark.table("orders").filter(F.col("o_totalprice").isNotNull())
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("revenue")
    )
    ranked = daily.select(
        F.expr("datediff(day, DATE '1992-01-01') % 7").alias("g"),
        _rank2("revenue").alias("r2"),
    )
    grp = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_j"), F.sum("r2").alias("two_r")
    )
    # t_j = half-up(1e6 * (two_r/2)^2 / n_j) = half-up(1e6*two_r^2 / (4*n_j))
    term = F.expr("(2 * 1000000 * two_r * two_r + 4 * n_j) div (8 * n_j)")
    a = grp.agg(
        F.sum("n_j").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(term).alias("t"),
    )
    h = F.round(
        12.0 * F.col("t") / (F.col("n") * (F.col("n") + 1) * 1000000.0)
        - 3 * (F.col("n") + 1),
        6,
    )
    # no days -> no test (H is undefined); oracle mirrors with WHERE
    return a.filter(F.col("n").isNotNull()).select(
        F.col("n").alias("n_days"),
        (F.col("k") - 1).alias("df"),
        h.alias("h_stat"),
        (h > KW_CRIT_05_DF6).alias("reject_05"),
    )


def q_iter_closeness_centrality(spark, sf_dir):
    """Hop-bounded closeness centrality of the CLOSE_K smallest-id parts
    in the co-purchase graph: one MULTI-SOURCE labeled BFS (frontier
    rows carry their landmark id), so K landmarks cost the same 5
    join+min-fold rounds as one — the standard landmark/pivot scheme
    for centrality at scale, vs K sequential BFS sweeps or all-pairs.
    Closeness = n_reached / sum_dist as a half-up x10^6 integer
    quotient on exact BIGINT counts.  Oracle: DuckDB replays the same
    labeled BFS as one recursive CTE with the same hop cap."""
    load_tables(spark, sf_dir)
    edges = spark.table("edges_pp").transform(checkpoint_without_stats)
    lands = (
        edges.select(F.col("src").alias("lm"))
        .distinct()
        .orderBy("lm")
        .limit(CLOSE_K)
    )
    seeds = lands.select(
        "lm", F.col("lm").alias("node"), F.lit(0).alias("dist")
    )
    # frontier-only propagation (see algorithms._bfs_hops): the per-hop
    # join volume is O(K x new frontier), not O(K x reached)
    dist = algorithms._bfs_hops(edges, seeds, CLOSE_HOPS, by=("lm",))
    res = dist.groupBy("lm").agg(
        (F.count(F.lit(1)) - 1).alias("n_reached"),
        F.sum("dist").alias("sum_dist"),
    )
    return res.select(
        F.col("lm").alias("landmark"),
        "n_reached",
        "sum_dist",
        (
            F.expr("(2 * 1000000 * n_reached + sum_dist) div (2 * sum_dist)")
            / 1000000.0
        ).alias("closeness"),
    )


def _gh_interleave(latb: str, lonb: str, dialect: str) -> str:
    """30-bit Morton interleave, geohash bit order (MSB-first pair =
    longitude then latitude).  Same unrolled integer expression rendered
    per dialect (fn_zorder_interleave convention; DuckDB terms fully
    parenthesized — its << binds looser than +)."""
    terms = []
    for i in range(GH_BITS):
        j = GH_BITS - 1 - i  # source bit, MSB first
        for src, pos in ((lonb, 2 * GH_BITS - 1 - 2 * i),
                         (latb, 2 * GH_BITS - 2 - 2 * i)):
            if dialect == "spark":
                terms.append(
                    f"shiftleft(shiftright({src}, {j}) & 1, {pos})"
                )
            else:
                terms.append(f"((({src} >> {j}) & 1) << {pos})")
    return " + ".join(terms)


def _gh_chars(g: str, dialect: str) -> str:
    """Base32 chars from the 30-bit code, 5 bits per char, MSB first."""
    parts = []
    for k in range(2 * GH_BITS // 5):
        s = 2 * GH_BITS - 5 * (k + 1)
        if dialect == "spark":
            idx = f"CAST(shiftright({g}, {s}) & 31 AS INT) + 1"
        else:
            idx = f"CAST(({g} >> {s}) & 31 AS INT) + 1"
        parts.append(f"substr('{GH32}', {idx}, 1)")
    return " || ".join(parts)


def q_fn_geohash(spark, sf_dir):
    """Geohash-6 encoding of the deterministic customer coordinates
    (join_geo_radius's md5 0.1-degree grid): quantize lat/lon to 15-bit
    buckets with pure integer math (coords are integer TENTHS of a
    degree, so the bucket is ((tenths + 900) * 32768) div 1800 — no
    float anywhere), Morton-interleave lon/lat MSB-first, emit 6 base32
    chars.  The geo sharding/clustering key: prefix-equality ==
    proximity, so sorting by it co-locates nearby points for the
    spatial joins.  All bit arithmetic, identical in both engines."""
    load_tables(spark, sf_dir)
    c = spark.table("customer")
    key = F.md5(F.col("c_custkey").cast("string"))
    h1 = F.conv(F.substring(key, 1, 4), 16, 10).cast("long")
    h2 = F.conv(F.substring(key, 5, 4), 16, 10).cast("long")
    pts = c.select(
        "c_custkey",
        (h1 % 120 - 60).alias("lat_t"),
        (h2 % 360 - 180).alias("lon_t"),
    )
    b = pts.select(
        "c_custkey",
        "lat_t",
        "lon_t",
        F.expr("((lat_t + 900) * 32768) div 1800").alias("latb"),
        F.expr("((lon_t + 1800) * 32768) div 3600").alias("lonb"),
    )
    g = b.select(
        "c_custkey",
        "lat_t",
        "lon_t",
        F.expr(_gh_interleave("latb", "lonb", "spark")).alias("zcode"),
    )
    return g.select(
        "c_custkey",
        "lat_t",
        "lon_t",
        "zcode",
        F.expr(_gh_chars("zcode", "spark")).alias("geohash6"),
    )


QUERIES = {
    "agg_spearman_corr": q_agg_spearman_corr,
    "agg_kruskal_wallis": q_agg_kruskal_wallis,
    "iter_closeness_centrality": q_iter_closeness_centrality,
    "fn_geohash": q_fn_geohash,
}

ORACLES = {
    "agg_spearman_corr": (
        "WITH daily AS (SELECT o_orderdate AS day, count(*) AS n_orders, "
        "sum(o_totalprice) AS revenue FROM orders "
        "WHERE o_totalprice IS NOT NULL GROUP BY 1), "
        "ranked AS (SELECT "
        "2 * rank() OVER (ORDER BY n_orders) "
        "+ count(*) OVER (PARTITION BY n_orders) - 1 AS rx2, "
        "2 * rank() OVER (ORDER BY revenue) "
        "+ count(*) OVER (PARTITION BY revenue) - 1 AS ry2 FROM daily), "
        "a AS (SELECT count(*) AS n, sum(rx2) AS sx, sum(ry2) AS sy, "
        "sum(rx2 * ry2) AS sxy, sum(rx2 * rx2) AS sxx, "
        "sum(ry2 * ry2) AS syy FROM ranked) "
        "SELECT n AS n_days, "
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / "
        "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * "
        "CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho FROM a"
    ),
    "agg_kruskal_wallis": (
        "WITH daily AS (SELECT o_orderdate AS day, "
        "sum(o_totalprice) AS revenue FROM orders "
        "WHERE o_totalprice IS NOT NULL GROUP BY 1), "
        "ranked AS (SELECT "
        "date_diff('day', DATE '1992-01-01', day) % 7 AS g, "
        "2 * rank() OVER (ORDER BY revenue) "
        "+ count(*) OVER (PARTITION BY revenue) - 1 AS r2 FROM daily), "
        "grp AS (SELECT g, count(*) AS n_j, sum(r2) AS two_r "
        "FROM ranked GROUP BY 1), "
        "a AS (SELECT sum(n_j) AS n, count(*) AS k, "
        "sum((2 * 1000000 * two_r * two_r + 4 * n_j) // (8 * n_j)) AS t "
        "FROM grp) "
        "SELECT CAST(n AS BIGINT) AS n_days, CAST(k - 1 AS INT) AS df, "
        "round(12.0 * t / (n * (n + 1) * 1000000.0) - 3 * (n + 1), 6) "
        "AS h_stat, "
        "round(12.0 * t / (n * (n + 1) * 1000000.0) - 3 * (n + 1), 6) "
        f"> {KW_CRIT_05_DF6} AS reject_05 FROM a "
        "WHERE n IS NOT NULL"
    ),
    "iter_closeness_centrality": (
        cte("edges_pp")
        + (
            f", land AS (SELECT DISTINCT src AS lm FROM edges_pp "
            f"ORDER BY lm LIMIT {CLOSE_K}), "
            "bfs(lm, node, dist) AS ("
            "SELECT lm, lm, 0 FROM land "
            "UNION "
            "SELECT b.lm, e.dst, b.dist + 1 FROM bfs b "
            f"JOIN edges_pp e ON e.src = b.node WHERE b.dist < {CLOSE_HOPS}"
            "), "
            "md AS (SELECT lm, node, min(dist) AS dist FROM bfs "
            "GROUP BY 1, 2) "
            "SELECT lm AS landmark, "
            "CAST(count(*) - 1 AS BIGINT) AS n_reached, "
            "CAST(sum(dist) AS BIGINT) AS sum_dist, "
            "((2 * 1000000 * (count(*) - 1) + sum(dist)) // "
            "(2 * sum(dist))) / 1000000.0 AS closeness "
            "FROM md GROUP BY 1"
        )
    ).replace("WITH ", "WITH RECURSIVE ", 1),
    "fn_geohash": (
        "WITH h AS (SELECT c_custkey, "
        "(('0x' || substr(md5(c_custkey::VARCHAR), 1, 4))::BIGINT % 120) "
        "- 60 AS lat_t, "
        "(('0x' || substr(md5(c_custkey::VARCHAR), 5, 4))::BIGINT % 360) "
        "- 180 AS lon_t FROM customer), "
        "b AS (SELECT c_custkey, lat_t, lon_t, "
        "((lat_t + 900) * 32768) // 1800 AS latb, "
        "((lon_t + 1800) * 32768) // 3600 AS lonb FROM h), "
        "g AS (SELECT c_custkey, lat_t, lon_t, "
        + _gh_interleave("latb", "lonb", "duckdb")
        + " AS zcode FROM b) "
        "SELECT c_custkey, lat_t, lon_t, zcode, "
        + _gh_chars("zcode", "duckdb")
        + " AS geohash6 FROM g"
    ),
}
