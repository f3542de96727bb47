"""Seeded op lists for each workload (pure Python, no Spark).

The seed picks literals and order; the program only ever sees the
generated SQL text and builder calls on the generated tables. Each
workload draws its ops in fixed-mix rounds, so every run measures the
same blend of op kinds no matter the seed:

- ``sql_adhoc``: each light template twice and each heavy one once per
  round, in seeded order, with seeded literals. Every statement is valid
  in both Spark SQL and DuckDB and totally ordered, so its formatted
  output is comparable cell by cell.
- ``corpus_batch``: one call per registry builder per round, in seeded
  order.
"""

from __future__ import annotations

import random
import re

# DESCRIBE targets of similar size, so the seed moves no op's cost much
DESCRIBE_TABLES = ("part", "customer")

# Oracle-checked registry pipelines, one call each per round: global
# line dedup carries the shuffle and spread_scan stages; heavy hitters
# the Arrow/Python stage (Misra-Gries summaries in mapInPandas); the two
# streaming builders the store and streaming layers (file stream ->
# foreachBatch -> append_ivf_assignment -> ivf_topk_served, and
# session-window state into a memory sink). Builders that materialize a
# whole index (similarity_ivf_served, text_search_served,
# text_bm25_served) cost 4.5-11 s a call warm and 14-21 s cold on 4
# cores, against 5-8 s for this whole round warm, so the run budget of
# 4 + 22 x 2 runs in 3420 s leaves them out.
CORPUS_BUILDERS = (
    "dedup_lines_global",
    "text_heavy_hitters",
    "similarity_ivf_stream_ingest",
    "stream_session_windows",
)


def _day(r: random.Random, lo_year: int, hi_year: int) -> str:
    return f"{r.randint(lo_year, hi_year)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"


def _templates(r: random.Random) -> tuple[list[str], list[str]]:
    """One statement per template, literals drawn from ``r``: the light
    ones (one small table, or a selective scan with LIMIT) and the heavy
    ones (joins, full-lineitem GROUP BY, DESCRIBE)."""
    d1 = r.randint(0, 5) / 100
    d2 = d1 + r.randint(1, 5) / 100
    lo = r.randint(1_000, 400_000)
    size_a = r.randint(1, 40)
    y = r.randint(1995, 2000)
    light = [
        # scan / filter
        "SELECT COUNT(*) AS n, SUM(l_quantity) AS sum_qty, "
        "MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price "
        f"FROM lineitem WHERE l_discount BETWEEN {d1:.2f} AND {d2:.2f} "
        f"AND l_quantity < {r.randint(10, 50)}",
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        f"WHERE o_orderstatus = '{r.choice('OFP')}' "
        f"AND o_totalprice BETWEEN {lo} AND {lo + r.randint(1_000, 50_000)} "
        f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {r.randint(5, 50)}",
        # GROUP BY with SUM / COUNT / AVG
        "SELECT c_mktsegment, COUNT(*) AS n, "
        "SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS acctbal_cents "
        f"FROM customer WHERE c_acctbal > {r.randint(-900, 9000)} "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment",
        "SELECT p_brand, COUNT(*) AS n, AVG(p_size) AS avg_size, "
        "MAX(p_retailprice) AS max_price FROM part "
        f"WHERE p_type = '{r.choice(['LARGE', 'ECONOMY', 'SMALL', 'STANDARD', 'MEDIUM', 'PROMO'])}' "
        f"AND p_size <= {r.randint(5, 50)} GROUP BY p_brand ORDER BY p_brand",
        # ORDER BY ... LIMIT
        "SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity "
        f"FROM lineitem WHERE l_returnflag = '{r.choice('NRA')}' "
        f"AND l_shipdate >= TIMESTAMP '{_day(r, 1995, 2001)} 00:00:00' "
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber "
        f"LIMIT {r.randint(10, 100)}",
    ]
    heavy = [
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(l_quantity) AS sum_qty, AVG(l_quantity) AS avg_qty FROM lineitem "
        f"WHERE l_shipdate < TIMESTAMP '{_day(r, 1998, 1999)} 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        # 2-, 3- and 4-way star joins
        "SELECT p_type, COUNT(*) AS n, SUM(l_quantity) AS sum_qty, "
        "MAX(l_extendedprice) AS max_price FROM lineitem "
        "JOIN part ON l_partkey = p_partkey "
        f"WHERE p_size BETWEEN {size_a} AND {size_a + r.randint(1, 10)} "
        "GROUP BY p_type ORDER BY p_type",
        "SELECT n_name, COUNT(*) AS n_orders, "
        "SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS revenue_cents "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00' "
        f"AND o_orderdate < TIMESTAMP '{y + 1}-01-01 00:00:00' "
        f"GROUP BY n_name ORDER BY revenue_cents DESC, n_name LIMIT {r.randint(3, 25)}",
        "SELECT r_name, COUNT(*) AS n, SUM(l_quantity) AS sum_qty, "
        "AVG(l_quantity) AS avg_qty FROM lineitem "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        f"WHERE l_discount >= {r.randint(0, 10) / 100:.2f} "
        f"AND l_returnflag = '{r.choice('NRA')}' GROUP BY r_name ORDER BY r_name",
        "SELECT n_name, c_mktsegment, COUNT(*) AS n, SUM(l_quantity) AS sum_qty "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE o_orderpriority = '{r.choice(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}' "
        f"AND l_quantity > {r.randint(1, 45)} GROUP BY n_name, c_mktsegment "
        f"ORDER BY sum_qty DESC, n_name, c_mktsegment LIMIT {r.randint(5, 40)}",
        # metadata
        f"DESCRIBE {r.choice(DESCRIBE_TABLES)}",
    ]
    return light, heavy


LIGHT_KINDS = ("scan_lineitem", "filter_orders", "group_customer", "group_part", "topn_lineitem")
HEAVY_KINDS = ("group_lineitem", "join2_part", "join3_nation", "join4_region", "join4_customer", "describe")
_LITERAL = re.compile(r"'[^']*'|-?\b\d+(?:\.\d+)?\b")


def _signature(stmt: str) -> str:
    return "describe" if stmt.startswith("DESCRIBE ") else _LITERAL.sub("?", stmt)


def sql_kind(stmt: str) -> str:
    """The name of the template ``stmt`` was drawn from."""
    light, heavy = _templates(random.Random(0))
    kinds = {_signature(t): k for t, k in zip(light + heavy, LIGHT_KINDS + HEAVY_KINDS)}
    return kinds[_signature(stmt)]


def sql_round(r: random.Random, light_draws: int = 2) -> list[str]:
    """Each heavy template once and each light one ``light_draws`` times,
    shuffled. With two light draws the light statements are a clear
    majority, so the median sits inside their tight cluster instead of on
    the gap between light and heavy, where one op's jitter would move it;
    the heavy ones set the tail."""
    stmts = []
    for _ in range(light_draws):
        light, heavy = _templates(r)
        stmts += light
    stmts += heavy
    r.shuffle(stmts)
    return stmts


def op_stream(workload: str, seed: int):
    """Endless seeded op generator for ``workload`` (whole rounds)."""
    r = random.Random(f"{workload}:{seed}")
    while True:
        if workload == "sql_adhoc":
            yield from sql_round(r)
        elif workload == "corpus_batch":
            names = list(CORPUS_BUILDERS)
            r.shuffle(names)
            yield from names
        else:
            raise ValueError(f"unknown workload {workload!r}")


def round_size(workload: str) -> int:
    if workload == "sql_adhoc":
        return len(sql_round(random.Random(0)))
    return len(CORPUS_BUILDERS)


def warmup_sql(workload: str) -> list[str]:
    """Set-up warm-up statements: fixed, never timed or checked."""
    if workload == "sql_adhoc":
        return _templates(random.Random("warmup"))[1][1:2]
    return [
        "SELECT lang, COUNT(*) AS n, SUM(n_chars) AS chars FROM documents "
        "JOIN embeddings ON doc_id = vec_id GROUP BY lang ORDER BY lang"
    ]


def warm_round(seed: int) -> list[str]:
    """The untimed sql_adhoc round run before timing: every template, with
    literals from a stream the timed ops never draw from."""
    return sql_round(random.Random(f"warm:{seed}"), light_draws=1)


def op_list(workload: str, seed: int, n: int) -> list[str]:
    gen = op_stream(workload, seed)
    return [next(gen) for _ in range(n)]


_TABLE_RE = re.compile(
    r"\b(region|nation|customer|supplier|part|orders|lineitem|events|documents|embeddings)\b"
)


def tables_read(sql: str) -> set[str]:
    """Source tables a statement (or oracle) names."""
    return set(_TABLE_RE.findall(sql))
