"""Seeded operation generators, one per workload.

An operation (:class:`Op`) is what one analyst call sends to the engine:
SQL text plus ``AQEngine.run`` arguments, an index build or probe, or a
registry entry name. The seed fixes every constant (predicates,
fractions, budgets, designs' aggregates, probe keys) and the order of
operations; the engine sees only the generated call.

Each workload is a sequence of *rounds*. A round has a fixed
composition (every design, marker and budget shape once), so runs with
different seeds do the same kinds of work and their figures compare.
Round ``r`` of seed ``s`` draws its constants from ``Random(f"{s}/{r}")``.

Every operation carries the DuckDB reference that checks it:
``ref_sql`` returns the exact answer (and the population size ``n`` for
sampled answers) computed independently of the engine.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Operation record
# ---------------------------------------------------------------------------


@dataclass
class Op:
    id: str
    kind: str  # query | probe | build | entry
    # exact | approx | within | index_exact | index_cover | index_route | build | entry
    check: str  # the gate rule (gate.py)
    call: dict  # what is sent to the engine (run.py: Runner.execute)
    value_col: str | None = None  # result column holding the answer
    group_cols: tuple[str, ...] = ()
    ref_sql: str | None = None  # DuckDB text: [groups..., value, n]
    twin: str | None = None  # id of the exact twin (on sampled/indexed ops)
    budget_pct: float | None = None  # WITHIN / error_pct budget
    tags: dict = field(default_factory=dict)


def _rng(seed: int, rnd: int) -> random.Random:
    return random.Random(f"{seed}/{rnd}")


def _pair_order(rng: random.Random, approx: Op, exact: Op) -> list[Op]:
    """Approximate op and its exact twin, adjacent, in seeded order."""
    return [approx, exact] if rng.random() < 0.5 else [exact, approx]


# ---------------------------------------------------------------------------
# interactive_sf0.1 — the APPROX dialect, markers and error budgets
# ---------------------------------------------------------------------------

DESIGNS = ("random", "parallel", "clt", "bootstrap")
# Designs whose answers fail the gate on many seeds because of engine
# defects (README.md, "Known failures"). They are left out of the measured
# rounds, whose result must be correct, and put back by run.py's
# ``--all-designs``, which reports their failing ops by name.
DEFECTIVE_DESIGNS = ("revolutionary", "block")
FRACTIONS_PCT = (1, 2, 5, 10, 20, 25)
LOW_PCT, HIGH_PCT = FRACTIONS_PCT[:3], FRACTIONS_PCT[3:]
AGGS = {"SUM": "l_extendedprice", "AVG": "l_quantity", "COUNT": "*"}
GROUP_COLS = ("l_returnflag", "l_linestatus")
MARKER_EXPRS = (
    "l_extendedprice * (1 - l_discount)",
    "l_extendedprice * (1 + l_tax)",
    "l_quantity * l_discount",
)


def _where(rng: random.Random) -> str:
    shape = rng.randrange(4)
    if shape == 0:
        return f"l_discount > {rng.choice([0.0, 0.01, 0.02, 0.03, 0.04, 0.05, 0.06])}"
    if shape == 1:
        return f"l_quantity > {rng.randrange(5, 31)}"
    if shape == 2:
        y, m = rng.randrange(1995, 2000), rng.randrange(1, 13)
        return f"l_shipdate >= DATE '{y}-{m:02d}-01'"
    return f"l_returnflag <> '{rng.choice('ANR')}'"


def _value_col(agg: str, col: str) -> str:
    return "count_star" if col == "*" else f"{agg.lower()}_{col}"


def _dialect_ref(agg: str, col: str, where: str, group: str | None,
                 expr: str | None = None, from_sql: str = "lineitem") -> str:
    arg = expr or col
    val = f"{agg.lower()}({arg})"
    sel = f"{group}, " if group else ""
    tail = f" GROUP BY {group}" if group else ""
    return f"SELECT {sel}{val} AS value, count(*) AS n FROM {from_sql} WHERE {where}{tail}"


def interactive_round(seed: int, rnd: int, designs: tuple[str, ...] = DESIGNS) -> list[Op]:
    rng = _rng(seed, rnd)
    ops: list[Op] = []
    units: list[list[Op]] = []
    p = f"r{rnd}"
    for i, design in enumerate(designs):
        agg = "SUM" if design == "bootstrap" else rng.choice(sorted(AGGS))
        col = AGGS[agg]
        # Global and grouped alternate by round, and so do low and high
        # fractions, so every two rounds send each design once of each
        # shape and once of each half, whatever the seed: a grouped
        # bootstrap answer at 20-25% costs about twice a global one at
        # 1-5%. The seed picks which shape gets the high half.
        grouped = (rnd + i) % 2 == 1
        high = grouped != (random.Random(f"{seed}/{design}").random() < 0.5)
        group = rng.choice(GROUP_COLS) if grouped else None
        where = _where(rng)
        tail = f" GROUP BY {group}" if group else ""
        sql = f"SELECT APPROX({agg}({col})) FROM lineitem WHERE {where}{tail}"
        exact_sql = f"SELECT {agg}({col}) FROM lineitem WHERE {where}{tail}"
        kwargs: dict = {"method": design}
        budget = None
        if design == "clt":
            budget = float(rng.choice([1, 2, 3]))
            kwargs["error_pct"] = budget
        else:
            kwargs["sample_pct"] = rng.choice(HIGH_PCT if high else LOW_PCT)
        ref = _dialect_ref(agg, col if col != "*" else "*", where, group)
        gcols = (group,) if group else ()
        vcol = _value_col(agg, col)
        oid = f"{p}.{design}"
        approx = Op(oid, "query", "within" if budget else "approx",
                    {"sql": sql, "kwargs": kwargs}, vcol, gcols, ref,
                    twin=f"{oid}.exact", budget_pct=budget,
                    tags={"design": design, "agg": agg})
        exact = Op(f"{oid}.exact", "query", "exact", {"sql": exact_sql, "kwargs": {}},
                   vcol, gcols, ref, tags={"design": "exact", "agg": agg})
        units.append(_pair_order(rng, approx, exact))

    # TABLESAMPLE markers: a single-table grouped rewrite and a join.
    expr = rng.choice(MARKER_EXPRS)
    group = rng.choice(GROUP_COLS)
    where = _where(rng)
    pct = rng.choice(FRACTIONS_PCT)
    sql = (f"SELECT {group}, APPROX(SUM({expr})) AS est FROM lineitem "
           f"TABLESAMPLE ({pct} PERCENT) WHERE {where} GROUP BY {group}")
    exact_sql = (f"SELECT {group}, SUM({expr}) AS est FROM lineitem "
                 f"WHERE {where} GROUP BY {group}")
    ref = _dialect_ref("SUM", "", where, group, expr=expr)
    oid = f"{p}.marker"
    units.append(_pair_order(
        rng,
        Op(oid, "query", "approx", {"sql": sql, "kwargs": {}}, "est", (group,), ref,
           twin=f"{oid}.exact", tags={"design": "tablesample", "agg": "SUM"}),
        Op(f"{oid}.exact", "query", "exact", {"sql": exact_sql, "kwargs": {}}, "est",
           (group,), ref, tags={"design": "exact", "agg": "SUM"}),
    ))

    jpct = rng.choice(FRACTIONS_PCT[2:])
    jwhere = _where(rng)
    join = "lineitem JOIN orders ON l_orderkey = o_orderkey"
    sql = (f"SELECT o_orderpriority, APPROX(SUM(l_extendedprice)) AS rev FROM lineitem "
           f"TABLESAMPLE ({jpct} PERCENT) JOIN orders ON l_orderkey = o_orderkey "
           f"WHERE {jwhere} GROUP BY o_orderpriority")
    exact_sql = (f"SELECT o_orderpriority, SUM(l_extendedprice) AS rev FROM {join} "
                 f"WHERE {jwhere} GROUP BY o_orderpriority")
    ref = _dialect_ref("SUM", "l_extendedprice", jwhere, "o_orderpriority", from_sql=join)
    oid = f"{p}.join"
    units.append(_pair_order(
        rng,
        Op(oid, "query", "approx", {"sql": sql, "kwargs": {}}, "rev", ("o_orderpriority",),
           ref, twin=f"{oid}.exact", tags={"design": "tablesample_join", "agg": "SUM"}),
        Op(f"{oid}.exact", "query", "exact", {"sql": exact_sql, "kwargs": {}}, "rev",
           ("o_orderpriority",), ref, tags={"design": "exact", "agg": "SUM"}),
    ))

    # WITHIN budgets starting at TABLESAMPLE (1 PERCENT): global and grouped.
    for shape in ("global", "grouped"):
        where = _where(rng)
        group = rng.choice(GROUP_COLS) if shape == "grouped" else None
        budget = float(rng.choice([2, 3] if shape == "global" else [3, 5]))
        sel = f"{group}, " if group else ""
        tail = f" GROUP BY {group}" if group else ""
        sql = (f"SELECT {sel}APPROX(SUM(l_extendedprice)) AS s FROM lineitem "
               f"TABLESAMPLE (1 PERCENT) WHERE {where}{tail} WITHIN {budget:g} PERCENT")
        exact_sql = f"SELECT {sel}SUM(l_extendedprice) AS s FROM lineitem WHERE {where}{tail}"
        ref = _dialect_ref("SUM", "l_extendedprice", where, group)
        gcols = (group,) if group else ()
        oid = f"{p}.within_{shape}"
        units.append(_pair_order(
            rng,
            Op(oid, "query", "within", {"sql": sql, "kwargs": {}}, "s", gcols, ref,
               twin=f"{oid}.exact", budget_pct=budget,
               tags={"design": f"within_{shape}", "agg": "SUM"}),
            Op(f"{oid}.exact", "query", "exact", {"sql": exact_sql, "kwargs": {}}, "s",
               gcols, ref, tags={"design": "exact", "agg": "SUM"}),
        ))
    rng.shuffle(units)
    for u in units:
        ops.extend(u)
    return ops


def interactive_warm() -> list[Op]:
    """The dialect's exact and sampled paths, a bootstrap answer and a
    join marker (without it the first join of the round pays ~0.5 s of
    planning). Kept short:
    every run sets up twice, and a full measurement (48 runs over
    both workloads) has to fit in under an hour."""
    w = "l_discount > 0.05"
    return [
        Op("warm.exact", "query", "exact", {
            "sql": f"SELECT SUM(l_extendedprice) FROM lineitem WHERE {w}", "kwargs": {}}),
        Op("warm.random", "query", "approx", {
            "sql": f"SELECT APPROX(SUM(l_extendedprice)) FROM lineitem WHERE {w} "
                   "GROUP BY l_linestatus",
            "kwargs": {"method": "random", "sample_pct": 1}}),
        # The first bootstrap answer of a session costs 4-6 CPU s more
        # than later ones; sent here, that cost stays out of the rounds.
        Op("warm.bootstrap", "query", "approx", {
            "sql": f"SELECT APPROX(SUM(l_extendedprice)) FROM lineitem WHERE {w}",
            "kwargs": {"method": "bootstrap", "sample_pct": 1}}),
        Op("warm.join", "query", "approx", {"sql": (
            "SELECT o_orderpriority, APPROX(SUM(l_extendedprice)) AS rev FROM lineitem "
            "TABLESAMPLE (1 PERCENT) JOIN orders ON l_orderkey = o_orderkey "
            "GROUP BY o_orderpriority"), "kwargs": {}}),
    ]


# ---------------------------------------------------------------------------
# index_build_probe — persisted indexes (writes) and their probes (reads)
# ---------------------------------------------------------------------------

ORDER_DAY = "datediff(o_orderdate, DATE '1970-01-01')"
DUCK_ORDER_DAY = "date_diff('day', DATE '1970-01-01', o_orderdate)"
DAY_LO, DAY_HI = 9131, 11535  # 1995-01-01 .. 2001-08-01
INDEX_KINDS = ("aqpplus", "sampleseek", "point", "zorder")
PROBES_PER_INDEX = 2


def _cents_ref(value: str, table: str, where: str) -> str:
    return (f"SELECT round(coalesce(sum(floor({value} * 100.0 + 0.5)), 0) / 100.0, 2) "
            f"AS value, count(*) AS n FROM {table} WHERE {where}")


def index_round(seed: int, rnd: int, build_root: str) -> list[Op]:
    rng = _rng(seed, rnd)
    kinds = list(INDEX_KINDS)
    rng.shuffle(kinds)
    ops: list[Op] = []
    p = f"r{rnd}"
    for kind in kinds:
        path = f"{build_root}/{p}-{kind}"
        if kind in ("aqpplus", "sampleseek"):
            build = {"method": "build_range_index",
                     "args": ["orders", ORDER_DAY, "o_totalprice"],
                     "kwargs": {"kind": kind, "path": path}}
        elif kind == "point":
            build = {"method": "build_point_index",
                     "args": ["orders", "o_custkey", "o_totalprice"],
                     "kwargs": {"path": path}}
        else:
            build = {"method": "build_zorder_index",
                     "args": ["orders"],
                     "kwargs": {"x_sql": ORDER_DAY, "y_sql": "o_custkey",
                                "value_sql": "o_totalprice", "path": path}}
        ops.append(Op(f"{p}.build.{kind}", "build", "build", build,
                      tags={"kind": kind, "base": "orders"}))
        for j in range(PROBES_PER_INDEX):
            oid = f"{p}.probe.{kind}{j}"
            if kind in ("aqpplus", "sampleseek"):
                width = rng.choice([30, 120, 400, 1200])
                lo = rng.randrange(DAY_LO, DAY_HI - width)
                hi = lo + width
                call = {"method": "range_sum", "args": ["orders", lo, hi], "kwargs": {}}
                where = f"{ORDER_DAY} BETWEEN {lo} AND {hi}"
                ref = _cents_ref("o_totalprice", "orders",
                                 f"{DUCK_ORDER_DAY} BETWEEN {lo} AND {hi}")
                twin_sql = f"SELECT SUM(o_totalprice) FROM orders WHERE {where}"
                check = "index_cover" if kind == "aqpplus" else "index_route"
            elif kind == "point":
                key = rng.randrange(0, 15_000)
                call = {"method": "point_sum", "args": ["orders", key], "kwargs": {}}
                ref = _cents_ref("o_totalprice", "orders", f"o_custkey = {key}")
                twin_sql = f"SELECT SUM(o_totalprice) FROM orders WHERE o_custkey = {key}"
                check = "index_exact"
            else:
                xw, yw = rng.choice([30, 90, 180]), rng.choice([200, 1000, 4000])
                x0 = rng.randrange(DAY_LO, DAY_HI - xw)
                y0 = rng.randrange(0, 15_000 - yw)
                call = {"method": "rect_sum", "args": ["orders", x0, x0 + xw, y0, y0 + yw],
                        "kwargs": {}}
                ref = _cents_ref("o_totalprice", "orders",
                                 f"{DUCK_ORDER_DAY} BETWEEN {x0} AND {x0 + xw} "
                                 f"AND o_custkey BETWEEN {y0} AND {y0 + yw}")
                twin_sql = (f"SELECT SUM(o_totalprice) FROM orders WHERE {ORDER_DAY} "
                            f"BETWEEN {x0} AND {x0 + xw} AND o_custkey BETWEEN {y0} AND {y0 + yw}")
                check = "index_exact"
            twin_col = "sum_o_totalprice"
            probe = Op(oid, "probe", check, call, "sum_value", (), ref, twin=f"{oid}.exact",
                       tags={"kind": kind})
            exact = Op(f"{oid}.exact", "query", "exact", {"sql": twin_sql, "kwargs": {}},
                       twin_col, (), ref, tags={"kind": kind, "design": "exact"})
            ops.extend(_pair_order(rng, probe, exact))
    return ops


# ---------------------------------------------------------------------------
# pipeline_ops — registry entries over documents / embeddings
# ---------------------------------------------------------------------------

# Registry entries of the pipeline half. Three entries of the full
# pipeline set are left out because one call costs more than the run's
# time allows (4 cores, sf0.1 shape): dedup_ngram_jaccard_pairs (13-15 s),
# dedup_yield_curve (4-9 s) and ann_ivfpq_index_topk (5-9 s, it rebuilds
# its index on every call).
PIPELINE_ENTRIES = (
    "dedup_minhash_lsh_pairs",
    "ann_bruteforce_topk",
    "text_quality_by_lang",
    "heavy_hitters_tokens",
    "corpus_clean_pipeline",
)


def pipeline_ops(seed: int, rnd: int) -> list[Op]:
    rng = _rng(seed, -1 - rnd)
    names = list(PIPELINE_ENTRIES)
    rng.shuffle(names)
    return [
        Op(f"r{rnd}.{n}", "entry", "entry", {"entry": n}, tags={"entry": n})
        for n in names
    ]


# ---------------------------------------------------------------------------
# index_pipeline — index builds and probes, with registry entries between
# ---------------------------------------------------------------------------


def index_pipeline_round(seed: int, rnd: int, build_root: str) -> list[Op]:
    """The index round's per-kind blocks (build, then its probes) with the
    pipeline entries spread between the blocks at seeded positions."""
    rng = _rng(seed, rnd)
    blocks: list[list[Op]] = [[]]
    for op in index_round(seed, rnd, build_root):
        if op.kind == "build":
            blocks.append([])
        blocks[-1].append(op)
    slots: list[list[Op]] = [[] for _ in blocks]
    for entry in pipeline_ops(seed, rnd):
        slots[rng.randrange(len(slots))].append(entry)
    return [op for block, extra in zip(blocks, slots) for op in extra + block]


WORKLOADS = ("interactive_sf0.1", "index_pipeline")
# Nominal length of one round on 4 cores; a run of --seconds s measures
# max(1, round(seconds / ROUND_SECONDS)) whole rounds.
ROUND_SECONDS = {"interactive_sf0.1": 10.0, "index_pipeline": 30.0}


def rounds(workload: str, seed: int, build_root: str, designs: tuple[str, ...] = DESIGNS):
    """Endless generator of rounds for ``workload``."""
    rnd = 0
    while True:
        if workload == "interactive_sf0.1":
            yield interactive_round(seed, rnd, designs)
        else:
            yield index_pipeline_round(seed, rnd, build_root)
        rnd += 1


def warm_ops(workload: str) -> list[Op]:
    """The untimed warm pass of each set-up."""
    if workload == "interactive_sf0.1":
        return interactive_warm()
    # The exact scan path only. Builds and entries are not warmed: one
    # build costs 3-4 s even on a tiny table, an entry 1-5 s cold.
    return [Op("warm.exact", "query", "exact", {
        "sql": "SELECT SUM(o_totalprice) FROM orders WHERE o_custkey = 7", "kwargs": {}})]
