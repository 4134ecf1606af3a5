"""Driver-contract queries + DuckDB oracle SQL.

Each entry in ``QUERIES`` is a callable ``(spark, sf_dir) -> DataFrame``;
``ORACLE_SQL`` holds the ANSI-SQL twin DuckDB runs on the same parquet
tables (views ``events documents embeddings …`` pre-registered by the
driver). Column names and types are aligned on both sides — every
aggregate/computed column is aliased identically, counts are cast to
BIGINT, ratios/ranks rounded so independent float summation orders can't
flip the value hash.

Queries with no SQL twin (iterative/stochastic/LSH ops) are registered in
``QUERIES`` only → the driver records a weaker rows-only check for them.

The graph queries run over the *string-keyed* typed edges derived from
the driver's ``events`` table via the transcripts view
(sources/transcripts.py::transcripts_from_events), so the oracle never
needs to reproduce the engine's vertex-id assignment.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from montecarlopagerank_spark.operators.edges import (
    _typed_edges,
    degrees,
    transcript_edges,
)
from montecarlopagerank_spark.operators.propagate import both_ways, pairs
from montecarlopagerank_spark.sources.transcripts import transcripts_from_events

EPS = 0.15

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

# events → transcripts (mirror of transcripts_from_events, FIXTURES.md F5)
_TURNS = """turns{sfx} AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS INTEGER) AS turn_idx,
         event_type AS role,
         props AS text,
         CASE WHEN event_id % 3 = 0 THEN event_type END AS tool,
         ts
  FROM events{where}
)"""

# transcripts → typed string-keyed edges (mirror of operators/edges.py)
_TEDGES = _TURNS + """,
chained{sfx} AS (
  SELECT conv_id, turn_idx, role, tool,
         LAG(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_turn,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM turns{sfx}
),
tedges{sfx} AS (
  SELECT 'turn#' || conv_id || '#' || CAST(prev_turn AS VARCHAR) AS src,
         'turn#' || conv_id || '#' || CAST(turn_idx AS VARCHAR) AS dst,
         'turn_chain' AS kind
  FROM chained{sfx} WHERE prev_turn IS NOT NULL
  UNION ALL
  SELECT 'role#' || prev_role, 'role#' || role, 'role_role'
  FROM chained{sfx} WHERE prev_role IS NOT NULL
  UNION ALL
  SELECT 'turn#' || conv_id || '#' || CAST(turn_idx AS VARCHAR),
         'tool#' || tool, 'turn_tool'
  FROM chained{sfx} WHERE tool IS NOT NULL
)"""


def _tedges_variant(sfx: str = "", where: str = "") -> str:
    """The turns → chained → tedges chain with suffixed CTE names (and an
    optional events filter) so one query can build two edge tables — the
    edge-delta and warm-start twins' A/B instantiations."""
    return _TEDGES.format(sfx=sfx, where=where)


SQL_TURNS = _TURNS.format(sfx="", where="")
SQL_TEDGES = _tedges_variant()

SQL_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def _verts(name: str = "verts", edges: str = "tedges") -> str:
    """The vertex set: every endpoint of ``edges``, self-loops included."""
    return f"{name} AS (SELECT src AS v FROM {edges} UNION SELECT dst FROM {edges})"


def _sym(name: str = "sym", w: str = "w") -> str:
    """The symmetric distinct pair set ``(u, w)`` of tedges' undirected
    closure, self-loops dropped."""
    return f"""{name} AS (
  SELECT DISTINCT u, {w} FROM (
    SELECT src AS u, dst AS {w} FROM tedges WHERE src <> dst
    UNION ALL
    SELECT dst, src FROM tedges WHERE src <> dst
  )
)"""


def _und(name: str = "und") -> str:
    """The canonical (x < y) distinct undirected pair set of tedges."""
    return f"""{name} AS (
  SELECT DISTINCT LEAST(src, dst) AS x, GREATEST(src, dst) AS y
  FROM tedges WHERE src <> dst
)"""


def _mat(sql: str) -> str:
    """Force every named CTE to ``AS MATERIALIZED``. DuckDB re-inlines a
    CTE at every reference site, so the unrolled iterative twins (each
    ``r{i}`` referenced ~3× by ``m{i}``/``c{i}``/``r{i+1}``) grow as
    ~3^iters expression trees and OOM the driver's allocator at high
    thread counts (_pi_sql(5): 88.6 s → 0.3 s at threads=32 once
    materialized). Materializing *all* CTEs makes worst-case cost linear
    — one evaluation per CTE — which is also what keeps the driver's
    total oracle wall bounded. Idempotent (``AS MATERIALIZED (`` no
    longer matches the pattern); self-referencing recursive CTEs like
    ``reach(src, dst) AS (`` are skipped because the char before
    `` AS (`` is ``)``, not a word char."""
    return re.sub(r"(\n|WITH )(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


def _unroll(
    seed_ctes: Sequence[str],
    round_fn: Callable[[int], str],
    rounds: int,
    final: str,
    tail_ctes: Sequence[str] = (),
) -> str:
    """One iterative twin unrolled into a single statement: ``WITH`` the
    seed CTEs, then ``round_fn(r)`` for r in 0..rounds-1 (round r's CTEs
    read round r-1's), then any ``tail_ctes`` over the last round, then
    the ``final`` SELECT. Every CTE head starts its own line, so _mat
    materializes all of them — a round's tables are each read 2-3 times
    by the next round, which re-inlining would turn into expression
    trees (and events.parquet re-scans) exponential in ``rounds``."""
    ctes = [*seed_ctes, *map(round_fn, range(rounds)), *tail_ctes]
    return _mat("WITH " + ",\n".join(c.strip("\n") for c in ctes) + "\n" + final)


def _pi_ctes(sfx: str = "") -> list[str]:
    """verts/nn/deg of the tedges{sfx} graph: the vertex set, its size and
    the out-degrees a PI superstep divides by."""
    return [
        _verts(f"verts{sfx}", f"tedges{sfx}"),
        f"nn{sfx} AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts{sfx})",
        f"""deg{sfx} AS (SELECT src AS v, CAST(COUNT(*) AS DOUBLE) AS d
        FROM tedges{sfx} GROUP BY src)""",
    ]


def _pi_round(
    state: str = "r", sfx: str = "", teleport: str = "", joins: str = ""
) -> Callable[[int], str]:
    """round_fn of one power-iteration superstep over the _pi_ctes(sfx)
    graph — the exact relational twin of algos/pagerank_power.py's loop
    (PowerIterationPageRank.scala:56-142 semantics in double space):
    ``{state}{i}`` → ``{state}{i+1}`` via the dangling mass ``m{sfx}{i}``
    and the in-link mass ``c{sfx}{i}``. ``teleport`` is the jump +
    dangling term (``{m}`` names the dangling-mass CTE) and ``joins`` the
    tables it reads; by default both spread uniformly over nn{sfx}."""
    teleport = teleport or f"{EPS} / nn{sfx}.n + {1.0 - EPS} * {{m}}.m / nn{sfx}.n"
    joins = joins or f"CROSS JOIN nn{sfx}"

    def round_fn(i: int) -> str:
        m, c = f"m{sfx}{i}", f"c{sfx}{i}"
        return f"""{m} AS (
  SELECT COALESCE(SUM(r.r), 0.0) AS m
  FROM {state}{i} r LEFT JOIN deg{sfx} d ON r.v = d.v WHERE d.v IS NULL
),
{c} AS (
  SELECT e.dst AS v, SUM(r.r / d.d) AS mass
  FROM tedges{sfx} e JOIN {state}{i} r ON e.src = r.v JOIN deg{sfx} d ON e.src = d.v
  GROUP BY e.dst
),
{state}{i + 1} AS (
  SELECT verts{sfx}.v,
         {teleport.format(m=m)}
           + {1.0 - EPS} * COALESCE(c.mass, 0.0) AS r
  FROM verts{sfx} {joins} CROSS JOIN {m}
  LEFT JOIN {c} c ON verts{sfx}.v = c.v
)"""

    return round_fn


def _pi_rank_select(iters: int) -> str:
    return f"""SELECT r.v AS v, ROUND(r.r * nn.n, 6) AS rank_scaled
FROM r{iters} r CROSS JOIN nn"""


def _pi_sql(iters: int, final: str = "") -> str:
    """Power-iteration PageRank unrolled to ``iters`` supersteps (see
    _pi_round); ``final`` replaces the per-vertex rank SELECT."""
    return _unroll(
        [SQL_TEDGES, *_pi_ctes(),
         "r0 AS (SELECT v, 1.0 / nn.n AS r FROM verts CROSS JOIN nn)"],
        _pi_round(),
        iters,
        final or _pi_rank_select(iters),
    )


def _pi_warm_sql(k1: int, k2: int) -> str:
    """Warm-start (incremental-refresh) PI twin — the oracle for
    ``pagerank_power(init_ranks=...)`` (algos/pagerank_power.py:237):

    1. STALE phase: uniform-init PI run ``k1`` supersteps over the graph
       built from the events *prefix* (epoch_us(ts) <= the median-µs
       cut — the same append-split convention as edge_delta_append);
    2. PROJECT: stale ranks land on the full vertex set (vertices new
       to the graph get 1/n_full), renormalized to sum 1 — exactly the
       engine's one-setup-job warm init;
    3. WARM phase: ``k2`` standard supersteps on the FULL graph.

    Both phases are _pi_round; the stale chain's CTE names carry an S
    suffix via _tedges_variant so the two edge builds coexist in one
    statement."""
    stale = _pi_round("s", "S")
    return _unroll(
        [
            """cutv AS (
  SELECT CAST(FLOOR(quantile_cont(epoch_us(ts), 0.5)) AS BIGINT) AS cut
  FROM events
)""",
            _tedges_variant("S", " WHERE epoch_us(ts) <= (SELECT cut FROM cutv)"),
            *_pi_ctes("S"),
            "s0 AS (SELECT v, 1.0 / nnS.n AS r FROM vertsS CROSS JOIN nnS)",
            *map(stale, range(k1)),
            SQL_TEDGES,
            *_pi_ctes(),
            f"""w0 AS (
  SELECT verts.v, COALESCE(s.r, 1.0 / nn.n) AS r
  FROM verts CROSS JOIN nn LEFT JOIN s{k1} s ON verts.v = s.v
)""",
            "ws AS (SELECT SUM(r) AS s FROM w0)",
            "r0 AS (SELECT v, r / ws.s AS r FROM w0 CROSS JOIN ws)",
        ],
        _pi_round(),
        k2,
        _pi_rank_select(k2),
    )


def _ppr_sql(iters: int) -> str:
    """Personalized PageRank unrolled to ``iters`` supersteps — the twin
    of pagerank_power(sources=...): teleport vector p uniform over
    conversation u1's turn vertices, π0 = p, jump AND dangling mass land
    on p (algos/pagerank_power.py docstring)."""
    return _unroll(
        [
            SQL_TEDGES,
            *_pi_ctes(),
            "srcs AS (SELECT v FROM verts WHERE v LIKE 'turn#u1#%')",
            "sn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM srcs)",
            """r0 AS (
  SELECT verts.v,
         CASE WHEN s.v IS NOT NULL THEN 1.0 / sn.ns ELSE 0.0 END AS r
  FROM verts CROSS JOIN sn LEFT JOIN srcs s ON verts.v = s.v
)""",
        ],
        _pi_round(
            teleport=f"""CASE WHEN s.v IS NOT NULL
              THEN ({EPS} + {1.0 - EPS} * {{m}}.m) / sn.ns ELSE 0.0 END""",
            joins="CROSS JOIN sn LEFT JOIN srcs s ON verts.v = s.v",
        ),
        iters,
        f"""SELECT r.v AS v, ROUND(r.r * nn.n, 6) AS ppr_scaled
FROM r{iters} r CROSS JOIN nn""",
    )


def _hits_sql(iters: int) -> str:
    """HITS unrolled to ``iters`` iterations, L1-normalized per half-step
    (algos/hits.py carries scores unnormalized and divides at use — the
    per-element division is the same op in the same order, so the rounded
    outputs agree)."""

    def round_fn(i: int) -> str:
        return f"""ar{i} AS (
  SELECT e.dst AS v, SUM(h.s) AS s
  FROM tedges e JOIN h{i} h ON e.src = h.v GROUP BY e.dst
),
at{i} AS (SELECT SUM(s) AS t FROM ar{i}),
a{i + 1} AS (
  SELECT verts.v, COALESCE(ar.s, 0.0) / at{i}.t AS s
  FROM verts CROSS JOIN at{i} LEFT JOIN ar{i} ar ON verts.v = ar.v
),
hr{i} AS (
  SELECT e.src AS v, SUM(a.s) AS s
  FROM tedges e JOIN a{i + 1} a ON e.dst = a.v GROUP BY e.src
),
ht{i} AS (SELECT SUM(s) AS t FROM hr{i}),
h{i + 1} AS (
  SELECT verts.v, COALESCE(hr.s, 0.0) / ht{i}.t AS s
  FROM verts CROSS JOIN ht{i} LEFT JOIN hr{i} hr ON verts.v = hr.v
)"""

    return _unroll(
        [SQL_TEDGES, _verts(),
         "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts)",
         "h0 AS (SELECT v, 1.0 / nn.n AS s FROM verts CROSS JOIN nn)"],
        round_fn,
        iters,
        f"""SELECT h.v AS v, ROUND(h.s * nn.n, 6) AS hub_scaled,
       ROUND(a.s * nn.n, 6) AS auth_scaled
FROM h{iters} h JOIN a{iters} a ON h.v = a.v CROSS JOIN nn""",
    )


def _bfs_sql(max_hops: int) -> str:
    """Min-hop distance from the tool vertices over the undirected
    closure, unrolled as ``max_hops`` relaxation rounds (full relaxation
    and algos/bfs.py's frontier BFS agree on min-hop distances)."""

    def round_fn(i: int) -> str:
        return f"""d{i + 1} AS (
  SELECT v, MIN(hops) AS hops FROM (
    SELECT v, hops FROM d{i}
    UNION ALL
    SELECT s.w AS v, d.hops + 1 AS hops
    FROM sym s JOIN d{i} d ON s.u = d.v
  ) GROUP BY v
)"""

    return _unroll(
        [SQL_TEDGES, _verts(), _sym(),
         "d0 AS (SELECT v, 0 AS hops FROM verts WHERE v LIKE 'tool#%')"],
        round_fn,
        max_hops,
        f"SELECT v, CAST(hops AS INTEGER) AS hops FROM d{max_hops}",
    )


def _sssp_sql(rounds: int) -> str:
    """Weighted min-path distance from the tool vertices, unrolled as
    ``rounds`` full Bellman-Ford relaxation rounds. Edge weight is
    LENGTH(src)+LENGTH(dst) — deterministic and computed identically by
    Spark and DuckDB, and long/heavy turn keys make weighted routes
    genuinely diverge from min-hop routes. Frontier-restricted relaxation
    (algos/sssp.py) and full relaxation agree after any equal number of
    rounds, and past the fixpoint every round is the identity, so any
    unroll ≥ the engine's round count reproduces the table exactly.
    Each d{{i}} is referenced twice by d{{i+1}} → materialized (same
    expression-tree-blowup reasoning as _cc_sql)."""

    def round_fn(i: int) -> str:
        return f"""d{i + 1} AS (
  SELECT v, MIN(d) AS d FROM (
    SELECT v, d FROM d{i}
    UNION ALL
    SELECT s.x AS v, d.d + s.wt AS d FROM wsym s JOIN d{i} d ON s.u = d.v
  ) GROUP BY v
)"""

    return _unroll(
        [
            SQL_TEDGES,
            _verts(),
            """wsym AS (
  SELECT u, x, MIN(wt) AS wt FROM (
    SELECT src AS u, dst AS x, LENGTH(src) + LENGTH(dst) AS wt
    FROM tedges WHERE src <> dst
    UNION ALL
    SELECT dst, src, LENGTH(src) + LENGTH(dst)
    FROM tedges WHERE src <> dst
  ) GROUP BY u, x
)""",
            "d0 AS (SELECT v, CAST(0 AS BIGINT) AS d FROM verts WHERE v LIKE 'tool#%')",
        ],
        round_fn,
        rounds,
        f"SELECT v, CAST(d AS BIGINT) AS d FROM d{rounds}",
    )


def _walks_sql(walk_length: int, walks_per_vertex: int) -> str:
    """DeepWalk corpus twin: uniform walks from the tool vertices with
    algos/walks.py's ``chooser="lcg"`` — the neighbor index is plain
    64-bit integer arithmetic ((rep+1)*40503 + step*69069) % 1000003
    % deg over the SAME sorted multiset neighbor list (list(x ORDER BY
    x) ≡ sort_array(collect_list(x)), dupes included), so DuckDB
    replays the corpus verbatim. Each w{i} is referenced twice (next
    step + final union) → materialized."""

    def round_fn(r: int) -> str:
        return f"""w{r + 1} AS (
  SELECT w.start, w.rep,
         n.arr[CAST(1 + ((((w.rep + 1) * 40503 + {r + 1} * 69069) % 1000003)
                         % n.deg) AS INT)] AS v
  FROM w{r} w JOIN nbrs n ON w.v = n.u
)"""

    return _unroll(
        [
            SQL_TEDGES,
            """sym AS (
  SELECT src AS u, dst AS x FROM tedges WHERE src <> dst
  UNION ALL
  SELECT dst, src FROM tedges WHERE src <> dst
)""",
            """nbrs AS (
  SELECT u, list(x ORDER BY x) AS arr, COUNT(*) AS deg FROM sym GROUP BY u
)""",
            "tools AS (SELECT DISTINCT dst AS v FROM tedges WHERE dst LIKE 'tool#%')",
            f"""w0 AS (
  SELECT t.v AS start, r.rep AS rep, t.v AS v
  FROM tools t CROSS JOIN (SELECT range AS rep FROM range({walks_per_vertex})) r
)""",
        ],
        round_fn,
        walk_length,
        "\nUNION ALL\n".join(
            f"SELECT start, rep, CAST({i} AS INT) AS step, v FROM w{i}"
            for i in range(walk_length + 1)
        ),
    )


def _btw_sql(max_hops: int) -> str:
    """Landmark betweenness twin (algos/betweenness.py): forward σ-BFS
    from the tool vertices unrolled ``max_hops`` rounds (like _bfs_sql
    plus the path-count sum), then Brandes dependency accumulation
    unrolled one CTE per depth band, deepest first. Rounds past the
    actual eccentricity are identity no-ops, so a fixed unroll equals
    the engine's early-stopping loop. Everything materialized — each
    stage is referenced 2-3 times downstream."""

    def forward(r: int) -> str:
        h = r + 1
        return f"""vis{h} AS (
  SELECT * FROM vis{h - 1}
  UNION ALL
  SELECT m.l, m.v, {h} AS d, m.sigma FROM (
    SELECT s.l, e.x AS v, SUM(s.sigma) AS sigma
    FROM sym e JOIN vis{h - 1} s ON e.u = s.v
    WHERE s.d = {h - 1}
    GROUP BY s.l, e.x
  ) m ANTI JOIN vis{h - 1} p ON m.l = p.l AND m.v = p.v
)"""

    def backward(h: int) -> str:
        return f"""c{h} AS (
  SELECT pw.l, pv.v,
         SUM(pv.sigma / pw.sigma * (1.0 + pw.delta)) AS inc
  FROM del{h + 1} pw
  JOIN sym s ON s.x = pw.v
  JOIN del{h + 1} pv ON pv.l = pw.l AND pv.v = s.u AND pv.d = {h - 1}
  WHERE pw.d = {h}
  GROUP BY pw.l, pv.v
),
del{h} AS (
  SELECT d.l, d.v, d.d, d.sigma, d.delta + COALESCE(c.inc, 0.0) AS delta
  FROM del{h + 1} d LEFT JOIN c{h} c ON d.l = c.l AND d.v = c.v
)"""

    return _unroll(
        [
            SQL_TEDGES,
            _sym(w="x"),
            """vis0 AS (
  SELECT DISTINCT dst AS l, dst AS v, 0 AS d, 1.0 AS sigma
  FROM tedges WHERE dst LIKE 'tool#%'
)""",
        ],
        forward,
        max_hops,
        """SELECT v, ROUND(SUM(delta), 6) AS btw_r6
FROM del1 WHERE d > 0 GROUP BY v""",
        [
            f"""del{max_hops + 1} AS (
  SELECT l, v, d, sigma, 0.0 AS delta FROM vis{max_hops}
)""",
            *map(backward, range(max_hops, 0, -1)),
        ],
    )


def _cc_round(sym: str) -> Callable[[int], str]:
    """round_fn of one min-label + pointer-jump round over the symmetric
    pair set ``sym(u, v)``: every vertex's label drops to min(own,
    neighbours') then jumps (lbl ← lbl of lbl) — ``l{r}`` → ``l{r+1}``.
    Labels are always vertex ids of l0, so the jump's join never drops a
    row."""

    def round_fn(r: int) -> str:
        return f"""a{r} AS (
  SELECT l.v, least(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS lbl
  FROM l{r} l
  LEFT JOIN {sym} s ON s.u = l.v
  LEFT JOIN l{r} n ON n.v = s.v
  GROUP BY l.v, l.lbl
),
l{r + 1} AS (
  SELECT a.v, b.lbl FROM a{r} a JOIN a{r} b ON a.lbl = b.v
)"""

    return round_fn


def _cc_sql(rounds: int, final: str = "", tail_ctes: Sequence[str] = ()) -> str:
    """Exact connected components in pure SQL: ``rounds`` _cc_round
    rounds — O(log diameter) rounds, unrolled as chained CTEs (a
    recursive CTE would enumerate O(Σ|component|²) pairs). The histogram
    stabilizes by round 16 on the sf0.001/sf0.01 transcript graphs
    (diameter ≈ max conv length); rounds=24 leaves margin.
    Output: component-size histogram, which is id-assignment-free — equal
    for the engine's vid graph and this string-key twin. ``final`` (and
    ``tail_ctes``) replace it with another function of the per-vertex
    label table ``l{rounds}(v, lbl)`` — _modularity_sql, _conductance_sql.

    Every CTE is materialized: each l{r} is referenced 2-3 times per
    round, so inlining would blow the expression tree (and DuckDB's file
    handles) up exponentially in ``rounds``."""
    return _unroll(
        [SQL_TEDGES, _sym(w="v"), _verts(),
         "l0 AS (SELECT v, v AS lbl FROM verts)"],
        _cc_round("sym"),
        rounds,
        final or f"""SELECT CAST(size AS BIGINT) AS size, COUNT(*) AS n_components
FROM (SELECT lbl, COUNT(*) AS size FROM l{rounds} GROUP BY lbl)
GROUP BY size""",
        tail_ctes,
    )


def _salsa_sql(iters: int) -> str:
    """SALSA unrolled to ``iters`` iterations (algos/salsa.py): each
    half-step a stochastic matrix-vector product (no normalization
    constant — sums are preserved by construction), hub₀ uniform over
    the out-degree support."""

    def round_fn(i: int) -> str:
        return f"""a{i + 1} AS (
  SELECT e.dst AS v, SUM(h.s * (1.0 / o.d)) AS s
  FROM tedges e JOIN h{i} h ON e.src = h.v JOIN dout o ON e.src = o.v
  GROUP BY e.dst
),
h{i + 1} AS (
  SELECT e.src AS v, SUM(a.s * (1.0 / dd.d)) AS s
  FROM tedges e JOIN a{i + 1} a ON e.dst = a.v JOIN din dd ON e.dst = dd.v
  GROUP BY e.src
)"""

    return _unroll(
        [
            SQL_TEDGES,
            _verts(),
            """dout AS (
  SELECT src AS v, CAST(COUNT(*) AS DOUBLE) AS d FROM tedges GROUP BY src
)""",
            """din AS (
  SELECT dst AS v, CAST(COUNT(*) AS DOUBLE) AS d FROM tedges GROUP BY dst
)""",
            "nh AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM dout)",
            "h0 AS (SELECT v, 1.0 / nh.n AS s FROM dout CROSS JOIN nh)",
        ],
        round_fn,
        iters,
        f"""SELECT verts.v, ROUND(COALESCE(h.s, 0.0), 6) AS hub_r6,
       ROUND(COALESCE(a.s, 0.0), 6) AS auth_r6
FROM verts LEFT JOIN h{iters} h ON verts.v = h.v
           LEFT JOIN a{iters} a ON verts.v = a.v""",
    )


def _scc_sql() -> str:
    """Exact SCC size histogram via the definition itself: u, v share a
    strongly connected component iff both reach(u,v) and reach(v,u). The
    transitive closure is a recursive CTE — tractable here because the
    transcript digraph's closure is SMALL by construction (turn chains
    are per-conversation DAGs of length ≈ conv length, tools are sinks,
    only the role vertices cycle): ~180k pairs at sf0.01, 2.5s in
    DuckDB. The engine (algos/scc.py trim+coloring) labels by max vid,
    this twin by min string key — the size histogram is assignment-free
    so the two agree exactly."""
    return ("WITH RECURSIVE " + SQL_TEDGES + """,
de AS (SELECT DISTINCT src, dst FROM tedges WHERE src <> dst),
verts AS (SELECT src AS v FROM de UNION SELECT dst FROM de),
reach(src, dst) AS (
  SELECT src, dst FROM de
  UNION
  SELECT r.src, e.dst FROM reach r JOIN de e ON r.dst = e.src
),
mutual AS (
  SELECT a.src AS u, a.dst AS v
  FROM reach a JOIN reach b ON b.src = a.dst AND b.dst = a.src
),
lbl AS (
  SELECT vt.v, least(vt.v, COALESCE(MIN(m.v), vt.v)) AS l
  FROM verts vt LEFT JOIN mutual m ON m.u = vt.v
  GROUP BY vt.v
)
SELECT CAST(size AS BIGINT) AS size, COUNT(*) AS n_components
FROM (SELECT l, COUNT(*) AS size FROM lbl GROUP BY l)
GROUP BY size""")


def _modularity_sql(rounds: int = 24) -> str:
    """Newman modularity of the connected-component partition. Q is a
    pure function of the partition (label values cancel), so the
    engine's min-vid labels and this twin's min-string labels (same
    unrolled CC chain as _cc_sql) score identically."""
    return _cc_sql(
        rounds,
        """SELECT ROUND(SUM(COALESCE(i.ec, 0) / mm.m
                 - (ds.dc / (2 * mm.m)) * (ds.dc / (2 * mm.m))), 6)
         AS modularity_r6,
       CAST(mm.m AS BIGINT) AS m
FROM dsum ds LEFT JOIN intra i ON ds.lbl = i.lbl CROSS JOIN mm
GROUP BY mm.m""",
        [
            "und AS (SELECT u AS x, v AS y FROM sym WHERE u < v)",
            "deg AS (SELECT u AS v, COUNT(*) AS d FROM sym GROUP BY u)",
            f"""dsum AS (
  SELECT l.lbl, SUM(d.d) AS dc
  FROM deg d JOIN l{rounds} l ON d.v = l.v GROUP BY l.lbl
)""",
            f"""intra AS (
  SELECT lx.lbl, COUNT(*) AS ec
  FROM und u
  JOIN l{rounds} lx ON u.x = lx.v
  JOIN l{rounds} ly ON u.y = ly.v
  WHERE lx.lbl = ly.lbl
  GROUP BY lx.lbl
)""",
            "mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM und)",
        ],
    )


def _conductance_sql(rounds: int = 24) -> str:
    """Per-community conductance histogram over the CC partition.
    Labels differ between engines (min-vid vs min-string), so the
    comparable output is the (size, φ) histogram — partition-invariant
    like the CC size histogram."""
    return _cc_sql(
        rounds,
        """SELECT v.size, ROUND(CASE WHEN LEAST(v.vol, tv.t - v.vol) > 0
                          THEN COALESCE(c.cut, 0) / LEAST(v.vol, tv.t - v.vol)
                          ELSE 0.0 END, 6) AS phi_r6,
       COUNT(*) AS n
FROM vol v LEFT JOIN cut c ON v.lbl = c.lbl CROSS JOIN tv
GROUP BY 1, 2""",
        [
            "und2 AS (SELECT u AS x, v AS y FROM sym WHERE u < v)",
            "deg AS (SELECT u AS v, COUNT(*) AS d FROM sym GROUP BY u)",
            f"""vol AS (
  SELECT l.lbl, SUM(d.d) AS vol, COUNT(*) AS size
  FROM deg d JOIN l{rounds} l ON d.v = l.v GROUP BY l.lbl
)""",
            f"""crossed AS (
  SELECT lx.lbl AS la, ly.lbl AS lb
  FROM und2 u
  JOIN l{rounds} lx ON u.x = lx.v
  JOIN l{rounds} ly ON u.y = ly.v
  WHERE lx.lbl <> ly.lbl
)""",
            """cut AS (
  SELECT lbl, COUNT(*) AS cut FROM (
    SELECT la AS lbl FROM crossed UNION ALL SELECT lb FROM crossed
  ) GROUP BY lbl
)""",
            "tv AS (SELECT 2.0 * COUNT(*) AS t FROM und2)",
        ],
    )


def _lpa_sql(rounds: int = 2) -> str:
    """Synchronous LPA unrolled to exactly ``rounds`` supersteps: each
    vertex adopts the most frequent neighbour label, ties broken by
    minimum label — the exact relational twin of algos/labelprop.py
    (string labels on both sides, so tie-break order is directly
    comparable). Output: label community size histogram."""

    def round_fn(r: int) -> str:
        return f"""md{r} AS (
  SELECT s.v AS v, l.lbl, COUNT(*) AS c
  FROM sym s JOIN l{r} l ON l.v = s.u
  GROUP BY s.v, l.lbl
),
pk{r} AS (
  SELECT v, lbl FROM (
    SELECT v, lbl,
           ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
    FROM md{r}
  ) WHERE rn = 1
),
l{r + 1} AS (
  SELECT l.v, COALESCE(p.lbl, l.lbl) AS lbl
  FROM l{r} l LEFT JOIN pk{r} p ON p.v = l.v
)"""

    return _unroll(
        [SQL_TEDGES, _sym(w="v"),
         "verts AS (SELECT DISTINCT u AS v FROM sym)",
         "l0 AS (SELECT v, v AS lbl FROM verts)"],
        round_fn,
        rounds,
        f"""SELECT CAST(size AS BIGINT) AS size, COUNT(*) AS n_labels
FROM (SELECT lbl, COUNT(*) AS size FROM l{rounds} GROUP BY lbl)
GROUP BY size""",
    )


def _harmonic_sql(max_hops: int, final: str = "") -> str:
    """Landmark harmonic centrality twin: per-(landmark, vertex) min-hop
    relaxation unrolled ``max_hops`` rounds (exact for hop-capped
    distances, like _bfs_sql), then Σ 1/d over d>0. ``final`` swaps the
    aggregate over ``d{max_hops}(l, v, hops)`` — _closeness_sql."""

    def round_fn(i: int) -> str:
        return f"""d{i + 1} AS (
  SELECT l, v, MIN(hops) AS hops FROM (
    SELECT l, v, hops FROM d{i}
    UNION ALL
    SELECT d.l, s.w AS v, d.hops + 1 AS hops
    FROM sym s JOIN d{i} d ON s.u = d.v
  ) GROUP BY l, v
)"""

    return _unroll(
        [SQL_TEDGES, _verts(), _sym(),
         "d0 AS (SELECT v AS l, v, 0 AS hops FROM verts WHERE v LIKE 'tool#%')"],
        round_fn,
        max_hops,
        final or f"""SELECT v, ROUND(SUM(1.0 / hops), 6) AS harmonic_r6
FROM d{max_hops} WHERE hops > 0 GROUP BY v""",
    )


def _closeness_sql(max_hops: int) -> str:
    """Landmark closeness twin: the same unrolled per-(landmark, vertex)
    relaxation as _harmonic_sql, with the final aggregate swapped for
    reached / Σd (reciprocal mean distance to reached landmarks)."""
    return _harmonic_sql(
        max_hops,
        f"""SELECT v, ROUND(COUNT(*) * 1.0 / SUM(hops), 6) AS closeness_r6,
       COUNT(*) AS reached
FROM d{max_hops} WHERE hops > 0 GROUP BY v""",
    )


def _dedup_cluster_sql(rounds: int = 6) -> str:
    """Twin of q_dedup_cluster_keep: the ngram_jaccard pair set at ≥0.5,
    then ``rounds`` unrolled _cc_round rounds (covers component diameter
    2^rounds — near-dup families are near-cliques, so 6 is generous),
    then keep = (doc_id == min id of component)."""
    return _unroll(
        [
            rf"""t AS (
  SELECT doc_id, regexp_split_to_array({SQL_NORM}, '\s+') AS tk
  FROM documents
)""",
            """sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(tk) >= 3
                THEN [array_to_string(tk[i:i+2], ' ')
                      for i in generate_series(1, len(tk) - 2)]
                ELSE [array_to_string(tk, ' ')] END
         ) AS shingles
  FROM t
)""",
            """pairs AS (
  SELECT a, b FROM (
    SELECT a.doc_id AS a, b.doc_id AS b,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(a.shingles || b.shingles)), 6) AS j
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  ) WHERE j >= 0.5
)""",
            """sym AS (
  SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b AS u, a AS v FROM pairs
)""",
            "l0 AS (SELECT doc_id AS v, doc_id AS lbl FROM t)",
        ],
        _cc_round("sym"),
        rounds,
        f"SELECT v AS doc_id, lbl AS cluster_id, v = lbl AS keep FROM l{rounds}",
    )


def _kcore_sql(k: int, rounds: int) -> str:
    """Synchronous k-core peeling unrolled to ``rounds`` removal rounds —
    the exact relational twin of algos/kcore.py (per round: degrees over
    the surviving symmetric pair set, drop vertices with deg < k, keep
    pairs whose BOTH endpoints survive). Peeling past the fixpoint is the
    identity, so ``rounds`` unrolled rounds reproduce an engine run that
    converged at any depth ≤ rounds (the engine asserts convergence; the
    sf0.01 transcript graph peels in 18 rounds at k=2 — rounds=28 leaves
    margin). Output: (v, deg) for every core vertex with its in-core
    degree."""

    def round_fn(r: int) -> str:
        return f"""keep{r} AS (
  SELECT u FROM s{r} GROUP BY u HAVING COUNT(*) >= {k}
),
s{r + 1} AS (
  SELECT s.u, s.w FROM s{r} s
  JOIN keep{r} a ON s.u = a.u JOIN keep{r} b ON s.w = b.u
)"""

    return _unroll(
        [SQL_TEDGES, _sym("s0")],
        round_fn,
        rounds,
        f"""SELECT u AS v, CAST(COUNT(*) AS BIGINT) AS deg
FROM s{rounds} GROUP BY u""",
    )


def _truss_sql(k: int, rounds: int) -> str:
    """Synchronous k-truss peeling unrolled to ``rounds`` rounds — the
    relational twin of algos/truss.py (per round: triangles enumerated
    over the canonical surviving pair set, each crediting its 3 edges;
    keep edges with support ≥ k-2). Peeling past the fixpoint is the
    identity, so ``rounds`` unrolled rounds reproduce any engine run
    that converged at depth ≤ rounds (sf0.01 peels in 2 rounds at k=3;
    rounds=8 leaves margin, and tests/test_truss.py pins depth ≤ 8)."""

    def round_fn(r: int) -> str:
        return f"""tri{r} AS (
  SELECT a.x AS v1, a.y AS v2, b.y AS v3
  FROM s{r} a JOIN s{r} b ON a.y = b.x
  JOIN s{r} c ON a.x = c.x AND b.y = c.y
),
sup{r} AS (
  SELECT x, y, COUNT(*) AS sup FROM (
    SELECT v1 AS x, v2 AS y FROM tri{r}
    UNION ALL SELECT v2, v3 FROM tri{r}
    UNION ALL SELECT v1, v3 FROM tri{r}
  ) GROUP BY x, y
),
s{r + 1} AS (
  SELECT s.x, s.y FROM s{r} s
  JOIN sup{r} p ON s.x = p.x AND s.y = p.y AND p.sup >= {k - 2}
)"""

    return _unroll(
        [SQL_TEDGES, _und("s0")], round_fn, rounds, f"SELECT x, y FROM s{rounds}"
    )


def _katz_sql(
    iters: int,
    alpha: float,
    beta: float = 1.0,
    x0: float = 1.0,
    out_col: str = "katz_n6",
) -> str:
    """Katz-family iteration twin: x₀ = ``x0``·1, x ← β + α·Aᵀx over the
    multigraph, unrolled ``iters`` supersteps, L1-normalized ×n at the
    end (see algos/katz.py on why normalized output is the scale-safe
    form). β=0, α=1 is the eigenvector-centrality power method."""

    def round_fn(i: int) -> str:
        return f"""a{i} AS (
  SELECT e.dst AS v, SUM(k.s) AS m
  FROM tedges e JOIN k{i} k ON e.src = k.v GROUP BY e.dst
),
k{i + 1} AS (
  SELECT verts.v, {beta} + {alpha} * COALESCE(m, 0) AS s
  FROM verts LEFT JOIN a{i} ON verts.v = a{i}.v
)"""

    return _unroll(
        [SQL_TEDGES, _verts(), f"k0 AS (SELECT v, {x0} AS s FROM verts)"],
        round_fn,
        iters,
        f"""SELECT v, ROUND(s * (SELECT COUNT(*) FROM verts) / (SELECT SUM(s) FROM k{iters}),
                6) AS {out_col}
FROM k{iters}""",
    )


def _louvain_round(p: str, r: int) -> str:
    """One synchronous local-move round on the level-``p`` tables
    ``{p}sym``/``{p}deg``/``{p}twom``: ``{p}lab{r}`` → ``{p}lab{r+1}``.
    Direction-alternating moves (even round → smaller community labels
    only, odd → larger; filter before argmax, so single-round label
    swaps are impossible), exact-LONG aggregates, double gain scores
    with the identical expression shape (IEEE ops on identical operands
    are bit-equal across engines), smallest-community tie break, strict
    improvement. Contracted levels replay the identical rules."""
    lab, sym, deg = f"{p}lab", f"{p}sym", f"{p}deg"
    return f"""{p}tot{r} AS (
  SELECT c, SUM(k)::BIGINT AS tot FROM {lab}{r} JOIN {deg} USING (v) GROUP BY c
),
{p}cand{r} AS (
  SELECT v, c, SUM(kvc)::BIGINT AS kvc FROM (
    SELECT s.u AS v, l.c AS c, s.wt AS kvc
    FROM {sym} s JOIN {lab}{r} l ON s.w = l.v
    UNION ALL SELECT v, c, 0 FROM {lab}{r}
  ) GROUP BY v, c
),
{p}sc{r} AS (
  SELECT cd.v, cd.c, l.c AS cv,
         CAST(kvc AS DOUBLE)
           - CAST({deg}.k AS DOUBLE)
             * CAST(tot - CASE WHEN cd.c = l.c THEN {deg}.k ELSE 0 END AS DOUBLE)
             / (SELECT m2 FROM {p}twom) AS score
  FROM {p}cand{r} cd
  JOIN {p}tot{r} t ON cd.c = t.c
  JOIN {lab}{r} l ON cd.v = l.v
  JOIN {deg} ON cd.v = {deg}.v
),
{p}rk{r} AS (
  SELECT v, c, cv, score,
         ROW_NUMBER() OVER (PARTITION BY v ORDER BY score DESC, c ASC) AS rn
  FROM {p}sc{r} WHERE c = cv OR c {"<" if r % 2 == 0 else ">"} cv
),
{lab}{r + 1} AS (
  SELECT b.v,
         CASE WHEN b.score > s.score THEN b.c ELSE b.cv END AS c
  FROM (SELECT * FROM {p}rk{r} WHERE rn = 1) b
  JOIN (SELECT v, score FROM {p}sc{r} WHERE c = cv) s USING (v)
)"""


def _louvain_sql(rounds: int, levels: int = 1) -> str:
    """Synchronous Louvain twin (algos/louvain.py with
    ``rounds_per_level=rounds, max_levels=levels``) on the undirected
    simple closure: each level runs ``rounds`` _louvain_round moves,
    then contracts — communities become vertices, inter-community
    weights sum, intra weight halves into a self-loop that enters k (and
    so Σtot/2m) but never k_{v,C}, exactly the engine's convention. The
    engine's early level-break (a 0-move level) is twin-safe:
    contracting an unmoved level yields an isomorphic graph on the same
    labels, so the extra simulated levels are the identity. Output:
    final community size histogram (``levels=1``: the level-1 one)."""

    def level(lv: int) -> str:
        p, q = f"L{lv}", f"L{lv + 1}"
        moves = [_louvain_round(p, r) for r in range(rounds)]
        if lv == levels - 1:
            return ",\n".join(moves)
        prev_self = (
            f"""
  UNION ALL SELECT l.c AS v, sw FROM {p}selfw s
  JOIN {p}lab{rounds} l ON s.v = l.v"""
            if lv > 0
            else ""
        )
        return ",\n".join(moves + [f"""{q}sym AS (
  SELECT lu.c AS u, lw.c AS w, SUM(s.wt)::BIGINT AS wt
  FROM {p}sym s
  JOIN {p}lab{rounds} lu ON s.u = lu.v
  JOIN {p}lab{rounds} lw ON s.w = lw.v
  WHERE lu.c <> lw.c GROUP BY 1, 2
),
{q}selfw AS (
  SELECT v, SUM(sw)::BIGINT AS sw FROM (
    SELECT lu.c AS v, (SUM(s.wt) // 2)::BIGINT AS sw
    FROM {p}sym s
    JOIN {p}lab{rounds} lu ON s.u = lu.v
    JOIN {p}lab{rounds} lw ON s.w = lw.v
    WHERE lu.c = lw.c GROUP BY lu.c{prev_self}
  ) GROUP BY v
),
{q}deg AS (
  SELECT COALESCE(d.v, s2.v) AS v,
         (COALESCE(d.k, 0) + 2 * COALESCE(s2.sw, 0))::BIGINT AS k
  FROM (SELECT u AS v, SUM(wt)::BIGINT AS k FROM {q}sym GROUP BY u) d
  FULL JOIN {q}selfw s2 ON d.v = s2.v
),
{q}twom AS (SELECT CAST(SUM(k) AS DOUBLE) AS m2 FROM {q}deg),
{q}lab0 AS (SELECT v, v AS c FROM {q}deg)"""])

    final = f"(SELECT v, c FROM L0lab{rounds})"
    for lv in range(1, levels):
        final = (
            f"(SELECT f.v, l.c FROM {final} f "
            f"JOIN L{lv}lab{rounds} l ON f.c = l.v)"
        )
    return _unroll(
        [
            SQL_TEDGES,
            _und(),
            """L0sym AS (
  SELECT x AS u, y AS w, 1::BIGINT AS wt FROM und
  UNION ALL SELECT y, x, 1::BIGINT FROM und
)""",
            "L0deg AS (SELECT u AS v, SUM(wt)::BIGINT AS k FROM L0sym GROUP BY u)",
            "L0twom AS (SELECT CAST(SUM(k) AS DOUBLE) AS m2 FROM L0deg)",
            "L0lab0 AS (SELECT v, v AS c FROM L0deg)",
        ],
        level,
        levels,
        f"""SELECT size, COUNT(*)::BIGINT AS n_communities FROM (
  SELECT c, COUNT(*)::BIGINT AS size FROM {final} f2 GROUP BY c)
GROUP BY size""",
    )


def _mis_sql(rounds: int) -> str:
    """Deterministic-Luby MIS twin (algos/mis.py): fixed md5 priorities,
    unrolled ``rounds`` rounds over the shrinking live vertex + pair
    sets. Past the fixpoint every round is the identity (empty live set
    wins nothing), so ``rounds`` ≥ the engine's convergence depth
    reproduces the exact membership; leftover live{{R}} vertices (none,
    once converged) are unioned in to mirror the engine's edge-free
    final sweep."""

    def round_fn(r: int) -> str:
        return f"""nm{r} AS (SELECT u, MIN(md5(w)) AS mn FROM s{r} GROUP BY u),
win{r} AS (
  SELECT l.v FROM live{r} l LEFT JOIN nm{r} ON l.v = nm{r}.u
  WHERE mn IS NULL OR md5(l.v) < mn
),
live{r + 1} AS (
  SELECT v FROM live{r}
  WHERE v NOT IN (SELECT v FROM win{r})
    AND v NOT IN (SELECT DISTINCT s.w FROM s{r} s JOIN win{r} x ON s.u = x.v)
),
s{r + 1} AS (
  SELECT s.u, s.w FROM s{r} s
  JOIN live{r + 1} a ON s.u = a.v JOIN live{r + 1} b ON s.w = b.v
)"""

    return _unroll(
        [SQL_TEDGES, _sym("s0"), _verts("live0")],
        round_fn,
        rounds,
        "SELECT v FROM ("
        + " UNION ALL ".join(
            [f"SELECT v FROM win{r}" for r in range(rounds)]
            + [f"SELECT v FROM live{rounds}"]
        )
        + ")",
    )


def _md5_pairs(name: str) -> str:
    """The canonical pair set ``und`` with each pair's fixed md5 priority
    (ties broken by the pair key itself), as algos/matching.py and
    algos/msf.py rank edges."""
    return f"""{name} AS (
  SELECT x, y, md5(x || '#' || y) || '|' || x || '#' || y AS pri FROM und
)"""


def _matching_sql(rounds: int) -> str:
    """Locally-minimal-edge maximal-matching twin (algos/matching.py):
    fixed md5 edge priorities, unrolled ``rounds`` rounds over the
    shrinking live pair set. Past the fixpoint every round is the
    identity (an empty pair set wins nothing), so ``rounds`` ≥ the
    engine's convergence depth (4 at sf0.01, 8 leaves margin)
    reproduces the exact matched-edge set AND each edge's round."""

    def round_fn(r: int) -> str:
        return f"""vm{r} AS (
  SELECT u, MIN(pri) AS mn FROM (
    SELECT x AS u, pri FROM p{r} UNION ALL SELECT y, pri FROM p{r})
  GROUP BY u
),
win{r} AS (
  SELECT p.x, p.y FROM p{r} p
  JOIN vm{r} a ON p.x = a.u AND p.pri = a.mn
  JOIN vm{r} b ON p.y = b.u AND p.pri = b.mn
),
p{r + 1} AS (
  SELECT p.x, p.y, p.pri FROM p{r} p
  WHERE p.x NOT IN (SELECT x FROM win{r} UNION ALL SELECT y FROM win{r})
    AND p.y NOT IN (SELECT x FROM win{r} UNION ALL SELECT y FROM win{r})
)"""

    return _unroll(
        [SQL_TEDGES, _und(), _md5_pairs("p0")],
        round_fn,
        rounds,
        "SELECT x, y, round FROM ("
        + " UNION ALL ".join(
            f"SELECT x, y, CAST({r} AS INT) AS round FROM win{r}"
            for r in range(rounds)
        )
        + ")",
    )


def _coloring_sql(rounds: int) -> str:
    """Jones-Plassmann greedy-coloring twin (algos/coloring.py): fixed
    md5 priorities, frontier = live vertices with no higher-priority
    live neighbour, colour = mex over coloured-neighbour colours.
    Unrolled ``rounds`` rounds; past the fixpoint every round is the
    identity (empty frontier), so ``rounds`` ≥ the engine's convergence
    depth reproduces the exact assignment. Emits (v, color)."""

    def round_fn(r: int) -> str:
        return f"""lmax{r} AS (
  SELECT s.u, MAX(md5(s.w)) AS mx FROM sym s
  LEFT JOIN colored{r} c ON s.w = c.v WHERE c.v IS NULL GROUP BY s.u
),
frontier{r} AS (
  SELECT l.v FROM live{r} l LEFT JOIN lmax{r} m ON l.v = m.u
  WHERE m.mx IS NULL OR md5(l.v) > m.mx
),
used{r} AS (
  SELECT DISTINCT f.v, c.color FROM frontier{r} f
  JOIN sym s ON s.u = f.v JOIN colored{r} c ON s.w = c.v
),
fired{r} AS (
  SELECT t.v, MIN(t.cand) AS color FROM (
    SELECT n.v, UNNEST(range(0, n.n + 1)) AS cand FROM (
      SELECT f.v, COUNT(u.color) AS n FROM frontier{r} f
      LEFT JOIN used{r} u USING (v) GROUP BY f.v) n
  ) t
  LEFT JOIN used{r} u ON u.v = t.v AND u.color = t.cand
  WHERE u.v IS NULL GROUP BY t.v
),
colored{r + 1} AS (
  SELECT v, color FROM colored{r} UNION ALL SELECT v, color FROM fired{r}
),
live{r + 1} AS (
  SELECT v FROM live{r} WHERE v NOT IN (SELECT v FROM frontier{r})
)"""

    return _unroll(
        [SQL_TEDGES, _sym(), _verts("live0"),
         "colored0 AS (SELECT v, 0 AS color FROM live0 WHERE FALSE)"],
        round_fn,
        rounds,
        f"SELECT v, CAST(color AS BIGINT) AS color FROM colored{rounds}",
    )


def _corenum_sql(rounds: int) -> str:
    """H-index core-number twin (algos/corenum.py): h₀ = degree, then
    h ← H(neighbour h values) via the identical histogram + running-
    count shape. Monotone non-increasing, so ``rounds`` ≥ the engine's
    convergence depth reproduces the exact coreness (extra rounds are
    the identity). Emits (v, coreness); isolated/self-loop-only
    vertices get 0."""

    def round_fn(r: int) -> str:
        return f"""h{r + 1} AS (
  SELECT v, MAX(LEAST(hw, ge))::BIGINT AS h FROM (
    SELECT v, hw, SUM(cnt) OVER (
      PARTITION BY v ORDER BY hw DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ge
    FROM (
      SELECT s.u AS v, hh.h AS hw, COUNT(*)::BIGINT AS cnt
      FROM sym s JOIN h{r} hh ON s.w = hh.v GROUP BY s.u, hh.h)
  ) GROUP BY v
)"""

    return _unroll(
        [SQL_TEDGES, _sym(), _verts(),
         "h0 AS (SELECT u AS v, COUNT(*)::BIGINT AS h FROM sym GROUP BY u)"],
        round_fn,
        rounds,
        f"""SELECT t.v, COALESCE(h.h, 0)::BIGINT AS coreness
FROM verts t LEFT JOIN h{rounds} h ON t.v = h.v""",
    )


def _kahn_sql(rounds: int) -> str:
    """Bounded Kahn-peel twin (algos/toposort.py): per round peel every
    zero-in-degree vertex of the live simple digraph (self-loops kept —
    they ARE cycles), layer = peel round, leftover v{R} vertices emit
    layer −1 ("not peeled within R rounds": cyclic or deeper than the
    bound) — mirroring ``kahn_peel(max_rounds=R)`` round-for-round.
    Past a stall every round is the identity (nothing peels), so the
    twin also matches fixpoint runs whose depth ≤ ``rounds``."""

    def round_fn(r: int) -> str:
        return f"""p{r} AS (
  SELECT v FROM v{r} WHERE v NOT IN (SELECT dst FROM d{r})
),
v{r + 1} AS (
  SELECT v FROM v{r} WHERE v NOT IN (SELECT v FROM p{r})
),
d{r + 1} AS (
  SELECT d.src, d.dst FROM d{r} d JOIN v{r + 1} s ON d.src = s.v
)"""

    return _unroll(
        [SQL_TEDGES, "d0 AS (SELECT DISTINCT src, dst FROM tedges)",
         _verts("v0")],
        round_fn,
        rounds,
        "\nUNION ALL\n".join(
            [f"SELECT v, CAST({r} AS BIGINT) AS layer FROM p{r}"
             for r in range(rounds)]
            + [f"SELECT v, CAST(-1 AS BIGINT) AS layer FROM v{rounds}"]
        ),
    )


def _msf_sql(rounds: int, jumps: int) -> str:
    """Deterministic-Borůvka MSF twin (algos/msf.py, md5 priorities):
    per round every live component's min-priority cross edge joins the
    forest, parent pointers are 2-cycle-broken at the smaller label and
    pointer-jumped ``jumps`` times (reach 2^jumps ≥ any md5-weight merge
    depth — the engine verifies ITS flatten and flags otherwise), labels
    re-root, repeat. Components at least halve per round, so ``rounds``
    ≥ ⌈log₂ V⌉ replays the full run; past the fixpoint every round is
    the identity (no cross edges → empty pick set)."""

    def round_fn(r: int) -> str:
        jump_chain = [
            f"""j{r}_{i + 1} AS (
  SELECT a.c, b.r FROM j{r}_{i} a JOIN j{r}_{i} b ON a.r = b.c
)"""
            for i in range(jumps)
        ]
        return ",\n".join([f"""cand{r} AS (
  SELECT lx.lbl AS cx, ly.lbl AS cy, p.pri, p.x, p.y
  FROM pr p JOIN lab{r} lx ON p.x = lx.v JOIN lab{r} ly ON p.y = ly.v
  WHERE lx.lbl <> ly.lbl
),
sym{r} AS (
  SELECT cx AS c, cy AS o, pri, x, y FROM cand{r}
  UNION ALL SELECT cy, cx, pri, x, y FROM cand{r}
),
mn{r} AS (SELECT c, MIN(pri) AS mp FROM sym{r} GROUP BY c),
me{r} AS (
  SELECT s.c, s.o, s.x, s.y FROM sym{r} s
  JOIN mn{r} m ON s.c = m.c AND s.pri = m.mp
),
ch{r} AS (SELECT DISTINCT x, y FROM me{r}),
j{r}_0 AS (
  SELECT a.c, CASE WHEN b.o = a.c AND a.c < a.o THEN a.c ELSE a.o END AS r
  FROM me{r} a JOIN me{r} b ON a.o = b.c
)""", *jump_chain, f"""lab{r + 1} AS (
  SELECT l.v, COALESCE(j.r, l.lbl) AS lbl
  FROM lab{r} l LEFT JOIN j{r}_{jumps} j ON l.lbl = j.c
)"""])

    return _unroll(
        [SQL_TEDGES, _und(), _md5_pairs("pr"),
         "lab0 AS (SELECT v, v AS lbl FROM (SELECT x AS v FROM pr UNION SELECT y FROM pr))"],
        round_fn,
        rounds,
        "\nUNION ALL\n".join(
            f"SELECT x, y, CAST({r} AS BIGINT) AS round FROM ch{r}"
            for r in range(rounds)
        ),
    )


def _densest_sql(rounds: int, factor: str = "3.0") -> str:
    """Bahmani threshold-peeling twin (algos/densest.py, ε=0.5 →
    factor 3.0): per round drop every vertex with degree ≤ factor·ρ of
    the surviving closure, record ρ = |E|/|V| per round, return the
    vertex set of the densest round (ties → earliest). The threshold
    double is ``factor * ((sym_count / 2.0) / v_count)`` — the exact
    IEEE operation order the engine uses, so the comparisons agree
    bit-for-bit. Past extinction every round is empty (NULL density,
    excluded from the argmax), so ``rounds`` ≥ the engine's depth
    replays the full run."""

    def round_fn(r: int) -> str:
        return f"""l{r + 1} AS (
  SELECT l.v FROM l{r} l LEFT JOIN s{r} s ON s.u = l.v
  GROUP BY l.v
  HAVING COUNT(s.w) > {factor} * (
    CAST((SELECT COUNT(*) FROM s{r}) AS DOUBLE) / 2.0
    / (SELECT COUNT(*) FROM l{r}))
),
s{r + 1} AS (
  SELECT s.u, s.w FROM s{r} s
  JOIN l{r + 1} a ON s.u = a.v JOIN l{r + 1} b ON s.w = b.v
)"""

    dens_rows = "\n  UNION ALL\n".join(
        f"""  SELECT {r} AS round,
    CAST((SELECT COUNT(*) FROM s{r}) AS DOUBLE) / 2.0
    / NULLIF((SELECT COUNT(*) FROM l{r}), 0) AS d"""
        for r in range(rounds + 1)
    )
    all_rows = "\n  UNION ALL\n".join(
        f"  SELECT {r} AS round, v FROM l{r}" for r in range(rounds + 1)
    )
    return _unroll(
        [SQL_TEDGES, _sym("s0"), "l0 AS (SELECT DISTINCT u AS v FROM s0)"],
        round_fn,
        rounds,
        "SELECT v FROM allv WHERE round = (SELECT round FROM best)",
        [
            f"dens AS (\n{dens_rows}\n)",
            """best AS (
  SELECT round FROM dens WHERE d IS NOT NULL
  ORDER BY d DESC, round ASC LIMIT 1
)""",
            f"allv AS (\n{all_rows}\n)",
        ],
    )


def _temporal_reach_sql(hops: int) -> str:
    """Earliest-arrival temporal reachability twin
    (algos/temporal_reach.py): timestamped string edges (t = µs of the
    current turn), sources = conversation-start turns at their own ts,
    ``hops`` unrolled (state ∪ usable-messages) min-rounds — all int64
    µs, no doubles. Past the fixpoint rounds are the identity, so
    ``hops`` ≥ the engine's early-stop depth replays the run."""

    def round_fn(r: int) -> str:
        return f"""ea{r + 1} AS (
  SELECT v, MIN(ea) AS ea FROM (
    SELECT v, ea FROM ea{r}
    UNION ALL
    SELECT e.dst AS v, e.t AS ea FROM te e
    JOIN ea{r} a ON e.src = a.v WHERE e.t >= a.ea
  ) GROUP BY v
)"""

    return _unroll(
        [
            SQL_TURNS,
            """tch AS (
  SELECT conv_id, turn_idx, role, tool, epoch_us(ts) AS t,
         LAG(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_turn,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM turns
)""",
            """te AS (
  SELECT 'turn#' || conv_id || '#' || CAST(prev_turn AS VARCHAR) AS src,
         'turn#' || conv_id || '#' || CAST(turn_idx AS VARCHAR) AS dst, t
  FROM tch WHERE prev_turn IS NOT NULL
  UNION ALL
  SELECT 'role#' || prev_role, 'role#' || role, t
  FROM tch WHERE prev_role IS NOT NULL
  UNION ALL
  SELECT 'turn#' || conv_id || '#' || CAST(turn_idx AS VARCHAR),
         'tool#' || tool, t
  FROM tch WHERE tool IS NOT NULL
)""",
            """ea0 AS (
  SELECT 'turn#' || conv_id || '#0' AS v, MIN(epoch_us(ts)) AS ea
  FROM turns WHERE turn_idx = 0 GROUP BY 1
)""",
        ],
        round_fn,
        hops,
        f"SELECT v, CAST(ea AS BIGINT) AS ea_us FROM ea{hops}",
    )


def _wl_sql(rounds: int) -> str:
    """1-WL color-refinement twin (algos/wl.py): color₀ = md5 of the
    (out, in)-degree pair, each round re-hashes the own color with the
    (Σ md5-prefix-hash, count) summaries of the out- and in-neighbour
    color multisets — byte-identical strings both engines."""
    hx = "('0x' || substr(md5(c.color), 1, 8))::UBIGINT"

    def round_fn(r: int) -> str:
        return f"""om{r} AS (
  SELECT d.src AS v, SUM({hx}) AS os, COUNT(*) AS oc
  FROM d JOIN c{r} c ON d.dst = c.v GROUP BY 1
),
im{r} AS (
  SELECT d.dst AS v, SUM({hx}) AS isum, COUNT(*) AS ic
  FROM d JOIN c{r} c ON d.src = c.v GROUP BY 1
),
c{r + 1} AS (
  SELECT c.v,
         md5(c.color || '|' ||
             CAST(COALESCE(om{r}.os, 0) AS VARCHAR) || '|' ||
             CAST(COALESCE(om{r}.oc, 0) AS VARCHAR) || '|' ||
             CAST(COALESCE(im{r}.isum, 0) AS VARCHAR) || '|' ||
             CAST(COALESCE(im{r}.ic, 0) AS VARCHAR)) AS color
  FROM c{r} c
  LEFT JOIN om{r} ON c.v = om{r}.v
  LEFT JOIN im{r} ON c.v = im{r}.v
)"""

    return _unroll(
        [
            SQL_TEDGES,
            "d AS (SELECT DISTINCT src, dst FROM tedges)",
            _verts(),
            """c0 AS (
  SELECT verts.v,
         md5(CAST(COALESCE(o.od, 0) AS VARCHAR) || '|' ||
             CAST(COALESCE(i.ind, 0) AS VARCHAR)) AS color
  FROM verts
  LEFT JOIN (SELECT src AS v, COUNT(*) AS od FROM d GROUP BY 1) o
    ON verts.v = o.v
  LEFT JOIN (SELECT dst AS v, COUNT(*) AS ind FROM d GROUP BY 1) i
    ON verts.v = i.v
)""",
        ],
        round_fn,
        rounds,
        f"SELECT v, color FROM c{rounds}",
    )


def _dbscan_sql(rounds: int = 8, min_pts: int = 2) -> str:
    """DBSCAN twin (pipeline/clustering.py::dbscan_exact): exact cosine
    ≥ 0.4 pairs, core = degree ≥ min_pts, clusters via ``rounds``
    unrolled _cc_round rounds on the core subgraph (labels converge to
    the min id — the engine's CC convention), border = min core-neighbour
    cluster, rest noise."""
    return _unroll(
        [
            """pr AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]), 6) >= 0.4
)""",
            "sym AS (SELECT a AS u, b AS v FROM pr UNION ALL SELECT b, a FROM pr)",
            f"""core AS (
  SELECT u AS v FROM (SELECT u, COUNT(*) AS d FROM sym GROUP BY u)
  WHERE d >= {min_pts}
)""",
            """cp AS (
  SELECT pr.a, pr.b FROM pr
  JOIN core ca ON pr.a = ca.v JOIN core cb ON pr.b = cb.v
)""",
            "csym AS (SELECT a AS u, b AS v FROM cp UNION ALL SELECT b, a FROM cp)",
            "l0 AS (SELECT v, v AS lbl FROM core)",
        ],
        _cc_round("csym"),
        rounds,
        """SELECT e.vec_id,
       CASE WHEN c.v IS NOT NULL THEN 'core'
            WHEN b.v IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(COALESCE(c.cluster_id, b.cluster_id) AS BIGINT) AS cluster_id
FROM embeddings e
LEFT JOIN clusters c ON e.vec_id = c.v
LEFT JOIN border b ON e.vec_id = b.v""",
        [
            f"clusters AS (SELECT v, lbl AS cluster_id FROM l{rounds})",
            """border AS (
  SELECT s.u AS v, MIN(cl.cluster_id) AS cluster_id
  FROM sym s JOIN clusters cl ON s.v = cl.v
  WHERE s.u NOT IN (SELECT v FROM core)
  GROUP BY s.u
)""",
        ],
    )


def _fold(n: int, expr: str) -> str:
    """Σ_{j=1..n} expr as a DuckDB ``list_reduce`` — an exact left fold,
    bit-identical to Spark's ``F.aggregate`` with 0.0 init."""
    return (
        f"list_reduce(list_transform(range(1, {n + 1}), j -> {expr}), "
        "(p, q) -> p + q)"
    )


def _d2(n: int, a: str, b: str) -> str:
    """Squared euclidean distance of two n-vectors as a _fold."""
    return _fold(n, f"({a}[j]-{b}[j])*({a}[j]-{b}[j])")


def _kmeans_sql(
    k: int,
    iters: int,
    dim: int,
    final: str = "SELECT vid AS vec_id, cid AS cluster, ROUND(d2r, 4) AS d2_r4 FROM fin",
    tail_ctes: Sequence[str] = (),
) -> str:
    """k-means twin (pipeline/clustering.py): deterministic farthest-point
    (maxmin) seeding unrolled seed-by-seed, then ``iters`` unrolled Lloyd
    iterations, then ``fin(vid, vec, cid, d2r)``, each vector's final
    cell. Argmin on (ROUND(d²,6), cid) shields the engine-specific fp
    order of the centroid means. ``final`` (and ``tail_ctes``) replace the
    cell-assignment SELECT — _ivf_sql."""

    def seed(i: int) -> str:
        froms = ", ".join(["e"] + [f"s{j}" for j in range(i)])
        mind = ", ".join(_d2(dim, "e.vec", f"s{j}.v{j}") for j in range(i))
        if i > 1:
            mind = f"LEAST({mind})"
        return f"""s{i} AS (
  SELECT e.vec AS v{i} FROM {froms}
  ORDER BY ROUND({mind}, 6) DESC, e.vid LIMIT 1
)"""

    cents = "\n  UNION ALL ".join(
        f"SELECT {i} AS cid, v{i} AS cvec FROM s{i}" for i in range(k)
    )

    def round_fn(i: int) -> str:
        return f"""a{i} AS (
  SELECT vid, vec, cid FROM (
    SELECT vid, vec, cid,
           ROW_NUMBER() OVER (PARTITION BY vid
                              ORDER BY ROUND({_d2(dim, 'vec', 'cvec')}, 6), cid) AS rn
    FROM e CROSS JOIN c{i})
  WHERE rn = 1
),
m{i} AS (
  SELECT cid, list(mx ORDER BY pos) AS cvec FROM (
    SELECT cid, pos, AVG(x) AS mx FROM (
      SELECT cid, unnest(vec) AS x, unnest(range(0, {dim})) AS pos FROM a{i})
    GROUP BY cid, pos)
  GROUP BY cid
),
c{i + 1} AS (
  SELECT c.cid, COALESCE(m.cvec, c.cvec) AS cvec
  FROM c{i} c LEFT JOIN m{i} m USING (cid)
)"""

    return _unroll(
        [
            """e AS (
  SELECT vec_id AS vid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
)""",
            "s0 AS (SELECT vec AS v0 FROM e ORDER BY md5(CAST(vid AS VARCHAR)) LIMIT 1)",
            *map(seed, range(1, k)),
            f"c0 AS (\n  {cents}\n)",
        ],
        round_fn,
        iters,
        final,
        [
            f"""fin AS (
  SELECT vid, vec, cid, d2r FROM (
    SELECT vid, vec, cid, ROUND({_d2(dim, 'vec', 'cvec')}, 6) AS d2r,
           ROW_NUMBER() OVER (PARTITION BY vid
                              ORDER BY ROUND({_d2(dim, 'vec', 'cvec')}, 6), cid) AS rn
    FROM e CROSS JOIN c{iters})
  WHERE rn = 1
)""",
            *tail_ctes,
        ],
    )


def _ivf_sql(
    k: int, iters: int, dim: int, nprobe: int, topk: int, max_qid: int
) -> str:
    """IVF top-k twin (pipeline/clustering.py): the _kmeans_sql cells as
    the inverted lists, ``nprobe`` nearest cells probed per query, exact
    cosine re-rank within them."""
    return _kmeans_sql(
        k,
        iters,
        dim,
        f"""SELECT query_id, CAST(rank AS INT) AS rank, match_id, cos_r6 FROM (
  SELECT query_id, cand_id AS match_id, cos_r6,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_r6 DESC, cand_id) AS rank
  FROM cand)
WHERE rank <= {topk}""",
        [
            f"""corpus AS (
  SELECT vid AS cand_id, vec AS cvecd, cid,
         sqrt({_fold(dim, 'vec[j]*vec[j]')}) AS cnorm
  FROM fin
)""",
            f"qs AS (SELECT vid AS query_id, vec AS qvec FROM e WHERE vid < {max_qid})",
            f"""probes AS (
  SELECT query_id, qvec, cid FROM (
    SELECT q.query_id, q.qvec, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY ROUND({_fold(dim, '(qvec[j]-cvec[j])*(qvec[j]-cvec[j])')}, 6),
                                       c.cid) AS rn
    FROM qs q CROSS JOIN c{iters} c)
  WHERE rn <= {nprobe}
)""",
            f"""cand AS (
  SELECT p.query_id, co.cand_id,
         ROUND({_fold(dim, 'qvec[j]*cvecd[j]')}
               / (sqrt({_fold(dim, 'qvec[j]*qvec[j]')}) * co.cnorm), 6) AS cos_r6
  FROM probes p JOIN corpus co USING (cid)
  WHERE co.cand_id <> p.query_id
)""",
        ],
    )


def _pq_sql(
    m: int, k: int, iters: int, dim: int, topk: int, max_qid: int
) -> str:
    """Product-quantization twin (pipeline/pq.py): the full pipeline —
    subvector explode, md5-order joint seeding, ``iters`` Lloyd rounds
    (argmin on (ROUND(d²,6), cid), empty cells keep their codeword),
    encode, ADC table join, top-k — unrolled. Means differ only in fp
    summation order; every comparison goes through the shared round-6
    argmin, so codes and the ranked output match exactly."""
    sub = dim // m

    def assign_cte(name: str, cents: str) -> str:
        return f"""{name} AS (
  SELECT vid, m, subvec, cid FROM (
    SELECT s.vid, s.m, s.subvec, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vid, s.m
                              ORDER BY ROUND({_d2(sub, 's.subvec', 'c.cvec')}, 6),
                                       c.cid) AS rn
    FROM sub s JOIN {cents} c USING (m)) WHERE rn = 1
)"""

    def round_fn(i: int) -> str:
        return assign_cte(f"a{i}", f"c{i}") + f""",
mm{i} AS (
  SELECT m, cid, list(mx ORDER BY pos) AS cvec FROM (
    SELECT a.m, a.cid, p.pos, AVG(a.subvec[p.pos]) AS mx
    FROM a{i} a CROSS JOIN (SELECT CAST(range AS INT) AS pos
                            FROM range(1, {sub + 1})) p
    GROUP BY a.m, a.cid, p.pos)
  GROUP BY m, cid
),
c{i + 1} AS (
  SELECT c.m, c.cid, COALESCE(mm.cvec, c.cvec) AS cvec
  FROM c{i} c LEFT JOIN mm{i} mm ON c.m = mm.m AND c.cid = mm.cid
)"""

    return _unroll(
        [
            """e AS (
  SELECT vec_id AS vid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
)""",
            f"""sub AS (
  SELECT vid, mm.m, vec[mm.m * {sub} + 1 : (mm.m + 1) * {sub}] AS subvec
  FROM e CROSS JOIN (SELECT CAST(range AS INT) AS m FROM range({m})) mm
)""",
            f"""c0 AS (
  SELECT m, CAST(rn - 1 AS INT) AS cid, subvec AS cvec FROM (
    SELECT m, subvec,
           ROW_NUMBER() OVER (PARTITION BY m
                              ORDER BY md5(CAST(vid AS VARCHAR)), vid) AS rn
    FROM sub) WHERE rn <= {k}
)""",
        ],
        round_fn,
        iters,
        f"""SELECT query_id, CAST(rank AS INT) AS rank, match_id, adc_r6 FROM (
  SELECT query_id, match_id, adc_r6,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_r6, match_id) AS rank
  FROM adc)
WHERE rank <= {topk}""",
        [
            assign_cte("codes", f"c{iters}"),
            f"qsub AS (SELECT vid AS query_id, m, subvec FROM sub WHERE vid < {max_qid})",
            f"""tbl AS (
  SELECT q.query_id, q.m, c.cid, {_d2(sub, 'q.subvec', 'c.cvec')} AS d2
  FROM qsub q JOIN c{iters} c USING (m)
)""",
            """adc AS (
  SELECT t.query_id, co.vid AS match_id, ROUND(SUM(t.d2), 6) AS adc_r6
  FROM codes co JOIN tbl t ON co.m = t.m AND co.cid = t.cid
  WHERE co.vid <> t.query_id
  GROUP BY t.query_id, co.vid
)""",
        ],
    )


def _bpe_round(r: int) -> str:
    """One BPE merge round: pair counts over w{r}, the (cnt DESC, l, r)
    argmax m{r}, and w{r+1} with that merge applied."""
    return f"""c{r} AS (
  SELECT l, r, SUM(freq) AS cnt FROM (
    SELECT freq,
           unnest(list_transform(range(1, len(sy)), i -> sy[i])) AS l,
           unnest(list_transform(range(1, len(sy)), i -> sy[i + 1])) AS r
    FROM (SELECT string_split(trim(s), '  ') AS sy, freq FROM w{r})
    WHERE len(sy) >= 2)
  GROUP BY l, r
),
m{r} AS (
  SELECT l, r, cnt FROM c{r} ORDER BY cnt DESC, l, r LIMIT 1
),
w{r + 1} AS (
  SELECT replace(s, ' ' || (SELECT l FROM m{r}) || '  '
                        || (SELECT r FROM m{r}) || ' ',
                    ' ' || (SELECT l FROM m{r})
                        || (SELECT r FROM m{r}) || ' ') AS s,
         freq
  FROM w{r}
)"""


_BPE_W0 = """w0 AS (
  SELECT ' ' || array_to_string(list_transform(range(1, length(w) + 1),
                                               i -> w[i]), '  ') || ' ' AS s,
         freq
  FROM (SELECT tok AS w, COUNT(*) AS freq FROM (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
          FROM documents) GROUP BY tok)
)"""


def _bpe_sql(n_merges: int) -> str:
    """BPE-training twin (pipeline/bpe.py): the word-type table rendered
    as padded double-space symbol strings, ``n_merges`` _bpe_round rounds
    unrolled — per round one pair-count aggregation, a (cnt DESC, l, r)
    argmax, and a literal replace applying the merge (identical
    non-overlapping left-to-right semantics in both engines; see the
    module docstring for why the double separator makes literal replace
    a correct BPE merge pass)."""
    return _unroll(
        [_BPE_W0],
        _bpe_round,
        n_merges,
        "SELECT merge_rank, lhs, rhs, pair_count FROM ("
        + " UNION ALL ".join(
            f"SELECT CAST({r} AS INT) AS merge_rank, l AS lhs, r AS rhs,"
            f" CAST(cnt AS BIGINT) AS pair_count FROM m{r}"
            for r in range(n_merges)
        )
        + ")",
    )


def _bpe_total_sql(n_merges: int) -> str:
    """Same training rounds as _bpe_sql, finishing with the corpus-level
    segment-count aggregation (q_bpe_token_total's twin)."""
    return _unroll(
        [_BPE_W0],
        _bpe_round,
        n_merges,
        f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(freq) AS BIGINT) AS n_words,
       CAST(SUM(freq * len(string_split(trim(s), '  '))) AS BIGINT)
         AS n_tokens
FROM w{n_merges}""",
    )


def _sq_sql(dim: int, max_qid: int, topk: int) -> str:
    """Scalar-quantization twin (pipeline/sq.py): exact MIN/MAX bounds,
    floor((x-mn)/(mx-mn)*256) clamped codes, midpoint dequantization,
    cosine left-fold — the same IEEE ops in the same order as the
    Spark expressions, so codes match exactly and cosines to well
    under the ROUND 6."""
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
dims AS (SELECT range AS j FROM range(1, {dim + 1})),
stats AS (
  SELECT j, MIN(vec[j]) AS mn, MAX(vec[j]) AS mx
  FROM e CROSS JOIN dims GROUP BY j
),
codes AS (
  SELECT e.vec_id, d.j,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE LEAST(255, GREATEST(0,
                CAST(floor((vec[d.j] - s.mn) / (s.mx - s.mn) * 256.0) AS INT)))
         END AS c
  FROM e CROSS JOIN dims d JOIN stats s ON d.j = s.j
),
deq AS (
  SELECT c.vec_id AS neighbour_id,
         list(s.mn + (c.c + 0.5) * ((s.mx - s.mn) / 256.0) ORDER BY c.j) AS v
  FROM codes c JOIN stats s ON c.j = s.j GROUP BY c.vec_id
),
qs AS (SELECT vec_id AS query_id, vec AS qv FROM e WHERE vec_id < {max_qid}),
scored AS (
  SELECT q.query_id, d.neighbour_id,
         ROUND({_fold(dim, 'qv[j] * v[j]')}
               / (sqrt({_fold(dim, 'qv[j] * qv[j]')}) * sqrt({_fold(dim, 'v[j] * v[j]')})),
               6) AS cos_r6
  FROM qs q JOIN deq d ON d.neighbour_id <> q.query_id
)
SELECT query_id, neighbour_id, cos_r6, rn FROM (
  SELECT query_id, neighbour_id, cos_r6,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_r6 DESC, neighbour_id) AS INT) AS rn
  FROM scored)
WHERE rn <= {topk}"""


# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------


def _typed_string_edges_of(ts: DataFrame) -> DataFrame:
    """Typed edges of transcripts ``ts`` with string vertex keys
    ``kind#key`` (oracle-comparable without the vid dictionary)."""
    te = _typed_edges(ts)
    return te.select(
        F.concat("src_kind", F.lit("#"), "src_key").alias("src"),
        F.concat("dst_kind", F.lit("#"), "dst_key").alias("dst"),
        "kind",
    )


def _string_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The string-keyed typed edges of the transcripts in ``sf_dir``."""
    return _typed_string_edges_of(transcripts_from_events(spark, sf_dir))


def _vkey(vertices: DataFrame) -> DataFrame:
    """The ``vid → vkey`` map (``kind#key``) of a vertex table."""
    return vertices.select(
        "vid", F.concat("kind", F.lit("#"), "key").alias("vkey")
    )


def _vid_graph(spark: SparkSession, sf_dir: str):
    """(edges, vertices) with dense long vids + the vid→string-key map."""
    edges, vertices = transcript_edges(transcripts_from_events(spark, sf_dir))
    return edges, vertices, _vkey(vertices)


def _scaled(ranks: DataFrame, key: DataFrame, n: int,
            name: str = "rank_scaled") -> DataFrame:
    """``(v = vkey, name = round(rank·n, 6))`` of a PageRank result."""
    return ranks.join(key, ranks.v == key.vid).select(
        F.col("vkey").alias("v"),
        F.round(F.col("rank") * F.lit(float(n)), 6).alias(name),
    )


def _tool_sources(e: DataFrame) -> DataFrame:
    """``(v)``: the tool vertex of every edge into one (a source set)."""
    return e.filter(F.col("dst").startswith("tool#")).select(
        F.col("dst").alias("v")
    )


def _tool_landmarks(e: DataFrame) -> DataFrame:
    """``(v)``: the distinct tool vertices of ``e`` (a landmark set)."""
    return (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .filter(F.col("v").startswith("tool#"))
        .distinct()
    )


def _size_hist(df: DataFrame, label: str, n_col: str) -> DataFrame:
    """``(size, n_col)``: how many ``label`` groups of ``df`` have each size."""
    sizes = df.groupBy(label).agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(F.count(F.lit(1)).alias(n_col))
        .select(F.col("size").cast("long").alias("size"), n_col)
    )


# ---------------------------------------------------------------------------
# queries (Spark) — names must match ORACLE_SQL keys where a twin exists
# ---------------------------------------------------------------------------


def q_transcripts_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ts = transcripts_from_events(spark, sf_dir)
    return ts.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )


def _roundtrip_view(df: DataFrame) -> DataFrame:
    return df.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )


def q_transcripts_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts staged through the JSON-lines sink+source
    (sources/transcripts.py): the read-back table must hash-match the
    SAME oracle as transcripts_view — per-turn text byte-identical and
    timestamps microsecond-exact through the interchange format."""
    import tempfile

    from montecarlopagerank_spark.sources.transcripts import (
        read_transcripts_jsonl,
        write_transcripts_jsonl,
    )

    p = os.path.join(tempfile.mkdtemp(prefix="mcpr_jsonl_"), "t")
    write_transcripts_jsonl(transcripts_from_events(spark, sf_dir), p)
    return _roundtrip_view(read_transcripts_jsonl(spark, p))


def q_transcripts_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts staged through the ORC sink+source — same contract as
    the JSONL roundtrip (shared transcripts_view oracle)."""
    import tempfile

    from montecarlopagerank_spark.sources.transcripts import (
        read_transcripts_orc,
        write_transcripts_orc,
    )

    p = os.path.join(tempfile.mkdtemp(prefix="mcpr_orc_"), "t")
    write_transcripts_orc(transcripts_from_events(spark, sf_dir), p)
    return _roundtrip_view(read_transcripts_orc(spark, p))


def q_conversation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation profile (pipeline/temporal.py
    conversation_profile): one map-side-combined aggregation keyed by
    conv_id; µs-exact duration."""
    from montecarlopagerank_spark.pipeline.temporal import conversation_profile

    return conversation_profile(transcripts_from_events(spark, sf_dir))


def q_tool_context_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most frequent whitespace tokens in the text of turns that
    invoke each tool (pipeline/textstats.py group_top_terms) —
    deterministic (count DESC, term) order, hash-checked."""
    from montecarlopagerank_spark.pipeline.textstats import group_top_terms

    ts = transcripts_from_events(spark, sf_dir).filter(F.col("tool").isNotNull())
    return group_top_terms(ts, group_col="tool", text_col="text", k=5)


def q_edge_counts_by_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _string_edges(spark, sf_dir)
        .groupBy("kind")
        .agg(F.count("*").alias("n_edges"))
    )


def q_edges_streaming_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-kind counts produced by the INCREMENTAL builder
    (streaming/edge_stream.py): the events-derived transcripts are staged
    to parquet, drained through the stateful availableNow stream, and the
    sink is counted by kind — hash-checked against the same SQL twin as
    the batch builder (edge_counts_by_kind), proving streaming/batch
    parity on driver data."""
    import tempfile

    from montecarlopagerank_spark.streaming.edge_stream import run_edge_stream

    root = tempfile.mkdtemp(prefix="mcpr_stream_")
    inp, out, ck = (os.path.join(root, d) for d in ("in", "out", "ck"))
    transcripts_from_events(spark, sf_dir).write.parquet(inp)
    run_edge_stream(spark, inp, out, ck)
    return (
        spark.read.parquet(out)
        .groupBy("kind")
        .agg(F.count("*").alias("n_edges"))
    )


def q_sketch_streaming_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained INCREMENTALLY
    (streaming/sketch_stream.py): documents staged to parquet, drained
    through the availableNow foreachBatch cell-merge, final committed
    sketch hash-checked against the same twin as the batch sketch —
    streaming/batch parity on driver data (merge associativity is the
    whole claim)."""
    import tempfile

    from montecarlopagerank_spark.streaming.sketch_stream import (
        run_sketch_stream,
    )

    root = tempfile.mkdtemp(prefix="mcpr_cmstream_")
    inp, out, ck = (os.path.join(root, d) for d in ("in", "out", "ck"))
    _documents(spark, sf_dir).select("doc_id", "text").write.parquet(inp)
    return run_sketch_stream(spark, inp, out, ck, depth=4, width=256)


def q_edge_delta_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset delta of the typed edge table across an event-log
    append: edges(full log) − edges(first-half prefix by event ts
    median cut), per (src, dst, kind) — the batch ground truth the
    incremental streaming builder must produce for the appended half,
    INCLUDING the chain edges that span the cut (a prefix's last turn
    chains to the append's first). Engine: two edge builds + one
    count-difference full join; twin mirrors with two grouped counts.
    Nonzero deltas only; ``delta`` can never be negative on an
    append-only log (edges are never retracted) — the twin would catch
    a violation as a hash mismatch."""
    ts_all = transcripts_from_events(spark, sf_dir)
    # floor() explicitly: Spark's double→long cast truncates but
    # DuckDB's rounds, and the interpolated median can be fractional
    cut = _events(spark, sf_dir).agg(
        F.floor(
            F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.5)")
        ).cast("long")
    ).collect()[0][0]
    from montecarlopagerank_spark.sources.transcripts import transcripts_of_events

    ev = _events(spark, sf_dir).filter(
        F.unix_micros(F.col("ts").cast("timestamp")) <= cut
    )
    ts_old = transcripts_of_events(ev)
    new_e = (
        _typed_string_edges_of(ts_all)
        .groupBy("src", "dst", "kind")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    old_e = (
        _typed_string_edges_of(ts_old)
        .groupBy("src", "dst", "kind")
        .agg(F.count(F.lit(1)).alias("n_old"))
    )
    return (
        new_e.join(old_e, ["src", "dst", "kind"], "full")
        .select(
            "src",
            "dst",
            "kind",
            (
                F.coalesce("n_new", F.lit(0)) - F.coalesce("n_old", F.lit(0))
            ).cast("bigint").alias("delta"),
        )
        .filter(F.col("delta") != 0)
    )


def q_turn_chain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _string_edges(spark, sf_dir)
        .filter(F.col("kind") == "turn_chain")
        .select("src", "dst")
    )


def q_role_role_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _string_edges(spark, sf_dir)
        .filter(F.col("kind") == "role_role")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
    )


def q_tool_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _string_edges(spark, sf_dir)
        .filter(F.col("kind") == "turn_tool")
        .groupBy(F.col("dst").alias("tool_key"))
        .agg(F.count("*").alias("n_refs"))
    )


def q_degree_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        degrees(_string_edges(spark, sf_dir))
        .select("v", "in_deg", "out_deg")
        .orderBy(F.desc("in_deg"), F.asc("v"))
        .limit(20)
    )


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree histogram of the directed multigraph (vertices with no
    out-edges appear as out_deg 0) — the first chart anyone draws on a
    link graph; single partial-aggregable two-level groupBy."""
    return (
        degrees(_string_edges(spark, sf_dir))
        .groupBy("out_deg")
        .agg(F.count("*").alias("n_vertices"))
        .select(F.col("out_deg").cast("long").alias("out_deg"), "n_vertices")
    )


DEGREE_QUANTILE_PS = [0.5, 0.9, 0.99, 0.999]


def q_degree_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated out-degree quantiles (p50/p90/p99/p999 —
    the skew numbers that size a 100 TB shuffle) via Spark's exact
    ``percentile`` aggregate, hash-checked against DuckDB's
    ``quantile_cont`` (same (n−1)·p linear-interpolation definition).
    The at-scale path is ``approx_percentile`` (sketch-based, one pass,
    no global sort); tests/test_modularity.py pins it within 1% of the
    exact values on the same data."""
    ps = F.array(*[F.lit(p) for p in DEGREE_QUANTILE_PS])
    qs = degrees(_string_edges(spark, sf_dir)).agg(
        F.percentile("out_deg", ps).alias("qs")
    )
    return qs.select(F.posexplode("qs").alias("i", "qv")).select(
        F.element_at(ps, F.col("i") + 1).alias("p"),
        F.round("qv", 6).alias("q_r6"),
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the undirected simple closure: Pearson
    correlation of endpoint degrees over the symmetric edge list (Newman,
    PRL 2002) — one number separating hub-attracts-hub graphs from
    hub-attracts-leaf graphs like this one. Pure aggregates (corr is
    sums/counts), rounded to 6 for the fp-stable hash."""
    sym = both_ways(pairs(_string_edges(spark, sf_dir)), "u", "w")
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    du = deg.withColumnRenamed("u", "a").withColumnRenamed("d", "du")
    dw = deg.withColumnRenamed("u", "b").withColumnRenamed("d", "dw")
    return (
        sym.join(du, sym.u == du.a)
        .join(dw, sym.w == dw.b)
        .agg(F.round(F.corr("du", "dw"), 6).alias("assortativity_r6"))
    )


RICH_KS = [2, 4, 8, 16]


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficients φ(k) = 2·E_k / (N_k(N_k−1)) of the
    undirected simple closure for k ∈ {2,4,8,16} (Zhou-Mondragón 2004):
    the edge density among vertices of degree > k — do this graph's
    hubs interconnect? ONE pass over the degree-annotated pair set
    cross-joined with the 4-row k list (broadcast); map-side-combined
    counts; φ rounded to 6 with the same operation order both engines
    (NULL when fewer than two rich vertices)."""
    und = pairs(_string_edges(spark, sf_dir))
    deg = both_ways(und, "u", "w").groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ks = spark.createDataFrame([(k,) for k in RICH_KS], "k long")
    nr = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_rich"))
    )
    dx = deg.withColumnRenamed("u", "x").withColumnRenamed("d", "dx")
    dy = deg.withColumnRenamed("u", "y").withColumnRenamed("d", "dy")
    er = (
        und.join(dx, "x")
        .join(dy, "y")
        .crossJoin(F.broadcast(ks))
        .filter(F.least("dx", "dy") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e_rich"))
    )
    n = F.coalesce("n_rich", F.lit(0))
    ecnt = F.coalesce("e_rich", F.lit(0))
    return (
        ks.join(nr, "k", "left")
        .join(er, "k", "left")
        .select(
            "k",
            n.cast("bigint").alias("n_rich"),
            ecnt.cast("bigint").alias("e_rich"),
            F.when(
                n >= 2,
                F.round(F.lit(2.0) * ecnt / (n * (n - F.lit(1))), 6),
            ).alias("phi_r6"),
        )
    )


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-filter attrition table (pipeline/
    quality_filters.py::quality_funnel): docs (and char mass) surviving
    all → gopher → +repetition → +langid-en → +exact-dedup-keeper, as
    five conditional sums in ONE pass — hash-checked against a twin
    composing the already-verified gopher/repetition/langid fragments."""
    from montecarlopagerank_spark.pipeline.quality_filters import quality_funnel

    return quality_funnel(_documents(spark, sf_dir))


def q_pagerank_power_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 exact supersteps (tol=0) — oracle-checked against the unrolled
    SQL twin to round(rank*n, 6)."""
    from montecarlopagerank_spark.algos.pagerank_power import pagerank_power

    edges, vertices, key = _vid_graph(spark, sf_dir)
    ranks, info = pagerank_power(spark, edges, vertices, tol=0.0, max_iters=5)
    return _scaled(ranks, key, info["n"])


def q_pagerank_weighted_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, 5 exact supersteps, on the multigraph COLLAPSED
    to (src, dst, weight=multiplicity). Contribution fractions
    w/W(src) equal the raw multigraph's per-row 1/out_deg sums, so the
    oracle is the SAME unrolled twin as pagerank_power_fixed (_pi_sql(5))
    — a hash-exact proof that the weighted path computes the weighted
    semantics."""
    from montecarlopagerank_spark.algos.pagerank_power import pagerank_power

    edges, vertices, key = _vid_graph(spark, sf_dir)
    weighted = edges.groupBy("src", "dst").agg(
        F.count("*").cast("double").alias("weight")
    )
    ranks, info = pagerank_power(
        spark, weighted, vertices, tol=0.0, max_iters=5, weight_col="weight"
    )
    return _scaled(ranks, key, info["n"])


def q_pagerank_warm_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PageRank refresh (algos/pagerank_power.py init_ranks):
    a 5-step stale PI run over the events *prefix* (median-µs cut, the
    edge_delta_append append-split convention) warm-starts 3 exact
    supersteps on the full graph. Oracle: _pi_warm_sql(5, 3) — stale
    chain, projection + renormalization onto the full vertex set (new
    vertices get 1/n), then the standard unrolled body. Hash-pins the
    one §2.7 operator (warm start) that previously had only a pytest."""
    from montecarlopagerank_spark.algos.pagerank_power import pagerank_power
    from montecarlopagerank_spark.sources.transcripts import transcripts_of_events

    cut = (
        _events(spark, sf_dir)
        .agg(
            F.floor(
                F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.5)")
            ).cast("long")
        )
        .collect()[0][0]
    )
    ev = _events(spark, sf_dir).filter(
        F.unix_micros(F.col("ts").cast("timestamp")) <= cut
    )
    e_old, v_old = transcript_edges(transcripts_of_events(ev))
    key_old = _vkey(v_old)
    stale, _ = pagerank_power(spark, e_old, v_old, tol=0.0, max_iters=5)
    stale_str = stale.join(key_old, stale.v == key_old.vid).select(
        "vkey", "rank"
    )
    edges, vertices, key = _vid_graph(spark, sf_dir)
    init = key.join(stale_str, "vkey").select(
        F.col("vid").alias("v"), "rank"
    )
    ranks, info = pagerank_power(
        spark, edges, vertices, tol=0.0, max_iters=3, init_ranks=init
    )
    return _scaled(ranks, key, info["n"])


def q_pagerank_power_top20(
    spark: SparkSession, sf_dir: str, steps: int = 22
) -> DataFrame:
    """Flagship: PI run for EXACTLY ``steps`` supersteps — 22 is the
    step at which the sf0.01 corpus reaches L∞ < 1e-6 (asserted below,
    so the 'converged' claim stays honest; entry() passes 35 for the
    smaller sf0.001 graph, which converges more slowly per step count)
    — then top 20 by (round(rank·n, 6) DESC, key). Pinning the step
    count (tol=0) instead of stopping on the observed delta makes the
    query an exact pure function of the input, so the 22-step unrolled
    SQL twin hash-checks it (previously rows-only)."""
    from montecarlopagerank_spark.algos.pagerank_power import pagerank_power

    edges, vertices, key = _vid_graph(spark, sf_dir)
    ranks, info = pagerank_power(spark, edges, vertices, tol=0.0, max_iters=steps)
    assert info["deltas"][-1] < 1e-6, \
        f"not converged by {steps}: {info['deltas'][-1]}"
    return (
        _scaled(ranks, key, info["n"])
        .orderBy(F.desc("rank_scaled"), F.asc("v"))
        .limit(20)
    )


def q_pagerank_mc_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte Carlo PageRank, top 20 (rows-only: stochastic estimator).
    edges_per_block is pinned so the recorded output is machine-independent
    (the default derives block count from the cluster's core count)."""
    from montecarlopagerank_spark.algos.pagerank_mc import pagerank_monte_carlo

    edges, vertices, key = _vid_graph(spark, sf_dir)
    ranks, _ = pagerank_monte_carlo(
        spark, edges, vertices, walks_per_vertex=10, iterations=10,
        edges_per_block=1 << 13,
    )
    top = ranks.orderBy(F.desc("rank"), F.asc("v")).limit(20)
    return top.join(key, top.v == key.vid).select(
        F.col("vkey").alias("v"), F.round("rank", 6).alias("rank_r6")
    )


def q_mc_pi_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible MC quality signal (the reference's own validation
    methodology, Project Paper/McPageRankSpark.tex:155-167): one row with
    MC(K=50)-vs-converged-PI top-20 overlap and rank correlation. No SQL
    twin (stochastic) — the VALUE is the check; tests pin the floor
    (overlap ≥ 12/20, corr ≥ 0.9, tests/test_contract.py)."""
    from montecarlopagerank_spark.algos.pagerank_mc import pagerank_monte_carlo
    from montecarlopagerank_spark.algos.pagerank_power import pagerank_power

    edges, vertices, _ = _vid_graph(spark, sf_dir)
    pi, _info = pagerank_power(spark, edges, vertices, tol=1e-6, max_iters=120)
    mc, _info2 = pagerank_monte_carlo(
        spark, edges, vertices, walks_per_vertex=50, iterations=15,
        edges_per_block=1 << 13,
    )
    top_pi = pi.orderBy(F.desc("rank"), F.asc("v")).limit(20).select("v")
    top_mc = mc.orderBy(F.desc("rank"), F.asc("v")).limit(20).select("v")
    overlap = top_pi.join(top_mc, "v").count()
    corr = (
        pi.withColumnRenamed("rank", "pi_rank")
        .join(mc.withColumnRenamed("rank", "mc_rank"), "v")
        .agg(F.corr("pi_rank", "mc_rank").alias("c"))
        .collect()[0]["c"]
    )
    return spark.createDataFrame(
        [(int(overlap), float(round(corr, 4)))],
        "overlap_at_20 long, rank_corr double",
    )


def q_connected_components_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component size histogram — EXACT, hash-checked against a DuckDB
    min-label/pointer-jumping twin (the histogram is label- and
    id-assignment-free, so the vid-graph result equals the string-key
    oracle's on the isomorphic graph)."""
    from montecarlopagerank_spark.algos.components import connected_components

    edges, vertices, key = _vid_graph(spark, sf_dir)
    cc = connected_components(spark, edges, vertices)
    return _size_hist(cc, "component", "n_components")


def q_harmonic_centrality_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality from the tool-vertex landmarks, hop cap 6,
    undirected closure — hash-checked vs the per-(landmark, vertex)
    relaxation twin (_harmonic_sql(6)) to round(h, 6)."""
    from montecarlopagerank_spark.algos.bfs import harmonic_centrality

    e = _string_edges(spark, sf_dir).select("src", "dst")
    h, _info = harmonic_centrality(spark, e, _tool_landmarks(e), max_hops=6)
    return h.select("v", F.round("harmonic", 6).alias("harmonic_r6"))


def q_closeness_centrality_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark closeness centrality (reciprocal mean distance to reached
    landmarks) from the tool-vertex landmarks, hop cap 6, undirected
    closure — hash-checked vs the relaxation twin (_closeness_sql(6))."""
    from montecarlopagerank_spark.algos.bfs import closeness_centrality

    e = _string_edges(spark, sf_dir).select("src", "dst")
    c, _info = closeness_centrality(spark, e, _tool_landmarks(e), max_hops=6)
    return c.select(
        "v", F.round("closeness", 6).alias("closeness_r6"), "reached"
    )


def q_scc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC size histogram of the DIRECTED transcript graph (trim +
    coloring, algos/scc.py). Hash-checked against a recursive-CTE
    closure twin (_scc_sql — mutual reachability by definition;
    tractable because this digraph's closure is small). Engine-side
    correctness is additionally pinned against an iterative Tarjan on
    random digraphs and handcrafted cycle/chain/DAG fixtures
    (tests/test_scc.py)."""
    from montecarlopagerank_spark.algos.scc import strongly_connected_components

    edges, vertices, _ = _vid_graph(spark, sf_dir)
    scc, info = strongly_connected_components(spark, edges, vertices)
    if not info["converged"]:
        raise RuntimeError(f"scc did not converge: {info}")
    return _size_hist(scc, "scc", "n_components")


def q_label_propagation_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label community size histogram after ≤10 rounds, hash-checked vs a
    10-round unrolled DuckDB twin (_lpa_sql(10)). The engine may stop
    early on the nc==0 fixpoint — sound vs a fixed-round twin because a
    synchronous-LPA fixpoint is stable (no vertex changed ⇒ every further
    round is the identity), so 10 unrolled SQL rounds reproduce an
    engine run that converged at any k ≤ 10. String-keyed edges so the
    min-label tie-break order is directly comparable (the vid-graph run
    is pinned equal by tests/test_components.py::
    test_lpa_vid_and_string_histograms_agree)."""
    from montecarlopagerank_spark.algos.labelprop import label_propagation

    e = _string_edges(spark, sf_dir).select("src", "dst")
    lp = label_propagation(spark, e, max_iters=10)
    return _size_hist(lp, "label", "n_labels")


def q_label_propagation_fixed2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 2 synchronous LPA rounds over the STRING-keyed edges (so
    tie-breaking order is directly comparable to the SQL twin — no
    vid-order isomorphism argument needed). Hash-checked vs DuckDB."""
    from montecarlopagerank_spark.algos.labelprop import label_propagation

    e = _string_edges(spark, sf_dir).select("src", "dst")
    lp = label_propagation(spark, e, max_iters=2)
    return _size_hist(lp, "label", "n_labels")


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total triangles in the undirected closure — SQL twin is the classic
    x<y<z three-way join."""
    from montecarlopagerank_spark.algos.triangles import triangle_count

    n = triangle_count(spark, _string_edges(spark, sf_dir).select("src", "dst"))
    return spark.createDataFrame([(n,)], "triangles long")


def q_null_model_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the degree-preserving configuration-model
    rewiring — the null baseline that makes ``triangle_count``
    interpretable (observed ≫ null ⇔ real triadic closure beyond what
    the degree sequence forces; Maslov-Sneppen 2002). Composes
    operators/nullmodel.py with the degree-oriented counter; twin
    composes the two verified SQL fragments."""
    from montecarlopagerank_spark.algos.triangles import triangle_count
    from montecarlopagerank_spark.operators.nullmodel import rewire_configuration

    e = rewire_configuration(
        _string_edges(spark, sf_dir).select("src", "dst")
    ).select("src", "dst")
    return spark.createDataFrame([(triangle_count(spark, e),)], "triangles long")


def q_four_clique_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total K₄ count of the undirected closure (algos/triangles.py::
    four_clique_count — π-ordered oriented-triangle extension, each
    clique counted once at its π-max vertex) — SQL twin is the
    vid-ordered a<b<c<d six-edge join."""
    from montecarlopagerank_spark.algos.triangles import four_clique_count

    e = _string_edges(spark, sf_dir).select("src", "dst")
    n = four_clique_count(spark, e)
    return spark.createDataFrame([(n,)], "n_4cliques long")


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient (undirected closure) —
    SQL twin re-derives per-vertex triangle counts from the x<y<z
    three-way join and the same 2T/(d(d−1)) IEEE-double expression."""
    from montecarlopagerank_spark.algos.triangles import clustering_coefficient

    e = _string_edges(spark, sf_dir).select("src", "dst")
    return clustering_coefficient(spark, e)


def q_link_prediction_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 predicted links by hub-capped common-neighbor count
    (cap=64, see algos/linkpred.py) — total order (common DESC, a, b)
    makes the k-cut deterministic; the twin applies the identical apex
    degree filter."""
    from montecarlopagerank_spark.algos.linkpred import common_neighbors_topk

    e = _string_edges(spark, sf_dir).select("src", "dst")
    return common_neighbors_topk(spark, e, k=50, max_apex_degree=64)


def q_adamic_adar_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 predicted links by Adamic-Adar (Σ 1/ln(deg) over shared
    capped-degree mediators, cap=64) — ordered by the ROUNDED score so
    both engines take the identical k-cut despite float-sum order."""
    from montecarlopagerank_spark.algos.linkpred import adamic_adar_topk

    e = _string_edges(spark, sf_dir).select("src", "dst")
    return adamic_adar_topk(spark, e, k=50, max_apex_degree=64)


def q_k_core_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the transcript graph's undirected closure — every vertex
    with its in-core degree, hash-checked against the unrolled synchronous
    peeling twin (_kcore_sql(2, 28)). String-keyed edges so rows compare
    directly; synchronous peeling is order-free, so no tie-break or
    isomorphism argument is needed."""
    from montecarlopagerank_spark.algos.kcore import k_core

    e = _string_edges(spark, sf_dir).select("src", "dst")
    core, info = k_core(spark, e, k=2, max_rounds=28)
    if not info["converged"]:
        raise RuntimeError(f"k_core did not converge: {info}")
    return core.select("v", F.col("deg").cast("long").alias("deg"))


def q_pagerank_personalized_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank, 5 exact supersteps (tol=0), teleport set =
    conversation u1's turn vertices ("rank the graph from one user's
    history") — oracle-checked against the unrolled SQL twin
    (_ppr_sql(5)) to round(rank*n, 6)."""
    from montecarlopagerank_spark.algos.pagerank_power import pagerank_power

    edges, vertices, key = _vid_graph(spark, sf_dir)
    srcs = vertices.filter(
        (F.col("kind") == "turn") & F.col("key").startswith("u1#")
    ).select(F.col("vid").alias("v"))
    ranks, info = pagerank_power(
        spark, edges, vertices, tol=0.0, max_iters=5, sources=srcs
    )
    return _scaled(ranks, key, info["n"], "ppr_scaled")


def q_hits_fixed5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities, 5 iterations, L1-normalized — oracle-checked
    against the unrolled per-step-normalized SQL twin (_hits_sql(5)) to
    round(score*n, 6); normalization is scale-invariant so the carried-
    unnormalized Spark loop matches (algos/hits.py docstring)."""
    from montecarlopagerank_spark.algos.hits import hits

    e = _string_edges(spark, sf_dir).select("src", "dst")
    scores, info = hits(spark, e, iters=5)
    n = info["n"]
    return scores.select(
        "v",
        F.round(F.col("hub") * F.lit(float(n)), 6).alias("hub_scaled"),
        F.round(F.col("auth") * F.lit(float(n)), 6).alias("auth_scaled"),
    )


def q_induced_subgraph_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30% vertex-induced subgraph sample (pipeline/sampling.py
    induced_subgraph, pure scan-stage md5 filter) audited as edge counts
    per kind — membership is a pure function of the key, twin replays
    the identical bucket arithmetic."""
    from montecarlopagerank_spark.pipeline.sampling import induced_subgraph

    return (
        induced_subgraph(_string_edges(spark, sf_dir), 0.3)
        .groupBy("kind")
        .agg(F.count("*").alias("n_edges"))
    )


def q_negative_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling (algos/linkpred.py
    negative_edges): ≤5 hash-derived non-edges per source vertex — the
    negative half of a link-prediction training set. Hash-checked
    against a DuckDB twin replaying the identical md5 index + candidate
    arithmetic (global index == ROW_NUMBER over (md5 bucket, key))."""
    from montecarlopagerank_spark.algos.linkpred import negative_edges

    return negative_edges(
        spark, _string_edges(spark, sf_dir).select("src", "dst"), k=5
    )


def q_vertex_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex neighborhood feature table (operators/edges.py
    vertex_features) over the string-keyed transcript graph — the
    link-prediction / GNN feature-engineering pass, hash-checked
    against a direct SQL twin. The hash compares the exact integer
    rational (sum_nbr_deg, deg) rather than round(avg, 6): a rounded
    double can land on a HALF_UP-vs-rint half-tie boundary and diverge
    between engines on datasets our local sf0.01 happens not to hit
    (the r03 driver hash-FAIL)."""
    from montecarlopagerank_spark.operators.edges import vertex_features

    return vertex_features(
        _string_edges(spark, sf_dir).select("src", "dst")
    ).select("v", "out_deg", "in_deg", "deg", "sum_nbr_deg", "wedges")


def q_salsa_fixed5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hubs/authorities, 5 stochastic iterations (algos/salsa.py)
    — oracle-checked against the unrolled SQL twin (_salsa_sql(5)) to
    round(score, 6); no normalization constants enter (each half-step
    preserves the L1 sum exactly), so the two engines differ only in
    summation order."""
    from montecarlopagerank_spark.algos.salsa import salsa

    e = _string_edges(spark, sf_dir).select("src", "dst")
    scores, _ = salsa(spark, e, iters=5)
    return scores.select(
        "v",
        F.round("hub", 6).alias("hub_r6"),
        F.round("auth", 6).alias("auth_r6"),
    )


def q_bfs_hops_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected min-hop distance from the tool vertices, capped at 6
    hops ("everything within 6 clicks of a tool") — oracle-checked
    against 6 unrolled relaxation rounds (_bfs_sql(6); frontier BFS and
    full relaxation agree on min-hop distances)."""
    from montecarlopagerank_spark.algos.bfs import bfs_hops

    e = _string_edges(spark, sf_dir).select("src", "dst")
    srcs = _tool_sources(e)
    dist, _ = bfs_hops(spark, e, srcs, max_hops=6, directed=False)
    return dist.select("v", F.col("hops").cast("int").alias("hops"))


def q_sssp_from_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest-path distance (Bellman-Ford to the exact
    fixpoint) from the tool vertices, edge weight = len(src)+len(dst) —
    hash-checked against _sssp_sql(24)'s unrolled full-relaxation twin
    (24 ≥ the engine's observed round count at sf0.01; past the fixpoint
    extra oracle rounds are the identity)."""
    from montecarlopagerank_spark.algos.sssp import sssp

    e = _string_edges(spark, sf_dir).select(
        "src",
        "dst",
        (F.length("src") + F.length("dst")).cast("long").alias("wt"),
    )
    srcs = _tool_sources(e)
    dist, _ = sssp(spark, e, srcs, weight_col="wt", max_rounds=24, directed=False)
    return dist.select("v", F.col("d").cast("long").alias("d"))


def q_modularity_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the connected-component partition — Q is
    partition-invariant, so the vid-graph engine score hash-matches the
    string-key twin (_modularity_sql) built on the same unrolled-CC
    chain as the components oracle."""
    from montecarlopagerank_spark.algos.components import connected_components
    from montecarlopagerank_spark.algos.modularity import modularity

    edges, vertices, key = _vid_graph(spark, sf_dir)
    cc = connected_components(spark, edges, vertices)
    labels = cc.select("v", F.col("component").alias("label"))
    return modularity(edges.select("src", "dst"), labels)


def q_conductance_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(size, conductance) histogram of the CC partition — label-value-
    free, hash-checked against _conductance_sql on the same unrolled-CC
    chain. (Whole-component conductance over disconnected pieces is 0
    by construction — cut = 0 — so this exercises the vol/cut plumbing
    end-to-end; community-level nonzero φ is pinned by pytest on
    hand-built partitions.)"""
    from montecarlopagerank_spark.algos.components import connected_components
    from montecarlopagerank_spark.algos.modularity import conductance

    edges, vertices, key = _vid_graph(spark, sf_dir)
    cc = connected_components(spark, edges, vertices)
    labels = cc.select("v", F.col("component").alias("label"))
    phi = conductance(edges.select("src", "dst"), labels)
    return phi.groupBy("size", "phi_r6").agg(F.count(F.lit(1)).alias("n"))


def q_betweenness_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark betweenness from the tool vertices (Brandes dependency,
    hop cap 6) — hash-checked against _btw_sql(6)'s forward+backward
    unrolled twin."""
    from montecarlopagerank_spark.algos.betweenness import landmark_betweenness

    e = _string_edges(spark, sf_dir).select("src", "dst")
    srcs = _tool_sources(e)
    bc, _ = landmark_betweenness(spark, e, srcs, max_hops=6, directed=False)
    return bc.select("v", F.round("btw", 6).alias("btw_r6"))


def q_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF neighborhood function N(h) over the undirected transcript
    graph (rows-only: HLL estimates are approximate by design — the
    pytest oracle pins exactness on tiny graphs and a ≤5% error band vs
    the exact BFS closure on the power-law fixture;
    tests/test_hyperanf.py)."""
    from montecarlopagerank_spark.algos.hyperanf import neighborhood_function

    e = _string_edges(spark, sf_dir).select("src", "dst")
    nf, _ = neighborhood_function(spark, e, max_h=24)
    return nf.select(F.col("h").cast("int").alias("h"), "npairs")


def q_random_walks_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk training corpus: 2 deterministic uniform walks of length
    6 from every tool vertex, LCG chooser — the whole corpus (every
    (start, rep, step, v) row) is hash-checked against _walks_sql's
    step-unrolled DuckDB replay. The production chooser ("xxhash",
    default) is pinned by pytest determinism/uniformity tests instead."""
    from montecarlopagerank_spark.algos.walks import random_walks

    e = _string_edges(spark, sf_dir).select("src", "dst")
    srcs = _tool_sources(e)
    walks, _ = random_walks(
        spark, e, srcs, walk_length=6, walks_per_vertex=2, chooser="lcg"
    )
    return walks.select(
        "start",
        F.col("rep").cast("long").alias("rep"),
        F.col("step").cast("int").alias("step"),
        "v",
    )


def q_node2vec_walks_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec (p=0.5, q=2.0) biased walk corpus from the tool vertices
    (rows-only: the weighted pick's double comparisons have no exact
    cross-engine replay — tests/test_node2vec.py pins exact transition
    distributions on closed-form graphs, determinism across parallelism,
    and dead-end semantics)."""
    from montecarlopagerank_spark.algos.node2vec import node2vec_walks

    e = _string_edges(spark, sf_dir).select("src", "dst")
    srcs = _tool_sources(e)
    walks, _ = node2vec_walks(
        spark, e, srcs, walk_length=6, walks_per_vertex=2, p=0.5, q=2.0
    )
    return walks.select(
        "start",
        F.col("rep").cast("long").alias("rep"),
        F.col("step").cast("int").alias("step"),
        "v",
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from montecarlopagerank_spark.pipeline.textstats import token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = token_stats(docs)
    return s.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_word_tokens").cast("long").alias("n_word_tokens"),
        F.col("n_bpe_est").cast("long").alias("n_bpe_est"),
    )


def q_turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per role-transition turn-gap profile (pipeline/temporal.py
    turn_latency) — µs-exact gaps, exact interpolated percentiles
    (percentile ↔ quantile_cont identity, as in degree_quantiles)."""
    from montecarlopagerank_spark.pipeline.temporal import turn_latency

    ts = transcripts_from_events(spark, sf_dir)
    return turn_latency(ts)


def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under the corpus's own MLE unigram LM
    (pipeline/lmscore.py) — rounded to 6 for the hash compare (the
    per-token ln terms are IEEE-identical; only the sum order differs
    across engines, ~1e-15 noise under a 1e-6 rounding grid)."""
    from montecarlopagerank_spark.pipeline.lmscore import unigram_lm_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = unigram_lm_scores(docs)
    return s.select(
        "doc_id",
        "n_tokens",
        F.round("cross_entropy", 6).alias("cross_entropy_r6"),
    )


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram cross-entropy (Jelinek-Mercer lam=0.7) under
    the corpus's own bigram+unigram MLE model (pipeline/lmscore.py
    bigram_lm_scores). Rounded to 6 like unigram_lm; the SQL twin
    spells the interpolation weights as the IDENTICAL double
    expressions (0.7, 1.0 - 0.7) so both engines evaluate the same
    IEEE constants."""
    from montecarlopagerank_spark.pipeline.lmscore import bigram_lm_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = bigram_lm_scores(docs, lam=0.7)
    return s.select(
        "doc_id",
        "n_bigrams",
        F.round("cross_entropy", 6).alias("cross_entropy_r6"),
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned over the documents corpus
    (pipeline/bpe.py — word-type table + double-space symbol strings,
    literal-replace merge application). The learned merge table is a
    pure function of the corpus, hash-checked against the unrolled
    DuckDB twin; per-merge application parity is pinned by
    tests/test_bpe.py against a pure-python Sennrich-style loop."""
    from montecarlopagerank_spark.pipeline.bpe import bpe_train

    merges, _ = bpe_train(spark, _documents(spark, sf_dir), n_merges=8)
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string, pair_count long",
    )


def q_bpe_token_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token count under the 8-merge BPE vocabulary
    (pipeline/bpe.py bpe_segment_counts) — the number every data-mixture
    budget is denominated in: one row (n_types, n_words, n_tokens).
    Twin = the same 8 unrolled training rounds + a final segment-count
    aggregation over the merged word-type table."""
    from montecarlopagerank_spark.pipeline.bpe import (
        bpe_segment_counts,
        bpe_train,
    )

    _, vocab = bpe_train(spark, _documents(spark, sf_dir), n_merges=8)
    seg = bpe_segment_counts(vocab)
    return seg.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("freq").alias("n_words"),
        F.sum(F.col("freq") * F.col("n_tokens")).alias("n_tokens"),
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch ease / Flesch-Kincaid grade per doc (pipeline/textstats.py
    readability) — ONE codegen scan; the twin replays the identical
    counts and IEEE op order, rounded to 4."""
    from montecarlopagerank_spark.pipeline.textstats import readability

    return readability(_documents(spark, sf_dir))


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary summary (pipeline/textstats.py
    corpus_vocab_stats) — the EXACT columns only; the HLL approx column
    is engine-specific (sketch internals differ) and is pinned by a
    pytest band instead."""
    from montecarlopagerank_spark.pipeline.textstats import corpus_vocab_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_vocab_stats(docs).select(
        "n_docs", "total_tokens", "n_distinct", "ttr_r6"
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from montecarlopagerank_spark.pipeline.textstats import quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_score(docs)


def q_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from montecarlopagerank_spark.pipeline.textstats import langid_heuristic

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return langid_heuristic(docs)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from montecarlopagerank_spark.pipeline.textstats import doc_fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return doc_fingerprint(docs)


def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from montecarlopagerank_spark.pipeline.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs).select(
        "keep_id", F.col("n_copies").cast("long").alias("n_copies")
    )


def q_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ingestion dedup verdict (pipeline/dedup.py
    dedup_verdicts; the batch twin of streaming/dedup_stream.py) —
    hash-checked against a window-min DuckDB twin."""
    from montecarlopagerank_spark.pipeline.dedup import dedup_verdicts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_verdicts(docs)


def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (rows-only: xxhash64 family has no
    DuckDB twin; exactness of the verify step is covered by
    q_ngram_jaccard_pairs)."""
    from montecarlopagerank_spark.pipeline.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup_pairs(docs, jaccard_threshold=0.5)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for the fixed candidate set a<b, both < 40 —
    SQL-oracled (DuckDB list_intersect/list_distinct)."""
    from montecarlopagerank_spark.pipeline.dedup import ngram_jaccard

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select("doc_id").filter("doc_id < 40")
    pairs = (
        ids.select(F.col("doc_id").alias("a"))
        .join(ids.select(F.col("doc_id").alias("b")), F.col("a") < F.col("b"))
    )
    return ngram_jaccard(docs, pairs)


def q_dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters → keep-list (pipeline/dedup.py dedup_clusters):
    exact 3-gram Jaccard ≥ 0.5 pairs over the whole corpus (the exact
    pair set is used here FOR oracle-ability, like
    embedding_near_dup_exact — production feeds minhash_dedup_pairs in),
    clustered by the graph engine's connected components; one min-id
    survivor per cluster. Twin: the ngram_jaccard SQL + 6 unrolled
    min-label + pointer-jump rounds."""
    from montecarlopagerank_spark.pipeline.dedup import (
        dedup_clusters,
        ngram_jaccard,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select("doc_id")
    cand = ids.select(F.col("doc_id").alias("a")).join(
        ids.select(F.col("doc_id").alias("b")), F.col("a") < F.col("b")
    )
    pairs = ngram_jaccard(docs, cand).filter(F.col("jaccard") >= 0.5)
    return dedup_clusters(spark, docs, pairs)


def q_simhash_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_hamming=7 with the default 8 bands of 8 bits: pigeonhole
    guarantees every qualifying pair shares a band (recall = 1.0 by
    construction, pinned in tests/test_pipeline.py)."""
    from montecarlopagerank_spark.pipeline.dedup import simhash_near_dupes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_near_dupes(docs, max_hamming=7)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from montecarlopagerank_spark.pipeline.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cosine_topk_bruteforce(emb, emb.filter("vec_id < 5"), k=10)
    return out.select(
        "query_id", "neighbour_id", "cos_sim", F.col("rn").cast("long").alias("rn")
    )


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding corpus — hash-checked
    against a DuckDB lateral-unnest twin."""
    from montecarlopagerank_spark.pipeline.embeddings import dim_stats

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return dim_stats(emb).select(
        F.col("dim").cast("int").alias("dim"), "mean_r6", "var_r6"
    )


def q_pca_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 PCA projection of the embedding corpus, one scalar row per
    (vec_id, dim) (rows-only: DuckDB has no eigensolver —
    tests/test_embeddings.py pins the values against numpy's full PCA,
    whitened covariance ≈ I, and sign determinism)."""
    from montecarlopagerank_spark.pipeline.embeddings import pca_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out, _ = pca_project(spark, emb, k=8)
    return out.select("vec_id", F.posexplode("pc").alias("dim", "pc")).select(
        "vec_id", "dim", F.round("pc", 4).alias("val_r4")
    )


def q_embedding_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN path (rows-only: recall-bounded, not exact)."""
    from montecarlopagerank_spark.pipeline.similarity import cosine_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk_lsh(emb, emb.filter("vec_id < 5"), k=10)


def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs ≥ 0.4 cosine by brute force — SQL twin via
    list_cosine_similarity."""
    from montecarlopagerank_spark.pipeline.similarity import (
        _dot,
        with_unit_vectors,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    u = with_unit_vectors(emb).select("vec_id", "_unit")
    a = u.select(F.col("vec_id").alias("a"), F.col("_unit").alias("va"))
    b = u.select(F.col("vec_id").alias("b"), F.col("_unit").alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.round(_dot(F.col("va"), F.col("vb")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.4)
    )


def q_dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DBSCAN over the exact cosine ≥ 0.4 similarity
    graph (pipeline/clustering.py::dbscan_exact, min_pts=2): core ⇔
    ≥2 neighbours, clusters = CC of the core-core subgraph (min-id
    labels), border → min core-neighbour cluster, rest noise. Full
    (vec_id, role, cluster_id) assignment hash-checked against the
    pair-SQL + unrolled min-label/pointer-jump twin."""
    from montecarlopagerank_spark.pipeline.clustering import dbscan_exact

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return dbscan_exact(spark, emb, sim_threshold=0.4, min_pts=2)


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection of embeddings to 16 dims with the
    deterministic md5 ±1/√k sign matrix (pipeline/embeddings.py::
    random_projection) — long-form (vec_id, dim, val_r6), hash-checked
    against the list_reduce left-fold twin building the identical
    matrix from the same md5 strings."""
    from montecarlopagerank_spark.pipeline.embeddings import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return random_projection(emb, out_dim=16, seed=7)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode (rows-only: numpy features have no SQL twin).
    ALL THREE modalities decode for real: blobs are valid BMP/PNG/JPEG
    (still images — JPEG via the from-scratch baseline T.81 codec in
    pipeline/jpeg.py), WAV PCM16 (audio), and uncompressed-DIB AVI files,
    parsed to pixel/sample/frame arrays → content features by pure
    stdlib codecs (pipeline/multimodal.py::real_decode; PNG inflates via
    zlib, AVI walks the RIFF tree). Undecodable blobs fall back to the
    deterministic fake feature, marked decoder='fake' — never silent."""
    from montecarlopagerank_spark.pipeline.multimodal import (
        real_decode,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, n=32, parts=4)
    return real_decode(media).select("media_id", "kind", "n_bytes", "decoder")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (4h gap) of the events table → per-session
    aggregates. One shuffle on user_id; the groupBy reuses the window's
    hash partitioning (pipeline/temporal.py docstring)."""
    from montecarlopagerank_spark.pipeline.temporal import session_stats

    return session_stats(_events(spark, sf_dir), gap_us=14_400_000_000).select(
        "user_id", "session_id", "n_events", "duration_us", "first_event_id"
    )


def q_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase event matched to the user's
    most recent signup at-or-before it (union + last-non-null window —
    one shuffle, no join explosion). Right side deduped to max event_id
    per (user, ts) so the match is deterministic; hash-checked against
    DuckDB's native ASOF LEFT JOIN."""
    from montecarlopagerank_spark.pipeline.temporal import _us, asof_join

    ev = _events(spark, sf_dir).withColumn("us", _us("ts"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "us", "event_id"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "us")
        .agg(F.max("event_id").alias("signup_event_id"))
        .withColumn("signup_us", F.col("us"))
    )
    out = asof_join(
        purchases, signups, on="user_id", ts="us",
        right_cols=["signup_event_id", "signup_us"],
    )
    return out.select(
        "event_id",
        "signup_event_id",
        (F.col("us") - F.col("signup_us")).alias("lag_us"),
    )


def q_range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±2h interval join: for each error event, how many other events the
    same user produced within the window. Bucketed by floor(ts/W) so the
    Spark side is a plain co-partitioned equi-join (left exploded ×3) —
    the oracle is the naive inequality join DuckDB can afford at sf0.01."""
    from montecarlopagerank_spark.pipeline.temporal import _us, range_join_count

    ev = _events(spark, sf_dir).withColumn("us", _us("ts"))
    errors = ev.filter(F.col("event_type") == "error")
    return range_join_count(
        errors, ev, on="user_id", ts="us", window_us=7_200_000_000,
        left_id="event_id", right_id="event_id",
    )


def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time windows: per-(window, event_type) count +
    value sum — the BATCH twin of streaming/window_stream.py (whose
    watermarked append-mode run is pinned by tests/test_streaming.py;
    this query hash-checks the shared aggregation plan against epoch
    arithmetic in DuckDB). Window start surfaces as epoch MICROSECONDS
    so no engine's timestamp rendering enters the hash."""
    from montecarlopagerank_spark.streaming.window_stream import (
        windowed_counts_batch,
    )

    return windowed_counts_batch(_events(spark, sf_dir), window="1 hour")


def q_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING 1h windows every 15min (streaming/window_stream.py
    sliding_counts_batch): each event lands in 4 overlapping windows.
    The DuckDB twin derives each event's window starts with integer
    epoch arithmetic (floor((t−size)/slide)+1 .. floor(t/slide), ×slide)
    — the same assignment Spark's F.window(size, slide) materializes."""
    from montecarlopagerank_spark.streaming.window_stream import (
        sliding_counts_batch,
    )

    return sliding_counts_batch(
        _events(spark, sf_dir), window="1 hour", slide="15 minutes"
    )


def q_stream_view_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming/join_stream.py): the
    events log is staged to parquet (ONE file → one micro-batch, so no
    row can be late past the watermark), drained through the
    watermarked view⋈click join, and the sink compared against the
    plain batch-join SQL — streaming/batch parity on driver data.
    Multi-batch watermark semantics are pinned separately by
    tests/test_streaming.py."""
    import tempfile

    from montecarlopagerank_spark.streaming.join_stream import run_join_stream

    root = tempfile.mkdtemp(prefix="mcpr_vcjoin_")
    inp, out, ck = (os.path.join(root, d) for d in ("in", "out", "ck"))
    _events(spark, sf_dir).orderBy("ts").coalesce(1).write.parquet(inp)
    run_join_stream(spark, inp, out, ck)
    return spark.read.parquet(out).select(
        "user_id", "view_id", "click_id", "lag_us"
    )


def q_k_truss_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the string-keyed transcript graph: edges in ≥ 1
    triangle after synchronous support peeling (algos/truss.py) —
    hash-checked against the unrolled peeling twin _truss_sql(3, 8)."""
    from montecarlopagerank_spark.algos.truss import k_truss

    truss, info = k_truss(spark, _string_edges(spark, sf_dir), k=3)
    assert info["converged"], f"truss did not converge: {info}"
    return truss


def q_kahn_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded (12-round) synchronous Kahn peel of the string-keyed
    transcript digraph (algos/toposort.py): layer = peel round = longest
    source path; −1 = not peeled within the bound (cyclic — the
    role→role subgraph — or deeper than 12, e.g. long turn chains).
    Full per-vertex assignment, hash-checked against the round-unrolled
    twin _kahn_sql(12)."""
    from montecarlopagerank_spark.algos.toposort import kahn_peel

    out, _info = kahn_peel(spark, _string_edges(spark, sf_dir), max_rounds=12)
    return out


def q_msf_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique minimum spanning forest of the string-keyed transcript
    graph's undirected closure under md5 edge priorities (deterministic
    Borůvka, algos/msf.py) — full edge list with the round each edge
    joined, hash-checked against the round-unrolled twin
    _msf_sql(14, 10). Convergence (incl. verified pointer-jump
    flattening) is asserted, so a hash match is never coincidental."""
    from montecarlopagerank_spark.algos.msf import minimum_spanning_forest

    out, info = minimum_spanning_forest(
        spark, _string_edges(spark, sf_dir), max_rounds=14, jump_rounds=10
    )
    assert info["converged"], f"MSF did not converge: {info}"
    return out


def q_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex set of the 3-approx densest subgraph (Bahmani ε=0.5
    threshold peeling, algos/densest.py) of the string-keyed transcript
    closure — hash-checked against the round-unrolled twin
    _densest_sql(24), whose threshold doubles use the engine's exact
    IEEE operation order. Convergence within the twin's unroll depth is
    asserted, so a hash match is never coincidental."""
    from montecarlopagerank_spark.algos.densest import densest_subgraph

    out, info = densest_subgraph(spark, _string_edges(spark, sf_dir), eps=0.5)
    assert info["converged"] and info["rounds"] <= 24, f"densest: {info}"
    return out


def q_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival temporal reachability (≤ 8 time-respecting hops)
    from every conversation-start turn over the timestamped transcript
    edges (algos/temporal_reach.py) — per reached vertex the earliest
    int64-µs arrival, hash-checked against the round-unrolled twin
    _temporal_reach_sql(8). All-integer arithmetic: no doubles anywhere."""
    from montecarlopagerank_spark.algos.temporal_reach import earliest_arrival
    from montecarlopagerank_spark.operators.edges import timestamped_string_edges

    ts = transcripts_from_events(spark, sf_dir)
    te = timestamped_string_edges(ts)
    srcs = ts.filter(F.col("turn_idx") == 0).select(
        F.concat(F.lit("turn#"), F.col("conv_id"), F.lit("#0")).alias("v"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t0"),
    )
    out, _info = earliest_arrival(spark, te, srcs, max_hops=8)
    return out.select("v", F.col("ea").alias("ea_us"))


def q_temporal_relays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting 2-path (relay) counts within a 10-minute horizon
    per vertex (algos/temporal_reach.py::relay_counts) — the elementary
    temporal motif, via the explosion-free bucketed range join (never a
    hub-quadratic v-keyed self-join). Hash-checked against DuckDB's
    plain inequality-join twin."""
    from montecarlopagerank_spark.algos.temporal_reach import relay_counts
    from montecarlopagerank_spark.operators.edges import timestamped_string_edges

    te = timestamped_string_edges(transcripts_from_events(spark, sf_dir))
    return relay_counts(te, horizon_us=600_000_000)


def q_wl_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-WL structural colors after 3 refinement rounds on the
    string-keyed transcript digraph (algos/wl.py) — the MPNN-
    expressiveness fingerprint; full per-vertex assignment hash-checked
    against the round-unrolled twin _wl_sql(3) (order-insensitive
    Σ-hash multiset summaries, so no collect/sort anywhere)."""
    from montecarlopagerank_spark.algos.wl import wl_colors

    out, _info = wl_colors(spark, _string_edges(spark, sf_dir), rounds=3)
    return out


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


# data-mixture weights for mixture_sample_counts: src{i} keeps 90/50/20%
# by i % 3 — mirrored literally in the SQL twin's CASE
MIX_WEIGHTS = {f"src{i}": [0.9, 0.5, 0.2][i % 3] for i in range(20)}


def q_hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split of documents by md5
    bucket of doc_id (pipeline/sampling.py), audited as counts + char
    mass per (split, lang). Pure projection — no shuffle until the
    audit groupBy."""
    from montecarlopagerank_spark.pipeline.sampling import hash_split

    s = hash_split(
        _documents(spark, sf_dir),
        key_col="doc_id",
        splits={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return s.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


def q_bottomk_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact uniform 100-doc sample via the bottom-k md5 sketch
    (pipeline/sampling.py bottomk_sample) — TakeOrderedAndProject, no
    global sort. Membership is a pure function of the doc_id set, so
    the DuckDB twin reproduces it row-for-row."""
    from montecarlopagerank_spark.pipeline.sampling import bottomk_sample

    s = bottomk_sample(_documents(spark, sf_dir), key_col="doc_id", k=100)
    return s.select("doc_id", "lang", "n_chars")


def q_mixture_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture sampling (keep fraction 0.9/0.5/0.2 cycling by
    source index) — a deterministic hash filter, audited as kept-count
    per source."""
    from montecarlopagerank_spark.pipeline.sampling import mixture_sample

    kept = mixture_sample(
        _documents(spark, sf_dir),
        source_col="source",
        key_col="doc_id",
        weights=MIX_WEIGHTS,
    )
    return kept.groupBy("source").agg(F.count("*").alias("n_kept"))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 200-char windows every 160 chars
    (40-char overlap), content integrity hash-checked via md5 of every
    chunk against DuckDB generate_series + substr."""
    from montecarlopagerank_spark.pipeline.sampling import chunk_text

    c = chunk_text(
        _documents(spark, sf_dir), id_col="doc_id", text_col="text",
        size=200, stride=160,
    )
    return c.select(
        "doc_id", "chunk_idx", "chunk_len", F.md5("chunk").alias("chunk_md5")
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-split sequence packing of documents into
    512-token training chunks (pipeline/sampling.py::pack_sequences):
    docs laid end-to-end in deterministic md5 order, per-doc global
    token offset + chunk span. Distributed prefix sum (bucketed by the
    md5's leading byte), never a single-partition global window —
    hash-checked against DuckDB's one-window cumulative-sum twin."""
    from montecarlopagerank_spark.pipeline.sampling import pack_sequences

    return pack_sequences(
        _documents(spark, sf_dir), id_col="doc_id", text_col="text", budget=512
    )


def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size stratified 25% sample of documents per source
    (pipeline/sampling.py::stratified_sample): each stratum keeps
    exactly round-half-up(0.25·n) min-md5 rows. Full membership
    hash-checked against the per-stratum ROW_NUMBER twin; the engine
    side never opens a per-stratum global window (bucketed distributed
    prefix rank)."""
    from montecarlopagerank_spark.pipeline.sampling import stratified_sample

    return stratified_sample(
        _documents(spark, sf_dir), strata_col="source", key_col="doc_id",
        frac=0.25,
    ).select("doc_id", "source")


def q_null_model_rewire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic configuration-model rewiring of the string-keyed
    transcript multigraph (operators/nullmodel.py): position-paired
    independent md5 orders of edge sources and destinations — exact
    out-/in-degree preservation, all structure above the degree
    sequence destroyed (the motif-significance null). Hash-checked
    against DuckDB's two-ROW_NUMBER twin."""
    from montecarlopagerank_spark.operators.nullmodel import rewire_configuration

    e = _string_edges(spark, sf_dir).select("src", "dst")
    return rewire_configuration(e)


# up-sampling weights: src{i} gets 2.5× / 1× / 0.4× by i % 3 — mirrored
# literally in the SQL twin's CASE (whole copies + fractional threshold)
UP_WEIGHTS = {f"src{i}": [2.5, 1.0, 0.4][i % 3] for i in range(20)}


def q_upsample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source up-sampling by repetition
    (pipeline/sampling.py::upsample_repeat): weight 2.5 emits 2 copies
    plus a hash-selected third, 0.4 keeps hash-selected single copies —
    full (doc_id, source, copy_idx) emission hash-checked against the
    UNNEST(range(copies)) twin."""
    from montecarlopagerank_spark.pipeline.sampling import upsample_repeat

    return upsample_repeat(
        _documents(spark, sf_dir), source_col="source", key_col="doc_id",
        weights=UP_WEIGHTS,
    ).select("doc_id", "source", "copy_idx")


def q_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4×256 count-min sketch of the corpus token frequencies
    (pipeline/textstats.py::count_min_sketch) — the fixed-size
    mergeable heavy-hitter summary; every counter hash-checked against
    the unnest twin (md5 row hashes, exact int64 counts)."""
    from montecarlopagerank_spark.pipeline.textstats import count_min_sketch

    return count_min_sketch(_documents(spark, sf_dir), depth=4, width=256)


def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorization of documents (pipeline/tfidf.py::
    hashed_features): word bigrams → 256-dim signed sparse counts via
    md5 buckets + md5 sign bit, no vocabulary table — the hashing-trick
    step before linear models at corpus scale. Full sparse-triplet
    emission hash-checked against the unnest twin."""
    from montecarlopagerank_spark.pipeline.tfidf import hashed_features

    return hashed_features(
        _documents(spark, sf_dir), n_features=256, ngram=2
    )


def q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase over events: per-step user
    counts under greedy earliest in-order matching (pipeline/funnel.py,
    ONE shuffle via per-user ts arrays) — hash-checked against the
    chained-min SQL formulation."""
    from montecarlopagerank_spark.pipeline.funnel import funnel_counts

    return funnel_counts(_events(spark, sf_dir), ["view", "click", "purchase"])


def q_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: cohort = week of first event, a user
    is retained at offset k if active in cohort+k. Co-partitioned
    anchor join + distinct; all keys bounded."""
    from montecarlopagerank_spark.pipeline.funnel import retention_cohorts

    return retention_cohorts(
        _events(spark, sf_dir), period_us=604_800_000_000
    ).withColumnRenamed("offset", "period_offset")


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts of event types per user
    (lead over the sessionize window; tiny |types|² agg key space)."""
    from montecarlopagerank_spark.pipeline.funnel import event_transition_matrix

    return event_transition_matrix(_events(spark, sf_dir))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by smoothed TF-IDF
    (pipeline/tfidf.py: one tf shuffle, broadcast df table, per-doc
    window top-k with rounded-score/term-asc deterministic ordering)."""
    from montecarlopagerank_spark.pipeline.tfidf import tf_idf_top_terms

    return tf_idf_top_terms(_documents(spark, sf_dir), k=5)


def q_bm25_search_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the query 'spark join merge' (k1=1.2, b=0.75):
    scoring touches only query-term rows of the tf table; global top-k
    is an ordered limit, ties by doc_id. Rounded to 6 inside the
    ordering so both engines rank identically."""
    from montecarlopagerank_spark.pipeline.tfidf import bm25_search

    return bm25_search(_documents(spark, sf_dir), "spark join merge", k=20)


def q_tool_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection conversation↔tool → weighted tool–tool
    co-usage pairs (operators/projection.py; dedup + self-join on
    conv_id, mega-conversation cap logged not silent)."""
    from montecarlopagerank_spark.operators.projection import cooccurrence_pairs

    t = transcripts_from_events(spark, sf_dir)
    return cooccurrence_pairs(
        t.select("conv_id", "tool"), group_col="conv_id", item_col="tool"
    ).select(
        F.col("item_a").alias("tool_a"),
        F.col("item_b").alias("tool_b"),
        "n_groups",
    )


def q_butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite 4-cycle (butterfly) census of the conversation↔tool
    relation (operators/projection.py::butterfly_stats): total
    butterflies Σ C(c,2) over tool-pair common-conversation counts,
    linked/closed pair counts and the densest pair — the bipartite
    cohesion motif next to triangle_count's unipartite one. Exact int64
    arithmetic both engines; the mega-group cap never fires here
    (≤ |roles| distinct tools per conversation)."""
    from montecarlopagerank_spark.operators.projection import butterfly_stats

    t = transcripts_from_events(spark, sf_dir)
    return butterfly_stats(
        t.select("conv_id", "tool"), group_col="conv_id", item_col="tool"
    )


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the directed simple graph (share of distinct
    non-loop edges whose reverse also exists) — one self-join on the
    deduped edge list, pure aggregates, rounded to 6."""
    e = _string_edges(spark, sf_dir)
    d = (
        e.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    )
    rev = d.select(F.col("dst").alias("src"), F.col("src").alias("dst")).withColumn(
        "_has_rev", F.lit(1)
    )
    return (
        d.join(rev, ["src", "dst"], "left")
        .agg(
            F.round(
                F.avg(F.when(F.col("_has_rev").isNotNull(), 1.0).otherwise(0.0)), 6
            ).alias("reciprocity_r6")
        )
    )


def q_katz_fixed6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality, 6 exact supersteps at α=0.05, L1-normalized ×n
    (algos/katz.py on why the normalized score is the scale-safe form) —
    hash-checked against the unrolled twin _katz_sql(6, 0.05)."""
    from montecarlopagerank_spark.algos.katz import katz

    e = _string_edges(spark, sf_dir).select("src", "dst")
    scores, _ = katz(spark, e, alpha=0.05, iters=6)
    return scores.select("v", F.round("katz_norm", 6).alias("katz_n6"))


def q_louvain_level1_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community size histogram after ONE Louvain level (6 synchronous
    direction-alternating local-move rounds, no contraction,
    algos/louvain.py) — hash-checked against the unrolled twin
    _louvain_sql(6)."""
    from montecarlopagerank_spark.algos.louvain import louvain

    e = _string_edges(spark, sf_dir).select("src", "dst")
    assign, _ = louvain(spark, e, rounds_per_level=6, max_levels=1)
    return _size_hist(assign, "community", "n_communities")


def q_louvain_communities_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-level Louvain (3 levels × 6 rounds + contraction)
    community size histogram — hash-checked against the level-unrolled
    twin ``_louvain_sql(6, 3)`` (each level replays the verified
    move recursion on the contracted weighted graph; the engine's
    0-move early level-break is twin-safe since contracting an unmoved
    level is the identity), and pinned against a pure-Python replay of
    the identical deterministic rules plus parallelism-invariance in
    tests/test_louvain.py."""
    from montecarlopagerank_spark.algos.louvain import louvain

    e = _string_edges(spark, sf_dir).select("src", "dst")
    assign, _ = louvain(spark, e, rounds_per_level=6, max_levels=3)
    return _size_hist(assign, "community", "n_communities")


def q_greedy_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Jones-Plassmann greedy-coloring assignment (fixed md5
    priorities, algos/coloring.py) — hash-checked against the unrolled
    twin _coloring_sql(18) (engine converges in 14 rounds at sf0.01;
    extra unrolled rounds are the identity)."""
    from montecarlopagerank_spark.algos.coloring import greedy_coloring

    e = _string_edges(spark, sf_dir).select("src", "dst")
    out, _ = greedy_coloring(spark, e)
    return out.select("v", F.col("color").cast("long").alias("color"))


def q_core_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core-number decomposition via H-index iteration
    (algos/corenum.py) — hash-checked against the unrolled twin
    _corenum_sql(20) (the engine converges in 18 rounds at sf0.01 and
    the iteration is monotone, so extra rounds are the identity)."""
    from montecarlopagerank_spark.algos.corenum import core_numbers

    e = _string_edges(spark, sf_dir).select("src", "dst")
    out, _ = core_numbers(spark, e)
    return out


def q_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated 5-gram statistics + longest duplicated
    span per document (pipeline/dupspans.py — the distributed stand-in
    for suffix-array exact-substring dedup) — hash-checked against a
    DuckDB twin whose span detection is the classic gaps-and-islands
    window (the Spark side folds a doc-bounded array instead)."""
    from montecarlopagerank_spark.pipeline.dupspans import dup_ngram_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dup_ngram_spans(docs, n=5, min_docs=2)
    return out.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.round("dup_ratio", 6).alias("dup_ratio_r6"),
        "max_dup_run",
    )


def q_eigenvector_fixed6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-edge eigenvector centrality, 6 exact power-method supersteps
    (x₀ = 1, x ← Aᵀx), L1-normalized ×n — the β=0 member of the Katz
    family (algos/katz.py) — hash-checked against the unrolled twin
    _katz_sql(6, alpha=1, beta=0)."""
    from montecarlopagerank_spark.algos.katz import eigenvector_centrality

    e = _string_edges(spark, sf_dir).select("src", "dst")
    scores, _ = eigenvector_centrality(spark, e, iters=6)
    return scores.select("v", F.round("katz_norm", 6).alias("eig_n6"))


def q_mis_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal independent set (deterministic Luby, algos/mis.py) of the
    undirected simple closure — exact membership hash-checked against
    the unrolled twin _mis_sql(6) (sf0.01 converges in 3 rounds; 6
    leaves margin, and unrolling past the fixpoint is the identity)."""
    from montecarlopagerank_spark.algos.mis import luby_mis

    mis, info = luby_mis(spark, _string_edges(spark, sf_dir).select("src", "dst"))
    assert info["converged"], f"MIS did not converge: {info}"
    assert info["rounds"] <= 6, f"MIS depth {info['rounds']} exceeds SQL unroll"
    return mis.select("v")


def q_max_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal matching (deterministic locally-minimal-edge,
    algos/matching.py) of the undirected simple closure — exact edge set
    AND per-edge round hash-checked against the unrolled twin
    _matching_sql(8) (sf0.01 converges in 4 rounds; 8 leaves margin, and
    unrolling past the fixpoint is the identity)."""
    from montecarlopagerank_spark.algos.matching import maximal_matching

    m, info = maximal_matching(
        spark, _string_edges(spark, sf_dir).select("src", "dst")
    )
    assert info["converged"], f"matching did not converge: {info}"
    assert info["rounds"] <= 8, f"depth {info['rounds']} exceeds SQL unroll"
    return m.select("x", "y", "round")


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality flags (pipeline/quality_filters.py): one
    codegen scan, every rule an array expression — hash-checked against
    the DuckDB list-function twin."""
    from montecarlopagerank_spark.pipeline.quality_filters import (
        gopher_quality_flags,
    )

    return gopher_quality_flags(_documents(spark, sf_dir))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition family: duplicate token/bigram fractions
    (scan-side) + top-bigram coverage (explode + doc_id-keyed mode) —
    hash-checked against the DuckDB unnest twin."""
    from montecarlopagerank_spark.pipeline.quality_filters import repetition_stats

    return repetition_stats(_documents(spark, sf_dir))


def q_pii_scrub_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over events.props (the only digit-bearing text in the
    synthetic corpus; min_digits=2 so the digit-run detector fires).
    Counts + redacted text hash-checked against the stepwise DuckDB
    regexp twin; real email/ip/phone fixtures live in
    tests/test_pipeline.py."""
    from montecarlopagerank_spark.pipeline.pii import pii_scrub

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", F.col("props").alias("text")
    )
    return pii_scrub(ev, "text", ("event_id",), min_digits=2)


# contamination benchmark split: md5 bucket < 10% of 2^32 (salt 'contam:')
CONTAM_CUT = int(0.1 * (1 << 32))


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: 10% of documents (deterministic md5
    bucket) act as the benchmark; every remaining train doc reports its
    distinct 3-gram count and how many of those occur anywhere in the
    benchmark (pipeline/contamination.py — one shingle-keyed join)."""
    from montecarlopagerank_spark.pipeline.contamination import contamination_check
    from montecarlopagerank_spark.pipeline.sampling import hash_bucket

    docs = _documents(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"), "contam:")
    return contamination_check(
        docs.filter(b >= CONTAM_CUT), docs.filter(b < CONTAM_CUT), n=3
    )


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination pre-filter (pipeline/contamination
    .py): the 10% benchmark's 3-gram shingles → a 2^16-bit/4-hash Bloom
    position table (broadcastable whatever the benchmark size); per
    train doc the count of shingles passing ALL 4 bits — the
    no-false-negative suspect set the exact join would then verify.
    Hash-checked against the position-table twin bit for bit."""
    from montecarlopagerank_spark.pipeline.contamination import (
        bloom_positions,
        bloom_prefilter,
        word_shingles,
    )
    from montecarlopagerank_spark.pipeline.sampling import hash_bucket

    docs = _documents(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"), "contam:")
    bench = docs.filter(b < CONTAM_CUT)
    bench_sh = bench.select(
        F.explode(word_shingles(F.col("text"), 3)).alias("g")
    )
    bloom = bloom_positions(bench_sh, key_col="g")
    return bloom_prefilter(docs.filter(b >= CONTAM_CUT), bloom, n=3)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (pipeline/clustering.py): k=10 hash-
    seeded centroids, 3 exact iterations, final assignment against the
    post-update centroids — hash-checked against the iteration-unrolled
    DuckDB twin (argmin on ROUND(d²,6) with cid tiebreak gives both
    engines the same total order despite engine-specific mean fp
    order)."""
    from montecarlopagerank_spark.pipeline.clustering import kmeans

    a, _, _ = kmeans(spark, _embeddings(spark, sf_dir), k=10, iters=3)
    return a.select(
        F.col("vid").alias("vec_id"),
        F.col("cid").alias("cluster"),
        F.round("d2r", 4).alias("d2_r4"),
    )


def q_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization (uint8) asymmetric cosine top-10
    (pipeline/sq.py): ONE-pass min/max train, 1-byte-per-dim encode,
    full-precision queries vec_id<8 against the dequantized corpus.
    Hash-checked against a DuckDB twin that replays the identical IEEE
    arithmetic (exact MIN/MAX bounds → exact floor codes → fixed-order
    dequant + cosine fold, rounded to 6)."""
    from montecarlopagerank_spark.pipeline.sq import (
        sq_encode,
        sq_topk,
        sq_train,
    )

    emb = _embeddings(spark, sf_dir)
    mins, maxes = sq_train(emb)
    codes = sq_encode(emb, mins, maxes)
    return sq_topk(
        spark, codes, mins, maxes, emb.filter(F.col("vec_id") < 8), k=10
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (pipeline/clustering.py): 10-cell coarse quantizer,
    nprobe=2, cosine top-10 for queries vec_id<16 — the scale-path ANN
    (broadcast-hash cell join, never an all-pairs crossJoin). Exact-
    match hash oracle: cosine is a bit-exact left fold on both engines,
    so given the shielded cell assignment the twin reproduces ranks
    exactly."""
    from montecarlopagerank_spark.pipeline.clustering import ivf_topk

    emb = _embeddings(spark, sf_dir)
    return ivf_topk(
        spark, emb, emb.filter(F.col("vec_id") < 16),
        k=10, nprobe=2, n_clusters=10, iters=3,
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 (pipeline/pq.py): 4 subspaces ×
    16 codewords trained jointly in one Lloyd loop, corpus encoded to
    4-byte codes, asymmetric-distance scan for queries vec_id<8.
    Hash-checked against the fully-unrolled DuckDB twin (_pq_sql:
    seeding, 2 Lloyd rounds, encode, ADC, top-k); parity + recall are
    additionally pinned by tests/test_pq.py against a pure-numpy PQ
    (codes exact, ADC 1e-9, recall >= 0.5 floor)."""
    from montecarlopagerank_spark.pipeline.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = _embeddings(spark, sf_dir)
    book = pq_train(spark, emb, m=4, k=16, iters=2)
    codes = pq_encode(emb, book, m=4)
    return pq_adc_topk(
        spark, codes, book, emb.filter(F.col("vec_id") < 8), m=4, k=10
    )


def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus line dedup (pipeline/linededup.py, C4/CCNet boilerplate
    removal, keep='first'). The synthetic docs are single-line, so the
    query first wraps each into 3-word lines (3-word windows DO collide
    across this small-vocab corpus, giving real dedup signal); output is
    per-doc line counts + md5 of the reassembled clean text, hash-checked
    against the windowed SQL twin."""
    from montecarlopagerank_spark.pipeline.linededup import line_dedup

    tk0 = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    wrap = F.element_at(
        F.transform(
            F.array(tk0),
            lambda tk: F.concat_ws(
                "\n",
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size(tk) / F.lit(3)).cast("int") - 1,
                    ),
                    lambda i: F.concat_ws(" ", F.slice(tk, i * 3 + 1, 3)),
                ),
            ),
        ),
        1,
    )
    d3 = _documents(spark, sf_dir).select("doc_id", wrap.alias("text"))
    out = line_dedup(d3, min_dup=2, keep="first", min_chars=5)
    return out.select(
        "doc_id", "n_lines", "n_kept", F.md5("clean_text").alias("clean_md5")
    )


# Registry order IS the driver's evaluation order, and the driver's
# CORRECTNESS gate windows the FIRST 50 entries. The first 50 slots
# therefore carry one hash-oracled representative per operator family
# (transcripts/edges, PageRank×5 incl. the weighted/warm variants,
# CC/SCC/LPA/triangles, k-core/truss, Katz, Louvain/coloring/core-
# numbers/MSF/Kahn/WL/densest/temporal-reach, funnel, butterfly,
# dedup×5, Bloom, ANN exact/IVF/PQ, DBSCAN, JL, sessionize/asof/range,
# streaming windows+join+sketch, sampling/packing, gopher/PII, BPE);
# redundant variants of already-represented families (roundtrips, the
# degree quartet, harmonic-vs-closeness, hits-vs-salsa, …) and the
# rows-only-by-design stochastic/sketch queries follow after slot 50.
QUERIES = {
    # -- slots 1-50 (r5 window): 5 regression sentinels (the 4 PageRank
    # variants + vertex_features, red in r03/r04, cast-fixed this round),
    # then EVERY query never driver-checked in rounds 1-4 (33), then the
    # least-recently-checked hash-oracled queries (last green r2/r3).
    # Union of r01-r05 windows now covers all 126 registered queries.
    "vertex_features": q_vertex_features,
    "pagerank_power_fixed": q_pagerank_power_fixed,
    "pagerank_weighted_fixed": q_pagerank_weighted_fixed,
    "pagerank_warm_fixed": q_pagerank_warm_fixed,
    "pagerank_personalized_fixed": q_pagerank_personalized_fixed,
    "bpe_token_total": q_bpe_token_total,
    "bigram_lm": q_bigram_lm,
    "turn_latency": q_turn_latency,
    "vocab_stats": q_vocab_stats,
    "readability": q_readability,
    "dedup_verdicts": q_dedup_verdicts,
    "embedding_dim_stats": q_embedding_dim_stats,
    "pca_project_embeddings": q_pca_project_embeddings,
    "sliding_event_counts": q_sliding_event_counts,
    "bottomk_sample_docs": q_bottomk_sample_docs,
    "mixture_sample_counts": q_mixture_sample_counts,
    "chunk_documents": q_chunk_documents,
    "stratified_sample_docs": q_stratified_sample_docs,
    "upsample_docs": q_upsample_docs,
    "hashed_features": q_hashed_features,
    "count_min_sketch": q_count_min_sketch,
    "edge_delta_append": q_edge_delta_append,
    "null_model_rewire": q_null_model_rewire,
    "temporal_relays": q_temporal_relays,
    "retention_weekly": q_retention_weekly,
    "event_transitions": q_event_transitions,
    "tfidf_top_terms": q_tfidf_top_terms,
    "bm25_search_top20": q_bm25_search_top20,
    "tool_cooccurrence": q_tool_cooccurrence,
    "reciprocity": q_reciprocity,
    "eigenvector_fixed6": q_eigenvector_fixed6,
    "louvain_level1_sizes": q_louvain_level1_sizes,
    "mis_vertices": q_mis_vertices,
    "max_matching": q_max_matching,
    "repetition_stats": q_repetition_stats,
    "contamination_check": q_contamination_check,
    "kmeans_embeddings": q_kmeans_embeddings,
    "sq_topk": q_sq_topk,
    "quality_score": q_quality_score,
    "langid_heuristic": q_langid_heuristic,
    "doc_fingerprint": q_doc_fingerprint,
    "embedding_near_dup_exact": q_embedding_near_dup_exact,
    "pagerank_power_top20": q_pagerank_power_top20,
    "transcripts_jsonl_roundtrip": q_transcripts_jsonl_roundtrip,
    "transcripts_orc_roundtrip": q_transcripts_orc_roundtrip,
    "tool_context_terms": q_tool_context_terms,
    "role_role_matrix": q_role_role_matrix,
    "tool_usage": q_tool_usage,
    "degree_top20": q_degree_top20,
    "degree_distribution": q_degree_distribution,
    # -- slots 51+: queries with recent (r3/r4) driver-green rows ----
    "transcripts_view": q_transcripts_view,
    "conversation_profile": q_conversation_profile,
    "edge_counts_by_kind": q_edge_counts_by_kind,
    "edges_streaming_counts": q_edges_streaming_counts,
    "turn_chain_edges": q_turn_chain_edges,
    "connected_components_sizes": q_connected_components_sizes,
    "scc_sizes": q_scc_sizes,
    "label_propagation_fixed2": q_label_propagation_fixed2,
    "triangle_count": q_triangle_count,
    "k_core_2": q_k_core_2,
    "k_truss_3": q_k_truss_3,
    "katz_fixed6": q_katz_fixed6,
    "louvain_communities_sizes": q_louvain_communities_sizes,
    "greedy_coloring": q_greedy_coloring,
    "core_numbers": q_core_numbers,
    "msf_forest": q_msf_forest,
    "kahn_layers": q_kahn_layers,
    "wl_refinement": q_wl_refinement,
    "densest_subgraph": q_densest_subgraph,
    "temporal_reachability": q_temporal_reachability,
    "funnel_view_click_purchase": q_funnel_view_click_purchase,
    "butterfly_count": q_butterfly_count,
    "quality_funnel": q_quality_funnel,
    "exact_dedup_groups": q_exact_dedup_groups,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "dedup_cluster_keep": q_dedup_cluster_keep,
    "line_dedup_docs": q_line_dedup_docs,
    "dup_ngram_spans": q_dup_ngram_spans,
    "bloom_prefilter": q_bloom_prefilter,
    "embedding_topk": q_embedding_topk,
    "ivf_topk": q_ivf_topk,
    "pq_topk": q_pq_topk,
    "dbscan_embeddings": q_dbscan_embeddings,
    "random_projection": q_random_projection,
    "sessionize_events": q_sessionize_events,
    "asof_last_signup": q_asof_last_signup,
    "range_join_counts": q_range_join_counts,
    "windowed_event_counts": q_windowed_event_counts,
    "stream_view_click_join": q_stream_view_click_join,
    "sketch_streaming_cells": q_sketch_streaming_cells,
    "hash_split_counts": q_hash_split_counts,
    "pack_sequences": q_pack_sequences,
    "gopher_quality_flags": q_gopher_quality_flags,
    "pii_scrub_events": q_pii_scrub_events,
    "bpe_merges": q_bpe_merges,
    "pagerank_mc_top20": q_pagerank_mc_top20,
    "mc_pi_agreement": q_mc_pi_agreement,
    "degree_quantiles": q_degree_quantiles,
    "degree_assortativity": q_degree_assortativity,
    "rich_club": q_rich_club,
    "harmonic_centrality_tools": q_harmonic_centrality_tools,
    "closeness_centrality_tools": q_closeness_centrality_tools,
    "label_propagation_sizes": q_label_propagation_sizes,
    "four_clique_count": q_four_clique_count,
    "null_model_triangles": q_null_model_triangles,
    "clustering_coefficient": q_clustering_coefficient,
    "link_prediction_top50": q_link_prediction_top50,
    "adamic_adar_top50": q_adamic_adar_top50,
    "hits_fixed5": q_hits_fixed5,
    "salsa_fixed5": q_salsa_fixed5,
    "negative_edges": q_negative_edges,
    "induced_subgraph_counts": q_induced_subgraph_counts,
    "bfs_hops_tools": q_bfs_hops_tools,
    "sssp_from_tools": q_sssp_from_tools,
    "random_walks_tools": q_random_walks_tools,
    "neighborhood_function": q_neighborhood_function,
    "betweenness_tools": q_betweenness_tools,
    "modularity_cc": q_modularity_cc,
    "node2vec_walks_tools": q_node2vec_walks_tools,
    "conductance_cc": q_conductance_cc,
    "token_stats": q_token_stats,
    "unigram_lm": q_unigram_lm,
    "minhash_dedup_pairs": q_minhash_dedup_pairs,
    "simhash_near_dupes": q_simhash_near_dupes,
    "embedding_topk_lsh": q_embedding_topk_lsh,
    "media_features": q_media_features,
}



# ---------------------------------------------------------------------------
# oracle SQL (DuckDB) — one entry per SQL-expressible query above
# ---------------------------------------------------------------------------

STOPWORDS_SQL = "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it']"

ORACLE_SQL = {
    "transcripts_view": f"""
WITH {SQL_TURNS}
SELECT conv_id, turn_idx, role, text, tool,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
FROM turns
""",
    "edge_counts_by_kind": f"""
WITH {SQL_TEDGES}
SELECT kind, COUNT(*) AS n_edges FROM tedges GROUP BY kind
""",
    "edges_streaming_counts": f"""
WITH {SQL_TEDGES}
SELECT kind, COUNT(*) AS n_edges FROM tedges GROUP BY kind
""",
    "edge_delta_append": f"""
WITH cutv AS (
  SELECT CAST(FLOOR(quantile_cont(epoch_us(ts), 0.5)) AS BIGINT) AS cut
  FROM events
),
{_tedges_variant('A')},
{_tedges_variant('B', ' WHERE epoch_us(ts) <= (SELECT cut FROM cutv)')}
SELECT src, dst, kind,
       (COALESCE(n_new, 0) - COALESCE(n_old, 0))::BIGINT AS delta
FROM (SELECT src, dst, kind, COUNT(*) AS n_new FROM tedgesA GROUP BY 1, 2, 3) n
FULL JOIN (SELECT src, dst, kind, COUNT(*) AS n_old FROM tedgesB
           GROUP BY 1, 2, 3) o
  USING (src, dst, kind)
WHERE COALESCE(n_new, 0) <> COALESCE(n_old, 0)
""",
    "turn_chain_edges": f"""
WITH {SQL_TEDGES}
SELECT src, dst FROM tedges WHERE kind = 'turn_chain'
""",
    "role_role_matrix": f"""
WITH {SQL_TEDGES}
SELECT src, dst, COUNT(*) AS n FROM tedges WHERE kind = 'role_role'
GROUP BY src, dst
""",
    "tool_usage": f"""
WITH {SQL_TEDGES}
SELECT dst AS tool_key, COUNT(*) AS n_refs FROM tedges
WHERE kind = 'turn_tool' GROUP BY dst
""",
    "degree_top20": f"""
WITH {SQL_TEDGES},
{_verts()},
outd AS (SELECT src AS v, COUNT(*) AS out_deg FROM tedges GROUP BY src),
ind  AS (SELECT dst AS v, COUNT(*) AS in_deg  FROM tedges GROUP BY dst)
SELECT verts.v, COALESCE(ind.in_deg, 0) AS in_deg,
       COALESCE(outd.out_deg, 0) AS out_deg
FROM verts LEFT JOIN outd ON verts.v = outd.v LEFT JOIN ind ON verts.v = ind.v
ORDER BY in_deg DESC, verts.v ASC LIMIT 20
""",
    "degree_distribution": f"""
WITH {SQL_TEDGES},
{_verts()},
outd AS (SELECT src AS v, COUNT(*) AS out_deg FROM tedges GROUP BY src)
SELECT CAST(COALESCE(outd.out_deg, 0) AS BIGINT) AS out_deg,
       COUNT(*) AS n_vertices
FROM verts LEFT JOIN outd ON verts.v = outd.v
GROUP BY 1
""",
    "degree_quantiles": f"""
WITH {SQL_TEDGES},
{_verts()},
outd AS (SELECT src AS v, COUNT(*) AS out_deg FROM tedges GROUP BY src),
alld AS (
  SELECT COALESCE(outd.out_deg, 0) AS od
  FROM verts LEFT JOIN outd ON verts.v = outd.v
)
SELECT CAST(p AS DOUBLE) AS p, ROUND(q, 6) AS q_r6 FROM (
  SELECT UNNEST([0.5, 0.9, 0.99, 0.999]) AS p,
         UNNEST(quantile_cont(od, [0.5, 0.9, 0.99, 0.999])) AS q
  FROM alld
)
""",
    "degree_assortativity": f"""
WITH {SQL_TEDGES},
{_und()},
sym AS (
  SELECT x AS u, y AS w FROM und UNION ALL SELECT y, x FROM und
),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u)
SELECT ROUND(CORR(du.d, dw.d), 6) AS assortativity_r6
FROM sym JOIN deg du ON sym.u = du.u JOIN deg dw ON sym.w = dw.u
""",
    "rich_club": f"""
WITH {SQL_TEDGES},
{_und()},
sym AS (SELECT x AS u, y AS w FROM und UNION ALL SELECT y, x FROM und),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
ks AS (SELECT UNNEST([2, 4, 8, 16]) AS k),
nr AS (
  SELECT k, COUNT(*) AS n_rich FROM deg, ks WHERE d > k GROUP BY k
),
er AS (
  SELECT k, COUNT(*) AS e_rich
  FROM und JOIN deg dx ON und.x = dx.u JOIN deg dy ON und.y = dy.u, ks
  WHERE LEAST(dx.d, dy.d) > k GROUP BY k
)
SELECT CAST(ks.k AS BIGINT) AS k,
       CAST(COALESCE(n_rich, 0) AS BIGINT) AS n_rich,
       CAST(COALESCE(e_rich, 0) AS BIGINT) AS e_rich,
       CASE WHEN COALESCE(n_rich, 0) >= 2 THEN
         ROUND(2.0 * COALESCE(e_rich, 0)
               / (COALESCE(n_rich, 0) * (COALESCE(n_rich, 0) - 1)), 6)
       END AS phi_r6
FROM ks LEFT JOIN nr ON ks.k = nr.k LEFT JOIN er ON ks.k = er.k
""",
    # funnel: composes the verified gopher/repetition/langid fragments
    "quality_funnel": rf"""
WITH base AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS nc,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
         regexp_split_to_array(lower(trim(text)), '\s+') AS tk
  FROM documents
), gm AS (
  SELECT doc_id,
    len(tk)::DOUBLE AS n,
    CASE WHEN len(tk)>0
         THEN list_sum(list_transform(tk, t -> len(t)))::DOUBLE / len(tk)
         ELSE 0 END AS mean_len,
    CASE WHEN len(tk)>0
         THEN len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))::DOUBLE / len(tk)
         ELSE 0 END AS alpha_frac,
    CASE WHEN len(tk)>0
         THEN len(regexp_extract_all(text, '(#|\.\.\.)'))::DOUBLE / len(tk)
         ELSE 0 END AS symbol_ratio,
    len(list_filter(tk, t -> list_contains({STOPWORDS_SQL}, t)))::BIGINT AS n_stop
  FROM base
), gq AS (
  SELECT doc_id,
    (n >= 30 AND n <= 100000) AND (mean_len >= 3.0 AND mean_len <= 10.0)
      AND (symbol_ratio <= 0.1) AND (alpha_frac >= 0.8) AND (n_stop >= 2)
      AS s1
  FROM gm
), b2 AS (
  SELECT doc_id, tk, len(tk) AS n,
    CASE WHEN len(tk) >= 2
         THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
         ELSE [] END AS bg
  FROM base
), gc AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(bg) AS g FROM b2) GROUP BY doc_id, g
), topg AS (SELECT doc_id, MAX(c) AS mx FROM gc GROUP BY doc_id),
rep AS (
  SELECT b2.doc_id,
    ROUND(CASE WHEN n>0 THEN 1.0 - len(list_distinct(tk))::DOUBLE / n
               ELSE 0 END, 6) AS dtf,
    ROUND(CASE WHEN len(bg)>0 THEN COALESCE(mx, 0)::DOUBLE / len(bg)
               ELSE 0 END, 6) AS tbf
  FROM b2 LEFT JOIN topg ON b2.doc_id = topg.doc_id
), lc AS (
  SELECT doc_id,
         CAST(greatest(length(text), 1) AS DOUBLE) AS n_chars,
         len(regexp_extract_all(text, '[\x{{4E00}}-\x{{9FFF}}]')) AS cjk,
         len(regexp_extract_all(text, '[\x{{3040}}-\x{{30FF}}]')) AS kana,
         len(regexp_extract_all(text, '[\x{{AC00}}-\x{{D7AF}}]')) AS hangul,
         len(regexp_extract_all(text, '[\x{{0400}}-\x{{04FF}}]')) AS cyr,
         len(regexp_extract_all(text, '[\x{{00C0}}-\x{{00FF}}\x{{0100}}-\x{{017F}}]')) AS acc
  FROM documents
), lng AS (
  SELECT doc_id,
       CASE WHEN cjk / n_chars > 0.05 THEN 'zh'
            WHEN kana / n_chars > 0.05 THEN 'ja'
            WHEN hangul / n_chars > 0.05 THEN 'ko'
            WHEN cyr / n_chars > 0.05 THEN 'ru'
            WHEN acc / n_chars > 0.03 THEN 'latin-acc'
            ELSE 'en' END AS pred_lang
  FROM lc
), j AS (
  SELECT base.doc_id, base.nc, base.norm, gq.s1,
         (gq.s1 AND rep.dtf <= 0.3 AND rep.tbf <= 0.2) AS s2,
         (gq.s1 AND rep.dtf <= 0.3 AND rep.tbf <= 0.2
          AND lng.pred_lang = 'en') AS s3
  FROM base JOIN gq USING (doc_id) JOIN rep USING (doc_id)
            JOIN lng USING (doc_id)
), keep AS (
  SELECT norm, MIN(doc_id) AS keep_id FROM j WHERE s3 GROUP BY norm
), j2 AS (
  SELECT j.*, (s3 AND doc_id = keep_id) AS s4
  FROM j LEFT JOIN keep USING (norm)
), a AS (
  SELECT COUNT(*) AS c0, SUM(nc) AS m0,
         SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN s1 THEN nc ELSE 0 END) AS m1,
         SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS c2,
         SUM(CASE WHEN s2 THEN nc ELSE 0 END) AS m2,
         SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS c3,
         SUM(CASE WHEN s3 THEN nc ELSE 0 END) AS m3,
         SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS c4,
         SUM(CASE WHEN s4 THEN nc ELSE 0 END) AS m4
  FROM j2
)
SELECT CAST(0 AS BIGINT) AS stage, 'all' AS name, CAST(c0 AS BIGINT) AS n_docs,
       CAST(COALESCE(m0, 0) AS BIGINT) AS n_chars FROM a
UNION ALL SELECT 1, 'gopher', CAST(c1 AS BIGINT),
       CAST(COALESCE(m1, 0) AS BIGINT) FROM a
UNION ALL SELECT 2, 'repetition', CAST(c2 AS BIGINT),
       CAST(COALESCE(m2, 0) AS BIGINT) FROM a
UNION ALL SELECT 3, 'langid_en', CAST(c3 AS BIGINT),
       CAST(COALESCE(m3, 0) AS BIGINT) FROM a
UNION ALL SELECT 4, 'exact_dedup', CAST(c4 AS BIGINT),
       CAST(COALESCE(m4, 0) AS BIGINT) FROM a
""",
    "pagerank_power_fixed": _pi_sql(5),
    "pagerank_weighted_fixed": _pi_sql(5),
    "pagerank_personalized_fixed": _ppr_sql(5),
    "hits_fixed5": _hits_sql(5),
    "salsa_fixed5": _salsa_sql(5),
    "induced_subgraph_counts": """
WITH """ + SQL_TEDGES + """,
kept AS (
  SELECT src, dst, kind FROM tedges
  WHERE ('0x' || substr(md5('subg:' || src), 1, 8))::UBIGINT < 1288490188
    AND ('0x' || substr(md5('subg:' || dst), 1, 8))::UBIGINT < 1288490188
)
SELECT kind, COUNT(*) AS n_edges FROM kept GROUP BY kind
""",
    "negative_edges": """
WITH """ + SQL_TEDGES + """,
de AS (SELECT DISTINCT src, dst FROM tedges),
verts AS (SELECT src AS v FROM de UNION SELECT dst FROM de),
vindex AS (
  SELECT v, ROW_NUMBER() OVER (
    ORDER BY ('0x' || substr(md5('vidx:' || v), 1, 8))::UBIGINT % 1024, v
  ) - 1 AS idx
  FROM verts
),
nn AS (SELECT COUNT(*) AS n FROM vindex),
cand AS (
  SELECT s.src, t.j,
         ('0x' || substr(md5('neg:' || s.src || '#' || CAST(t.j AS VARCHAR)),
                         1, 8))::UBIGINT % nn.n AS cidx
  FROM (SELECT DISTINCT src FROM de) s
       CROSS JOIN (SELECT range AS j FROM range(0, 15)) t, nn
),
joined AS (
  SELECT c.src, i.v AS dst, c.j
  FROM cand c JOIN vindex i ON c.cidx = i.idx
  WHERE i.v <> c.src
    AND NOT EXISTS (SELECT 1 FROM de WHERE de.src = c.src AND de.dst = i.v)
)
SELECT src, dst, CAST(neg_rank AS INT) AS neg_rank FROM (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY j) AS neg_rank
  FROM joined)
WHERE neg_rank <= 5
""",
    "vertex_features": f"""
WITH {SQL_TEDGES},
{_und("p")},
sym AS (
  SELECT x AS u, y AS w FROM p UNION ALL SELECT y, x FROM p
),
deg AS (SELECT u AS v, COUNT(*) AS deg FROM sym GROUP BY u),
od AS (SELECT src AS v, COUNT(*) AS out_deg FROM tedges GROUP BY src),
idg AS (SELECT dst AS v, COUNT(*) AS in_deg FROM tedges GROUP BY dst),
nbr AS (
  SELECT s.u AS v, SUM(d.deg) AS sum_nbr_deg,
         SUM(d.deg - 1) AS wedges
  FROM sym s JOIN deg d ON s.w = d.v GROUP BY s.u
),
{_verts()}
SELECT verts.v, COALESCE(od.out_deg, 0) AS out_deg,
       COALESCE(idg.in_deg, 0) AS in_deg,
       COALESCE(deg.deg, 0) AS deg,
       CAST(COALESCE(nbr.sum_nbr_deg, 0) AS BIGINT) AS sum_nbr_deg,
       CAST(COALESCE(nbr.wedges, 0) AS BIGINT) AS wedges
FROM verts LEFT JOIN od USING (v) LEFT JOIN idg USING (v)
     LEFT JOIN deg USING (v) LEFT JOIN nbr USING (v)
""",
    "bfs_hops_tools": _bfs_sql(6),
    "sssp_from_tools": _sssp_sql(24),
    "random_walks_tools": _walks_sql(6, 2),
    "betweenness_tools": _btw_sql(6),
    "modularity_cc": _modularity_sql(24),
    "conductance_cc": _conductance_sql(24),
    "harmonic_centrality_tools": _harmonic_sql(6),
    "closeness_centrality_tools": _closeness_sql(6),
    "connected_components_sizes": _cc_sql(24),
    "scc_sizes": _scc_sql(),
    "k_core_2": _kcore_sql(2, 28),
    "k_truss_3": _truss_sql(3, 8),
    "kahn_layers": _kahn_sql(12),
    "msf_forest": _msf_sql(14, 10),
    "densest_subgraph": _densest_sql(24),
    "temporal_reachability": _temporal_reach_sql(8),
    "wl_refinement": _wl_sql(3),
    "temporal_relays": ("WITH " + SQL_TURNS) + """,
tch AS (
  SELECT conv_id, turn_idx, role, tool, epoch_us(ts) AS t,
         LAG(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_turn,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM turns
),
te AS (
  SELECT 'turn#' || conv_id || '#' || CAST(prev_turn AS VARCHAR) AS src,
         'turn#' || conv_id || '#' || CAST(turn_idx AS VARCHAR) AS dst, t
  FROM tch WHERE prev_turn IS NOT NULL
  UNION ALL
  SELECT 'role#' || prev_role, 'role#' || role, t
  FROM tch WHERE prev_role IS NOT NULL
  UNION ALL
  SELECT 'turn#' || conv_id || '#' || CAST(turn_idx AS VARCHAR),
         'tool#' || tool, t
  FROM tch WHERE tool IS NOT NULL
)
SELECT i.v, CAST(COUNT(*) AS BIGINT) AS n_relays
FROM (SELECT dst AS v, t AS t1 FROM te) i
JOIN (SELECT src AS v, t AS t2 FROM te) o
  ON i.v = o.v AND o.t2 >= i.t1 AND o.t2 - i.t1 <= 600000000
GROUP BY i.v
""",
    "dbscan_embeddings": _dbscan_sql(8, 2),
    "random_projection": """
SELECT vec_id, CAST(r AS BIGINT) AS dim,
  ROUND(list_reduce(list_transform(range(1, 65), j ->
    CAST(embedding[j] AS DOUBLE) *
    ((CASE WHEN (('0x' || substr(md5('rp:7:' || CAST(r AS VARCHAR) || ':'
                                  || CAST(j - 1 AS VARCHAR)), 1, 1))::UBIGINT
                 % 2) = 0
           THEN 1.0 ELSE -1.0 END) / sqrt(16.0))
  ), (a, b) -> a + b), 6) AS val_r6
FROM embeddings, (SELECT unnest(range(16)) AS r)
""",
    "label_propagation_fixed2": _lpa_sql(2),
    "label_propagation_sizes": _lpa_sql(10),
    "triangle_count": f"""
WITH {SQL_TEDGES},
{_und()}
SELECT COUNT(*) AS triangles
FROM und a JOIN und b ON a.y = b.x JOIN und c ON a.x = c.x AND b.y = c.y
""",
    # rewire twin + triangle 3-join composed: the rewired edge list is
    # rebuilt exactly as in null_model_rewire, then counted like
    # triangle_count on its undirected closure
    "null_model_triangles": f"""
WITH {SQL_TEDGES},
s AS (
  SELECT src, dst,
         md5('s#' || src || '#' || dst) AS hs,
         md5('d#' || src || '#' || dst) AS hd
  FROM tedges
),
rs AS (SELECT src, ROW_NUMBER() OVER (ORDER BY hs, src, dst) - 1 AS pos FROM s),
rd AS (SELECT dst, ROW_NUMBER() OVER (ORDER BY hd, src, dst) - 1 AS pos FROM s),
re AS (SELECT rs.src, rd.dst FROM rs JOIN rd USING (pos)),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS x, GREATEST(src, dst) AS y
  FROM re WHERE src <> dst
)
SELECT COUNT(*) AS triangles
FROM und a JOIN und b ON a.y = b.x JOIN und c ON a.x = c.x AND b.y = c.y
""",
    "four_clique_count": f"""
WITH {SQL_TEDGES},
{_und()}
SELECT CAST(COUNT(*) AS BIGINT) AS n_4cliques
FROM und ab
JOIN und ac ON ac.x = ab.x AND ac.y > ab.y
JOIN und bc ON bc.x = ab.y AND bc.y = ac.y
JOIN und ad ON ad.x = ab.x AND ad.y > ac.y
JOIN und bd ON bd.x = ab.y AND bd.y = ad.y
JOIN und cd ON cd.x = ac.y AND cd.y = ad.y
""",
    "clustering_coefficient": f"""
WITH {SQL_TEDGES},
{_und()},
tri AS (
  SELECT a.x AS v1, a.y AS v2, b.y AS v3
  FROM und a JOIN und b ON a.y = b.x JOIN und c ON a.x = c.x AND b.y = c.y
),
pv AS (
  SELECT v, COUNT(*) AS t FROM (
    SELECT v1 AS v FROM tri
    UNION ALL SELECT v2 FROM tri
    UNION ALL SELECT v3 FROM tri
  ) GROUP BY v
),
deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT x AS v FROM und UNION ALL SELECT y FROM und
  ) GROUP BY v
)
SELECT deg.v AS v, CAST(deg.d AS BIGINT) AS deg,
       CAST(COALESCE(pv.t, 0) AS BIGINT) AS triangles,
       ROUND(CASE WHEN deg.d >= 2
                  THEN 2.0 * COALESCE(pv.t, 0) / (CAST(deg.d AS DOUBLE) * (deg.d - 1.0))
                  ELSE 0.0 END, 6) AS cc_r6
FROM deg LEFT JOIN pv ON deg.v = pv.v
""",
    "link_prediction_top50": f"""
WITH {SQL_TEDGES},
{_und()},
sym AS (SELECT x AS v, y AS w FROM und UNION ALL SELECT y, x FROM und),
deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
apexn AS (
  SELECT s.v AS apex, s.w FROM sym s JOIN deg ON s.v = deg.v
  WHERE deg.d <= 64
),
cand AS (
  SELECT l.w AS a, r.w AS b, COUNT(*) AS common
  FROM apexn l JOIN apexn r ON l.apex = r.apex
  WHERE l.w < r.w GROUP BY l.w, r.w
),
fresh AS (
  SELECT c.* FROM cand c LEFT JOIN und e ON c.a = e.x AND c.b = e.y
  WHERE e.x IS NULL
)
SELECT f.a, f.b, CAST(f.common AS BIGINT) AS common,
       ROUND(CAST(f.common AS DOUBLE)
             / (da.d + db.d - CAST(f.common AS DOUBLE)), 6) AS jaccard_r6
FROM fresh f JOIN deg da ON f.a = da.v JOIN deg db ON f.b = db.v
ORDER BY common DESC, a ASC, b ASC LIMIT 50
""",
    "adamic_adar_top50": f"""
WITH {SQL_TEDGES},
{_und()},
sym AS (SELECT x AS v, y AS w FROM und UNION ALL SELECT y, x FROM und),
deg AS (SELECT v, COUNT(*) AS d FROM sym GROUP BY v),
apexn AS (
  SELECT s.v AS apex, s.w, 1.0 / ln(deg.d) AS wt
  FROM sym s JOIN deg ON s.v = deg.v
  WHERE deg.d <= 64 AND deg.d >= 2
),
cand AS (
  SELECT l.w AS a, r.w AS b, COUNT(*) AS common, SUM(l.wt) AS aa
  FROM apexn l JOIN apexn r ON l.apex = r.apex
  WHERE l.w < r.w GROUP BY l.w, r.w
),
fresh AS (
  SELECT c.* FROM cand c LEFT JOIN und e ON c.a = e.x AND c.b = e.y
  WHERE e.x IS NULL
)
SELECT a, b, CAST(common AS BIGINT) AS common, ROUND(aa, 6) AS aa_r6
FROM fresh
ORDER BY aa_r6 DESC, common DESC, a ASC, b ASC LIMIT 50
""",
    "token_stats": r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
         AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
         AS n_word_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
FROM documents
""",
    "turn_latency": f"""
WITH {SQL_TURNS},
g AS (
  SELECT conv_id, role,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS prev_role,
         epoch_us(ts) - LAG(epoch_us(ts))
           OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap_us
  FROM turns
)
SELECT prev_role, role, COUNT(*) AS n,
       ROUND(AVG(gap_us), 6) AS mean_us,
       quantile_cont(gap_us, 0.5) AS p50_us,
       quantile_cont(gap_us, 0.95) AS p95_us
FROM g WHERE prev_role IS NOT NULL
GROUP BY prev_role, role
""",
    "vocab_stats": r"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
)
SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       COUNT(*) AS total_tokens,
       COUNT(DISTINCT tok) AS n_distinct,
       ROUND(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 6) AS ttr_r6
FROM toks
""",
    "unigram_lm": r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT SUM(c) AS t FROM cnt)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(ln(tot.t) - ln(cnt.c)), 6) AS cross_entropy_r6
FROM toks JOIN cnt USING (tok), tot
GROUP BY doc_id
""",
    # interpolation weights written as 0.7 / (1.0 - 0.7) so DuckDB
    # evaluates the same IEEE doubles as the Spark lit()s
    "bpe_merges": _bpe_sql(8),
    "bpe_token_total": _bpe_total_sql(8),
    "bigram_lm": r"""
WITH tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
uni AS (
  SELECT tok AS w2, COUNT(*) AS cu
  FROM (SELECT unnest(tk) AS tok FROM tk) GROUP BY tok
),
tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS t FROM uni),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
         unnest(list_transform(range(1, len(tk)), i -> tk[i + 1])) AS w2
  FROM tk WHERE len(tk) >= 2
),
c2 AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, SUM(cb) AS cc FROM c2 GROUP BY w1)
SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
       ROUND(AVG(-ln(0.7 * c2.cb / ctx.cc + (1.0 - 0.7) * uni.cu / tot.t)),
             6) AS cross_entropy_r6
FROM bg JOIN c2 USING (w1, w2) JOIN ctx USING (w1)
     JOIN uni ON bg.w2 = uni.w2, tot
GROUP BY doc_id
""",
    "quality_score": rf"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS tk,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS n_punct
  FROM documents
),
r AS (
  SELECT doc_id,
         CAST(len(tk) AS DOUBLE) AS n_tok,
         CAST(len(list_filter(tk, x -> list_contains({STOPWORDS_SQL}, lower(x))))
              AS DOUBLE) AS n_stop,
         n_chars, n_punct
  FROM t
),
m AS (
  SELECT doc_id,
         CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_tok > 0 THEN n_chars / n_tok ELSE 0.0 END AS mean_tok_len,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
         n_chars
  FROM r
)
SELECT doc_id,
       ROUND(stop_ratio, 6) AS stop_ratio,
       ROUND(mean_tok_len, 6) AS mean_tok_len,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(
         (CASE WHEN n_chars >= 50 AND n_chars <= 20000 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN stop_ratio >= 0.01 AND stop_ratio <= 0.6 THEN 0.3 ELSE 0.0 END)
         + (CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 12.0 THEN 0.2 ELSE 0.0 END)
         + (CASE WHEN punct_ratio <= 0.1 THEN 0.1 ELSE 0.0 END), 2)
         :: DOUBLE AS quality
FROM m
""",
    "readability": r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\s+') AS tk,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents
  FROM documents
),
c AS (
  SELECT doc_id,
         CAST(GREATEST(len(tk), 1) AS DOUBLE) AS w,
         CAST(n_sents AS DOUBLE) AS s,
         CAST(list_reduce(
           list_transform(tk, x ->
             GREATEST(len(regexp_extract_all(x, '[aeiouy]+')), 1)),
           (a, b) -> a + b) AS DOUBLE) AS y
  FROM t
)
SELECT doc_id, CAST(w AS BIGINT) AS n_words, CAST(s AS BIGINT) AS n_sentences,
       CAST(y AS BIGINT) AS n_syllables,
       ROUND(206.835 - 1.015 * (w / s) - 84.6 * (y / w), 4) AS flesch_ease_r4,
       ROUND(0.39 * (w / s) + 11.8 * (y / w) - 15.59, 4) AS fk_grade_r4
FROM c
""",
    "langid_heuristic": r"""
WITH c AS (
  SELECT doc_id,
         CAST(greatest(length(text), 1) AS DOUBLE) AS n_chars,
         len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS cjk,
         len(regexp_extract_all(text, '[\x{3040}-\x{30FF}]')) AS kana,
         len(regexp_extract_all(text, '[\x{AC00}-\x{D7AF}]')) AS hangul,
         len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS cyr,
         len(regexp_extract_all(text, '[\x{00C0}-\x{00FF}\x{0100}-\x{017F}]')) AS acc
  FROM documents
)
SELECT doc_id,
       CASE WHEN cjk / n_chars > 0.05 THEN 'zh'
            WHEN kana / n_chars > 0.05 THEN 'ja'
            WHEN hangul / n_chars > 0.05 THEN 'ko'
            WHEN cyr / n_chars > 0.05 THEN 'ru'
            WHEN acc / n_chars > 0.03 THEN 'latin-acc'
            ELSE 'en' END AS pred_lang
FROM c
""",
    "doc_fingerprint": rf"""
WITH n AS (
  SELECT doc_id, {SQL_NORM} AS norm FROM documents
),
t AS (
  SELECT doc_id, norm, regexp_split_to_array(norm, '\s+') AS tk FROM n
)
SELECT doc_id,
       md5(norm) AS md5_norm,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           [('0x' || substr(md5(x), 1, 8))::BIGINT for x in tk]),
         (h, x) -> (h * 31 + x) % 2147483647
       ) AS rolling_hash
FROM t
""",
    "exact_dedup_groups": f"""
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM (SELECT doc_id, md5({SQL_NORM}) AS k FROM documents) g
GROUP BY k
""",
    "dedup_verdicts": f"""
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY k) AS keep_id,
       doc_id <> MIN(doc_id) OVER (PARTITION BY k) AS is_dup
FROM (SELECT doc_id, md5({SQL_NORM}) AS k FROM documents) g
""",
    "dedup_cluster_keep": _dedup_cluster_sql(6),
    "ngram_jaccard_pairs": rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array({SQL_NORM}, '\s+') AS tk
  FROM documents WHERE doc_id < 40
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(tk) >= 3
                THEN [array_to_string(tk[i:i+2], ' ')
                      for i in generate_series(1, len(tk) - 2)]
                ELSE [array_to_string(tk, ' ')] END
         ) AS shingles
  FROM t
)
SELECT a.doc_id AS a, b.doc_id AS b,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
""",
    "embedding_dim_stats": """
SELECT CAST(t.ord - 1 AS INTEGER) AS dim,
       ROUND(AVG(t.x), 6) AS mean_r6,
       ROUND(AVG(t.x * t.x) - AVG(t.x) * AVG(t.x), 6) AS var_r6
FROM (
  SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS ord
  FROM embeddings
) t
GROUP BY t.ord
""",
    "embedding_topk": """
WITH scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbour_id,
         ROUND(list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[]),
               6) AS cos_sim
  FROM embeddings q JOIN embeddings b ON b.vec_id <> q.vec_id
  WHERE q.vec_id < 5
),
ranked AS (
  SELECT query_id, neighbour_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbour_id ASC) AS rn
  FROM scored
)
SELECT query_id, neighbour_id, cos_sim, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 10
""",
    "embedding_near_dup_exact": """
SELECT a.vec_id AS a, b.vec_id AS b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
             6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
            6) >= 0.4
""",
    "sessionize_events": """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
lagd AS (
  SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pus
  FROM e
),
marked AS (
  SELECT *, CASE WHEN pus IS NULL OR us - pus > 14400000000 THEN 1 ELSE 0 END
              AS new_s
  FROM lagd
),
sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events, MAX(us) - MIN(us) AS duration_us,
       MIN(event_id) AS first_event_id
FROM sess GROUP BY user_id, session_id
""",
    "sliding_event_counts": """
WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
x AS (
  SELECT unnest(range(
           (us - 3600000000) // 900000000 + 1,
           us // 900000000 + 1)) * 900000000 AS window_start_us,
         event_type, value
  FROM e)
SELECT window_start_us, event_type, COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value_r6
FROM x GROUP BY 1, 2
""",
    "stream_view_click_join": """
WITH v AS (SELECT user_id, event_id AS view_id, ts AS vts
           FROM events WHERE event_type = 'view'),
c AS (SELECT user_id, event_id AS click_id, ts AS cts
      FROM events WHERE event_type = 'click')
SELECT v.user_id, view_id, click_id,
       epoch_us(cts) - epoch_us(vts) AS lag_us
FROM v JOIN c ON v.user_id = c.user_id
     AND cts >= vts AND cts <= vts + INTERVAL 30 MINUTE
""",
    "windowed_event_counts": """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       event_type, COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value_r6
FROM events GROUP BY 1, 2
""",
    "asof_last_signup": """
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
  WHERE event_type = 'purchase'
),
s AS (
  SELECT user_id, epoch_us(ts) AS sus, MAX(event_id) AS signup_event_id
  FROM events WHERE event_type = 'signup' GROUP BY user_id, epoch_us(ts)
)
SELECT p.event_id, s.signup_event_id, p.us - s.sus AS lag_us
FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.us >= s.sus
""",
    "range_join_counts": """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
err AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'error')
SELECT err.event_id, COUNT(x.event_id) AS n_nearby
FROM err LEFT JOIN e x ON err.user_id = x.user_id
  AND x.event_id <> err.event_id AND ABS(x.us - err.us) <= 7200000000
GROUP BY err.event_id
""",
    # thresholds are int(cum_frac * 2^32): 0.8→3435973836, 0.9→3865470566
    "bottomk_sample_docs": """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
           AS bkt
  FROM documents ORDER BY bkt, doc_id LIMIT 100)
""",
    "hash_split_counts": """
WITH b AS (
  SELECT lang, n_chars,
         ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
           AS bkt
  FROM documents
)
SELECT CASE WHEN bkt < 3435973836 THEN 'train'
            WHEN bkt < 3865470566 THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM b GROUP BY 1, 2
""",
    # keep fractions 0.9/0.5/0.2 by source index % 3:
    # int(w * 2^32) = 3865470566 / 2147483648 / 858993459
    "mixture_sample_counts": """
WITH b AS (
  SELECT source,
         ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
           AS bkt
  FROM documents
)
SELECT source, COUNT(*) AS n_kept
FROM b
WHERE bkt < CASE CAST(substr(source, 4) AS INT) % 3
            WHEN 0 THEN 3865470566 WHEN 1 THEN 2147483648
            ELSE 858993459 END
GROUP BY source
""",
    "chunk_documents": """
WITH s AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(length(text), 1), 160)) AS strt
  FROM documents
)
SELECT doc_id, CAST((strt - 1) // 160 AS BIGINT) AS chunk_idx,
       CAST(length(substr(text, strt, 200)) AS BIGINT) AS chunk_len,
       md5(substr(text, strt, 200)) AS chunk_md5
FROM s
""",
    "pack_sequences": r"""
WITH d AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END
              AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), o AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
  FROM d
)
SELECT doc_id, n_tok, CAST(tok_start AS BIGINT) AS tok_start,
       CAST(tok_start // 512 AS BIGINT) AS chunk_first,
       CAST((tok_start + GREATEST(n_tok, 1) - 1) // 512 AS BIGINT)
         AS chunk_last,
       CAST((tok_start + GREATEST(n_tok, 1) - 1) // 512
            - tok_start // 512 + 1 AS BIGINT) AS n_chunks
FROM o
""",
    "stratified_sample_docs": """
WITH d AS (
  SELECT doc_id, source,
         md5('strat:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) - 1 AS pos,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM d
)
SELECT doc_id, source FROM r WHERE pos < FLOOR(0.25 * n + 0.5)
""",
    "null_model_rewire": f"""
WITH {SQL_TEDGES},
s AS (
  SELECT src, dst,
         md5('s#' || src || '#' || dst) AS hs,
         md5('d#' || src || '#' || dst) AS hd
  FROM tedges
),
rs AS (SELECT src, ROW_NUMBER() OVER (ORDER BY hs, src, dst) - 1 AS pos FROM s),
rd AS (SELECT dst, ROW_NUMBER() OVER (ORDER BY hd, src, dst) - 1 AS pos FROM s)
SELECT CAST(rs.pos AS BIGINT) AS pos, rs.src AS src, rd.dst AS dst
FROM rs JOIN rd USING(pos)
""",
    "upsample_docs": f"""
WITH d AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('up:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
           AS b
  FROM documents
), c AS (
  SELECT doc_id, source,
         (CASE source {" ".join(f"WHEN '{s}' THEN {int(w)}" for s, w in sorted(UP_WEIGHTS.items()))} ELSE 1 END)
         + CASE WHEN b < (CASE source {" ".join(f"WHEN '{s}' THEN {int((w - int(w)) * (1 << 32))}" for s, w in sorted(UP_WEIGHTS.items()))} ELSE 0 END)
                THEN 1 ELSE 0 END AS copies
  FROM d
)
SELECT doc_id, source, CAST(UNNEST(range(copies)) AS BIGINT) AS copy_idx FROM c
""",
    "count_min_sketch": r"""
WITH t AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents
), r AS (
  SELECT t, unnest(range(4)) AS d FROM t WHERE t <> ''
)
SELECT CAST(d AS BIGINT) AS d,
       CAST((('0x' || substr(md5('cm:' || CAST(d AS VARCHAR) || ':' || t),
                             1, 8))::UBIGINT % 256) AS BIGINT) AS w,
       COUNT(*)::BIGINT AS c
FROM r GROUP BY 1, 2
""",
    "hashed_features": f"""
WITH tk AS (
  SELECT doc_id, regexp_split_to_array({SQL_NORM}, ' ') AS tk FROM documents
), g AS (
  SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
    THEN [array_to_string(tk[i:i+1], ' ')
          for i in generate_series(1, len(tk) - 1)]
    ELSE [] END) AS g
  FROM tk
), f AS (
  SELECT doc_id,
         ('0x' || substr(md5('fh:' || g), 1, 8))::UBIGINT % 256 AS idx,
         CASE WHEN ('0x' || substr(md5('fs:' || g), 1, 1))::UBIGINT % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM g WHERE g <> ''
)
SELECT doc_id, CAST(idx AS BIGINT) AS idx, SUM(s)::BIGINT AS val
FROM f GROUP BY doc_id, idx HAVING SUM(s) <> 0
""",
    # greedy in-order funnel: t1 = min step-1 ts, t_i = min step-i ts >= t_{i-1}
    "funnel_view_click_purchase": """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
t1 AS (SELECT user_id, MIN(us) AS u1 FROM e WHERE event_type = 'view'
       GROUP BY user_id),
t2 AS (SELECT e.user_id, MIN(us) AS u2 FROM e JOIN t1 USING(user_id)
       WHERE event_type = 'click' AND us >= u1 GROUP BY e.user_id),
t3 AS (SELECT e.user_id, MIN(us) AS u3 FROM e JOIN t2 USING(user_id)
       WHERE event_type = 'purchase' AND us >= u2 GROUP BY e.user_id)
SELECT 1 AS step_idx, 'view' AS step, (SELECT COUNT(*) FROM t1) AS n_users
UNION ALL
SELECT 2, 'click', (SELECT COUNT(*) FROM t2)
UNION ALL
SELECT 3, 'purchase', (SELECT COUNT(*) FROM t3)
""",
    "retention_weekly": """
WITH pu AS (
  SELECT user_id AS u, epoch_us(ts) // 604800000000 AS p FROM events
),
f AS (SELECT u, MIN(p) AS cohort_period FROM pu GROUP BY u)
SELECT f.cohort_period, pu.p - f.cohort_period AS period_offset,
       COUNT(DISTINCT pu.u) AS n_users
FROM pu JOIN f ON pu.u = f.u
GROUP BY 1, 2
""",
    "event_transitions": """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
nx AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS to_type
  FROM e
)
SELECT from_type, to_type, COUNT(*) AS n
FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2
""",
    "tfidf_top_terms": """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> ''
       GROUP BY doc_id, term),
dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * (LN((1.0 + n.n) / (1.0 + dfs.df)) + 1.0), 6)
           AS tfidf_r6
  FROM tf JOIN dfs USING(term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf_r6 DESC, term ASC)
              AS INTEGER) AS rank,
         term, tfidf_r6
  FROM scored
)
SELECT doc_id, rank, term, tfidf_r6 FROM ranked WHERE rank <= 5
""",
    # query terms sorted-distinct: ['join','merge','spark']; k1=1.2 b=0.75
    "bm25_search_top20": """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> ''
       GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n FROM documents),
ad AS (SELECT AVG(dl) AS avgdl FROM dl),
dfs AS (SELECT term, COUNT(*) AS df FROM tf
        WHERE term IN ('join', 'merge', 'spark') GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           LN(1.0 + (stats.n - dfs.df + 0.5) / (dfs.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / ad.avgdl))
         ), 6) AS score_r6
  FROM tf JOIN dfs USING(term) JOIN dl USING(doc_id)
       CROSS JOIN stats CROSS JOIN ad
  GROUP BY tf.doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_r6 DESC, doc_id ASC)
            AS INTEGER) AS rank,
       doc_id, score_r6
FROM scored ORDER BY score_r6 DESC, doc_id ASC LIMIT 20
""",
    "tool_cooccurrence": f"""
WITH {SQL_TURNS},
gi AS (SELECT DISTINCT conv_id, tool FROM turns WHERE tool IS NOT NULL)
SELECT a.tool AS tool_a, b.tool AS tool_b, COUNT(*) AS n_groups
FROM gi a JOIN gi b ON a.conv_id = b.conv_id AND a.tool < b.tool
GROUP BY 1, 2
""",
    "butterfly_count": f"""
WITH {SQL_TURNS},
gi AS (SELECT DISTINCT conv_id, tool FROM turns WHERE tool IS NOT NULL),
p AS (
  SELECT a.tool AS ta, b.tool AS tb, COUNT(*) AS c
  FROM gi a JOIN gi b ON a.conv_id = b.conv_id AND a.tool < b.tool
  GROUP BY 1, 2
)
SELECT CAST(COALESCE(SUM(c * (c - 1)), 0) // 2 AS BIGINT) AS n_butterflies,
       CAST(COUNT(*) AS BIGINT) AS n_linked_item_pairs,
       CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_closed_item_pairs,
       CAST(COALESCE(MAX(c), 0) AS BIGINT) AS max_pair_groups
FROM p
""",
    "reciprocity": f"""
WITH {SQL_TEDGES},
d AS (SELECT DISTINCT src, dst FROM tedges WHERE src <> dst)
SELECT ROUND(AVG(CASE WHEN r.src IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
         AS reciprocity_r6
FROM d LEFT JOIN d r ON d.src = r.dst AND d.dst = r.src
""",
    "katz_fixed6": _katz_sql(6, 0.05),
    "eigenvector_fixed6": _katz_sql(6, 1.0, beta=0.0, out_col="eig_n6"),
    "louvain_level1_sizes": _louvain_sql(6),
    "louvain_communities_sizes": _louvain_sql(6, 3),
    "greedy_coloring": _coloring_sql(18),
    "core_numbers": _corenum_sql(20),
    # span detection: gaps-and-islands window here, doc-bounded array
    # fold on the Spark side (dupspans.py)
    "dup_ngram_spans": """
WITH tk AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
  FROM documents
), gs AS (
  SELECT doc_id,
    CASE WHEN len(tk) >= 5
      THEN list_transform(range(1, len(tk) - 3), i ->
        tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
              || ' ' || tk[i+4])
      ELSE [] END AS gs
  FROM tk
), p AS (
  SELECT doc_id, unnest(range(0, len(gs))) AS pos, unnest(gs) AS gram FROM gs
), dupk AS (
  SELECT gram FROM (
    SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY gram)
  WHERE nd >= 2
), f AS (
  SELECT p.doc_id, p.pos, (dupk.gram IS NOT NULL) AS dup
  FROM p LEFT JOIN dupk ON p.gram = dupk.gram
), isl AS (
  SELECT doc_id, pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
         AS grp
  FROM f WHERE dup
), best AS (
  SELECT doc_id, MAX(c) AS max_run FROM (
    SELECT doc_id, grp, COUNT(*) AS c FROM isl GROUP BY doc_id, grp)
  GROUP BY doc_id
), agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
         SUM(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS n_dup_grams
  FROM f GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(n_grams, 0)::BIGINT AS n_grams,
  COALESCE(n_dup_grams, 0)::BIGINT AS n_dup_grams,
  ROUND(CASE WHEN COALESCE(n_grams, 0) > 0
             THEN n_dup_grams * 1.0 / n_grams ELSE 0.0 END, 6)::DOUBLE
    AS dup_ratio_r6,
  COALESCE(max_run, 0)::BIGINT AS max_dup_run
FROM documents d LEFT JOIN agg USING (doc_id) LEFT JOIN best USING (doc_id)
""",
    "mis_vertices": _mis_sql(6),
    "max_matching": _matching_sql(8),
    "gopher_quality_flags": f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk, text
  FROM documents
), m AS (
  SELECT doc_id,
    len(tk)::DOUBLE AS n,
    CASE WHEN len(tk)>0
         THEN list_sum(list_transform(tk, t -> len(t)))::DOUBLE / len(tk)
         ELSE 0 END AS mean_len,
    CASE WHEN len(tk)>0
         THEN len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))::DOUBLE / len(tk)
         ELSE 0 END AS alpha_frac,
    CASE WHEN len(tk)>0
         THEN len(regexp_extract_all(text, '(#|\\.\\.\\.)'))::DOUBLE / len(tk)
         ELSE 0 END AS symbol_ratio,
    len(list_filter(tk, t -> list_contains({STOPWORDS_SQL}, t)))::BIGINT AS n_stop
  FROM base)
SELECT doc_id, CAST(n AS BIGINT) AS n_words,
  ROUND(mean_len, 6) AS mean_word_len,
  ROUND(alpha_frac, 6) AS alpha_word_frac,
  ROUND(symbol_ratio, 6) AS symbol_ratio,
  n_stop AS n_stopwords,
  (n >= 30 AND n <= 100000) AS ok_words,
  (mean_len >= 3.0 AND mean_len <= 10.0) AS ok_mean_word_len,
  (symbol_ratio <= 0.1) AS ok_symbol_ratio,
  (alpha_frac >= 0.8) AS ok_alpha_words,
  (n_stop >= 2) AS ok_stopwords,
  (n >= 30 AND n <= 100000) AND (mean_len >= 3.0 AND mean_len <= 10.0)
    AND (symbol_ratio <= 0.1) AND (alpha_frac >= 0.8) AND (n_stop >= 2)
    AS passes_gopher
FROM m
""",
    "repetition_stats": """
WITH base AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
  FROM documents
), b2 AS (
  SELECT doc_id, tk, len(tk) AS n,
    CASE WHEN len(tk) >= 2
         THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
         ELSE [] END AS bg
  FROM base
), gc AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(bg) AS g FROM b2) GROUP BY doc_id, g
), topg AS (SELECT doc_id, MAX(c) AS mx FROM gc GROUP BY doc_id)
SELECT b2.doc_id, CAST(n AS BIGINT) AS n_tokens,
  ROUND(CASE WHEN n>0 THEN 1.0 - len(list_distinct(tk))::DOUBLE / n
             ELSE 0 END, 6) AS dup_token_frac,
  ROUND(CASE WHEN len(bg)>0 THEN 1.0 - len(list_distinct(bg))::DOUBLE / len(bg)
             ELSE 0 END, 6) AS dup_bigram_frac,
  ROUND(CASE WHEN len(bg)>0 THEN COALESCE(mx, 0)::DOUBLE / len(bg)
             ELSE 0 END, 6) AS top_bigram_frac
FROM b2 LEFT JOIN topg ON b2.doc_id = topg.doc_id
""",
    # stepwise masking — each detector counts on the text as left by the
    # previous mask, mirroring pipeline/pii.py application order
    "pii_scrub_events": """
WITH s0 AS (SELECT event_id, props AS t0 FROM events),
s1 AS (SELECT event_id,
  len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_email,
  regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM s0),
s2 AS (SELECT *,
  len(regexp_extract_all(t1, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))::BIGINT AS n_ipv4,
  regexp_replace(t1, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') AS t2
  FROM s1),
s3 AS (SELECT *,
  len(regexp_extract_all(t2, '\\+?[0-9][0-9() -]{6,}[0-9]'))::BIGINT AS n_phone,
  regexp_replace(t2, '\\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS t3
  FROM s2),
s4 AS (SELECT *,
  len(regexp_extract_all(t3, '[0-9]{2,}'))::BIGINT AS n_digit_run,
  regexp_replace(t3, '[0-9]{2,}', '<NUM>', 'g') AS t4
  FROM s3)
SELECT event_id, n_email, n_ipv4, n_phone, n_digit_run, t4 AS redacted,
       (n_email + n_ipv4 + n_phone + n_digit_run)::BIGINT AS n_pii
FROM s4
""",
    "bloom_prefilter": f"""
WITH tagged AS (
  SELECT doc_id, text,
    ('0x' || substr(md5('contam:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS b
  FROM documents
), sh AS (
  SELECT doc_id, b,
    CASE WHEN len(tk) >= 3
         THEN list_distinct(list_transform(range(1, len(tk)-1),
                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
         ELSE [] END AS sh
  FROM (SELECT doc_id, b, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
        FROM tagged)
), bset AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE b < {CONTAM_CUT}
), bpos AS (
  SELECT DISTINCT
    (('0x' || substr(md5('bf:' || CAST(h AS VARCHAR) || ':' || g), 1, 8))::UBIGINT
     % 65536) AS pos
  FROM bset, (SELECT unnest(range(4)) AS h)
), t AS (
  SELECT doc_id, len(sh)::BIGINT AS n_shingles, sh FROM sh WHERE b >= {CONTAM_CUT}
), tp AS (
  SELECT doc_id, g,
    (('0x' || substr(md5('bf:' || CAST(h AS VARCHAR) || ':' || g), 1, 8))::UBIGINT
     % 65536) AS pos
  FROM (SELECT doc_id, unnest(sh) AS g FROM t), (SELECT unnest(range(4)) AS h)
), sus AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_suspect FROM (
    SELECT doc_id, g FROM tp JOIN bpos USING (pos)
    GROUP BY doc_id, g HAVING COUNT(*) = 4
  ) GROUP BY doc_id
)
SELECT t.doc_id, t.n_shingles,
       COALESCE(sus.n_suspect, 0)::BIGINT AS n_suspect
FROM t LEFT JOIN sus USING (doc_id)
""",
    "contamination_check": f"""
WITH tagged AS (
  SELECT doc_id, text,
    ('0x' || substr(md5('contam:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS b
  FROM documents
), sh AS (
  SELECT doc_id, b,
    CASE WHEN len(tk) >= 3
         THEN list_distinct(list_transform(range(1, len(tk)-1),
                            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
         ELSE [] END AS sh
  FROM (SELECT doc_id, b, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
        FROM tagged)
), bset AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE b < {CONTAM_CUT}
), t AS (
  SELECT doc_id, len(sh)::BIGINT AS n_shingles, sh FROM sh WHERE b >= {CONTAM_CUT}
), hits AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_contaminated
  FROM (SELECT doc_id, unnest(sh) AS g FROM t) x JOIN bset USING (g)
  GROUP BY doc_id
)
SELECT t.doc_id, n_shingles,
       COALESCE(n_contaminated, 0)::BIGINT AS n_contaminated,
       COALESCE(n_contaminated, 0) > 0 AS contaminated
FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id
""",
    # keep='first': the surviving copy is the (doc_id, line_idx)-min
    # occurrence — ROW_NUMBER here, min(struct) on the Spark side
    "line_dedup_docs": """
WITH tk AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
  FROM documents
), wrapped AS (
  SELECT doc_id,
         list_transform(range(0, CAST(ceil(len(tk)/3.0) AS INT)),
                        i -> array_to_string(list_slice(tk, i*3+1, i*3+3), ' '))
           AS ls
  FROM tk
), lines AS (
  SELECT doc_id, unnest(ls) AS line, unnest(range(0, len(ls))) AS line_idx
  FROM wrapped
), keyed AS (
  SELECT doc_id, line_idx, line,
         CASE WHEN len(trim(line)) >= 5 THEN md5(lower(trim(line))) END AS k
  FROM lines
), cnt AS (
  SELECT k, COUNT(*) AS c FROM keyed WHERE k IS NOT NULL GROUP BY k
), j AS (
  SELECT keyed.*, c,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, line_idx) AS rn
  FROM keyed LEFT JOIN cnt USING (k)
), kept AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
         string_agg(line, chr(10) ORDER BY line_idx) AS clean_text
  FROM j WHERE k IS NULL OR c < 2 OR rn = 1 GROUP BY doc_id
), totals AS (SELECT doc_id, len(ls)::BIGINT AS n_lines FROM wrapped)
SELECT t.doc_id, n_lines, COALESCE(n_kept, 0)::BIGINT AS n_kept,
       md5(COALESCE(clean_text, '')) AS clean_md5
FROM totals t LEFT JOIN kept USING (doc_id)
""",
    "kmeans_embeddings": _kmeans_sql(10, 3, 64),
    "ivf_topk": _ivf_sql(10, 3, 64, nprobe=2, topk=10, max_qid=16),
    "sq_topk": _sq_sql(64, max_qid=8, topk=10),
    "pq_topk": _pq_sql(4, 16, 2, 64, topk=10, max_qid=8),
}

ORACLE_SQL["sketch_streaming_cells"] = ORACLE_SQL["count_min_sketch"]
# 22 unrolled rounds: every CTE must be MATERIALIZED (_unroll does it) or
# DuckDB's inliner re-scans events.parquet exponentially and exhausts the
# fd limit
ORACLE_SQL["pagerank_power_top20"] = _pi_sql(
    22,
    f"""SELECT v, rank_scaled FROM (
{_pi_rank_select(22)})
ORDER BY rank_scaled DESC, v LIMIT 20""",
)
ORACLE_SQL["conversation_profile"] = ("""
WITH """ + SQL_TURNS + """
SELECT conv_id, COUNT(*) AS n_turns,
       COUNT(DISTINCT role) AS n_roles,
       COUNT(tool) AS n_tool_calls,
       CAST(COALESCE(MAX(epoch_us(ts)) - MIN(epoch_us(ts)), 0) AS BIGINT)
         AS duration_us,
       CAST(COALESCE(SUM(LENGTH(text)), 0) AS BIGINT) AS total_chars
FROM turns GROUP BY conv_id
""")
ORACLE_SQL["tool_context_terms"] = ("""
WITH """ + SQL_TURNS + """,
tok AS (
  SELECT tool, unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM turns WHERE tool IS NOT NULL
),
cnt AS (SELECT tool, term, COUNT(*) AS cnt FROM tok GROUP BY tool, term)
SELECT tool, CAST(rank AS INT) AS rank, term, cnt FROM (
  SELECT tool, term, cnt,
         ROW_NUMBER() OVER (PARTITION BY tool ORDER BY cnt DESC, term) AS rank
  FROM cnt)
WHERE rank <= 5
""")
# the roundtrip queries must reproduce the base view exactly
ORACLE_SQL["transcripts_jsonl_roundtrip"] = ORACLE_SQL["transcripts_view"]
ORACLE_SQL["transcripts_orc_roundtrip"] = ORACLE_SQL["transcripts_view"]
# warm-start refresh: 5 stale supersteps on the events prefix, project +
# renormalize onto the full vertex set, 3 more supersteps (q_pagerank_warm_fixed)
ORACLE_SQL["pagerank_warm_fixed"] = _pi_warm_sql(5, 3)

# Materialize every CTE in every oracle (see _mat): turns the unrolled
# iterative twins from ~3^iters re-inlined expression trees (88 s / OOM at
# the driver's thread count) into linear one-pass-per-CTE plans, and
# bounds the driver's total oracle wall. Pure optimization hint — results
# are unchanged.
ORACLE_SQL = {k: _mat(v) for k, v in ORACLE_SQL.items()}
