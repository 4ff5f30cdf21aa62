"""Approximate neighborhood function N(r) — HyperANF (Boldi, Rosa &
Vigna, WWW 2011) re-expressed relationally: every vertex carries an
HLL register set sketching its ball of radius r; one round merges each
vertex's registers with its neighbors' (elementwise max), so after r
rounds the registers sketch ball(v, r). The per-vertex ball-size
estimates yield the neighborhood function / effective-diameter curve —
THE scalable way to measure distance distributions on graphs where
all-pairs BFS is impossible (100 TB-scale: per round one join + one
(id, bucket)-keyed max agg; state is n×m rows of longs, never a
frontier explosion).

Register layout is ROWS, not arrays: (id, bucket, rho) with absent
buckets meaning rho=0. Elementwise max across neighbors is then a
plain groupBy max — no array zip aggregate — and map-side partial
aggregation compresses each partition to at most n×m rows before the
shuffle. Hash/rank arithmetic is the engine-portable HLL math from
``functions.sketch`` (md5-prefix h32; rho = 1 + trailing zeros via
log2(x & -x), exact in IEEE doubles), so the DuckDB oracle replays the
whole computation bit-for-bit.

m = 16 registers (alpha = 0.673): ±26% per-vertex error — the
standard HyperANF trade where the AVERAGED curve is far tighter than
any single sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h32, h32_sql
from ..graph import Graph
from ..operators.iterate import iterate
from ..rounding import ROUND_TO

NF_M = 16  # registers per vertex (2^4 buckets)
NF_REST_BITS = 28  # 32-bit hash minus 4 bucket bits
NF_ALPHA = 0.673  # standard alpha_16


def _init_registers(vertices: DataFrame) -> DataFrame:
    """(id, b, rho) — one register row per vertex from its own id hash."""
    h = h32(F.col("id").cast("string"))
    rest = (h / F.lit(NF_M)).cast("long") + F.lit(1)  # avoid rho on 0
    rho = (
        F.lit(1)
        + F.log2(rest.bitwiseAND(-rest))
    ).cast("long")
    return vertices.select(
        "id", (h % F.lit(NF_M)).alias("b"), rho.alias("rho")
    )


def _estimates(reg: DataFrame, r: int) -> DataFrame:
    """One row: (r, avg_ball_est) from the register rows."""
    per_v = reg.groupBy("id").agg(
        F.count("*").alias("present"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("psum"),
    )
    raw = (
        F.lit(NF_ALPHA * NF_M * NF_M)
        / (F.lit(float(NF_M)) - F.col("present") + F.col("psum"))
    )
    # standard HLL small-range correction: raw alpha*m^2/psum
    # overestimates tiny balls ~10x; below 2.5m with empty registers,
    # linear counting m*ln(m/V) is the right estimator (same branch in
    # the oracle, so parity is exact)
    zeros = F.lit(float(NF_M)) - F.col("present")
    est = F.when(
        (raw <= F.lit(2.5 * NF_M)) & (zeros > 0),
        F.lit(float(NF_M)) * F.log(F.lit(float(NF_M)) / zeros),
    ).otherwise(raw)
    return per_v.agg(
        F.lit(r).cast("long").alias("r"),
        F.round(F.avg(est), ROUND_TO).alias("avg_ball_est"),
    )


def neighborhood_function(graph: Graph, max_r: int = 2) -> DataFrame:
    """(r, avg_ball_est) for r = 0..max_r over the undirected view."""
    sym = graph.edges.select("src", "dst").unionByName(
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    reg = _init_registers(graph.vertices).localCheckpoint(eager=True)
    out = [_estimates(reg, 0)]
    for r in range(1, max_r + 1):
        from_nbrs = (
            sym.join(reg.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "b", "rho")
        )
        reg = (
            reg.unionByName(from_nbrs)
            .groupBy("id", "b")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=True)
        )
        out.append(_estimates(reg, r))
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def oracle_ctes(edges_cte: str, vertices_cte: str, max_r: int = 2) -> tuple[str, str]:
    """(CTE text, final SELECT) — same register arithmetic, unrolled."""
    h = h32_sql("CAST(v.id AS VARCHAR)")
    ctes = [
        f"""nf_r0 AS MATERIALIZED (
  SELECT v.id,
         {h} % {NF_M} AS b,
         CAST(1 + log2(
             (({h} // {NF_M}) + 1) & (-(({h} // {NF_M}) + 1))
         ) AS BIGINT) AS rho
  FROM {vertices_cte} v)""",
        f"""nf_sym AS MATERIALIZED (
  SELECT src, dst FROM {edges_cte}
  UNION ALL SELECT dst AS src, src AS dst FROM {edges_cte})""",
    ]
    for r in range(1, max_r + 1):
        ctes.append(
            f"""nf_r{r} AS MATERIALIZED (
  SELECT id, b, MAX(rho) AS rho FROM (
    SELECT id, b, rho FROM nf_r{r - 1}
    UNION ALL
    SELECT e.dst AS id, s.b, s.rho
    FROM nf_sym e JOIN nf_r{r - 1} s ON s.id = e.src
  ) GROUP BY 1, 2
)"""
        )
    selects = []
    for r in range(max_r + 1):
        selects.append(
            f"""SELECT CAST({r} AS BIGINT) AS r,
       ROUND(AVG(CASE WHEN raw <= {2.5 * NF_M}
                       AND ({float(NF_M)} - present) > 0
                 THEN {float(NF_M)}
                      * ln({float(NF_M)} / ({float(NF_M)} - present))
                 ELSE raw END), {ROUND_TO}) AS avg_ball_est
FROM (
    SELECT id, present, psum,
           {NF_ALPHA} * {NF_M} * {NF_M}
             / ({float(NF_M)} - present + psum) AS raw
    FROM (
        SELECT id, COUNT(*) AS present,
               SUM(POWER(2.0, -rho)) AS psum
        FROM nf_r{r} GROUP BY 1
    )
)"""
        )
    final = "\nUNION ALL\n".join(selects)
    return ",\n".join(ctes), final


DIAMETER_FRAC = 0.9


def effective_diameter(graph: Graph, max_r: int = 4) -> DataFrame:
    """(eff_diameter, reach_est) — the smallest radius whose average
    ball size reaches ``DIAMETER_FRAC`` of the radius-``max_r`` ball (the
    standard HyperANF effective-diameter readout; Boldi et al. use the
    same 90% rule). One row. The comparison runs on the ROUNDED curve
    in both engines, so the oracle boundary is bit-identical."""
    nf = neighborhood_function(graph, max_r)
    nmax = nf.filter(F.col("r") == max_r).select(
        F.col("avg_ball_est").alias("nmax")
    )
    return (
        nf.crossJoin(nmax)
        .filter(F.col("avg_ball_est") >= F.lit(DIAMETER_FRAC) * F.col("nmax"))
        .agg(
            F.min("r").cast("long").alias("eff_diameter"),
            F.max("nmax").alias("reach_est"),
        )
    )


def effective_diameter_oracle(
    edges_cte: str, vertices_cte: str, max_r: int = 4
) -> tuple[str, str, str]:
    """(NF CTEs, curve CTE, final SELECT) for :func:`effective_diameter`."""
    ctes, final = oracle_ctes(edges_cte, vertices_cte, max_r)
    curve = f"nf_curve AS MATERIALIZED ({final})"
    sel = f"""SELECT CAST(MIN(r) AS BIGINT) AS eff_diameter,
       MAX(nmax) AS reach_est
FROM nf_curve, (SELECT avg_ball_est AS nmax FROM nf_curve
                WHERE r = {max_r})
WHERE avg_ball_est >= {DIAMETER_FRAC} * nmax"""
    return ctes, curve, sel


def two_hop_balls(graph: Graph) -> DataFrame:
    """(id, ball1, ball2) — EXACT distinct ball sizes at radius 1 and 2
    over the undirected view: the small-graph ground truth the HLL
    neighborhood sketch approximates (pair the two to measure sketch
    error on a sample).

    Scale shape: one self-join of the symmetrized edge list (cost
    Σ deg² — the true two-hop workload; cap or sample hubs first on
    power-law graphs, same policy as the uu builder's cell cap), one
    (v, w)-keyed min-radius aggregate, one bounded count."""
    sym = graph.symmetrized_edges()
    self_rows = graph.vertices.select(
        F.col("id").alias("v"), F.col("id").alias("w"), F.lit(0).alias("r")
    )
    one = sym.select(
        F.col("src").alias("v"), F.col("dst").alias("w"), F.lit(1).alias("r")
    )
    two = (
        sym.select(F.col("src").alias("v"), F.col("dst").alias("m"))
        .join(
            sym.select(F.col("src").alias("m"), F.col("dst").alias("w")),
            "m",
        )
        .select("v", "w", F.lit(2).alias("r"))
    )
    reach = (
        self_rows.unionByName(one)
        .unionByName(two)
        .groupBy("v", "w")
        .agg(F.min("r").alias("r"))
    )
    return reach.groupBy(F.col("v").alias("id")).agg(
        F.sum((F.col("r") <= 1).cast("long")).alias("ball1"),
        F.count("*").cast("long").alias("ball2"),
    )


def two_hop_oracle_sql(vertices_cte: str) -> str:
    """DuckDB twin of :func:`two_hop_balls`. Reads the symmetrized
    edge CTE ``th_sym`` — compose after ``TWO_HOP_SYM_SQL_TMPL``
    (which is where the edge table is chosen)."""
    return f"""SELECT v AS id,
       CAST(SUM(CASE WHEN r <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS ball1,
       CAST(COUNT(*) AS BIGINT) AS ball2
FROM (
    SELECT v, w, MIN(r) AS r FROM (
        SELECT id AS v, id AS w, 0 AS r FROM {vertices_cte}
        UNION ALL
        SELECT src, dst, 1 FROM th_sym
        UNION ALL
        SELECT a.src, b.dst, 2 FROM th_sym a JOIN th_sym b
          ON a.dst = b.src)
    GROUP BY 1, 2)
GROUP BY 1"""


TWO_HOP_SYM_SQL_TMPL = """th_sym AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM {edges}
    UNION ALL SELECT dst AS src, src AS dst FROM {edges}))"""


SPECTRAL_ROUNDS = 5


def spectral_radius(graph: Graph) -> DataFrame:
    """One row (lambda_1_est) — largest adjacency eigenvalue of the
    undirected view via power iteration (the expansion / epidemic-
    threshold measure; λ₁ ≥ avg degree, ≤ max degree).

    Scale shape: each round is one edge join + one (id)-keyed sum (the
    matrix-vector product, same kernel as PageRank without the
    teleport) + one scalar norm; state is one double per vertex. The
    iteration runs on the SHIFTED operator A+I — on bipartite graphs
    (stars, grids) plain power iteration oscillates between the ±λ₁
    eigenspaces and never converges; the shift makes the top eigenpair
    strictly dominant and leaves the eigenvector unchanged. The
    Rayleigh readout is on A itself. Engine-replayable throughout."""
    sym = graph.symmetrized_edges().localCheckpoint(eager=True)
    x = graph.vertices.select("id", F.lit(1.0).alias("x")).localCheckpoint(
        eager=True
    )

    def round_(x: DataFrame, _it: int) -> DataFrame:
        nbr = (
            sym.join(
                x.select(F.col("id").alias("dst"), F.col("x").alias("xd")),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("xd").alias("ny"))
        )
        y = x.join(nbr, "id", "left").select(
            "id", (F.col("x") + F.coalesce("ny", F.lit(0.0))).alias("y")
        )
        nrm = y.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("n"))
        return y.crossJoin(F.broadcast(nrm)).select(
            "id", (F.col("y") / F.col("n")).alias("x")
        )

    # sym stays past the loop — the lazy Rayleigh readout below reads it
    x, _, _ = iterate(x, round_, SPECTRAL_ROUNDS)
    # Rayleigh quotient x'Ax / x'x (x already unit-norm up to the
    # isolated-vertex zeros)
    ax = (
        sym.join(
            x.select(F.col("id").alias("dst"), F.col("x").alias("xd")), "dst"
        )
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum("xd").alias("ax"))
    )
    num = (
        x.join(ax, "id")
        .agg(F.sum(F.col("x") * F.col("ax")).alias("num"))
    )
    den = x.agg(F.sum(F.col("x") * F.col("x")).alias("den"))
    return num.crossJoin(den).select(
        F.round(F.col("num") / F.col("den"), ROUND_TO).alias("lambda_1_est")
    )


def spectral_oracle_ctes(
    edges_cte: str, vertices_cte: str, rounds: int = SPECTRAL_ROUNDS
) -> tuple[str, str]:
    """(CTEs, final SELECT) DuckDB twin of :func:`spectral_radius`."""
    ctes = [
        f"""sp_sym AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst FROM {edges_cte}
    UNION SELECT dst AS src, src AS dst FROM {edges_cte}))""",
        f"sp_x0 AS MATERIALIZED (SELECT id, 1.0 AS x FROM {vertices_cte})",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""sp_y{r} AS MATERIALIZED (
  SELECT s.id, s.x + COALESCE(n.ny, 0.0) AS y
  FROM sp_x{p} s LEFT JOIN (
    SELECT e.src AS id, SUM(t.x) AS ny
    FROM sp_sym e JOIN sp_x{p} t ON t.id = e.dst GROUP BY 1) n
  ON s.id = n.id)"""
        )
        ctes.append(
            f"""sp_x{r} AS MATERIALIZED (
  SELECT id, y / (SELECT sqrt(SUM(y * y)) FROM sp_y{r}) AS x
  FROM sp_y{r})"""
        )
    final = f"""SELECT ROUND(
  (SELECT SUM(s.x * a.ax) FROM sp_x{rounds} s JOIN (
      SELECT e.src AS id, SUM(t.x) AS ax
      FROM sp_sym e JOIN sp_x{rounds} t ON t.id = e.dst GROUP BY 1) a
    ON s.id = a.id)
  / (SELECT SUM(x * x) FROM sp_x{rounds}), {ROUND_TO}) AS lambda_1_est"""
    return ",\n".join(ctes), final
