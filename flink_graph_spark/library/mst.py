"""Minimum spanning forest via Borůvka rounds with pointer-jumping
star contraction (Borůvka 1926; the textbook DISTRIBUTED MST — each
round every component picks its lightest outgoing edge, components
merge along the chosen edges, component count at least halves, so
ceil(log2 n) rounds suffice; SURVEY.md §2.10 extension).

Determinism: edges are totally ordered by (w, src, dst) — the
tie-break makes "lightest" unique without assuming unique weights, and
with a total order the chosen-edge pointer graph has ONLY 2-cycles
(around any longer cycle the edge order would have to strictly
decrease back into itself), so the contraction step is: collapse
2-cycles to their min endpoint, then pointer-jump log n times. Every
step is a join or aggregate on the COMPONENT table (≤ n rows,
halving), never the edge list — the classic work bound, expressed
relationally. The DuckDB oracle replays every round unrolled.

Weights are the portable affine hash of the canonical (src < dst)
pair, so fixture graphs are weight-deterministic in both engines.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_A, MINHASH_B, MINHASH_P
from ..graph import Graph
from ..operators.iterate import iterate
from ..plans.checkpoints import release_local_checkpoint, scratch_scope

W_MOD = 1000


def _w_expr(cs, cd):
    return (
        F.lit(1)
        + (
            (F.lit(MINHASH_A[2]) * (cs * 1000 + cd) + F.lit(MINHASH_B[2]))
            % F.lit(MINHASH_P)
        )
        % F.lit(W_MOD)
    ).cast("long")


def _jump(ptr: DataFrame, _it: int) -> DataFrame:
    """One pointer jump over (comp, p): p ← p∘p, the old p kept as q."""
    nxt = ptr.select(F.col("comp").alias("p"), F.col("p").alias("pn"))
    return ptr.join(nxt, "p").select(
        "comp", F.col("pn").alias("p"), F.col("p").alias("q")
    )


BORUVKA_ROUNDS = 3
BORUVKA_JUMPS = 5


@scratch_scope
def boruvka_mst(graph: Graph) -> DataFrame:
    """(src, dst, w) — minimum-spanning-forest edges over the
    undirected view, weights = portable hash of the canonical pair."""
    canon = (
        graph.edges.select(
            F.least("src", "dst").alias("cs"),
            F.greatest("src", "dst").alias("cd"),
        )
        .filter(F.col("cs") != F.col("cd"))
        .distinct()
        .withColumn("w", _w_expr(F.col("cs"), F.col("cd")))
        .localCheckpoint(eager=True)
    )
    sym = canon.unionByName(
        canon.select(
            F.col("cd").alias("cs"), F.col("cs").alias("cd"), "w"
        )
    ).select(
        F.col("cs").alias("a"), F.col("cd").alias("b"),
        "w",
        F.least("cs", "cd").alias("cs"),
        F.greatest("cs", "cd").alias("cd"),
    )
    chosen: list[DataFrame] = []  # each round's selection: the result
    ptrs: list[DataFrame] = []

    def choose(labels: DataFrame) -> DataFrame:
        """Each component's lightest outgoing edge, checkpointed into
        ``chosen``."""
        la = labels.select(F.col("id").alias("a"), F.col("comp").alias("ca"))
        lb = labels.select(F.col("id").alias("b"), F.col("comp").alias("cb"))
        live = (
            sym.join(la, "a").join(lb, "b").filter(F.col("ca") != F.col("cb"))
        )
        wsel = Window.partitionBy("ca").orderBy("w", "cs", "cd")
        sel = (
            live.withColumn("__rn", F.row_number().over(wsel))
            .filter(F.col("__rn") == 1)
            .select("ca", "cb", "cs", "cd", "w")
            .localCheckpoint(eager=True)
        )
        chosen.append(sel)
        return sel

    def merge(labels: DataFrame, _it: int) -> DataFrame:
        # the previous round's pointers fed only its labels, which the
        # kernel has checkpointed by now
        for prev in ptrs:
            release_local_checkpoint(prev)
        sel = choose(labels)
        # pointer graph over components: p(c) = partner of the chosen
        # edge, identity for finished components
        comps = labels.select("comp").distinct()
        ptr = (
            comps.join(
                sel.select(F.col("ca").alias("comp"), F.col("cb").alias("p")),
                "comp",
                "left",
            )
            .select("comp", F.coalesce("p", F.col("comp")).alias("p"))
        )
        # collapse 2-cycles to their min endpoint (roots point to self)
        pp = ptr.select(F.col("comp").alias("p"), F.col("p").alias("p2"))
        ptr = (
            ptr.join(pp, "p")
            .select(
                "comp",
                F.when(
                    F.col("p2") == F.col("comp"),
                    F.least("comp", "p"),
                ).otherwise(F.col("p")).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        # pointer jumps, stopped by the first that moves no pointer:
        # all sit on roots then, and the oracle's extra jumps are no-ops
        ptr, _, converged = iterate(
            ptr, _jump, BORUVKA_JUMPS, changed=F.col("p") != F.col("q")
        )
        # Convergence guard: every pointer must now reach a root
        # (p == p∘p). The oracle unrolls the SAME fixed jump count, so
        # an unconverged chain would not be a parity mismatch — it
        # would be the SAME silent cycle edge in both engines. Fail
        # loudly instead: one count over the ≤n-row component table,
        # needed only when the last jump still moved a pointer.
        pj = ptr.select(F.col("comp").alias("p"), F.col("p").alias("p2"))
        stale = not converged and (
            ptr.join(pj, "p").filter(F.col("p") != F.col("p2")).count()
        )
        if stale:
            raise RuntimeError(
                f"boruvka_mst: {stale} component pointers unconverged "
                f"after {BORUVKA_JUMPS} jumps (merge chain > "
                f"2^{BORUVKA_JUMPS} labels); "
                "raise `BORUVKA_JUMPS` — the DuckDB oracle unrolls the same "
                "count, so both sides must use the larger value"
            )
        ptrs[:] = [ptr]
        return labels.join(ptr, labels["comp"] == ptr["comp"]).select(
            "id", F.col("p").alias("comp"), labels["comp"].alias("__old")
        )

    labels = graph.vertices.select(
        "id", F.col("id").alias("comp")
    ).localCheckpoint(eager=True)
    # a round whose selection is empty (no component has an outgoing
    # edge) changes no label and stops the loop; extra rounds are
    # no-ops in BOTH engines (the oracle's unrolled sel_r CTEs come up
    # empty), so stopping early preserves parity
    @scratch_scope
    def contract(labels: DataFrame) -> tuple[DataFrame, bool, list[DataFrame]]:
        """The merge rounds. The scope frees the last round's pointers
        before the final selection runs; ``chosen`` is returned so that
        it keeps the selections."""
        labels, _, converged = iterate(
            labels, merge, BORUVKA_ROUNDS - 1, changed=F.col("comp") != F.col("__old")
        )
        return labels, converged, chosen

    labels, converged, _ = contract(labels)
    if not converged:
        # the last round stops at its selection: the label contraction
        # it would feed has no consumer (the oracle's unrolled chain
        # stops at the same point)
        choose(labels)
    return reduce(
        DataFrame.unionByName,
        (
            sel.select(F.col("cs").alias("src"), F.col("cd").alias("dst"), "w")
            for sel in chosen
        ),
    ).distinct()


def grid_oracle_sql(rows: int, cols: int, rounds: int = BORUVKA_ROUNDS) -> str:
    """DuckDB twin on the undirected rows×cols grid — same rounds,
    unrolled."""
    n = rows * cols
    w = (
        f"(1 + (({MINHASH_A[2]} * (cs * 1000 + cd) + {MINHASH_B[2]})"
        f" % {MINHASH_P}) % {W_MOD})"
    )
    ctes = [
        f"""mst_cells AS (SELECT i // {cols} AS r, i % {cols} AS c
             FROM generate_series(0, {n - 1}) g(i))""",
        f"""mst_canon AS MATERIALIZED (
  SELECT cs, cd, {w} AS w FROM (
    SELECT r*{cols}+c AS cs, r*{cols}+c+1 AS cd FROM mst_cells
    WHERE c < {cols - 1}
    UNION ALL
    SELECT r*{cols}+c, (r+1)*{cols}+c FROM mst_cells
    WHERE r < {rows - 1}))""",
        """mst_sym AS MATERIALIZED (
  SELECT cs AS a, cd AS b, w, cs, cd FROM mst_canon
  UNION ALL SELECT cd, cs, w, cs, cd FROM mst_canon)""",
        f"""lab_0 AS MATERIALIZED (
  SELECT i AS id, i AS comp FROM generate_series(0, {n - 1}) g(i))""",
    ]
    chosen_names = []
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""sel_{r} AS MATERIALIZED (
  SELECT ca, cb, cs, cd, w FROM (
    SELECT la.comp AS ca, lb.comp AS cb, e.cs, e.cd, e.w,
           ROW_NUMBER() OVER (PARTITION BY la.comp
                              ORDER BY e.w, e.cs, e.cd) AS rn
    FROM mst_sym e
    JOIN lab_{p} la ON e.a = la.id
    JOIN lab_{p} lb ON e.b = lb.id
    WHERE la.comp <> lb.comp)
  WHERE rn = 1)"""
        )
        chosen_names.append(f"SELECT cs, cd, w FROM sel_{r}")
        if r == rounds:
            # the last round's label contraction has no consumer —
            # mirror the Spark loop's early break
            break
        ctes.append(
            f"""ptr_{r}_0 AS MATERIALIZED (
  SELECT c.comp, COALESCE(s.cb, c.comp) AS p
  FROM (SELECT DISTINCT comp FROM lab_{p}) c
  LEFT JOIN sel_{r} s ON c.comp = s.ca)"""
        )
        ctes.append(
            f"""ptr_{r}_c AS MATERIALIZED (
  SELECT t.comp,
         CASE WHEN q.p = t.comp THEN LEAST(t.comp, t.p)
              ELSE t.p END AS p
  FROM ptr_{r}_0 t JOIN ptr_{r}_0 q ON t.p = q.comp)"""
        )
        prev = f"ptr_{r}_c"
        for j in range(1, BORUVKA_JUMPS + 1):
            ctes.append(
                f"""ptr_{r}_{j} AS MATERIALIZED (
  SELECT t.comp, q.p
  FROM {prev} t JOIN {prev} q ON t.p = q.comp)"""
            )
            prev = f"ptr_{r}_{j}"
        ctes.append(
            f"""lab_{r} AS MATERIALIZED (
  SELECT l.id, t.p AS comp
  FROM lab_{p} l JOIN {prev} t ON l.comp = t.comp)"""
        )
    union = "\nUNION ALL\n".join(chosen_names)
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
SELECT DISTINCT cs AS src, cd AS dst, CAST(w AS BIGINT) AS w
FROM ({union})"""
