"""HITS (hubs & authorities) in cross-engine-exact integer arithmetic.

Companion to functions/graph.py's integer PageRank (reference parity
target: crawl prioritization — spatula's workflow has no link-graph
analytics, this is part of the training-data-pipeline mandate). HITS
is the other classical link-centrality pass a crawl pipeline runs:
authority scores rank *content* pages (what to keep in the corpus),
hub scores rank *directory* pages (where to spend recrawl budget) —
PageRank alone conflates the two.

Why integer + per-round max-renormalization: textbook HITS normalizes
by the L2 norm each round, which is float and not cross-engine
reproducible (see graph.py's argument — float addition is not
associative, so two engines/partitionings disagree in the last ulps).
Instead each round rescales the score vector so its MAX equals SCALE,
entirely in int64: ``s' = (s * SCALE) div max(s)``. max() is
order-independent, integer division is exact, so every round — and
therefore the final ranking — is bit-identical between Spark and
DuckDB and across any partitioning. The max itself is an
``Observation`` on the round's eager checkpoint job, never a driver
collect, so the pattern is corpus-size-free.

Overflow envelope (int64): after renormalization every score is
<= SCALE = 10^6; a node's next raw score is <= in_degree * SCALE and
the rescale multiply is raw * SCALE <= deg_max * SCALE^2 =
deg_max * 10^12, so in-degrees up to ~9 * 10^6 fit in int64. For
denser hubs drop SCALE to 10^4 (ranking resolution 1e-4, still far
below any meaningful centrality gap) — the battery pins the
arithmetic, not the constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**6


def integer_hits(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 3,
    scale: int = SCALE,
) -> DataFrame:
    """K rounds of mutual reinforcement: ``auth(v) = sum hub(u) over
    edges u->v``, ``hub(u) = sum auth(v) over edges u->v``, each
    followed by an exact integer max-rescale. ``nodes(node)``,
    ``edges(src, dst)``; returns ``(node, auth_scaled, hub_scaled)``.

    Per round: two slim joins + two hash aggregates on (node, score)
    pairs — 16 bytes/node shuffled, payload-free, the same shape that
    lets graph.py's PageRank survive 10^10 nodes. Each raw score table
    is eagerly localCheckpoint'ed with the phase's max riding that job
    as an ``Observation`` (no extra job per phase); uncheckpointed,
    every phase would recompute every earlier round (the lazy-persist +
    self-join double-compute trap BENCH/BASELINE.md documents) —
    checkpointing turns K rounds from quadratic recompute into K
    constant-depth steps, the same rule a Pregel-style runner uses.
    """
    from pyspark.sql import Observation

    # r6: the per-phase max-rescale rides an Observation on the eager
    # checkpoint job (metrics fire when the checkpoint materializes),
    # so the max arrives as a driver scalar for free and the rescale is
    # a plain projection with a literal divisor — the previous
    # 1-row-aggregate + broadcast-crossJoin cost a broadcast-build job
    # per phase (6 extra jobs for n_iter=3). Exact same integer max,
    # exact same div arithmetic.
    hub = nodes.select("node", F.lit(scale).cast("long").alias("h"))
    auth = nodes.select("node", F.lit(scale).cast("long").alias("a"))
    for _ in range(n_iter):
        raw_a = (
            edges.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("ra"))
            .withColumnRenamed("dst", "node")
        )
        obs_a = Observation()
        raw_a = (
            nodes.join(raw_a, "node", "left")
            .select(
                "node",
                F.coalesce("ra", F.lit(0).cast("long")).alias("ra"),
            )
            .observe(obs_a, F.greatest(F.max("ra"), F.lit(1)).alias("m"))
            .localCheckpoint(eager=True)
        )
        m_a = int(obs_a.get["m"])
        auth = raw_a.select(
            "node", F.expr(f"(ra * {scale}L) div {m_a}L").alias("a")
        )
        raw_h = (
            edges.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("rh"))
            .withColumnRenamed("src", "node")
        )
        obs_h = Observation()
        raw_h = (
            nodes.join(raw_h, "node", "left")
            .select(
                "node",
                F.coalesce("rh", F.lit(0).cast("long")).alias("rh"),
            )
            .observe(obs_h, F.greatest(F.max("rh"), F.lit(1)).alias("m"))
            .localCheckpoint(eager=True)
        )
        m_h = int(obs_h.get["m"])
        hub = raw_h.select(
            "node", F.expr(f"(rh * {scale}L) div {m_h}L").alias("h")
        )
    return (
        auth.join(hub, "node")
        .select(
            "node",
            F.col("a").alias("auth_scaled"),
            F.col("h").alias("hub_scaled"),
        )
    )


def integer_hits_duckdb(
    nodes_sql: str,
    edges_sql: str,
    n_iter: int = 3,
    scale: int = SCALE,
) -> str:
    """DuckDB mirror as unrolled CTEs — identical integer ops, so the
    final (auth, hub) vectors value-hash bit-for-bit vs Spark."""
    parts = [
        f"ht_nodes AS ({nodes_sql})",
        f"ht_edges AS ({edges_sql})",
        f"ht_h0 AS (SELECT node, {scale}::BIGINT AS h FROM ht_nodes)",
        f"ht_a0 AS (SELECT node, {scale}::BIGINT AS a FROM ht_nodes)",
    ]
    for k in range(1, n_iter + 1):
        parts += [
            f"ht_ra{k} AS (SELECT n.node, coalesce(s.ra, 0)::BIGINT AS ra "
            f"FROM ht_nodes n LEFT JOIN (SELECT e.dst AS node, "
            f"sum(p.h)::BIGINT AS ra FROM ht_edges e "
            f"JOIN ht_h{k - 1} p ON p.node = e.src GROUP BY e.dst) s "
            f"ON n.node = s.node)",
            f"ht_ma{k} AS (SELECT greatest(max(ra), 1) AS m FROM ht_ra{k})",
            f"ht_a{k} AS (SELECT node, (ra * {scale}) // m AS a "
            f"FROM ht_ra{k}, ht_ma{k})",
            f"ht_rh{k} AS (SELECT n.node, coalesce(s.rh, 0)::BIGINT AS rh "
            f"FROM ht_nodes n LEFT JOIN (SELECT e.src AS node, "
            f"sum(p.a)::BIGINT AS rh FROM ht_edges e "
            f"JOIN ht_a{k} p ON p.node = e.dst GROUP BY e.src) s "
            f"ON n.node = s.node)",
            f"ht_mh{k} AS (SELECT greatest(max(rh), 1) AS m FROM ht_rh{k})",
            f"ht_h{k} AS (SELECT node, (rh * {scale}) // m AS h "
            f"FROM ht_rh{k}, ht_mh{k})",
        ]
    parts.append(
        f"ht_final AS (SELECT a.node, a.a AS auth_scaled, "
        f"h.h AS hub_scaled FROM ht_a{n_iter} a "
        f"JOIN ht_h{n_iter} h ON a.node = h.node)"
    )
    return ",\n".join(parts) + "\n-- final: ht_final(node, auth, hub)"
