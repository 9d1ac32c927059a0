"""Duplicate-cluster resolution: candidate pairs → connected components →
one canonical document per cluster.

Beyond-reference surface (BASELINE.json north-star): the pair generators
(``dedup.minhash_lsh_pairs``, ``similarity.embedding_cosine_dedup``) emit
*edges*; a corpus-curation pipeline needs the transitive closure of those
edges — if A~B and B~C, exactly one of {A, B, C} survives — which is a
connected-components problem.

Algorithm: alternating large-star/small-star edge contraction (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14) entirely
in DataFrame ops.  Each round runs two phases over the edge set:

* **large-star** — every node u computes m = min(Γ(u) ∪ {u}) and rewires
  each strictly-LARGER neighbor v > u to m (edge (u,v) → (v, m));
* **small-star** — edges keyed by their larger endpoint u over its
  smaller neighbors Γ(u): m = min(Γ(u)); rewire each v ∈ Γ(u)\\{m} to m
  and keep (u, m).

Both phases are a map-side-combinable ``groupBy(...).agg(min)`` plus one
equi-join — no neighbor-list materialization, so hub nodes cost a
combiner, not a wide row, and AQE's skew-join split applies to the
rewire join.  Edges only ever move toward smaller ids and the set
CONTRACTS toward one star per component (≤ one edge per non-center
node), so unlike min-label propagation — whose every round re-shuffles
the full original edge set for diameter-many rounds — late rounds here
run on a shrinking relation, and the round bound is O(log² n) on
adversarial paths (near-duplicate clusters, being near-cliques from LSH
banding, converge in 1-2 rounds).

Convergence detection is exact and cheap: per-edge rewires never
increase the (a + b) id sum (large-star: u → m ≤ u; small-star: u → m <
v ≤ u) and ``distinct`` merges only remove mass, so the
(count, Σa, Σb) triple — accumulated as decimal(38,0), immune to 64-bit
wrap at corpus scale — is stationary across a round IFF the edge set is
the star fixpoint; one tiny agg job per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.caching import barrier, release


def _edge_sig(edges: DataFrame) -> tuple:
    """(count, Σa, Σb) — stationary iff the round changed nothing."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a").cast("decimal(38,0)")).alias("sa"),
        F.sum(F.col("b").cast("decimal(38,0)")).alias("sb"),
    ).first()
    return (row["n"], row["sa"], row["sb"])


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every node appearing in ``pairs``;
    ``component`` is the minimum node id in the node's connected component.

    ``max_iter`` bounds the number of (large-star, small-star) rounds —
    a guard only: O(log² n) rounds suffice even on path graphs, and the
    loop exits as soon as a round changes nothing.
    """
    # A checkpoint barrier both materializes and truncates lineage —
    # without it each round appends joins onto an ever-deeper plan and
    # analysis cost grows quadratically.  Each round releases the previous
    # round's edge set, so one edge set is live at a time.
    # Checkpointing `sym` ONCE matters: `nodes` and `edges` both derive
    # from it, and without the shared barrier the upstream pair pipeline
    # (e.g. a full knn-graph build) would be computed twice.
    sym = barrier(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .unionByName(
            pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b"))
        )
        .distinct(),
        checkpoint=True,
    )
    nodes = sym.select(F.col("a").alias("id")).distinct()
    # Canonical orientation: one row per undirected edge, larger id first;
    # self-loops contribute nodes (above) but no connectivity.
    edges = barrier(sym.filter(F.col("a") > F.col("b")), checkpoint=True)
    sig = _edge_sig(edges)
    for _ in range(max_iter):
        if sig[0] == 0:
            break
        # ---- large-star: rewire strict-larger neighbors to the
        # neighborhood min.  Γ(u) needs both orientations; m(u) =
        # min(Γ(u) ∪ {u}); each canonical edge (a > b) is emitted from
        # its smaller endpoint exactly once, as (larger, m(smaller)).
        nbrs = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        lmin = nbrs.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        ls = (
            nbrs.filter(F.col("b") > F.col("a"))
            .join(lmin, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # ---- small-star: edges are canonical (a > b) so groupBy(a)
        # sees exactly the smaller neighborhood; rewire its non-min
        # members to the min and keep (a, m).  Output stays canonical.
        # The large-star result is NOT checkpointed separately: its two
        # consumers below (the rewire join and the smin aggregate) end at
        # the identical distinct-exchange, which ReuseExchange computes
        # once — so one fused round materializes the edge set ONCE
        # instead of twice (per round: 2 checkpoint writes + 1 sig action
        # -> 1 + 1; at scale, half the per-round edge-set I/O).
        smin = ls.groupBy("a").agg(F.min("b").alias("m"))
        prev, edges = edges, barrier(
            ls.join(smin, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(smin.select("a", F.col("m").alias("b")))
            .distinct(),
            checkpoint=True,
        )
        release(prev)
        new_sig = _edge_sig(edges)
        if new_sig == sig:
            break
        sig = new_sig
    # Fixpoint edges are stars (non-center -> component min); centers and
    # isolated nodes label themselves.  The groupBy is an identity at the
    # fixpoint and keeps one row per id if max_iter capped early.
    labels = edges.groupBy(F.col("a").alias("id")).agg(
        F.min("b").alias("component")
    )
    return (
        nodes.join(labels, "id", "left")
        .select(
            "id",
            F.coalesce("component", F.col("id")).alias("component"),
        )
    )


def connected_components_sql(
    pairs_sql: str, id_a: str = "id_a", id_b: str = "id_b"
) -> str:
    """DuckDB oracle: transitive closure by recursive CTE (fine at oracle
    scale; the Spark side exists precisely because this is O(V·E) and
    single-node)."""
    return f"""
with recursive edges as (
  select {id_a} as src, {id_b} as dst from ({pairs_sql})
  union all
  select {id_b} as src, {id_a} as dst from ({pairs_sql})
),
reach(src, dst) as (
  select distinct src, src as dst from edges
  union
  select r.src, e.dst from reach r join edges e on r.dst = e.src
)
select src as id, min(dst) as component from reach group by src
"""


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve candidate pairs into per-document survivorship:
    (id_col, cluster_rep, is_canonical) over the WHOLE corpus — documents in
    no pair are their own representative; exactly one document per cluster
    (the min id) has ``is_canonical = true``, so
    ``filter(is_canonical)`` is the deduplicated corpus.

    The component table is sized by documents-that-have-a-duplicate, not
    the corpus; the final left join shuffles on ``id_col`` (or broadcasts
    when the component table is small — left to AQE, which sees its
    post-checkpoint size exactly)."""
    cc = connected_components(pairs, id_a, id_b, max_iter)
    rep = F.coalesce(F.col("cc.component"), F.col(f"d.{id_col}"))
    return (
        df.alias("d")
        .join(cc.alias("cc"), F.col(f"d.{id_col}") == F.col("cc.id"), "left")
        .select(
            F.col(f"d.{id_col}").alias(id_col),
            rep.alias("cluster_rep"),
            (rep == F.col(f"d.{id_col}")).alias("is_canonical"),
        )
    )


def dedup_clusters_sql(
    source_sql: str,
    pairs_sql: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> str:
    cc_sql = connected_components_sql(pairs_sql, id_a, id_b)
    return f"""
with cc as ({cc_sql})
select d.{id_col} as {id_col},
       coalesce(cc.component, d.{id_col}) as cluster_rep,
       coalesce(cc.component, d.{id_col}) = d.{id_col} as is_canonical
from ({source_sql}) d left join cc on d.{id_col} = cc.id
"""


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Quality-aware survivorship: like :func:`dedup_clusters`, but the
    per-cluster survivor is the member with the HIGHEST ``quality_col``
    (tie → min id) instead of blindly the min id — the policy real
    curation pipelines want ("of N near-duplicate crawls keep the
    longest / highest-LM-scored one", cf. the best-copy selection in
    C4/RefinedWeb-style dedup).

    Output: ``(id_col, cluster_rep, quality_col, is_survivor)`` over the
    whole corpus; singletons survive trivially.  ``quality_col`` must be
    engine-exact (an integer count or micro-quantized score) for the
    cross-engine twin :func:`dedup_survivors_sql` to tiebreak
    identically.

    Scale shape: component resolution is :func:`connected_components`
    (rounds = cluster diameter); the survivor pick is ONE window over
    ``cluster_rep`` — cluster sizes are duplicate-group sizes (small by
    construction after LSH banding), so the window never sees a
    corpus-sized partition."""
    clustered = dedup_clusters(df, pairs, id_col, id_a, id_b, max_iter)
    joined = clustered.select(id_col, "cluster_rep").join(
        df.select(id_col, quality_col), id_col
    )
    w = Window.partitionBy("cluster_rep").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return joined.select(
        id_col,
        "cluster_rep",
        quality_col,
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


def dedup_survivors_sql(
    source_sql: str,
    pairs_sql: str,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> str:
    """DuckDB twin of :func:`dedup_survivors`."""
    clusters = dedup_clusters_sql(source_sql, pairs_sql, id_col, id_a, id_b)
    return f"""
with clustered as ({clusters})
select s.{id_col}, c.cluster_rep, s.{quality_col},
       row_number() over (
         partition by c.cluster_rep
         order by s.{quality_col} desc, s.{id_col} asc
       ) = 1 as is_survivor
from clustered c join ({source_sql}) s on c.{id_col} = s.{id_col}
"""


def dup_rate_report(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-``group_col`` duplication observability: how much of each
    domain/source is near-duplicate mass — ``(group_col, n_docs,
    n_duplicates, dup_bp)`` where ``n_duplicates`` counts non-canonical
    cluster members and ``dup_bp`` is exact basis points (integer div,
    identical truncation in both engines).  The table that tells you
    WHICH crawls/domains to fix upstream, before paying to dedup them
    forever.

    Scale shape: :func:`dedup_clusters` resolution + one
    map-side-combined groupBy on the group key."""
    clustered = dedup_clusters(df, pairs, id_col, id_a, id_b)
    return (
        clustered.join(df.select(id_col, group_col), id_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~F.col("is_canonical")).cast("long")).alias(
                "n_duplicates"
            ),
        )
        .select(
            group_col,
            "n_docs",
            "n_duplicates",
            F.expr("n_duplicates * 10000 div n_docs").alias("dup_bp"),
        )
    )


def dup_rate_report_sql(
    source_sql: str,
    pairs_sql: str,
    id_col: str = "doc_id",
    group_col: str = "source",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> str:
    """DuckDB twin of :func:`dup_rate_report`."""
    clusters = dedup_clusters_sql(source_sql, pairs_sql, id_col, id_a, id_b)
    return f"""
with clustered as ({clusters})
select s.{group_col},
       cast(count(*) as bigint) as n_docs,
       cast(sum(case when c.is_canonical then 0 else 1 end) as bigint)
         as n_duplicates,
       cast(sum(case when c.is_canonical then 0 else 1 end) * 10000
            // count(*) as bigint) as dup_bp
from clustered c join ({source_sql}) s on c.{id_col} = s.{id_col}
group by s.{group_col}
"""
