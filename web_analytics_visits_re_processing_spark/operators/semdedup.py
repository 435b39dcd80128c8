"""SemDeDup — semantic deduplication via embedding clusters
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication").

The published recipe: k-means the corpus embeddings, then look for
near-duplicate pairs ONLY within each cluster (cosine above
``1 - eps``) and keep one representative per duplicate relation.
Clustering is what makes the quadratic step tractable at web scale —
pair search never crosses cluster boundaries, so the cost is
``Σ |cluster|²`` instead of ``N²``, and k grows with the corpus to
keep clusters bounded (the paper uses k = 11k for LAION-440M; cluster
count, not cluster size, absorbs corpus growth).

This implementation composes two existing pieces:

- ``operators/kmeans.py::kmeans_assign`` — the INTEGER-EXACT Lloyd
  pass (bit-reproducible across engines), with ``keep_cols`` riding
  the raw vector through assignment so no re-join is needed;
- the 4-dp-rounded double cosine from ``operators/similarity.py`` —
  the same engine-portable score the ANN/near-dup family gates on.

Determinism of the keep rule: the paper keeps a random / farthest-
from-centroid representative per duplicate group; we use the standard
deterministic proxy — a vector is a semantic duplicate iff some
SAME-CLUSTER partner with a SMALLER id sits within the cosine
threshold, so the minimum id of every duplicate chain survives as the
representative. That rule replays verbatim in SQL (EXISTS over the
pair set), which is what makes the whole operator hash-gateable.

Scale shape: assignment is the zero-shuffle kmeans projection; the
pair scan is ONE equi-join on the cluster id (never all-pairs); the
dup-flag stamp is a left semi-ish join on the id. Cluster-key skew is
governed by k: the operator inherits the paper's contract that k is
sized to the corpus (bounded cluster cardinality), and the kmeans
``assign_via="join"`` escalation already covers k past the literal
expression tree's comfort zone.

Reference parity note: the reference pipeline (Beam, main.py) has no
dedup of any kind — this operator belongs to the LLM-training-data
extension tier (SURVEY.md §2.2 / BASELINE.json north_star), rounding
out the dedup ladder: exact → MinHash/Jaccard → SimHash → embedding
LSH → semantic (cluster-scoped) dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.operators.kmeans import kmeans_assign


def _pairs_from_assigned(
    assigned: DataFrame,
    tau: float,
    id_col: str,
    vec_col: str,
    n_salt: int = 16,
) -> DataFrame:
    """Within-cluster near-dup pair scan over an existing
    ``(id, vec, cluster)`` assignment — ONE equi-join on the cluster
    id, never all-pairs.

    The cluster key is SALTED ``n_salt`` ways (b-side bucket =
    ``id % n_salt``, a-side replicated across buckets): a demo-scale
    k (10 here) leaves only k join keys, capping parallelism at k
    reducers however many cores exist; salting raises the key count
    to k·n_salt with identical output (the pair SET is key-layout-
    independent). The replication cost is a-side × n_salt, which is
    the narrow (id, vec, cluster) projection — cheap next to the
    cosine work it spreads out. Production-scale SemDeDup (k ~ 10⁴⁺)
    can set n_salt=1; the paper's k already provides the keys.

    Per-vector L2 norms are precomputed ONCE on the assignment (one
    HOF fold per vector) so each of the O(sum |cluster|^2) pair
    evaluations runs a single interpreted HOF (the dot) instead of
    three -- HOF lambdas never enter codegen, so the pair scan's cost
    is literally the interpreted-fold count (whole-query warm wall at
    sf0.1: 8.6 -> 4.1 s). ``dot/(na*nb)`` with separately-rooted norms is the exact
    expression shape of the shared ``cosine()`` helper, value-
    identical to the oracle's list_cosine_similarity."""
    with_norm = assigned.withColumn(
        "_v", F.col(vec_col).cast("array<double>")
    ).withColumn(
        "_nrm",
        F.sqrt(F.aggregate("_v", F.lit(0.0), lambda acc, x: acc + x * x)),
    )
    a = with_norm.withColumn(
        "_sb", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).alias("a")
    b = with_norm.withColumn(
        "_sb", (F.col(id_col) % n_salt).cast("int")
    ).alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(dot / (F.col("a._nrm") * F.col("b._nrm")), 4)
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a._sb") == F.col("b._sb"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(cos >= F.lit(tau))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.cluster").alias("cluster"),
            cos.alias("cos"),
        )
    )


def _hit_threshold(tau: float) -> float:
    """The smallest double ``v*`` with ``round(v*, 4) >= tau`` under
    Spark's ROUND semantics for doubles (BigDecimal.valueOf — i.e.
    shortest-decimal-repr — then HALF_UP at scale 4, same as Python's
    ``Decimal(repr(v))``). ROUND is monotone non-decreasing, so
    ``round(v,4) >= tau  ⇔  v >= v*`` exactly, for every double v:
    the round-then-compare predicate collapses to ONE branch-free
    vectorizable comparison. Found by nextafter-walking from
    ``tau - 5e-5`` (a handful of steps)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def round4(v: float) -> float:
        return float(Decimal(repr(v)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    b = tau - 5e-5
    while round4(b) >= tau:
        b = math.nextafter(b, -math.inf)
    while round4(b) < tau:
        b = math.nextafter(b, math.inf)
    return b


def _dup_ids_arrow(
    assigned: DataFrame,
    tau: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The duplicate-id SET of the within-cluster pair scan, scored in
    NumPy/BLAS per cluster (guide §4.2: hand whole batches to
    vectorized native code) instead of one interpreted HOF fold per
    pair → ``(id)`` rows, one per duplicate vector.

    Equivalence to ``_pairs_from_assigned``: the verdict only needs
    "∃ same-cluster partner with smaller id and round(cos,4) >= tau".
    The rounded comparison is evaluated as ``cos >= _hit_threshold
    (tau)`` — EXACTLY the JVM predicate for every double (see
    ``_hit_threshold``). The only remaining difference is summation
    order inside the dot products (BLAS pairwise vs the fold's strict
    left-to-right), ~1e-15 relative — decision-identical unless a
    pair's true cosine sits within ~1e-12 of v*, which
    ``tests/test_llmdata_ops.py`` guards on the fixtures (margin
    pinned ≫ noise) alongside a full fold-vs-arrow dup-set equality
    check. Cluster-sized groups are the paper's own boundedness
    contract (k ∝ N keeps |cluster| ~600), so per-group matmul cost
    and memory stay constant at scale while group count provides the
    parallelism."""
    import pandas as pd

    v_star = _hit_threshold(tau)

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({id_col: pd.array([], dtype="int64")})
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        x = np.stack(pdf["_v"].to_numpy()[order]).astype(np.float64, copy=False)
        nrm = np.sqrt(np.einsum("ij,ij->i", x, x))
        cos = (x @ x.T) / np.outer(nrm, nrm)
        hit = np.triu(cos >= v_star, k=1)
        return pd.DataFrame({id_col: ids[hit.any(axis=0)]})

    return (
        assigned.select(
            id_col, "cluster", F.col(vec_col).cast("array<double>").alias("_v")
        )
        .groupBy("cluster")
        .applyInPandas(score, schema=f"{id_col} long")
    )


def semdedup_verdicts(
    emb: DataFrame,
    k: int = 10,
    n_updates: int = 1,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_via: str = "auto",
    scorer: str = "arrow",
) -> DataFrame:
    """Per-vector SemDeDup verdict → ``(id, cluster,
    is_semantic_dup)``: True iff a same-cluster partner with a smaller
    id is within the cosine threshold (the min-id representative of
    every duplicate chain survives with False).

    Runs ONE Lloyd pass; the materialized assignment is shared
    between the pair scan AND the verdict stamp (localCheckpoint —
    without it each consumer replays the full scan + quantize +
    argmin lineage, measured 3.4× slower at sf0.1).

    ``scorer="arrow"`` (default, r14): the pair scan runs as one
    NumPy matmul per cluster (``_dup_ids_arrow`` — guide §4.2),
    decision-identical to the interpreted fold (see its docstring);
    ``scorer="fold"`` keeps the exact JVM expression path (the
    equivalence tests pin one against the other)."""
    assigned = kmeans_assign(
        emb,
        k=k,
        n_updates=n_updates,
        id_col=id_col,
        vec_col=vec_col,
        assign_via=assign_via,
        keep_cols=(vec_col,),
    ).localCheckpoint(eager=True)
    if scorer == "arrow":
        dup_ids = (
            _dup_ids_arrow(assigned, tau, id_col, vec_col)
            .withColumn("_dup", F.lit(True))
        )
    else:
        dup_ids = (
            _pairs_from_assigned(assigned, tau, id_col, vec_col)
            .select(F.col("id_b").alias(id_col))
            .distinct()
            .withColumn("_dup", F.lit(True))
        )
    return (
        assigned.join(dup_ids, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_semantic_dup"),
        )
    )
