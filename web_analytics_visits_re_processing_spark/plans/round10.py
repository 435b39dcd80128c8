"""Round-10 additions: the physical-layout story made gateable
(bucketed co-located joins — ``sources/layout.py`` finally exercised
by a registered query, not just unit tests), the two Gopher §A1.1
repetition signals the r5 quality battery lacked (top-2-gram /
top-3-gram character fractions), deterministic synchronous label
propagation as a second community detector next to the CC closure,
and IVF+PQ composed — the FAISS-IVFPQ shape that actually runs at
billion-vector scale, where IVF bounds the candidates and ADC scores
them over 8-byte code rows.

House style throughout: integer-exact arithmetic, a DuckDB oracle
replaying the identical pipeline (LPA rounds unrolled, the IVF cell
assignment + PQ codebook construction replayed verbatim), bounded
driver state, and scale notes per operator. Reference parity: the
reference (/root/reference/main.py:22-240) has none of this tier —
all four belong to SURVEY §2.2 gap categories (physical layout,
text-quality functions, graph clustering, ANN)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.plans.registry import query
from web_analytics_visits_re_processing_spark.sources.layout import memo, staged
from web_analytics_visits_re_processing_spark.sources.tables import load_table

# --- Gopher top-n-gram repetition signals --------------------------------------

_GOPHER_NGRAM_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS lc
    FROM documents
),
g AS (
    SELECT doc_id, len(toks) AS n, lc - len(toks) + 1 AS tc,
           list_transform(
               list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
               s -> s[1] || ' ' || s[2]) AS g2,
           list_transform(
               list_zip(toks[1:len(toks)-2], toks[2:len(toks)-1],
                        toks[3:len(toks)]),
               s -> s[1] || ' ' || s[2] || ' ' || s[3]) AS g3
    FROM t
),
m AS (
    SELECT doc_id, n, tc,
           list_max(list_transform(list_distinct(g2), d ->
               [len(list_filter(g2, x -> x = d)), len(d) - 1])) AS top2,
           list_max(list_transform(list_distinct(g3), d ->
               [len(list_filter(g3, x -> x = d)), len(d) - 2])) AS top3
    FROM g
)
SELECT doc_id,
       n::BIGINT AS n_tokens,
       COALESCE(top2[1] * top2[2], 0)::BIGINT AS top_bigram_chars,
       COALESCE(top3[1] * top3[2], 0)::BIGINT AS top_trigram_chars,
       (COALESCE(top2[1] * top2[2], 0) * 5 <= tc) AS bigram_ok,
       (COALESCE(top3[1] * top3[2], 0) * 50 <= tc * 9) AS trigram_ok,
       (COALESCE(top2[1] * top2[2], 0) * 5 <= tc
        AND COALESCE(top3[1] * top3[2], 0) * 50 <= tc * 9) AS keep
FROM m
"""


@query("gopher_ngram_repetition", oracle=_GOPHER_NGRAM_ORACLE)
def q_gopher_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two Gopher §A1.1 repetition gates the r5 battery
    (``quality_filter_flags``) lacks: the fraction of characters
    inside the single MOST FREQUENT word 2-gram (threshold ≤ 0.20)
    and 3-gram (≤ 0.18) — the signal that kills chorus/boilerplate
    docs whose token-level type-token ratio still looks healthy.

    Conventions (mirrored exactly by the oracle): token characters
    exclude separators (a bigram of length L contributes L−1 chars
    per occurrence, a trigram L−2; the doc's char mass is
    ``length(text) − n_tokens + 1``, the same convention as the
    battery's mean-word-length gate); the "top" n-gram maximizes
    (count, char-length) — the char-length tie-break can't change the
    output since tied (count, chars) pairs produce the same product.
    Thresholds are cross-multiplied into integer comparisons.

    Scale shape: like the battery, everything is computed ARRAY-SIDE
    per document (O(n·d) per doc for bounded doc length) — a pure
    zero-shuffle projection over the documents scan; the explode→
    groupBy alternative pays a corpus-wide shuffle to learn a per-doc
    number."""
    from web_analytics_visits_re_processing_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        F.length("text").alias("lc"),
    )
    n = F.size("toks")
    join2 = lambda a, b: F.concat_ws(" ", a, b)  # noqa: E731
    g = d.select(
        "doc_id",
        n.alias("n"),
        (F.col("lc") - n + 1).alias("tc"),
        F.zip_with(
            F.slice("toks", F.lit(1), F.greatest(n - 1, F.lit(0))),
            F.slice("toks", F.lit(2), F.greatest(n - 1, F.lit(0))),
            join2,
        ).alias("g2"),
        F.zip_with(
            F.zip_with(
                F.slice("toks", F.lit(1), F.greatest(n - 2, F.lit(0))),
                F.slice("toks", F.lit(2), F.greatest(n - 2, F.lit(0))),
                join2,
            ),
            F.slice("toks", F.lit(3), F.greatest(n - 2, F.lit(0))),
            join2,
        ).alias("g3"),
    )

    # r13: the old per-doc HOF was QUADRATIC in gram count — for each
    # DISTINCT gram it re-scanned the whole gram array with filter()
    # (interpreted lambdas, never codegen), O(u·d) per doc. The same
    # (count, chars) lexicographic max falls out of a sort + one
    # run-length fold: equal grams are adjacent after array_sort, so
    # a single aggregate() pass tracks the current run and the best
    # (cnt, chars) struct — O(d log d) comparisons per doc, one scan.
    def top_struct(grams: str, n_seps: int) -> F.Column:
        cand = (
            f"named_struct('cnt', acc.run,"
            f" 'chars', CAST(length(acc.prev) - {n_seps} AS INT))"
        )
        return F.expr(
            f"""
aggregate(
  array_sort({grams}),
  named_struct('prev', CAST(NULL AS STRING), 'run', 0,
               'best', named_struct('cnt', 0, 'chars', 0)),
  (acc, x) -> named_struct(
      'prev', x,
      'run', CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
                  THEN acc.run + 1 ELSE 1 END,
      'best', CASE WHEN acc.prev IS NULL OR x = acc.prev THEN acc.best
                   WHEN {cand} > acc.best THEN {cand}
                   ELSE acc.best END),
  acc -> CASE WHEN acc.prev IS NULL THEN acc.best
              WHEN {cand} > acc.best THEN {cand}
              ELSE acc.best END)
"""
        )

    m = g.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        "tc",
        top_struct("g2", 1).alias("_b2"),
        top_struct("g3", 2).alias("_b3"),
    ).select(
        "doc_id",
        "n_tokens",
        "tc",
        (F.col("_b2.cnt").cast("long") * F.col("_b2.chars")).alias(
            "top_bigram_chars"
        ),
        (F.col("_b3.cnt").cast("long") * F.col("_b3.chars")).alias(
            "top_trigram_chars"
        ),
    )
    bi_ok = F.col("top_bigram_chars") * 5 <= F.col("tc")
    tri_ok = F.col("top_trigram_chars") * 50 <= F.col("tc") * 9
    return m.select(
        "doc_id",
        "n_tokens",
        "top_bigram_chars",
        "top_trigram_chars",
        bi_ok.alias("bigram_ok"),
        tri_ok.alias("trigram_ok"),
        (bi_ok & tri_ok).alias("keep"),
    )


# --- bucketed co-located join (sources/layout.py, gated) -----------------------

_BUCKETED_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       COUNT(*)::BIGINT AS n_items,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


def _ensure_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Session-staged bucketed lineitem/orders via the layout-level
    primitive (`sources/layout.py::ensure_bucketed_tables` — database
    naming, leftover cleanup, pid/path isolation, and the
    catalog-validated cache all live there)."""
    from web_analytics_visits_re_processing_spark.sources.layout import (
        ensure_bucketed_tables,
    )

    li_tbl, ord_tbl = ensure_bucketed_tables(
        spark,
        sf_dir,
        [
            (
                "lineitem_by_orderkey",
                lambda s, d: load_table(s, d, "lineitem").select(
                    "l_orderkey", "l_extendedprice", "l_discount"
                ),
                "l_orderkey",
                8,
            ),
            (
                "orders_by_orderkey",
                # o_totalprice rides along since r12 so the SAME
                # staged layout serves order_value_reconciliation —
                # the write-once/join-many trade's third consumer
                # (one extra column at write time vs a third staging
                # database).
                lambda s, d: load_table(s, d, "orders").select(
                    "o_orderkey", "o_orderpriority", "o_totalprice"
                ),
                "o_orderkey",
                8,
            ),
        ],
    )
    return li_tbl, ord_tbl


@query("bucketed_join_roundtrip", oracle=_BUCKETED_JOIN_ORACLE)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The physical-layout WRITE-ONCE/JOIN-MANY path
    (``sources/layout.py::write_bucketed``), content-gated end to
    end: lineitem and orders land as managed tables bucketed (and
    bucket-sorted) on the order key, 8 buckets each side, and the
    fact×fact join reads the co-located buckets back — SortMergeJoin
    with NO shuffle exchange on either side (the plan pytest pins
    exactly one Exchange in the whole plan: the final priority
    rollup). The ``repartition(8, key)`` before each
    write uses the same murmur3 ``pmod`` as the bucket spec, so every
    task holds exactly one bucket → ONE file per bucket, the
    precondition for Spark trusting the sorted property on read.

    At 100 TB this is THE fact-join trade: both shuffles move to
    write time and every subsequent orderkey join is a zip of
    pre-sorted co-located streams (BASELINE §layout). The oracle
    recomputes the rollup straight from the source tables — the gate
    proves the bucketed roundtrip loses/duplicates nothing."""
    from web_analytics_visits_re_processing_spark.sources.layout import (
        read_table,
    )

    li_tbl, ord_tbl = _ensure_bucketed(spark, sf_dir)
    lb = read_table(spark, li_tbl)
    ob = read_table(spark, ord_tbl)
    # NOTE on the residual per-bucket Sort: since Spark 3.0 a bucketed
    # scan does not REPORT its sort order by default (the legacy
    # behavior could claim a false order with >1 file per bucket), so
    # the SMJ inserts an in-memory per-bucket Sort — NO shuffle. With
    # `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (safe
    # here by construction: exactly one file per bucket) the Sort is
    # elided too — pinned by a pytest under a set/restore guard; a
    # registered query must not mutate shared session state itself.
    joined = lb.hint("merge").join(
        ob, lb["l_orderkey"] == ob["o_orderkey"]
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.expr(
                "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
            )
        ).alias("revenue_cents"),
    )


_BUCKETED_AGG_ORACLE = """
WITH per_order AS (
    SELECT l_orderkey, COUNT(*)::BIGINT AS n_items,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS order_cents
    FROM lineitem GROUP BY l_orderkey
)
SELECT n_items,
       COUNT(*)::BIGINT AS n_orders,
       CAST(SUM(order_cents) AS BIGINT) AS revenue_cents
FROM per_order GROUP BY n_items
"""


@query("bucketed_agg_order_sizes", oracle=_BUCKETED_AGG_ORACLE)
def q_bucketed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketing serves AGGREGATION too, not just joins: the
    order-grain rollup (items + revenue per order) groups on the
    bucket key, so the bucketed scan's hash distribution already
    satisfies the aggregate — NO exchange for the first (fact-sized)
    aggregation; the only shuffle is the second, tiny rollup to the
    order-size histogram. The unbucketed plan pays a full fact
    shuffle for step one — at 100 TB that IS the query cost. Reads
    the same session-staged bucketed layout as
    ``bucketed_join_roundtrip`` (written once, consumed by the whole
    family — the write-once/read-many contract)."""
    from web_analytics_visits_re_processing_spark.sources.layout import (
        read_table,
    )

    li_tbl, _ = _ensure_bucketed(spark, sf_dir)
    lb = read_table(spark, li_tbl)
    per_order = lb.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.expr(
                "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
            )
        ).alias("order_cents"),
    )
    return per_order.groupBy("n_items").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("order_cents").alias("revenue_cents"),
    )


# --- label propagation communities ---------------------------------------------

# Edge rule shared with product_communities (support ≥ 3, positive
# lift), then 4 UNROLLED synchronous LPA rounds: each round every
# node takes the plurality label of its neighbors, ties to the
# smallest label. l0 = own id.
_LPA_EDGE_CTES = """
op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), n AS (
    SELECT COUNT(DISTINCT o)::BIGINT AS n_orders FROM op
), item AS (
    SELECT p, COUNT(*)::BIGINT AS s FROM op GROUP BY p
), pair AS (
    SELECT a.p AS pa, b.p AS pb, COUNT(*)::BIGINT AS s_ab
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    GROUP BY a.p, b.p HAVING COUNT(*) >= 3
), edges AS (
    SELECT pa, pb FROM pair
    JOIN item ia ON ia.p = pair.pa
    JOIN item ib ON ib.p = pair.pb, n
    WHERE (s_ab * n.n_orders * 1000000) // (ia.s * ib.s) > 1000000
), nodes AS (
    SELECT pa AS node FROM edges UNION SELECT pb FROM edges
), sym AS (
    SELECT pa AS node, pb AS nbr FROM edges
    UNION SELECT pb, pa FROM edges
)
"""

_LPA_ROUND = """
l{i} AS (
    SELECT node, label FROM (
        SELECT s.node, l.label,
               ROW_NUMBER() OVER (
                   PARTITION BY s.node
                   ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM sym s JOIN l{prev} l ON l.node = s.nbr
        GROUP BY s.node, l.label
    ) WHERE rn = 1
)
"""

_LPA_ORACLE = (
    "WITH "
    + _LPA_EDGE_CTES.strip().rstrip()
    + ",\nl0 AS (SELECT node, node AS label FROM nodes),\n"
    + ",\n".join(
        _LPA_ROUND.format(i=i, prev=i - 1).strip() for i in range(1, 5)
    )
    + """
SELECT node AS part, label::BIGINT AS community,
       COUNT(*) OVER (PARTITION BY label) AS community_size
FROM l4
"""
)


@query("label_propagation_communities", oracle=_LPA_ORACLE)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (Raghavan et al. 2007,
    ``operators/graph.py::label_propagation``) over the SAME
    positive-lift co-purchase graph the CC-based
    ``product_communities`` clusters — the second community detector:
    LPA can SPLIT a connected component into internally-dense regions
    where the closure by definition cannot. Deterministic variant
    (fixed 4 synchronous rounds, plurality with smallest-label
    tie-break) so all four rounds unroll verbatim into the oracle.

    Scale shape: per round one edge⋈label equi-join + one map-side-
    combinable (node, label) count + a ``max_by`` plurality pick —
    2 shuffles/round, linear in |E|, labels localCheckpointed so the
    plan never nests; the lift-filtered edge list stays sparse (the
    bestseller-hub argument in product_communities). Pair counts and
    item supports read the staged ``_basket_pairs``/``_basket_items``
    tables shared family-wide."""
    from web_analytics_visits_re_processing_spark.operators.graph import (
        label_propagation,
    )
    from web_analytics_visits_re_processing_spark.plans.webanalytics import (
        _basket_items,
        _basket_pairs,
    )

    pair = _basket_pairs(spark, sf_dir).where(F.col("s_ab") >= 3)
    item = _basket_items(spark, sf_dir)
    edges = (
        pair.join(
            item.select(F.col("p").alias("pa"), F.col("s").alias("sa")), "pa"
        )
        .join(
            item.select(
                F.col("p").alias("pb"), F.col("s").alias("sb"), "n_orders"
            ),
            "pb",
        )
        .where(F.expr("(s_ab * n_orders * 1000000) div (sa * sb)") > 1_000_000)
        .select("pa", "pb")
    )
    nodes = (
        edges.select(F.col("pa").alias("node"))
        .union(edges.select("pb"))
        .distinct()
    )
    lab = label_propagation(
        nodes, edges, node_col="node", src_col="pa", dst_col="pb", n_iters=4
    )
    return lab.select(
        F.col("node").alias("part"),
        F.col("label").alias("community"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("community_size"),
    )


# --- IVF + PQ composed ANN ------------------------------------------------------

def _ivf_pq_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.llmdata import _PQ_BASE_CTE

    return f"""
WITH cent AS (
    SELECT vec_id AS cid, embedding FROM embeddings
    ORDER BY ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648, vec_id
    LIMIT 64
),
assign AS (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                     c.embedding::DOUBLE[]), 8) DESC,
                        c.cid) AS crk
    FROM embeddings e, cent c
),
corpus_cells AS (SELECT vec_id, cid FROM assign WHERE crk = 1),
query_cells AS (SELECT vec_id, cid FROM assign
                WHERE crk <= 2 AND vec_id < 10),
{_PQ_BASE_CTE.strip()},
qd AS (
    SELECT p.vec_id AS query_id, b.sub, b.code,
           CAST(list_sum(list_transform(
               list_zip(p.q[b.sub * 8 + 1 : b.sub * 8 + 8], b.cb),
               s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT) AS d
    FROM pts p CROSS JOIN books b
    WHERE p.vec_id < 10
),
cand AS (
    SELECT q.vec_id AS query_id, cc.vec_id,
           CAST(SUM(qd.d) AS BIGINT) AS adc_dist
    FROM query_cells q
    JOIN corpus_cells cc ON cc.cid = q.cid AND cc.vec_id != q.vec_id
    JOIN codes c ON c.vec_id = cc.vec_id
    JOIN qd ON qd.query_id = q.vec_id AND qd.sub = c.sub AND qd.code = c.code
    GROUP BY q.vec_id, cc.vec_id
)
SELECT query_id, vec_id, adc_dist, CAST(rank AS INT) AS rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist, vec_id
    ) AS rank
    FROM cand
) WHERE rank <= 5
"""


@query("embedding_topk_ivf_pq", oracle=_ivf_pq_oracle())
def q_embedding_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed (``operators/pq.py::pq_ivf_adc_topk``) — the
    FAISS-IVFPQ shape: the IVF cell probe bounds candidates to
    ~n/64·2 rows, PQ-ADC scores each candidate with 8 table lookups
    over its 8-byte code row. Cells are bit-identical to
    ``embedding_cosine_topk_ivf`` (shared ``ivf_assign_literal``) and
    the ADC arithmetic is the integer-exact ``pq_adc_topk`` kernel,
    so the END-TO-END approximate ranking — cells, codes, distance
    sums, tie-breaks — is hash-gated, not just each half. This is the
    100 TB ANN endgame: neither half alone survives (flat ADC is
    compute-bound over every row; IVF-exact is memory-bound on full
    vectors)."""
    from web_analytics_visits_re_processing_spark.operators.pq import (
        pq_codebooks,
        pq_ivf_adc_topk,
    )
    from web_analytics_visits_re_processing_spark.plans.llmdata import (
        _ivf_cells_64,
        _ivf_cents_64,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb)
    return pq_ivf_adc_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        books,
        k=5,
        cents=_ivf_cents_64(spark, sf_dir),
        corpus_cells=_ivf_cells_64(spark, sf_dir),
    )


# --- golden-record survivorship (MDM composition over identity stitching) ------

_STITCH_CTES = """
users AS (
    SELECT DISTINCT user_id FROM events
),
idents AS (
    SELECT user_id, 'ck_' || CAST(user_id // 2 AS VARCHAR) AS ident
    FROM users
    UNION ALL
    SELECT user_id, 'em_' || CAST(user_id // 7 AS VARCHAR)
    FROM users WHERE user_id % 3 = 0
),
grp AS (
    SELECT user_id,
           MIN(user_id) OVER (PARTITION BY ident) AS mn,
           COUNT(*) OVER (PARTITION BY ident) AS cnt
    FROM idents
),
edges AS (
    SELECT DISTINCT mn AS a, user_id AS b
    FROM grp WHERE cnt <= 16 AND user_id != mn
),
sym AS (
    SELECT a AS node, b AS nbr FROM edges
    UNION ALL SELECT b, a FROM edges
),
reach AS (
    SELECT user_id AS node, user_id AS label FROM users
    UNION
    SELECT s.nbr, r.label
    FROM reach r JOIN sym s ON s.node = r.node
    WHERE r.label < s.nbr
),
comp AS (
    SELECT node AS user_id, MIN(label)::BIGINT AS visitor
    FROM reach GROUP BY node
)
"""

def _stitched_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, visitor) — the stitched cluster map every MDM-family
    consumer joins on, MATERIALIZED once per (session, fixture) via
    ``layout.staged`` (the basket_pairs pattern): the stitch is a
    driver-iterative connected-components loop (localCheckpoint + a
    convergence action per round), the family's most expensive
    subplan, and three consumers (golden record, batch + streaming
    cross-device sessionize) would otherwise each re-run it. Same
    derived identifier graph as ``identity_stitch_visitors`` (the
    oracle replays it as ``_STITCH_CTES``)."""
    from web_analytics_visits_re_processing_spark.operators.identity import (
        stitch_identities,
    )

    def build() -> DataFrame:
        users = (
            load_table(spark, sf_dir, "events").select("user_id").distinct()
        )
        u = F.col("user_id")
        id_map = users.select(
            "user_id",
            F.concat(
                F.lit("ck_"), F.expr("user_id div 2").cast("string")
            ).alias("ident"),
        ).unionAll(
            users.where(u % 3 == 0).select(
                "user_id",
                F.concat(
                    F.lit("em_"), F.expr("user_id div 7").cast("string")
                ).alias("ident"),
            )
        )
        return stitch_identities(id_map).select(
            "user_id", F.col("canonical_visitor").alias("visitor")
        )

    return staged("stitched_clusters", spark, sf_dir, build)


def _stitched_clusters_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(user_id, visitor, _didx)`` — the stitched map plus a DENSE
    per-visitor device index (row_number by user_id, 0-based), staged
    like ``_stitched_clusters`` so a streaming consumer's per-batch
    replan reads a parquet leaf instead of re-running the window.
    Feeds the bitmask device count in
    ``plans/streaming_queries.streaming_cross_device_append``."""

    def build() -> DataFrame:
        w = Window.partitionBy("visitor").orderBy("user_id")
        return _stitched_clusters(spark, sf_dir).select(
            "user_id",
            "visitor",
            (F.row_number().over(w) - 1).cast("int").alias("_didx"),
        )

    return staged("stitched_clusters_didx", spark, sf_dir, build)


def _stitched_max_cluster_size(spark: SparkSession, sf_dir: str) -> int:
    """Largest stitched cluster (device count per visitor), computed
    ONCE per fixture state (``layout.memo``) from the staged indexed
    map — the count-banded arm pick for the bitmask device count (≤64
    devices → one long of agg state; beyond → the exact collect_set
    arm)."""
    return memo(
        "stitched_max_cluster_size",
        sf_dir,
        lambda: _stitched_clusters_indexed(spark, sf_dir)
        .agg(F.max("_didx"))
        .first()[0]
        + 1,
    )


_GOLDEN_ORACLE = f"""
WITH RECURSIVE {_STITCH_CTES.strip()},
j AS (
    SELECT c.visitor, e.user_id, e.ts, e.event_id, e.event_type,
           CAST(FLOOR(e.value * 100) AS BIGINT) AS cents
    FROM events e JOIN comp c USING (user_id)
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY visitor ORDER BY ts DESC, event_id DESC) AS rn
    FROM j
)
SELECT j.visitor,
       COUNT(DISTINCT j.user_id)::BIGINT AS n_devices,
       COUNT(*)::BIGINT AS n_events,
       MIN(j.ts) AS first_seen,
       MAX(j.ts) AS last_seen,
       CAST(SUM(j.cents) AS BIGINT) AS total_value_cents,
       MIN(r.event_type) AS last_event_type
FROM j JOIN (SELECT visitor, event_type FROM ranked WHERE rn = 1) r
  USING (visitor)
GROUP BY j.visitor
"""


@query("golden_record_survivorship", oracle=_GOLDEN_ORACLE)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MDM step AFTER identity stitching: collapse every stitched
    visitor cluster (same derived identifier graph as
    ``identity_stitch_visitors`` — the oracle replays the full
    recursive closure) into ONE golden record by deterministic
    survivorship rules — recency wins for categorical attributes
    (latest ``event_type`` by (ts, event_id), the "most recent
    non-null source" rule), extremes for validity bounds, sums for
    additive facts. Composition-level gate: stitch drift OR rule
    drift breaks the hash even when each half's own gate passes.

    Scale shape: one events⋈cluster-map equi-join (the map is
    user-grain, NO forced broadcast — size-based planning), then a
    single map-side-combinable groupBy(visitor) where the recency
    rule is ``max_by(type, struct(ts, event_id))`` — an O(1)-state
    aggregate, NOT a per-visitor window sort; n_devices rides the
    same aggregation as a distinct count."""
    events = load_table(spark, sf_dir, "events")
    clusters = _stitched_clusters(spark, sf_dir)
    j = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("cents"),
    ).join(clusters, "user_id")
    return j.groupBy("visitor").agg(
        F.countDistinct("user_id").alias("n_devices"),
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.sum("cents").alias("total_value_cents"),
        F.max_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("last_event_type"),
    )


# --- incremental rollup merge (reaggregable partials) ---------------------------

_INCR_MERGE_ORACLE = """
WITH ev AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           (event_id % 10 = 0) AS is_late,
           CAST(FLOOR(value * 100) AS BIGINT) AS cents
    FROM events
),
partials AS (
    SELECT event_type, day, is_late,
           COUNT(*)::BIGINT AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           MIN(cents)::BIGINT AS min_cents,
           MAX(cents)::BIGINT AS max_cents
    FROM ev GROUP BY 1, 2, 3
)
SELECT event_type, day::VARCHAR AS day,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(sum_cents) AS BIGINT) AS sum_cents,
       MIN(min_cents)::BIGINT AS min_cents,
       MAX(max_cents)::BIGINT AS max_cents,
       CAST((SUM(sum_cents) * 1000000) // SUM(n) AS BIGINT) AS avg_cents_ppm
FROM partials
GROUP BY event_type, day
"""


@query("incremental_rollup_merge", oracle=_INCR_MERGE_ORACLE)
def q_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The never-recompute-history pattern: the on-disk day rollup
    and a LATE-ARRIVING ingest batch (every 10th event — late data
    lands in days that already have partials, so same-group partials
    genuinely merge) are aggregated SEPARATELY into reaggregable
    partials (count / sum / min / max — each mergeable by
    construction), then MERGED by a second aggregation; derived
    statistics (the ppm average) are computed only after the merge —
    the classic avg-of-avgs trap stated as a gate. The oracle
    recomputes the same rollup in one pass over everything, so the
    hash proves merge(partials(base), partials(late)) ==
    recompute(all) exactly.

    Scale shape: at 100 TB the base partials are a materialized
    table written once (orders of magnitude smaller than the fact);
    each late batch merges O(batch + |groups|), never O(history).
    Here both sides derive from one fixture scan split on the batch
    tag; the merge is a union of two map-side-combined aggregates
    followed by a groupBy on the SAME keys — AQE coalesces the tiny
    shuffle. The ppm average uses integer cross-multiplication
    (int64-safe: cents ≤ 10^7 per row; the `* 1000000` rides the
    summed GROUP grain, bounded by day-slices)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        (F.col("event_id") % 10 == 0).alias("is_late"),
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("cents"),
    )

    def partials(side: DataFrame) -> DataFrame:
        return side.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )

    history = partials(ev.where(~F.col("is_late")))
    increment = partials(ev.where(F.col("is_late")))
    merged = (
        history.unionAll(increment)
        .groupBy("event_type", "day")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        )
    )
    return merged.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        "sum_cents",
        "min_cents",
        "max_cents",
        F.expr("(sum_cents * 1000000) div n").alias("avg_cents_ppm"),
    )


# --- cross-device sessionization -------------------------------------------------

_CROSS_DEVICE_ORACLE = f"""
WITH RECURSIVE {_STITCH_CTES.strip()},
ev AS (
    SELECT c.visitor, e.ts, e.user_id, e.value
    FROM events e JOIN comp c USING (user_id)
    WHERE e.ts IS NOT NULL
),
seq AS (
    SELECT *, CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY visitor ORDER BY ts) > 1800000000
                   THEN 1 ELSE 0 END AS is_new
    FROM ev
),
sess AS (
    SELECT *, SUM(is_new) OVER (PARTITION BY visitor ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM seq
)
SELECT visitor,
       epoch_us(MIN(ts)) AS visit_start_us,
       epoch_us(MAX(ts)) AS visit_end_us,
       COUNT(*)::BIGINT AS n_events,
       COUNT(DISTINCT user_id)::BIGINT AS n_devices,
       SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS total_value_cents
FROM sess
GROUP BY visitor, session_seq
"""


@query("cross_device_sessionize", oracle=_CROSS_DEVICE_ORACLE)
def q_cross_device_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization at the STITCHED-VISITOR grain — the analysis
    identity stitching exists for: a visit that hops devices (phone →
    laptop inside 30 min) is ONE session here and two in the per-user
    view; ``n_devices`` counts the hop. Reference parity note: this
    is the reference's own session concept (main.py:217, 30-min gap)
    lifted onto the canonical visitor its unused ibm_id/scv_id columns
    gesture at. Composition gate — the recursive stitch AND the
    session-window semantics must BOTH hold for the hash to match.

    Scale shape: events⋈cluster-map equi-join (user-grain map,
    size-based planning), then ``session_window`` grouped by visitor —
    ONE visitor-keyed exchange serves the windowing and every
    aggregate including the device distinct-count; the gap rule
    matches the lag-based oracle (merge at exactly prev+gap, strict
    ``>`` starts a new session)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", "ts", "value")
        .join(_stitched_clusters(spark, sf_dir), "user_id")
    )
    return (
        ev.groupBy("visitor", F.session_window("ts", "30 minutes"))
        .agg(
            F.unix_micros(F.min("ts")).alias("visit_start_us"),
            F.unix_micros(F.max("ts")).alias("visit_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_devices"),
            # integer cents (streaming_sessionize_visits convention):
            # a float SUM would expose the exact-hash gate to
            # partition-order accumulation nondeterminism
            F.sum(F.expr("CAST(FLOOR(value * 100) AS BIGINT)")).alias(
                "total_value_cents"
            ),
        )
        .drop("session_window")
    )


# --- edit-distance verify over LSH candidates -------------------------------------

def _lsh_edit_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.llmdata import (
        _MH64_BANDED_SQL,
        _MH64_SIG_COLS_SQL,
        _MINHASH_BASE_SQL,
        _MINHASH_SHINGLES_SQL,
    )

    return f"""
WITH sh AS ({_MINHASH_SHINGLES_SQL}),
hm AS ({_MINHASH_BASE_SQL}),
sig AS (
    SELECT doc_id,
{_MH64_SIG_COLS_SQL}
    FROM hm
),
banded AS (
{_MH64_BANDED_SQL}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       levenshtein(da.text, db.text)::BIGINT AS lev,
       GREATEST(length(da.text), length(db.text))::BIGINT AS max_len,
       (levenshtein(da.text, db.text) * 5
        <= GREATEST(length(da.text), length(db.text))) AS edit_ok
FROM cand c
JOIN documents da ON da.doc_id = c.id_a
JOIN documents db ON db.doc_id = c.id_b
"""


@query("lsh_edit_verified_pairs", oracle=_lsh_edit_oracle())
def q_lsh_edit_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ladder's SECOND verify axis: the production-parameter
    (64-perm/16-band) MinHash candidates re-checked by CHARACTER edit
    distance — Levenshtein ≤ 20% of the longer text — instead of the
    token-set Jaccard the banding was tuned for. Token-set similarity
    is blind to ordering and character-level corruption (OCR noise,
    template splices); real pipelines run both. Reads the staged
    ``_lsh_cand_64_16`` candidate table (shared with the Jaccard pass
    and the recall eval — candidates are generated ONCE per corpus
    snapshot); the oracle replays the full 64-permutation banding plus
    DuckDB's own levenshtein.

    Scale shape: candidate volume is the banding's (linear by the
    S-curve argument, never docs²); the verify is O(len²) per PAIR —
    bounded doc length makes it a constant — and rides the two
    doc-text equi-joins; the keep rule is cross-multiplied integer
    (lev·5 ≤ max_len), no float compare."""
    from web_analytics_visits_re_processing_spark.plans.llmdata import (
        _docs,
        _lsh_cand_64_16,
    )

    cand = _lsh_cand_64_16(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    j = (
        cand.join(
            docs.select(
                F.col("doc_id").alias("id_a"), F.col("text").alias("_ta")
            ),
            "id_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("id_b"), F.col("text").alias("_tb")
            ),
            "id_b",
        )
    )
    lev = F.levenshtein("_ta", "_tb").cast("long")
    max_len = F.greatest(F.length("_ta"), F.length("_tb")).cast("long")
    return j.select(
        "id_a",
        "id_b",
        lev.alias("lev"),
        max_len.alias("max_len"),
        (lev * 5 <= max_len).alias("edit_ok"),
    )


# --- URL canonicalization ---------------------------------------------------------

_URL_CANON_ORACLE = """
WITH ev AS (
    SELECT event_id, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
),
raw AS (
    SELECT event_id, user_id, k,
           'https://Shop-' || CAST(user_id % 5 AS VARCHAR)
               || '.Example.COM/p/' || CAST(k % 50 AS VARCHAR)
               || '?utm_source=mail&pid=' || CAST(k % 50 AS VARCHAR)
               || '&sess=' || CAST(event_id % 7 AS VARCHAR) || '#top'
           AS raw_url
    FROM ev
),
canon AS (
    SELECT raw_url, user_id,
           'https://shop-' || CAST(user_id % 5 AS VARCHAR)
               || '.example.com/p/' || CAST(k % 50 AS VARCHAR)
               || '?pid=' || CAST(k % 50 AS VARCHAR) AS canonical_url
    FROM raw
)
SELECT canonical_url,
       COUNT(*)::BIGINT AS n_views,
       COUNT(DISTINCT user_id)::BIGINT AS n_users,
       COUNT(DISTINCT raw_url)::BIGINT AS n_raw_variants
FROM canon
GROUP BY canonical_url
"""


@query("url_canonicalize_pages", oracle=_URL_CANON_ORACLE)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-URL canonicalization — the step every hitlog pipeline runs
    before ANY page-level rollup (the reference joins raw
    ``products_string`` URLs straight into its hits, main.py:64-77;
    real deployments canonicalize first or page counts fragment
    across tracking-param/case/fragment variants). Raw URLs are
    derived deterministically from the events fixture (5 mixed-case
    hosts × 50 pages × rotating utm/sess junk + fragment); the
    canonicalizer is the REAL one — Spark ``parse_url`` extracts
    HOST (lowercased), PATH, and the single meaningful query param
    (pid), dropping tracking params and the fragment — while the
    oracle derives the expected canonical form independently from
    the same integers, so the gate proves the parse_url pipeline
    collapses every junk variant to ground truth (n_raw_variants
    counts the collapsed sess-variants, up to 7 per page).

    Scale shape: derivation + canonicalization are zero-shuffle
    projections (parse_url is a JVM built-in, no Python); the only
    exchange is the canonical-URL rollup with map-side partials and
    two distinct-counts riding the same key."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    raw = ev.withColumn(
        "raw_url",
        F.concat(
            F.lit("https://Shop-"),
            (F.col("user_id") % 5).cast("string"),
            F.lit(".Example.COM/p/"),
            (F.col("k") % 50).cast("string"),
            F.lit("?utm_source=mail&pid="),
            (F.col("k") % 50).cast("string"),
            F.lit("&sess="),
            (F.col("event_id") % 7).cast("string"),
            F.lit("#top"),
        ),
    )
    canon = raw.withColumn(
        "canonical_url",
        F.concat(
            F.lit("https://"),
            F.lower(F.parse_url("raw_url", F.lit("HOST"))),
            F.parse_url("raw_url", F.lit("PATH")),
            F.lit("?pid="),
            F.parse_url("raw_url", F.lit("QUERY"), F.lit("pid")),
        ),
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("raw_url").alias("n_raw_variants"),
    )


# --- best-quality survivor per dedup cluster ----------------------------------------

def _survivor_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.llmdata import (
        _CC_CLOSURE_CTES,
        _SW_EN,
    )

    return (
        _CC_CLOSURE_CTES
        + f"""
, comp AS (
    SELECT node AS doc_id, MIN(label)::BIGINT AS component
    FROM reach GROUP BY node
),
q AS (
    SELECT doc_id,
           ROUND(0.4 * (len(list_filter(string_split(text, ' '),
                                        t -> t IN ({_SW_EN})))
                        / len(string_split(text, ' ')))
                 + 0.3 * (CASE WHEN ROUND((length(text)
                                           - len(string_split(text, ' ')) + 1)
                                          / len(string_split(text, ' ')), 4)
                                    BETWEEN 2 AND 12
                               THEN 1.0 ELSE 0.3 END)
                 + 0.3 * (CASE WHEN len(string_split(text, ' ')) >= 10
                               THEN 1.0
                               ELSE len(string_split(text, ' ')) / 10.0 END),
                 4) AS quality
    FROM documents
),
ranked AS (
    SELECT c.component, c.doc_id, q.quality,
           ROW_NUMBER() OVER (PARTITION BY c.component
                              ORDER BY q.quality DESC, c.doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY c.component) AS cluster_size
    FROM comp c JOIN q USING (doc_id)
)
SELECT component, doc_id AS survivor_doc_id, quality AS survivor_quality,
       cluster_size::BIGINT AS cluster_size
FROM ranked WHERE rn = 1
"""
    )


@query("dedup_best_quality_survivor", oracle=_survivor_oracle())
def q_dedup_best_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation keep-rule real pipelines run INSTEAD of
    keep-smallest-id: per near-dup cluster, survive the
    HIGHEST-QUALITY member (the gated ``quality_score`` formula, ties
    to the smaller doc_id) — canonical-by-id deletes the cleanest
    copy whenever the dirty one sorts first. Composition gate over
    THREE stages: the LSH pair pipeline, the transitive closure
    (read from the staged ``_dedup_components_05`` table), and the
    quality model — the oracle replays all three end to end.

    Scale shape: one doc-grain join (clusters ⋈ quality projection)
    and one map-side-combinable groupBy(component) whose survivor
    pick is ``max_by(doc, struct(quality, -doc_id))`` — O(1) state
    per cluster, no per-cluster window sort."""
    from web_analytics_visits_re_processing_spark.functions.text import (
        quality_score,
    )
    from web_analytics_visits_re_processing_spark.plans.llmdata import (
        _dedup_components_05,
        _docs,
    )

    comp = _dedup_components_05(spark, sf_dir).select("doc_id", "component")
    q = _docs(spark, sf_dir).select(
        "doc_id", quality_score("text").alias("quality")
    )
    j = comp.join(q, "doc_id")
    pref = F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
    return j.groupBy("component").agg(
        F.max_by("doc_id", pref).alias("survivor_doc_id"),
        F.max_by("quality", pref).alias("survivor_quality"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
