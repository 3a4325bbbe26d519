"""Near-duplicate GROUPING — the step after candidate generation in a
training-data dedup pipeline: cluster near-dup pairs into connected
components, pick one canonical document per cluster, and emit the
surviving (deduplicated) corpus.

The reference stops at pair/set level (`UniqueFilter` /
`ConcurrentKeyBagSet`, aggregators/commons.py + example/main.py); real
corpus dedup additionally needs transitive grouping: if A~B and B~C,
then {A,B,C} is ONE cluster even when A and C never co-occur in an LSH
bucket. Pairs come from ``minhash_pairs_from_docs`` (dedup_queries.py);
an edge exists when ≥ ``_CC_MIN_MATCH`` of the 8 signature components
agree (estimated Jaccard ≥ 0.5).

Scale shape (100 TB corpus):
* Components via iterative min-label propagation. The first round
  is join-free: the edge list is symmetric, so a node's first label is
  ``least(src, min(dst))``, one aggregate over the edges, left lazy.
  Each later round is one shuffle join (labels → neighbors) + one
  partial/final min-agg that also carries the node's previous label
  (``max(old)``) into the round's ``localCheckpoint`` (which truncates
  lineage), so the convergence flag is a filter-count over the
  checkpointed blocks — one job with no shuffle, and only a scalar
  crosses to the driver. Rounds needed = graph diameter + 1, and
  near-dup clusters are shallow (dup clusters are quasi-cliques since
  LSH buckets emit all intra-bucket pairs), so a handful of rounds
  converges. For adversarial diameters (long
  chains) the literature upgrade is large-star/small-star (Kiveris et
  al., "Connected Components in MapReduce and Beyond"), same building
  blocks.
* Survivors — one broadcast-able left join of the corpus against the
  (tiny relative to corpus) duplicate-membership table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import table
from tiny_etl_multiproc_bigdata_spark.plans.dedup_queries import (
    _MINHASH_PAIR_CTES,
    minhash_pairs_from_docs,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import register

# Signature components (of 8) that must agree for a pair to become an
# edge: 4/8 = estimated Jaccard 0.5. Integer threshold on purpose —
# comparing the rounded float estimate would be engine-sensitive.
_CC_MIN_MATCH = 4

# Must exceed any plausible component diameter: convergence breaks the
# loop early, so a generous bound costs nothing on real (quasi-clique)
# dup clusters but keeps adversarial chains (and the property test's
# random path graphs) inside the bound.
_MAX_CC_ROUNDS = 64


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of currently-persisted RDDs (includes localCheckpoint blocks)."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    ids: set[int] = set()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def _unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Release the blocks behind specific persisted RDD ids.

    ``df.rdd.unpersist()`` does NOT work for a localCheckpointed
    DataFrame — the Python-side ``df.rdd`` is a freshly-derived
    wrapper, not the internally-persisted RDD[InternalRow] — so the
    only reliable handle is the driver's persistent-RDD registry
    (verified empirically: the registry route frees the blocks and the
    superseded frame becomes unreadable, the ``df.rdd`` route is a
    silent no-op)."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        t = it.next()
        if t._1() in ids:
            t._2().unpersist(False)


def _count_rows(df: DataFrame) -> int:
    """``df.count()`` in one job with no shuffle: counting the executed
    plan's RDD sums per-partition sizes, where ``DataFrame.count()``
    plans a partial count, a single-partition exchange and a final
    count (two jobs under AQE)."""
    return df._jdf.queryExecution().toRdd().count()


def _cc_labels(edges: DataFrame) -> DataFrame:
    """(src, dst) symmetric edge list → (doc_id, group_id) where
    group_id = min doc_id of the connected component. Iterates
    min-label propagation to convergence (bounded by _MAX_CC_ROUNDS;
    raises if the bound is hit unconverged — silently returning partial
    labels would diverge from the exact transitive-closure oracle).

    Round 1 needs no join: every node starts labelled with itself, so
    its first label is ``least(src, min(dst))`` over its own edges (the
    list is symmetric, so every node is a ``src``). It always changes a
    label when there are edges, so it is neither counted nor
    checkpointed (see below). Each later round carries the previous
    label through the union-min aggregate as ``old`` into the same
    checkpoint, so its convergence flag is a filter-count over the
    checkpointed blocks: one job with no shuffle."""
    # Materialize the edge list once: without this every round's msgs
    # join re-executes the whole upstream candidate-pair pipeline
    # (band explode + self-join + sig joins), twice per round via the
    # fwd/rev union.
    spark = edges.sparkSession
    # Each round's localCheckpoint pins blocks for the session; without
    # explicit release, up to _MAX_CC_ROUNDS copies of the label table
    # stay resident (ADVICE r02). Snapshot the persistent-RDD registry
    # around each checkpoint so the SUPERSEDED round's blocks can be
    # freed as soon as the next round's checkpoint is built (the
    # convergence count reads only the new one). The final round's
    # frame (the return value) and the edge list stay pinned until the
    # loop exits; edges are freed before returning.
    before = _persistent_rdd_ids(spark)
    edges = edges.localCheckpoint(eager=True)
    edges_ids = _persistent_rdd_ids(spark) - before

    # Round 1 is not checkpointed: round 2's checkpoint computes it in
    # its own stages, over the small edge checkpoint, and that costs
    # fewer jobs than a checkpoint of its own (12 vs 14 construction
    # jobs for corpus_curation at sf0.01).
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("doc_id"), "label")
    )
    labels_ids: set[int] = set()
    no_old = F.lit(None).cast(labels.schema["label"].dataType).alias("old")
    changed = None  # round 1 is uncounted
    for _ in range(_MAX_CC_ROUNDS - 1):
        msgs = edges.join(labels, edges["src"] == labels["doc_id"]).select(
            F.col("dst").alias("doc_id"), F.col("label"), no_old
        )
        before = _persistent_rdd_ids(spark)
        new_labels = (
            labels.select("doc_id", "label", F.col("label").alias("old"))
            .unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            .localCheckpoint(eager=True)
        )
        new_labels_ids = _persistent_rdd_ids(spark) - before
        _unpersist_rdd_ids(spark, labels_ids)
        labels, labels_ids = new_labels, new_labels_ids
        changed = _count_rows(labels.filter(F.col("label") != F.col("old")))
        if changed == 0:
            break
    if changed is None:  # a one-round bound: count round 1's changes
        labels = labels.localCheckpoint(eager=True)
        changed = _count_rows(
            labels.filter(F.col("label") != F.col("doc_id"))
        )
    _unpersist_rdd_ids(spark, edges_ids)
    if changed != 0:
        raise RuntimeError(
            f"connected components did not converge in {_MAX_CC_ROUNDS} "
            f"rounds ({changed} labels still changing); component "
            "diameter exceeds the bound — raise _MAX_CC_ROUNDS or switch "
            "to large-star/small-star"
        )
    return labels.select("doc_id", F.col("label").alias("group_id"))


def near_dup_edges_from_docs(d: DataFrame) -> DataFrame:
    """Symmetric near-dup edge list over any (doc_id, text) DataFrame
    (≥ _CC_MIN_MATCH of 8 signature components agree) — the docs-DF
    core so bench.py's amplified curation run reuses the exact
    pipeline."""
    p = minhash_pairs_from_docs(d).filter(F.col("n_match") >= _CC_MIN_MATCH)
    fwd = p.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = p.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    return fwd.unionByName(rev)


def _near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_edges_from_docs(table(spark, sf_dir, "documents"))


# Recursive transitive closure over the edge set — exact component
# semantics for the oracle. O(n·e) row growth is fine at oracle scale;
# the Spark side converges in diameter rounds instead.
_CC_GROUPS_CTES = (
    _MINHASH_PAIR_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""", e AS (
  SELECT doc_a AS src, doc_b AS dst FROM mh WHERE n_match >= {_CC_MIN_MATCH}
  UNION ALL
  SELECT doc_b, doc_a FROM mh WHERE n_match >= {_CC_MIN_MATCH}
), reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
), groups AS (
  SELECT src AS doc_id, least(src, min(dst)) AS group_id
  FROM reach GROUP BY src
)"""
)

_CC_GROUPS_ORACLE = (
    _CC_GROUPS_CTES
    + """
SELECT doc_id, group_id,
       CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
FROM groups
"""
)


@register("dedup_cc_groups", oracle=_CC_GROUPS_ORACLE)
def dedup_cc_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the minhash
    near-dup graph (edge = ≥4/8 signature components agree). One row
    per clustered document with its canonical ``group_id`` (component
    min doc_id) and ``group_size``. Docs with no near-dup partner are
    not emitted (they are their own trivial component).

    Note: building this plan EXECUTES the label-propagation loop at
    construction time: the edge-list checkpoint, then per later round
    one checkpoint that holds both the new and the previous label (the
    second round's also computes the join-free first round) and one
    filter-count over it as the convergence flag. The returned frame is the converged labels
    plus one window. Superseded rounds' checkpoint blocks are freed as
    the loop advances (see ``_cc_labels``)."""
    labels = _cc_labels(_near_dup_edges(spark, sf_dir))
    w = Window.partitionBy("group_id")
    return labels.withColumn("group_size", F.count("*").over(w))


_SURVIVORS_ORACLE = (
    _CC_GROUPS_CTES
    + """
SELECT d.doc_id,
       CASE WHEN g.doc_id IS NULL THEN 'unique' ELSE 'canonical' END
         AS keep_reason
FROM documents d
LEFT JOIN groups g ON d.doc_id = g.doc_id
WHERE g.doc_id IS NULL OR g.group_id = d.doc_id
"""
)


def survivor_filter(docs: DataFrame, labels: DataFrame) -> DataFrame:
    """Keep rows of ``docs`` (must carry doc_id) that are outside any
    cluster or are their cluster's canonical doc. Explicit broadcast:
    the membership table is duplicate CLUSTER MEMBERS only — tiny next
    to the corpus — and without the hint this planned as a sort-merge
    join shuffling the full corpus on doc_id. (If dup membership ever
    outgrows executor memory, drop the hint and pre-partition instead.)
    """
    joined = docs.join(F.broadcast(labels), "doc_id", "left")
    return joined.filter(
        F.col("group_id").isNull() | (F.col("group_id") == F.col("doc_id"))
    )


@register("dedup_survivors", oracle=_SURVIVORS_ORACLE)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: every document that is either outside
    any near-dup cluster (``unique``) or its cluster's canonical
    representative (``canonical`` = component min doc_id). This is the
    end-to-end "write the cleaned corpus" operator; downstream training
    jobs read exactly these doc_ids."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    labels = _cc_labels(_near_dup_edges(spark, sf_dir))
    return survivor_filter(docs, labels).select(
        "doc_id",
        F.when(F.col("group_id").isNull(), F.lit("unique"))
        .otherwise(F.lit("canonical"))
        .alias("keep_reason"),
    )


def _survivors_by_quality_oracle() -> str:
    # quality feature fragment shared with text_quality_score
    # (text_queries.py constants) — composed onto the recursive CC CTEs
    from tiny_etl_multiproc_bigdata_spark.plans.text_queries import (
        _QUALITY,
        feat_cte_sql,
    )

    return (
        _CC_GROUPS_CTES
        + rf""", feat AS (
  {feat_cte_sql()}
), scored AS (
  SELECT doc_id, {_QUALITY} AS q FROM feat
), ranked AS (
  SELECT g.group_id, g.doc_id, s.q,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY s.q DESC, g.doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY g.group_id) AS group_size
  FROM groups g JOIN scored s ON s.doc_id = g.doc_id
)
SELECT group_id,
       doc_id AS survivor_doc,
       CAST(group_size AS BIGINT) AS group_size,
       q AS survivor_quality
FROM ranked WHERE rk = 1
"""
    )


@register("dedup_survivors_by_quality", oracle=_survivors_by_quality_oracle())
def dedup_survivors_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: each near-dup cluster keeps
    its HIGHEST-quality member (4-dp-quantized heuristic score, doc_id
    tiebreak) instead of the min-id canonical — what production dedup
    actually wants: when five crawls of a page collide, keep the
    cleanest rendering, not the lowest id. One row per cluster with the
    survivor and the cluster size; compose with survivor_filter to
    write the cleaned corpus.

    100 TB shape: the cluster labels come from the bounded
    label-propagation loop (duplicate members only — tiny next to the
    corpus); quality scores join in on doc_id, and the per-cluster
    argmax is a WindowGroupLimit-class partitioned rank over cluster-
    member rows, never the full corpus."""
    from tiny_etl_multiproc_bigdata_spark.plans.text_queries import (
        quality_from_docs,
    )

    d = table(spark, sf_dir, "documents")
    labels = _cc_labels(_near_dup_edges(spark, sf_dir))
    scored = quality_from_docs(d).select(
        "doc_id", F.col("quality_score").alias("q")
    )
    member_scores = labels.select("doc_id", "group_id").join(
        scored, "doc_id"
    )
    w = Window.partitionBy("group_id").orderBy(
        F.desc("q"), F.asc("doc_id")
    )
    return (
        member_scores.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "group_size",
            F.count("*").over(Window.partitionBy("group_id")),
        )
        .filter(F.col("rk") == 1)
        .select(
            "group_id",
            F.col("doc_id").alias("survivor_doc"),
            F.col("group_size").cast("bigint").alias("group_size"),
            F.col("q").alias("survivor_quality"),
        )
    )


# ---- duplicate-cluster size histogram ---------------------------------------

_CLUSTER_HIST_ORACLE = (
    _CC_GROUPS_CTES
    + """
, sizes AS (
  SELECT group_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM groups GROUP BY group_id
)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * (cluster_size - 1) AS BIGINT) AS removable_docs
FROM sizes GROUP BY cluster_size
"""
)


@register("dedup_cluster_size_histogram", oracle=_CLUSTER_HIST_ORACLE)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-of-counts over the near-dup connected components: how many
    duplicate clusters exist at each size, and how many documents a
    keep-one-per-cluster pass would remove (size−1 each) — the one
    table a dedup run's report leads with, because the size
    distribution is the decision input (a fat tail of giant clusters
    means template spam → investigate before deleting; all-pairs-of-2
    means organic near-dups → dedup and move on). Composes the SAME
    label-propagation components as dedup_cc_groups, then two bounded
    aggregations.

    100 TB shape: everything after the (already scale-audited)
    component labels is two partial-agg'd groupBys whose key spaces
    are |clusters| then |distinct sizes| — both tiny; the histogram
    adds no corpus-scale work to the dedup pass it audits."""
    labels = _cc_labels(_near_dup_edges(spark, sf_dir))
    sizes = labels.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1))
        .cast("bigint")
        .alias("removable_docs"),
    )
