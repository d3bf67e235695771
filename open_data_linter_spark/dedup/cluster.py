"""Near-duplicate clustering: pair lists → connected components → keep-one.

Pair producers (minhash/simhash/jaccard) emit EDGES; a dedup
pipeline needs the transitive clusters (A~B, B~C ⇒ {A,B,C} is one group)
and a canonical survivor per group. ``connected_components`` is min-label
propagation expressed as DataFrame joins — the standard Spark shape for
the problem (GraphX/GraphFrames does the same under the hood):

    labels(v) ← min(labels(v), min over neighbors' labels)

with a pointer-jumping step (comp ← label(comp)) each round, so a
D-diameter component closes in O(log D) rounds rather than D; near-dup
graphs are unions of small dense clusters (diameter 2-4), so 2-4 rounds
close virtually any real corpus, and ``max_iter`` bounds the worst case.

Scale notes:
- the working set is only the ids that appear in SOME pair — at 100 TB
  the pair list is orders of magnitude smaller than the corpus, and
  untouched documents never enter the computation (``deduplicate`` keeps
  them with an anti-join);
- each round is one shuffle join (labels ⋈ edges on the source id) + one
  groupBy(min); labels are two narrow columns. Successive generations are
  persisted through ``persist_scoped`` and the loop stops via a cheap
  monotone convergence check (the label SUM strictly decreases until the
  fixpoint — no expensive row-level comparison);
- edges are symmetrized once up front; the min-label invariant makes the
  result independent of edge direction and input order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_data_linter_spark.dedup._cache import (
    nudge_context_cleaner,
    persist_scoped,
)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component_id) for every id present in ``pairs``;
    component_id = the MINIMUM member id of the component (a canonical,
    deterministic label). Ids may be any orderable type: numeric ids run
    the label loop directly; others (e.g. string clip_id) are encoded to
    injective long surrogates first — the loop's monotone convergence
    check sums labels, which needs numbers — and the canonical min-id
    label is restored in the original space by one groupBy(min) + join
    after the fixpoint (no order-preserving encoding needed, so no
    single-partition window; surrogates are monotonically_increasing_id
    over the persisted id set).

    Raises RuntimeError if ``max_iter`` rounds don't reach the fixpoint
    (diameter > max_iter — not a near-dup-shaped graph).
    """
    from pyspark.sql.types import NumericType

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges = persist_scoped("cc.edges", edges)
    if not isinstance(pairs.schema[id_a].dataType, NumericType):
        # surrogate longs: the mapping need not preserve order — min-label
        # CC only needs SOME total order on labels; the true min member id
        # is recomputed per component afterwards. localCheckpoint (NOT a
        # lazy persist): monotonically_increasing_id is a function of the
        # physical partition layout, so a recomputation after block
        # eviction could assign DIFFERENT nids between the edge-mapping
        # job and the final join-back — the checkpoint materializes the
        # assignment once, and a lost block fails loudly instead of
        # silently remapping
        ids = (
            edges.select(F.col("src").alias("orig"))
            .distinct()
            .withColumn("nid", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)
        )
        nid_edges = persist_scoped(
            "cc.edges.nid",
            edges.join(
                ids.select(F.col("orig").alias("src"), F.col("nid").alias("s")),
                "src",
            )
            .join(
                ids.select(F.col("orig").alias("dst"), F.col("nid").alias("d")),
                "dst",
            )
            .select(F.col("s").alias("src"), F.col("d").alias("dst")),
        )
        nid_labels = _cc_label_loop(nid_edges, max_iter)
        orig_labels = nid_labels.join(
            ids.select(F.col("nid").alias("id"), "orig"), "id"
        ).select(F.col("orig").alias("id"), F.col("comp").alias("ncomp"))
        canon = orig_labels.groupBy("ncomp").agg(F.min("id").alias("comp"))
        return persist_scoped(
            "cc.labels",
            orig_labels.join(canon, "ncomp").select("id", "comp"),
        )
    return _cc_label_loop(edges, max_iter)


def _cc_label_loop(edges: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation + pointer jumping over symmetrized numeric
    edges (src, dst) until the label-sum fixpoint."""
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .persist()
    )

    def label_sum(lb):
        # decimal(38,0) accumulator: a plain long sum over full-range
        # 64-bit ids THROWS on overflow under ANSI mode at scale
        return lb.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = label_sum(labels)
    if prev_sum is None:  # no edges at all
        labels.unpersist(blocking=False)
        return labels
    for _ in range(max_iter):
        # (a) neighbor propagation: labels flow one hop along edges; keep
        # own label in the union so current minima survive the groupBy
        msgs = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "comp")
        hop = labels.unionByName(msgs).groupBy("id").agg(
            F.min("comp").alias("comp")
        )
        # (b) pointer jumping: re-label through the label table
        # (comp ← label(comp)), doubling the effective reach per round —
        # a D-diameter chain closes in O(log D) rounds instead of D
        jump = hop.select(F.col("id").alias("comp"), F.col("comp").alias("comp2"))
        nxt = hop.join(jump, "comp", "left").select(
            "id",
            F.coalesce(F.least("comp", "comp2"), F.col("comp")).alias("comp"),
        )
        # localCheckpoint TRUNCATES the logical plan each round — labels
        # feeds two branches per round (propagation + jump), so a lazy
        # persist would leave a plan tree that DOUBLES every round and
        # Catalyst re-analysis dominates within ~5 rounds (measured:
        # ~20s/round by round 5 vs ~1s flat with truncation). Eager so the
        # generation handoff overlaps: materialize first, release after.
        nxt = nxt.localCheckpoint(eager=True)
        cur_sum = label_sum(nxt)
        # round-0 labels are a plain persist, released here; checkpointed
        # generations (round 1+) are NOT in the CacheManager — for them
        # unpersist() is a no-op and the drop-and-nudge below is the real
        # release path (ContextCleaner weak refs + GC)
        labels.unpersist(blocking=False)
        labels = nxt
        nudge_context_cleaner(labels.sparkSession)
        if cur_sum == prev_sum:  # min-label is monotone: equal sum == fixpoint
            # register the surviving generation so session-wide cache
            # hygiene (clear_scoped) can release it later
            return persist_scoped("cc.labels", labels)
        prev_sum = cur_sum
    labels.unpersist(blocking=False)
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_iter} rounds "
        "(graph diameter exceeds max_iter)"
    )


def cluster_sizes(components: DataFrame) -> DataFrame:
    """(component_id, size) per cluster, size >= 2 by construction."""
    return (
        components.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("size"))
        .select(F.col("comp").alias("component_id"), "size")
    )


def deduplicate(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Corpus minus non-canonical near-duplicates: for every component the
    MINIMUM-id member survives; documents in no pair pass through
    untouched (anti-join — the full corpus never enters the CC loop)."""
    comps = connected_components(pairs, id_a, id_b)
    losers = comps.where(F.col("id") != F.col("comp")).select("id")
    return df.join(
        losers.withColumnRenamed("id", id_col), on=id_col, how="left_anti"
    )
