"""Connected components over the near-duplicate pair graph — turns
pairwise near-dup hits (operators/dedup.py) into cluster ids so dedup can
keep exactly one representative per duplicate *group*, not per pair.

No analog in the reference (it dedups only by primary key,
/root/reference/transform.py:193); this is the standard third stage of a
large-scale training-data dedup pipeline (pairs -> components ->
survivors).

Design for 100 TB:

- Hash-min label propagation: every vertex starts labeled with its own
  id; each round, labels flow across edges and every vertex keeps the
  minimum label it has seen.  Each round is ONE shuffle (a join keyed by
  vertex id + a min-aggregate) — no adjacency matrices, no driver-side
  graph.
- Rounds needed = graph diameter.  Near-dup clusters are near-cliques
  (every member pairs with most others), so diameter is 2-3 in practice;
  ``max_iter`` bounds pathological chains.
- ``localCheckpoint(eager=True)`` after every round truncates the
  lineage, keeping the plan O(1) per round instead of O(rounds) — the
  classic iterative-algorithm failure mode on Spark.
- Convergence is detected with a count of changed labels, collected as
  an OBSERVED metric of the checkpoint job itself (no separate count
  action); the loop runs on the driver but only scalars cross it.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.serializers import CPickleSerializer
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: Upper bound on waiting for a counted round's observed metric.  The
#: checkpoint job has already finished when the wait starts, so a wait
#: this long means the metric was lost, not that the round is slow.
OBSERVE_TIMEOUT_S = 120.0


def observed_metrics(obs: Observation, what: str,
                     timeout_s: float = OBSERVE_TIMEOUT_S) -> dict:
    """``obs.get`` with a finite wait: raises ``TimeoutError`` naming
    ``what`` instead of blocking forever when the observed action never
    reports (``Observation.get`` has no timeout).

    Uses the private ``obs._jo`` (the JVM ``org.apache.spark.sql.
    Observation``) to await its public Scala ``future()`` with a bounded
    ``scala.concurrent.duration.Duration``."""
    jvm = obs._jvm
    wait = jvm.scala.concurrent.duration.Duration.apply(
        int(timeout_s * 1000), "ms"
    )
    try:
        jrow = jvm.scala.concurrent.Await.result(obs._jo.future(), wait)
    except Py4JJavaError as exc:
        name = exc.java_exception.getClass().getName()
        if name != "java.util.concurrent.TimeoutException":
            raise
        raise TimeoutError(
            f"{what}: observed metrics did not arrive within {timeout_s:g} s"
        ) from None
    utils = getattr(jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
    return CPickleSerializer().loads(utils.toPyRow(jrow)).asDict(recursive=False)


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(a, b) undirected edge list -> (id, component) with component =
    the minimum vertex id reachable from ``id``.

    Only vertices that appear in at least one edge are returned (isolated
    docs are their own trivial cluster and need no shuffle to prove it).
    """
    # ONE eager job materializes the symmetric closure: the upstream
    # pair pipeline (LSH + verify) appears in both union branches, but
    # its terminal exchange is a ReusedExchange in the physical plan, so
    # it executes once inside this job — a separate directed-edges
    # checkpoint would only add a job.  sym is consumed by every round's
    # join, which is why IT (and nothing upstream of it) is the one
    # materialization; the initial labels are consumed exactly once and
    # first persist inside the round-1 checkpoint.
    directed = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    sym = (
        directed
        .unionByName(directed.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    changed = 1
    labels = None
    for rnd in range(max_iter):
        # Push each vertex's current label to its neighbors, then take the
        # min of (own label, incoming labels) — one shuffle keyed by id.
        # The vertex's own previous label rides along (min over the
        # own-tagged rows; each vertex has exactly one), so convergence
        # detection is a scan of the checkpointed result instead of an
        # extra join against the previous round.
        if labels is None:
            # Round 1 (round-13, the LPA round-1 shortcut): labels start
            # as the identity, so incoming(dst) = src verbatim and the
            # post-round label is min(id, min(incoming src)) — the edge
            # table IS the round-1 contribution relation.  This removes
            # both the labels-init ``distinct`` (a full |V| shuffle) and
            # round 1's join; symmetry of ``sym`` guarantees every
            # vertex appears as dst, so the vertex set is complete.
            new_labels = (
                sym.select(F.col("dst").alias("id"),
                           F.col("src").alias("component"))
                .groupBy("id")
                .agg(F.min("component").alias("m"))
                .select("id", F.least("id", "m").alias("component"),
                        F.col("id").alias("prev"))
            )
        else:
            incoming = (
                sym.join(labels, sym.src == labels.id)
                .select(F.col("dst").alias("id"), "component",
                        F.lit(None).cast("long").alias("prev"))
            )
            new_labels = (
                labels.select("id", "component",
                              F.col("component").alias("prev"))
                .unionByName(incoming)
                .groupBy("id")
                .agg(F.min("component").alias("component"),
                     F.min("prev").alias("prev"))
            )
        # (Path halving — an extra label(component) self-join per round —
        # was measured here and LOST: on the fuzzy-match graph it did not
        # cut the counted-round total but added a shuffle per round,
        # 1.2 s -> 2.0 s at sf0.1.  Min-propagation alone keeps each
        # round one shuffle.  Round-12 re-measured the full POINTER-
        # JUMPING variant — compose the label map with itself from round
        # 2 on, rounds O(log d) — with an in-session alternating A/B on
        # the diameter-7 entity-resolution name graph: 4.08 s -> 5.12 s
        # min-of-4, consistently slower on every run, and a wash on the
        # near-clique dedup graph (3.36 vs 3.43).  The saved rounds
        # (8 -> ~5) do not pay for the second shuffle + re-aggregation
        # each jumping round adds; at truly deep diameters the jump wins
        # asymptotically, but every graph this engine derives is either
        # near-clique (LSH dedup) or short-chain (blocked fuzzy names),
        # so the single-shuffle round stays.)
        # Checkpoint + convergence-count every SECOND round only: each
        # checkpoint is a separate Spark job, and for the near-clique
        # graphs this serves (diameter 2-3) the per-job fixed cost
        # dominates the actual shuffle work.  On the uncounted round
        # the next iteration consumes the one-round-deep lazy plan (its
        # identical agg subtree is a ReusedExchange, not a recompute);
        # lineage never exceeds two rounds.  The changed-label count is
        # an OBSERVED metric collected by the checkpoint job itself
        # (round-13, guide §1.2 fewer actions: the separate post-
        # checkpoint count() job is gone — 2 jobs/counted round -> 1).
        counted = (rnd % 2 == 1) or (rnd == max_iter - 1)
        if counted:
            obs = Observation()
            new_labels = new_labels.observe(
                obs,
                F.sum((F.col("component") < F.col("prev")).cast("long"))
                .alias("changed"),
            ).localCheckpoint(eager=True)
            changed = observed_metrics(
                obs, f"connected_components round {rnd}"
            )["changed"] or 0  # None on an empty graph
        labels = new_labels.select("id", "component")
        if counted and changed == 0:
            break
    if changed != 0:
        # A component with diameter > max_iter would otherwise pass off
        # partially-propagated labels as a correct clustering.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — rounds "
            "needed equals the largest component's diameter"
        )
    return labels


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup pairs (a, b, ...) -> (doc_id, cluster_id) where
    cluster_id is the lowest doc_id in the connected component."""
    return connected_components(pairs.select("a", "b")).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def dedup_summary(docs: DataFrame, pairs: DataFrame,
                  id_col: str = "doc_id") -> DataFrame:
    """One-row dedup plan summary: total docs, docs in some near-dup
    cluster, number of clusters, and docs surviving keep-one-per-cluster."""
    return summary_from_clusters(docs, dedup_clusters(pairs))


def summary_from_clusters(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """dedup_summary's aggregate over an already-computed (doc_id,
    cluster_id) assignment — the seam that lets quotient-clustered
    callers (dedup.minhash_text_clusters) share the arithmetic."""
    return clusters.agg(
        F.count(F.lit(1)).alias("n_clustered_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    ).crossJoin(docs.agg(F.count(F.lit(1)).alias("n_docs"))).select(
        "n_docs",
        "n_clustered_docs",
        "n_clusters",
        (F.col("n_docs") - F.col("n_clustered_docs") + F.col("n_clusters"))
        .alias("n_after_dedup"),
    )
