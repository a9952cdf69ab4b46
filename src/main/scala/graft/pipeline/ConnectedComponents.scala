package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.analytics.Fixpoint

/** Connected components over an undirected edge list as pure DataFrame
  * operations — the RDD-free alternative to the GraphX bridge in
  * [[Curation.dupClusters]] for the duplicate-clustering path.
  *
  * Algorithm: min-label propagation with pointer jumping. Each round
  * every node takes the minimum label in its closed neighborhood (one
  * equi-join + one map-side-combinable aggregation), then labels are
  * compressed one hop (`label <- label(label)`, one self-join). Labels
  * only decrease and are bounded below by the component minimum, and the
  * jump step halves pointer-chain depth, so convergence takes
  * O(log diameter) rounds — 1-2 for the star/clique graphs duplicate
  * detection produces, ~20 even for a path of a million nodes.
  *
  * Scale design (the reason this exists alongside GraphX):
  *   - every step is a Catalyst plan — AQE sizes the shuffles, the label
  *     table stays (id, label) longs end-to-end, and whole-stage codegen
  *     covers the join+agg pipeline; nothing round-trips through
  *     RDD[Edge] object serialization;
  *   - per-round state is truncated with a LAZY localCheckpoint whose
  *     materializing action IS the convergence probe: the old label rides
  *     through the round as a column, and one aggregate over the
  *     checkpointed frame both persists the new labels and returns the
  *     changed-count — ONE job per round, not checkpoint + probe (at ~20
  *     rounds on a real cluster the saved scheduler round-trips are
  *     latency that matters);
  *   - no step materializes a neighborhood list: a boilerplate mega-group
  *     flows through as edges, never as a per-reducer array.
  *
  * Reference parity: duplicate clustering itself has no counterpart in
  * the reference engine (single-node KV traversals); this backs the
  * training-data curation surface (SURVEY §2 pipeline extensions).
  */
object ConnectedComponents {

  /** (id, cluster) for every node appearing in `pairs` (columns a, b;
    * any numeric type — cast to long). `cluster` is the minimum node id
    * of the node's connected component. */
  def labels(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val e = pairs.select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the CANONICAL edge list first (round 12): callers may
      // hand a live propose/verify chain, and the symmetrizing union
      // below references it twice — on a cold lazy cache both union
      // branches would compute the whole upstream chain (measured +4 s on
      // the funnel arm). One eager fill makes the union two cache scans,
      // lets callers skip their own pre-cc checkpoints entirely, and
      // caches half the rows the old symmetrized persist held.
      e.count()
      val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      // Seed with the closed-neighborhood minimum instead of the identity:
      // the groupBy costs exactly what the identity init's distinct() cost
      // (same shuffle over the symmetrized edges), but it IS round one's
      // propagation — a star (the shape exact/near-dup clustering
      // produces) is already at its fixpoint here and pays only the one
      // confirming round. Correctness is unchanged for any seed that is
      // monotone (≤ id) and bounded below by the component minimum: labels
      // only decrease under the round operator, and at any fixpoint every
      // edge forces label equality across it while a non-minimum node can
      // never hold its own id (its smaller neighbor's label is ≤ that
      // neighbor's id < it), so the limit is the component minimum —
      // pinned by the existing random-graph fuzz spec.
      val seed = und.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("label"))
        .select(col("u").as("id"), col("label"))
        .localCheckpoint(true)
      val labels = Fixpoint.run(seed, maxIters,
          s"connected components did not converge in $maxIters rounds") { labels =>
        // closed-neighborhood minimum: neighbor labels in, own label kept
        // (carried as __old so the convergence check needs no extra join)
        val nbrMin = und.join(labels, und("v") === labels("id"))
          .select(und("u").as("id"), col("label"))
          .groupBy("id").agg(min("label").as("__nmin"))
        val prop = labels.select(col("id"), col("label").as("__old"))
          .join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("__old"),
            least(col("__old"), coalesce(col("__nmin"), col("__old"))).as("label"))
          .localCheckpoint(false) // lazy: the changed-count materializes it
        // convergence is checked on the PROPAGATION result, before the
        // pointer jump: "no label changed under closed-neighborhood min"
        // IS the fixpoint condition (the jump is purely an accelerator —
        // label(label) = label whenever propagation is stationary, since
        // every held label is a component-minimum id that points to
        // itself). Star/clique graphs — the shape dedup clustering
        // produces, already at the fixpoint in the seed — now confirm in
        // one jump-free round; deep graphs pay the jump as a second job
        // only in the rounds that actually move.
        val changed = prop
          .agg(coalesce(sum(when(col("label") =!= col("__old"), 1L)
            .otherwise(0L)), lit(0L)))
          .first().getLong(0)
        if (changed == 0L) (prop.select("id", "label"), true)
        else {
          // pointer jump: every label is itself a node id with a row in
          // prop (labels start as ids and min() only selects existing
          // ids), so this inner join is total
          val jump = prop.select(col("id").as("__jid"), col("label").as("__jlabel"))
          (prop.join(jump, prop("label") === jump("__jid"))
            .select(prop("id"), col("__jlabel").as("label"))
            .localCheckpoint(true), false)
        }
      }
      labels.select(col("id"), col("label").as("cluster"))
    } finally e.unpersist()
  }
}
