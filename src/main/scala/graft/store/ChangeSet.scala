package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analytics.Fixpoint
import graft.model.GraphStore

/** Store diff/sync — the reference's declared-but-dead VCS-sync surface
  * (`Change`/`ChangeSet`/`NodeChange`, kv_graph_store.rs:848-865) realized
  * as DataFrame set algebra. A change is computed with anti-joins (scales
  * as two scans + hash joins per table, no driver iteration) and applied
  * with anti-join + union upserts.
  *
  * Shape mirrors the reference: created/modified/deleted node sets, created/
  * deleted edge sets; `requiredProps` materializes the reference's
  * `depends_on` property-hash closure (the props a receiving store needs so
  * applying the change never dangles a prop_hash).
  */
final case class GraphChange(
    createdNodes: DataFrame,   // (id, prop_hash)
    modifiedNodes: DataFrame,  // (id, prop_hash) — same id, new property
    deletedNodes: DataFrame,   // (id, prop_hash)
    createdEdges: DataFrame,   // (edge_id, src, dst, prop_hash)
    deletedEdges: DataFrame,   // (edge_id, src, dst, prop_hash)
    requiredProps: DataFrame,  // (hash, value, schema_type) — depends_on closure
    requiredRefs: DataFrame)   // (parent_hash, child_hash) — nested() rows of the closure

object GraphChange {

  /** Diff two stores: what must happen to `from` to become `to`. */
  def diff(from: GraphStore, to: GraphStore): GraphChange = {
    val createdNodes = to.vertices.join(from.vertices.select("id"), Seq("id"), "left_anti")
    val deletedNodes = from.vertices.join(to.vertices.select("id"), Seq("id"), "left_anti")
    val modifiedNodes = to.vertices
      .join(from.vertices.withColumnRenamed("prop_hash", "__old"), Seq("id"))
      .where(col("prop_hash") =!= col("__old"))
      .select("id", "prop_hash")
    val createdEdges = to.edges.join(from.edges.select("edge_id"), Seq("edge_id"), "left_anti")
    val deletedEdges = from.edges.join(to.edges.select("edge_id"), Seq("edge_id"), "left_anti")
    val direct = createdNodes.select(col("prop_hash").as("hash"))
      .unionByName(modifiedNodes.select(col("prop_hash").as("hash")))
      .unionByName(createdEdges.select(col("prop_hash").as("hash")))
      .distinct()
    // depends_on closure: follow the nested() DAG so SchemaType children (and
    // their children) travel with the change; the lattice is shallow, so a
    // bounded iterative expansion converges in a few rounds
    val maxRounds = 16
    // fail loudly rather than ship an incomplete closure (a deeper DAG would
    // leave dangling child prop_hash references on the receiving store)
    val all =
      if (direct.isEmpty) direct
      else Fixpoint.run((direct, direct), maxRounds,
          s"depends_on closure did not converge within $maxRounds rounds — " +
            "nested-property DAG deeper than expected") { case (all, frontier) =>
        val children = to.propRefs
          .join(frontier.withColumnRenamed("hash", "parent_hash"), Seq("parent_hash"), "left_semi")
          .select(col("child_hash").as("hash")).distinct()
        val fresh = children.join(all, Seq("hash"), "left_anti")
        ((all.unionByName(fresh).distinct(), fresh), fresh.isEmpty) // evaluated ONCE per round
      }._1
    val requiredProps = to.props.join(all, Seq("hash"), "left_semi")
    val requiredRefs = to.propRefs
      .join(all.withColumnRenamed("hash", "parent_hash"), Seq("parent_hash"), "left_semi")
    GraphChange(createdNodes, modifiedNodes, deletedNodes,
      createdEdges, deletedEdges, requiredProps, requiredRefs)
  }

  /** Apply a change: deletes and modifications are anti-joins, inserts are
    * unions; required properties and their nested() refs upsert
    * content-addressed (dedup by hash). Safe on a target that has DIVERGED
    * from the diff's `from`: created ids that already exist are replaced
    * (the change's version wins — id uniqueness holds and the result still
    * converges toward `to`) instead of silently duplicating rows. Run
    * [[BulkMutations.gcOrphanProps]] afterwards to sweep orphans left by
    * deletions. */
  def apply(g: GraphStore, c: GraphChange): GraphStore = {
    val vertices = g.vertices
      .join(c.deletedNodes.select("id").unionByName(c.modifiedNodes.select("id"))
          .unionByName(c.createdNodes.select("id")),
        Seq("id"), "left_anti")
      .unionByName(c.createdNodes.select("id", "prop_hash"))
      .unionByName(c.modifiedNodes.select("id", "prop_hash"))
    val edges = g.edges
      .join(c.deletedEdges.select("edge_id").unionByName(c.createdEdges.select("edge_id")),
        Seq("edge_id"), "left_anti")
      .unionByName(c.createdEdges.select("edge_id", "src", "dst", "prop_hash"))
    val props = g.props.unionByName(
      c.requiredProps.join(g.props, Seq("hash"), "left_anti").dropDuplicates("hash"))
    val refs = g.propRefs.unionByName(
      c.requiredRefs.join(g.propRefs, Seq("parent_hash", "child_hash"), "left_anti")
        .dropDuplicates("parent_hash", "child_hash"))
    g.copy(vertices = vertices, edges = edges, props = props, propRefs = refs)
  }
}
