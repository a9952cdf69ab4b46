package graft.store

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.Fixpoint
import graft.model.{GraphStore, Hashing, PropValue}

final case class NodeExistsException(id: String)
  extends RuntimeException(s"node $id allready exists") // message parity: kv_graph_store.rs Error::NodeExists

/** Driver-side graph builder with the reference's exact mutation semantics
  * (kv_graph_store.rs:531-752): NodeExists on duplicate create, edge identity
  * = content hash of (properties, n1, n2) so duplicates collapse, properties
  * content-addressed + deduplicated + reference-counted, delete_node leaves
  * incident edges dangling (parity, kv_graph_store.rs:584-602).
  *
  * Use for small/interactive graphs and fixtures; use [[BulkMutations]] for
  * DataFrame-scale ingest.
  */
final class GraphBatch {
  private val nodes = mutable.LinkedHashMap[String, String]()               // id -> prop hash
  private val edges = mutable.LinkedHashMap[String, (String, String, String)]() // edge id -> (src, dst, prop)
  private val props = mutable.LinkedHashMap[String, PropValue]()            // key -> value
  private val refs  = mutable.LinkedHashSet[(String, String)]()             // parent prop -> child prop

  def createNode(id: String, p: PropValue): String = {
    if (nodes.contains(id)) throw NodeExistsException(id)
    val h = createProperty(p)
    nodes(id) = h
    id
  }

  def createNode(p: PropValue): String =
    createNode(java.util.UUID.randomUUID().toString, p)

  def updateNode(id: String, p: PropValue): Unit = {
    val old = nodes.getOrElse(id, throw new NoSuchElementException(s"node $id"))
    val h = createProperty(p)
    nodes(id) = h
    gcIfOrphan(old)
  }

  /** Parity: does NOT delete incident edges (kv_graph_store.rs:584-602). */
  def deleteNode(id: String): Unit = {
    val old = nodes.remove(id).getOrElse(throw new NoSuchElementException(s"node $id"))
    gcIfOrphan(old)
  }

  /** Endpoints must exist (read_node fails in the reference,
    * kv_graph_store.rs:604-655); duplicate content dedups silently. */
  def createEdge(src: String, dst: String, p: PropValue): String = {
    require(nodes.contains(src), s"node $src does not exist")
    require(nodes.contains(dst), s"node $dst does not exist")
    val h = createProperty(p)
    val id = Hashing.edgeId(h, src, dst)
    edges(id) = (src, dst, h)
    id
  }

  def deleteEdge(id: String): Unit = {
    val (_, _, h) = edges.remove(id).getOrElse(throw new NoSuchElementException(s"edge $id"))
    gcIfOrphan(h)
  }

  /** Content-addressed upsert + recursive nested() store
    * (kv_graph_store.rs:710-734). Returns the property key. */
  def createProperty(p: PropValue): String = {
    val h = p.hash
    if (!props.contains(h)) props(h) = p
    p.nested.foreach { child =>
      val ch = createProperty(child)
      refs += ((h, ch))
    }
    h
  }

  /** Reference-count GC: a property with no remaining node/edge/parent-prop
    * backlink is deleted, recursively (kv_graph_store.rs:388-404, 736-752). */
  private def gcIfOrphan(h: String): Unit = {
    val referenced =
      nodes.valuesIterator.contains(h) ||
      edges.valuesIterator.exists(_._3 == h) ||
      refs.exists(_._2 == h)
    if (!referenced && props.contains(h)) {
      props.remove(h)
      val children = refs.filter(_._1 == h).toSeq
      refs --= children
      children.foreach { case (_, c) => gcIfOrphan(c) }
    }
  }

  def nodeIds: Seq[String] = nodes.keys.toSeq
  def edgeIds: Seq[String] = edges.keys.toSeq
  def propKeys: Seq[String] = props.keys.toSeq
  def nodeProp(id: String): Option[String] = nodes.get(id)
  def edge(id: String): Option[(String, String, String)] = edges.get(id)

  /** Storage-layout parity helper: the exact node record JSON the reference
    * writes (kv_graph_store.rs:791-820), adjacency derived from edges. */
  def nodeRecordJson(id: String): String = {
    val in = edges.collect { case (eid, (_, dst, _)) if dst == id => eid }.toSeq
    val out = edges.collect { case (eid, (src, _, _)) if src == id => eid }.toSeq
    Hashing.nodeJson(id, nodes(id), in, out)
  }

  def toStore(spark: SparkSession): GraphStore = {
    import spark.implicits._
    val v = nodes.toSeq.toDF("id", "prop_hash")
    val e = edges.toSeq.map { case (id, (s, d, p)) => (id, s, d, p) }
      .toDF("edge_id", "src", "dst", "prop_hash")
    val pr = props.toSeq.map { case (h, p) => (h, p.json, p.variant) }
      .toDF("hash", "value", "schema_type")
    val r = refs.toSeq.toDF("parent_hash", "child_hash")
    GraphStore(v, e, pr, r)
  }
}

/** DataFrame-scale mutations: batch-first, no per-row driver round trips.
  * Every check is a join; every write is a union/anti-join rebuild — the
  * shape that survives 100 TB (SURVEY.md §7.4 decision 4).
  */
object BulkMutations {

  /** Append nodes(id, prop_hash). Throws on any id collision with existing
    * nodes OR duplicate ids within the batch itself (NodeExists parity with
    * the reference's per-insert create_node, which raises on the second
    * occurrence), each detected via a single semi-join / groupBy probe. */
  def createNodes(g: GraphStore, newNodes: DataFrame): GraphStore = {
    val selfDup = newNodes.groupBy("id").agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1).limit(1).collect()
    if (selfDup.nonEmpty) throw NodeExistsException(selfDup.head.getString(0))
    val clash = newNodes.join(g.vertices, Seq("id"), "left_semi").limit(1).collect()
    if (clash.nonEmpty) throw NodeExistsException(clash.head.getString(0))
    g.copy(vertices = g.vertices.unionByName(newNodes.select("id", "prop_hash")))
  }

  /** Append properties(hash, value, schema_type) (+ refs), deduplicating by
    * content hash against existing rows — content-addressed upsert. */
  def createProperties(g: GraphStore, newProps: DataFrame,
                       newRefs: Option[DataFrame] = None): GraphStore = {
    val p = g.props.unionByName(
      newProps.select("hash", "value", "schema_type")
        .join(g.props, Seq("hash"), "left_anti")
        .dropDuplicates("hash"))
    val r = newRefs match {
      case Some(nr) => g.propRefs.unionByName(
        nr.select("parent_hash", "child_hash")
          .join(g.propRefs, Seq("parent_hash", "child_hash"), "left_anti")
          .dropDuplicates("parent_hash", "child_hash"))
      case None => g.propRefs
    }
    g.copy(props = p, propRefs = r)
  }

  /** Append edges(src, dst, prop_hash); edge_id is derived column-level and
    * duplicates (same content) collapse. Endpoint existence enforced with
    * semi-joins, mirroring the reference's read_node failure. */
  def createEdges(g: GraphStore, newEdges: DataFrame,
                  validateEndpoints: Boolean = true): GraphStore = {
    val withId = newEdges.select(
      Hashing.edgeIdCol(col("prop_hash"), col("src"), col("dst")).as("edge_id"),
      col("src"), col("dst"), col("prop_hash"))
    val validated = if (validateEndpoints) {
      val ids = g.vertices.select(col("id"))
      withId
        .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    } else withId
    g.copy(edges = g.edges.unionByName(
      validated.join(g.edges, Seq("edge_id"), "left_anti").dropDuplicates("edge_id")))
  }

  /** Remove nodes by id; incident edges are left dangling (reference parity,
    * kv_graph_store.rs:584-602). Run [[gcOrphanProps]] afterwards to sweep. */
  def deleteNodes(g: GraphStore, ids: DataFrame): GraphStore =
    g.copy(vertices = g.vertices.join(ids.select("id"), Seq("id"), "left_anti"))

  def deleteEdges(g: GraphStore, edgeIds: DataFrame): GraphStore =
    g.copy(edges = g.edges.join(edgeIds.select("edge_id"), Seq("edge_id"), "left_anti"))

  /** The reference's reference-counting GC (backlink delete cascade,
    * kv_graph_store.rs:736-752) as an iterated anti-join sweep: drop props
    * referenced by no vertex, edge, or surviving parent property. The prop
    * DAG is shallow (schema-type lattice), so this converges in a few
    * rounds; a chain too deep to confirm within maxRounds fails instead of
    * returning a store that still holds orphans. Each round's plan embeds
    * the previous generation's plan several times, so planning cost grows
    * steeply with depth: a 3-link orphan chain (4 rounds) already takes
    * seconds to plan.
    */
  def gcOrphanProps(g: GraphStore, maxRounds: Int = 10): GraphStore = {
    val (props, refs) = Fixpoint.run((g.props, g.propRefs), maxRounds,
        s"orphan-prop sweep did not converge in $maxRounds rounds — " +
          "nested-property chain deeper than expected") { case (props, refs) =>
      val live = props
        .join(g.vertices.select(col("prop_hash").as("hash")), Seq("hash"), "left_semi")
        .select("hash")
        .unionByName(props.join(g.edges.select(col("prop_hash").as("hash")), Seq("hash"), "left_semi").select("hash"))
        .unionByName(props.join(refs.select(col("child_hash").as("hash")), Seq("hash"), "left_semi").select("hash"))
        .distinct()
      val nextProps = props.join(live, Seq("hash"), "left_semi").cache()
      val removedCount = props.count() - nextProps.count()
      // refs whose parent died die too (cascades to children next round)
      val nextRefs = refs.join(nextProps.select(col("hash").as("parent_hash")), Seq("parent_hash"), "left_semi")
      // the superseded generation's cache is dead weight once nextProps is
      // materialized (the count above) — release it instead of leaking one
      // cached DataFrame per sweep round into the session (the input's
      // own props are the caller's)
      if (props ne g.props) props.unpersist()
      ((nextProps, nextRefs), removedCount == 0)
    }
    g.copy(props = props, propRefs = refs)
  }

  /** CLI get_or_create semantics (cli_helpers.rs:118-174): if the property is
    * already referenced by exactly one node reuse it, zero -> create with a
    * fresh uuid, more than one -> error. */
  def getOrCreateNode(g: GraphStore, p: PropValue): (GraphStore, String) = {
    val h = p.hash
    val holders = g.vertices.where(col("prop_hash") === h).select("id").limit(2).collect()
    holders.length match {
      case 0 =>
        val id = java.util.UUID.randomUUID().toString
        val spark = g.vertices.sparkSession
        import spark.implicits._
        val withProps = BulkMutations.createProperties(g,
          p.withNested.map(pv => (pv.hash, pv.json, pv.variant)).distinct.toDF("hash", "value", "schema_type"),
          Some(p.withNested.flatMap(pv => pv.nested.map(c => (pv.hash, c.hash))).distinct.toDF("parent_hash", "child_hash")))
        (createNodes(withProps, Seq((id, h)).toDF("id", "prop_hash")), id)
      case 1 => (g, holders.head.getString(0))
      case _ => throw new IllegalStateException(
        s"property $h is referenced by multiple nodes; refine the query")
    }
  }
}
