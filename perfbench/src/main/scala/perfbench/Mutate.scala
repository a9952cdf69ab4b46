package perfbench

import org.apache.spark.sql.functions._
import graft.exec.ZoeCompiler
import graft.model.{GraphStore, Hashing, PropValue}
import graft.ql.ZoeJson
import graft.store.{BulkMutations, GraphBatch}

/** An id set tracked in memory as (count, sum of 40-bit hash prefixes):
  * order-independent, cheap to update, and computed identically in Spark. */
final class IdSet {
  private val ids = scala.collection.mutable.HashSet[String]()
  private var sum = 0L
  private def h(id: String): Long = java.lang.Long.parseLong(Hashing.sha256HexUpper(id).take(10), 16)
  def add(id: String): Unit = if (ids.add(id)) sum += h(id)
  def remove(id: String): Unit = if (ids.remove(id)) sum -= h(id)
  def digest: (Long, Long) = (ids.size.toLong, sum)
}

object IdSet {
  /** The same digest over the vertex, edge and property ids of a store, in
    * one Spark job: keys "v", "e" and "p". */
  def digests(g: GraphStore): Map[String, (Long, Long)] = {
    val ids = g.vertices.select(lit("v").as("t"), col("id").as("k"))
      .unionByName(g.edges.select(lit("e").as("t"), col("edge_id").as("k")))
      .unionByName(g.props.select(lit("p").as("t"), col("hash").as("k")))
    val found = ids.groupBy("t")
      .agg(count(lit(1)), sum(conv(substring(sha2(col("k"), 256), 1, 10), 16, 10).cast("long")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Seq("v", "e", "p").map(t => t -> found.getOrElse(t, (0L, 0L))).toMap
  }
}

/** graph-mutate: one client commits a seeded write batch to a saved store
  * (typed nodes, edges to existing vertices, deletes of earlier inserts,
  * `gcOrphanProps`, `save`, `load`) and reads its own writes back through
  * Zoe on the reopened, uncached store. The timed commit is the first of the
  * process. After it, the reloaded store must hold exactly the vertex, edge
  * and property ids the generator predicts, with no orphan property left. */
object Mutate {
  val customers = 300
  val perCommit = 20

  private val itemType = PropValue.schemaType("Item")
  private val buys = PropValue.typed("Buys")

  /** Ids the TPC-H graph mapping must produce, recomputed in memory
    * from the content-hash rules alone. */
  def baseIds(t: Gen.Tpch): (IdSet, IdSet, IdSet) = {
    val v, e, p = new IdSet
    def edge(variant: String, src: String, dst: String): Unit =
      e.add(Hashing.edgeId(PropValue(variant).hash, src, dst))
    def prop(variant: String, payload: String): Unit = p.add(PropValue(variant, Some(payload)).hash)
    t.regions.foreach { r => v.add(s"region:${r.r_regionkey}"); prop("Region", r.r_name) }
    t.nations.foreach { n =>
      v.add(s"nation:${n.n_nationkey}"); prop("Nation", n.n_name)
      edge("InRegion", s"nation:${n.n_nationkey}", s"region:${n.n_regionkey}")
    }
    t.customers.foreach { c =>
      v.add(s"customer:${c.c_custkey}"); prop("Customer", c.c_name)
      v.add(s"segment:${c.c_mktsegment}"); prop("Segment", c.c_mktsegment)
      edge("InNation", s"customer:${c.c_custkey}", s"nation:${c.c_nationkey}")
      edge("InSegment", s"customer:${c.c_custkey}", s"segment:${c.c_mktsegment}")
    }
    t.suppliers.foreach { s =>
      v.add(s"supplier:${s.s_suppkey}"); prop("Supplier", s.s_name)
      edge("InNation", s"supplier:${s.s_suppkey}", s"nation:${s.s_nationkey}")
    }
    t.parts.foreach { x => v.add(s"part:${x.p_partkey}"); p.add(f"psz_${x.p_size}%03d_${x.p_partkey}") }
    t.orders.foreach { o =>
      v.add(s"order:${o.o_orderkey}"); prop("Order", o.o_orderpriority)
      edge("PlacedBy", s"order:${o.o_orderkey}", s"customer:${o.o_custkey}")
    }
    Seq("InNation", "InRegion", "InSegment", "PlacedBy").foreach(x => p.add(PropValue(x).hash))
    Seq("InNation", "InRegion", "InSegment", "PlacedBy", "Region", "Nation", "Customer",
      "Supplier", "Part", "Order", "Segment").foreach(x => p.add(PropValue.schemaType(x).hash))
    (v, e, p)
  }

  /** The TPC-H graph as [[graft.TpchGraph]] maps it (typed vertex
    * properties, unit edge properties, `psz_` part keys), built row by row
    * with the store's in-memory `GraphBatch`. */
  def graphOf(t: Gen.Tpch): GraphBatch = {
    val b = new GraphBatch
    def node(id: String, variant: String, payload: String): Unit =
      b.createNode(id, PropValue.typed(variant, Some(payload)))
    def edge(src: String, dst: String, variant: String): Unit =
      b.createEdge(src, dst, PropValue.typed(variant))
    t.regions.foreach(r => node(s"region:${r.r_regionkey}", "Region", r.r_name))
    t.nations.foreach(n => node(s"nation:${n.n_nationkey}", "Nation", n.n_name))
    t.customers.map(_.c_mktsegment).distinct.foreach(s => node(s"segment:$s", "Segment", s))
    t.customers.foreach(c => node(s"customer:${c.c_custkey}", "Customer", c.c_name))
    t.suppliers.foreach(s => node(s"supplier:${s.s_suppkey}", "Supplier", s.s_name))
    t.parts.foreach { p =>
      b.createNode(s"part:${p.p_partkey}", PropValue("Part", Some(p.p_name),
        Seq(PropValue.schemaType("Part")), Some(f"psz_${p.p_size}%03d_${p.p_partkey}")))
    }
    t.orders.foreach(o => node(s"order:${o.o_orderkey}", "Order", o.o_orderpriority))
    t.nations.foreach(n => edge(s"nation:${n.n_nationkey}", s"region:${n.n_regionkey}", "InRegion"))
    t.customers.foreach { c =>
      edge(s"customer:${c.c_custkey}", s"nation:${c.c_nationkey}", "InNation")
      edge(s"customer:${c.c_custkey}", s"segment:${c.c_mktsegment}", "InSegment")
    }
    t.suppliers.foreach(s => edge(s"supplier:${s.s_suppkey}", s"nation:${s.s_nationkey}", "InNation"))
    t.orders.foreach(o => edge(s"order:${o.o_orderkey}", s"customer:${o.o_custkey}", "PlacedBy"))
    b
  }

  def itemProp(name: String): PropValue = PropValue.typed("Item", Some(name))

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val store = ctx.dir("mutate-store")

    // set-up: generate, build with the in-memory GraphBatch (the
    // TPC-H graph plus the first commit's inserts, so every streamed commit
    // has earlier inserts to delete), save and reopen — repeated, the last
    // store kept
    var tpch: Gen.Tpch = null
    var stream: IndexedSeq[Gen.Commit] = null
    var g: GraphStore = null
    val reps = (0 until ctx.setupReps).map { _ =>
      val ((t, cs), genS) = ctx.time(tr.span("bench.generate", "setup") {
        val t = Gen.tpch(ctx.seed, customers)
        (t, Gen.commits(ctx.seed, 2, perCommit, t.customers.size))
      })
      val (built, buildS) = ctx.time(tr.span("model.graph_build", "setup") {
        val b = graphOf(t)
        cs(0).nodes.foreach { case (id, name) => b.createNode(id, itemProp(name)) }
        cs(0).edges.foreach { case (src, dst) => b.createEdge(src, dst, buys) }
        b.toStore(spark)
      })
      val (_, saveS) = ctx.time(tr.span("store.save", "setup")(built.save(store)))
      val (reopened, openS) = ctx.time(tr.span("store.load", "setup")(GraphStore.load(spark, store)))
      tpch = t; stream = cs; g = reopened
      (genS, buildS, saveS + openS)
    }
    out.layers("bench.generate_s") = Metric(Stats.median(reps.map(_._1)), "s", reps.size)
    out.layers("model.graph_build_s") = Metric(Stats.median(reps.map(_._2)), "s", reps.size)
    val (wantV, wantE, wantP) = baseIds(tpch)
    // live inserted items: id -> property key
    val itemsAlive = scala.collection.mutable.HashMap[String, String]()
    def expect(c: Gen.Commit): Unit = {
      c.nodes.foreach { case (id, name) => wantV.add(id); itemsAlive(id) = itemProp(name).hash }
      c.deleteNodes.foreach { id => wantV.remove(id); itemsAlive -= id }
      c.edges.foreach { case (s, d) => wantE.add(Hashing.edgeId(buys.hash, s, d)) }
      c.deleteEdges.foreach { case (s, d) => wantE.remove(Hashing.edgeId(buys.hash, s, d)) }
    }
    expect(stream(0))

    final case class Sample(commitMs: Double, readMs: Double, createMs: Double, deleteMs: Double,
                            gcMs: Double, saveMs: Double, loadMs: Double, bytes: Long, rows: Long)

    def commit(c: Gen.Commit): Sample = {
      val req = s"commit${c.index}"
      val newProps = c.nodes.flatMap { case (_, name) => itemProp(name).withNested } ++ buys.withNested
      val propRows = newProps.distinct.map(p => (p.hash, p.json, p.variant)).toDF("hash", "value", "schema_type")
      val refRows = newProps.distinct.flatMap(p => p.nested.map(ch => (p.hash, ch.hash)))
        .toDF("parent_hash", "child_hash")
      val nodeRows = c.nodes.map { case (id, name) => (id, itemProp(name).hash) }.toDF("id", "prop_hash")
      val edgeRows = c.edges.map { case (s, d) => (s, d, buys.hash) }.toDF("src", "dst", "prop_hash")
      val delNodes = c.deleteNodes.toDF("id")
      val delEdges = c.deleteEdges.map { case (s, d) => Hashing.edgeId(buys.hash, s, d) }.toDF("edge_id")

      val t0 = System.nanoTime()
      val created = tr.span("store.create", req) {
        val withProps = BulkMutations.createProperties(g, propRows, Some(refRows))
        BulkMutations.createEdges(BulkMutations.createNodes(withProps, nodeRows), edgeRows)
      }
      val t1 = System.nanoTime()
      val deleted = tr.span("store.delete", req) {
        BulkMutations.deleteNodes(BulkMutations.deleteEdges(created, delEdges), delNodes)
      }
      val t2 = System.nanoTime()
      val swept = tr.span("store.gc", req)(BulkMutations.gcOrphanProps(deleted))
      val t3 = System.nanoTime()
      tr.span("store.save", req)(swept.save(store))
      val t4 = System.nanoTime()
      g = tr.span("store.load", req)(GraphStore.load(spark, store))
      val t5 = System.nanoTime()

      // read-after-write: the customers this commit's new items point to
      val ids = c.nodes.map(_._1).map(Json.str).mkString(",")
      val q = s"""{"V":{"Out":{"Out":{"Specific":[$ids]}}}}"""
      val got = tr.span("exec.run", req) {
        new ZoeCompiler(g).run(ZoeJson.parse(q)).vertices.collect().map(_.getString(0)).toSeq
      }
      val t6 = System.nanoTime()
      out.check(TpchSetup.digest(got) == TpchSetup.digest(c.edges.map(_._2).distinct),
        s"$req: read-after-write returned ${got.size} customers")

      // durability, untimed: the reopened store holds exactly the predicted ids
      expect(c)
      // base props plus one property per live item, `Buys` and the two
      // schema types (this commit's inserts are always live)
      val expectP = new IdSet
      (itemsAlive.values ++ Seq(itemType.hash, buys.hash, PropValue.schemaType("Buys").hash))
        .foreach(expectP.add)
      val propDigest = (wantP.digest._1 + expectP.digest._1, wantP.digest._2 + expectP.digest._2)
      val found = IdSet.digests(g)
      val (vD, eD, pD) = (found("v"), found("e"), found("p"))
      out.check(vD == wantV.digest, s"$req: vertex ids $vD, expected ${wantV.digest}")
      out.check(eD == wantE.digest, s"$req: edge ids $eD, expected ${wantE.digest}")
      out.check(pD == propDigest, s"$req: prop ids $pD, expected $propDigest")
      val referenced = g.vertices.select(col("prop_hash").as("hash"))
        .unionByName(g.edges.select(col("prop_hash").as("hash")))
        .unionByName(g.propRefs.select(col("child_hash").as("hash")))
      val orphans = g.props.join(referenced, Seq("hash"), "left_anti").count()
      out.check(orphans == 0, s"$req: $orphans orphan props survived gcOrphanProps")
      val bytes = storeBytes(new java.io.File(store))
      Sample((t5 - t0) / 1e6, (t6 - t5) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
        (t4 - t3) / 1e6, (t5 - t4) / 1e6, bytes, vD._1 + eD._1 + pD._1)
    }

    // one timed commit, the first of the process: a store client that
    // opens, commits and exits pays its JIT and codegen every time
    ctx.log("set-up done")
    ctx.setup(out, reps.map(r => r._1 + r._2 + r._3), 0.0)
    val s = commit(stream(1))
    ctx.log(f"commit: ${s.commitMs}%.0f ms (create ${s.createMs}%.0f, delete ${s.deleteMs}%.0f, " +
      f"gc ${s.gcMs}%.0f, save ${s.saveMs}%.0f, load ${s.loadMs}%.0f), read ${s.readMs}%.0f ms")
    out.endToEnd("op_p50_ms") = Metric(s.commitMs, "ms", 1)
    out.endToEnd("ops_per_s") = Metric(1000 / (s.commitMs + s.readMs), "1/s", 1)
    ctx.memory(out)
    out.details("mutate.commit_p50_s") = Metric(s.commitMs / 1000, "s", 1)
    out.details("mutate.read_p50_ms") = Metric(s.readMs, "ms", 1)
    out.details("mutate.bytes_per_row") = Metric(s.bytes.toDouble / s.rows, "bytes", 1)
    out.details.foreach { case (k, m) => out.layers(k) = m }
    out.layers("store.create_ms") = Metric(s.createMs, "ms", 1)
    out.layers("store.delete_ms") = Metric(s.deleteMs, "ms", 1)
    out.layers("store.gc_s") = Metric(s.gcMs / 1000, "s", 1)
    out.layers("store.save_s") = Metric(s.saveMs / 1000, "s", 1)
    out.layers("store.load_ms") = Metric(s.loadMs, "ms", 1)
    out.layers("store.bytes_written") = Metric(s.bytes.toDouble, "bytes", 1)
    out.layers("store.live_rows") = Metric(s.rows.toDouble, "count", 1)
    if (tr.enabled) {
      tr.drain()
      val (gcCalls, _, gcC) = tr.layer("store.gc")
      out.layers("store.gc_jobs") = Metric(gcC.jobs.get.toDouble / math.max(gcCalls, 1), "count", gcCalls)
      val (reads, readMs, _) = tr.layer("exec.run")
      ctx.perCall(out, "exec", Seq("exec.run"), reads, readMs / 1000)
    }
    out
  }

  /** Parquet bytes of a saved store. */
  def storeBytes(dir: java.io.File): Long =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) storeBytes(f) else if (f.getName.endsWith(".parquet")) f.length else 0L
    }.sum
}
