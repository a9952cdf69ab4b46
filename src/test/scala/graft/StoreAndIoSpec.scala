package graft

import org.apache.spark.sql.functions._
import graft.exec.ZoeCompiler
import graft.io.{GraphML, ZoeCli}
import graft.model.{GraphStore, PropValue}
import graft.ql._
import graft.store.{BulkMutations, GraphBatch, NodeExistsException}

class StoreAndIoSpec extends SparkSuite {
  import spark.implicits._

  test("bulk mutations: create/delete with NodeExists parity and GC sweep") {
    val p1 = PropValue.typed("Thing", Some("one"))
    val p2 = PropValue.typed("Thing", Some("two"))
    var g = GraphStore.empty(spark)
    g = BulkMutations.createProperties(g,
      (p1.withNested ++ p2.withNested).map(p => (p.hash, p.json, p.variant)).distinct
        .toDF("hash", "value", "schema_type"),
      Some((p1.withNested ++ p2.withNested).flatMap(p => p.nested.map(c => (p.hash, c.hash))).distinct
        .toDF("parent_hash", "child_hash")))
    g = BulkMutations.createNodes(g, Seq(("a", p1.hash), ("b", p2.hash)).toDF("id", "prop_hash"))
    intercept[NodeExistsException] {
      BulkMutations.createNodes(g, Seq(("a", p2.hash)).toDF("id", "prop_hash"))
    }
    g = BulkMutations.createEdges(g, Seq(("a", "b", PropValue("Link").hash)).toDF("src", "dst", "prop_hash"),
      validateEndpoints = false)
    assert(g.edges.head().getString(0) ==
      graft.model.Hashing.edgeId(PropValue("Link").hash, "a", "b"))
    // endpoint validation drops edges to missing nodes
    val g2 = BulkMutations.createEdges(g, Seq(("a", "ghost", p1.hash)).toDF("src", "dst", "prop_hash"))
    assert(g2.edges.count() == 1)
    // delete node b, GC: p2 orphaned; SchemaType("Thing") survives via p1
    var g3 = BulkMutations.deleteNodes(g, Seq("b").toDF("id"))
    g3 = g3.copy(edges = g3.edges.limit(0)) // drop the dangling edge for the GC check
    g3 = BulkMutations.gcOrphanProps(g3)
    val left = g3.props.select("hash").collect().map(_.getString(0)).toSet
    assert(left.contains(p1.hash) && !left.contains(p2.hash))
    assert(left.contains(PropValue.schemaType("Thing").hash))
  }

  test("GC sweep fails at its round cap instead of leaving orphans behind") {
    // a chain of nested props c0 -> c1 -> c2 referenced by nothing: each
    // sweep round frees one link, and a fourth round confirms the fixpoint
    val chain = BulkMutations.createProperties(GraphStore.empty(spark),
      Seq(("c0", "v0", "Chain"), ("c1", "v1", "Chain"), ("c2", "v2", "Chain"))
        .toDF("hash", "value", "schema_type"),
      Some(Seq(("c0", "c1"), ("c1", "c2")).toDF("parent_hash", "child_hash")))
    // (props only: each round re-embeds the previous generations' plans, so
    // the swept refs' plan is too large to execute quickly at this depth)
    assert(BulkMutations.gcOrphanProps(chain).props.count() == 0)
    // two rounds free c0 and c1 only: a cap that cuts the cascade short
    // must fail, never hand back a store that still holds c2
    val e = intercept[IllegalArgumentException](BulkMutations.gcOrphanProps(chain, maxRounds = 2))
    assert(e.getMessage.contains("orphan-prop sweep did not converge in 2 rounds"))
  }

  test("get_or_create: 0 -> create, 1 -> reuse, >1 -> error (CLI parity)") {
    val p = PropValue.typed("Thing", Some("shared"))
    var g = GraphStore.empty(spark)
    val (g1, id1) = BulkMutations.getOrCreateNode(g, p)
    val (g2, id2) = BulkMutations.getOrCreateNode(g1, p)
    assert(id1 == id2)
    assert(g2.vertices.count() == 1)
    val gDup = g2.copy(vertices = g2.vertices.unionByName(Seq(("other", p.hash)).toDF("id", "prop_hash")))
    intercept[IllegalStateException] { BulkMutations.getOrCreateNode(gDup, p) }
  }

  test("GraphML import matches the reference fixture behavior") {
    val xml =
      """<graph>
        |  <node id="1"><Label>Node 1</Label></node>
        |  <node id="2"><Label>Node 2</Label></node>
        |  <edge source="1" target="2"><Label>Edge from Node 1 to Node 2</Label></edge>
        |</graph>""".stripMargin
    val res = GraphML.importString(xml)
    val g = res.batch.toStore(spark)
    val zc = new ZoeCompiler(g)
    val vertexProps = zc.extractProperties(zc.run(VertexQuery.all))
      .collect().map(_.getString(0)).sorted
    assert(vertexProps.toSeq == Seq("""{"Label":"Node 1"}""", """{"Label":"Node 2"}"""))
    val edgeProps = zc.extractProperties(zc.run(EdgeQuery.all))
      .collect().map(_.getString(0))
    assert(edgeProps.toSeq == Seq("""{"Label":"Edge from Node 1 to Node 2"}"""))
    assert(res.idMapping.keySet == Set("1", "2"))
  }

  test("GraphStore save/load round-trip preserves all four tables") {
    val b = new GraphBatch
    val n1 = b.createNode(PropValue.typed("Thing", Some("x")))
    val n2 = b.createNode(PropValue.typed("Thing", Some("y")))
    b.createEdge(n1, n2, PropValue("Link"))
    val dir = java.nio.file.Files.createTempDirectory("graft-rt").toString
    b.toStore(spark).save(dir)
    val loaded = GraphStore.load(spark, dir)
    assert(loaded.vertices.count() == 2 && loaded.edges.count() == 1)
    assert(loaded.props.count() == 4) // x, y, SchemaType(Thing), Link
    assert(loaded.propRefs.count() == 2)
  }

  test("CLI renderResult emits the reference QueryResult JSON shape") {
    val b = new GraphBatch
    val n1 = b.createNode("n1", PropValue.typed("Thing", Some("x")))
    val n2 = b.createNode("n2", PropValue.typed("Thing", Some("y")))
    b.createEdge(n1, n2, PropValue("Link"))
    val zc = new ZoeCompiler(b.toStore(spark))
    val json = ZoeCli.renderResult(zc.run(VertexQuery.fromIds(Seq("n1"))))
    assert(json == """{"vertices":[["n1",null]],"edges":[],"paths":[[null,[],"n1"]],"variables":{}}""")
  }

  test("column-level edge ids match the Scala serializer for quoted ids") {
    val ids = Seq("""he said "hi"""", """back\slash""", """both "\" here""", "normal:1",
      "line\nbreak", "tab\there", "cr\rhere", "bell\u0007", "nul\u0000mid", "esc\u001b[0m",
      "bs\bhere", "ff\fhere") // serde_json short-escapes \b and \f
    val df = ids.flatMap(a => ids.map(b => (a, b))).toDF("src", "dst")
      .select(col("src"), col("dst"),
        graft.model.Hashing.edgeIdCol(lit("P"), col("src"), col("dst")).as("computed"))
    df.collect().foreach { r =>
      assert(r.getString(2) == graft.model.Hashing.edgeId("P", r.getString(0), r.getString(1)),
        s"mismatch for (${r.getString(0)}, ${r.getString(1)})")
    }
  }

  test("GraphChange diff/apply round-trips a mutated store") {
    val b = new GraphBatch
    val a = b.createNode("a", PropValue.typed("Thing", Some("one")))
    val bb = b.createNode("b", PropValue.typed("Thing", Some("two")))
    b.createNode("c", PropValue.typed("Thing", Some("three")))
    b.createEdge(a, bb, PropValue("Link"))
    val from = b.toStore(spark)

    val b2 = new GraphBatch
    val a2 = b2.createNode("a", PropValue.typed("Thing", Some("ONE"))) // modified
    b2.createNode("b", PropValue.typed("Thing", Some("two")))
    b2.createNode("d", PropValue.typed("Widget", Some("four")))        // created, NEW variant (c deleted)
    b2.createEdge(a2, "d", PropValue("Link"))                          // new edge, old deleted
    val to = b2.toStore(spark)

    val c = graft.store.GraphChange.diff(from, to)
    assert(c.createdNodes.collect().map(_.getString(0)).toSeq == Seq("d"))
    assert(c.deletedNodes.collect().map(_.getString(0)).toSeq == Seq("c"))
    assert(c.modifiedNodes.collect().map(_.getString(0)).toSeq == Seq("a"))
    // depends_on closure: the new variant's nested SchemaType travels too
    val widgetSt = PropValue.schemaType("Widget").hash
    assert(c.requiredProps.collect().map(_.getString(0)).contains(widgetSt))
    assert(c.requiredRefs.collect()
      .map(r => (r.getString(0), r.getString(1)))
      .contains((PropValue.typed("Widget", Some("four")).hash, widgetSt)))

    val applied = graft.store.GraphChange.apply(from, c)
    def canon(g: graft.model.GraphStore) = (
      g.vertices.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq,
      g.edges.collect().map(_.getString(0)).sorted.toSeq)
    assert(canon(applied) == canon(to))
    // every prop_hash referenced by the applied store resolves
    val dangling = applied.vertices.select(col("prop_hash").as("hash"))
      .unionByName(applied.edges.select(col("prop_hash").as("hash")))
      .join(applied.props, Seq("hash"), "left_anti")
    assert(dangling.count() == 0)
  }

  test("GraphML export round-trips through the importer; dot export renders") {
    val b = new GraphBatch
    val n1 = b.createNode("n1", PropValue.typed("Label", Some("Node <1> & \"x\"")))
    val n2 = b.createNode("n2", PropValue.typed("Label", Some("Node 2")))
    b.createEdge(n1, n2, PropValue.typed("Label", Some("edge label")))
    val g = b.toStore(spark)
    val xml = graft.io.GraphExport.toGraphML(g)
    val re = GraphML.importString(xml,
      nodeKeyMapper = (id, seen) => seen.getOrElseUpdate(id, id))
    val back = re.batch.toStore(spark)
    assert(back.vertices.collect().map(_.getString(0)).sorted.toSeq == Seq("n1", "n2"))
    assert(back.props.select("value").collect().map(_.getString(0)).sorted.toSeq ==
      g.props.select("value").collect().map(_.getString(0)).sorted.toSeq)
    assert(back.edges.head().getString(0) == g.edges.head().getString(0)) // same content hash
    val dot = graft.io.GraphExport.toDot(g)
    assert(dot.startsWith("digraph graft {") && dot.endsWith("}"))
    assert(dot.contains(""""n1" -> "n2""""), dot)
  }

  test("CLI script/repl verbs run SQL over the registered graph views") {
    val b = new GraphBatch
    val n1 = b.createNode("n1", PropValue.typed("Thing", Some("x")))
    val n2 = b.createNode("n2", PropValue.typed("Thing", Some("y")))
    b.createEdge(n1, n2, PropValue("Link"))
    val dir = java.nio.file.Files.createTempDirectory("graft-cli-sql").toString
    b.toStore(spark).save(dir)
    val sqlFile = java.nio.file.Files.createTempFile("graft", ".sql")
    java.nio.file.Files.writeString(sqlFile,
      "SELECT count(*) AS n FROM graft_vertices; SELECT src, dst FROM graft_edges ORDER BY src")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      ZoeCli.run(spark, List("script", dir, sqlFile.toString))
    }
    val lines = out.toString.trim.linesIterator.toSeq
    assert(lines.contains("""{"n":2}"""), lines)
    assert(lines.contains("""{"src":"n1","dst":"n2"}"""), lines)
    // repl: same statements over stdin
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withIn(new java.io.StringReader("SELECT count(*) AS n FROM graft_props;")) {
      Console.withOut(new java.io.PrintStream(out2)) {
        ZoeCli.run(spark, List("repl", dir))
      }
    }
    assert(out2.toString.contains("""{"n":4}"""), out2.toString)
    // explain: the Zoe query's optimized physical plan, not a result
    val out3 = new java.io.ByteArrayOutputStream()
    Console.withIn(new java.io.StringReader("""{"V":"All"}""")) {
      Console.withOut(new java.io.PrintStream(out3)) {
        ZoeCli.run(spark, List("explain", dir))
      }
    }
    assert(out3.toString.contains("Physical Plan"), out3.toString.take(200))
  }

  test("context variables survive the traversal into the wire format") {
    val b = new GraphBatch
    val n1 = b.createNode("n1", PropValue.typed("Thing", Some("x")))
    val n2 = b.createNode("n2", PropValue.typed("Thing", Some("y")))
    b.createEdge(n1, n2, PropValue("Link"))
    val zc = new ZoeCompiler(b.toStore(spark), Map("who" -> "alice", "run" -> "7"))
    val r = zc.run(VertexQuery.fromIds(Seq("n1", "n2")).outgoing.outgoing)
    val json = ZoeCli.renderResult(r)
    assert(json.contains(""""variables":{"run":"7","who":"alice"}"""), json)
    // a P query carries no traversal contexts -> empty variables
    assert(new ZoeCompiler(b.toStore(spark), Map("x" -> "1"))
      .run(PropertyQuery.fromId(PropValue("Link").hash)).variables.count() == 0)
  }

  test("GraphChange.apply on a DIVERGED target keeps id uniqueness") {
    val b = new GraphBatch
    b.createNode("a", PropValue.typed("Thing", Some("one")))
    val from = b.toStore(spark)
    val b2 = new GraphBatch
    b2.createNode("a", PropValue.typed("Thing", Some("one")))
    b2.createNode("d", PropValue.typed("Thing", Some("four")))
    val to = b2.toStore(spark)
    val c = graft.store.GraphChange.diff(from, to)
    // the target has drifted since the diff: it already created "d" (with a
    // DIFFERENT property) and an unrelated "z"
    val b3 = new GraphBatch
    b3.createNode("a", PropValue.typed("Thing", Some("one")))
    b3.createNode("d", PropValue.typed("Thing", Some("stale")))
    b3.createNode("z", PropValue.typed("Thing", Some("mine")))
    val diverged = b3.toStore(spark)
    val applied = graft.store.GraphChange.apply(diverged, c)
    val rows = applied.vertices.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows.map(_._1).sorted == Seq("a", "d", "z"))          // no duplicate ids
    assert(rows.toMap.apply("d") == PropValue.typed("Thing", Some("four")).hash) // change wins
  }

  test("splitSql survives ';' in identifiers, literals, and comments") {
    import graft.io.CliLimits.splitSql
    assert(splitSql("SELECT 1; SELECT 2") == Seq("SELECT 1", "SELECT 2"))
    assert(splitSql("SELECT 'a;b' AS x; SELECT 2") == Seq("SELECT 'a;b' AS x", "SELECT 2"))
    assert(splitSql("SELECT 'it''s; fine'") == Seq("SELECT 'it''s; fine'"))
    assert(splitSql("""SELECT 1 AS "semi;col"; SELECT 2""") ==
      Seq("""SELECT 1 AS "semi;col"""", "SELECT 2"))
    assert(splitSql("SELECT `a;b` FROM t; SELECT 2") == Seq("SELECT `a;b` FROM t", "SELECT 2"))
    // doubled quote chars escape INSIDE their own quoting for all three
    // styles: "" in double-quoted identifiers, `` in backticked ones
    assert(splitSql("""SELECT 1 AS "a""b;c"; SELECT 2""") ==
      Seq("""SELECT 1 AS "a""b;c"""", "SELECT 2"))
    assert(splitSql("SELECT `a``b;c` FROM t; SELECT 2") ==
      Seq("SELECT `a``b;c` FROM t", "SELECT 2"))
    assert(splitSql("SELECT 1 -- trailing; not a split\n; SELECT 2") ==
      Seq("SELECT 1 -- trailing; not a split", "SELECT 2"))
    assert(splitSql("SELECT 1 /* block; comment */; SELECT 2") ==
      Seq("SELECT 1 /* block; comment */", "SELECT 2"))
    assert(splitSql("SELECT 1 /* unterminated; block") == Seq("SELECT 1 /* unterminated; block"))
    // '/*/' must OPEN a comment, not open-and-close it
    assert(splitSql("SELECT 1 /*/ ; */; SELECT 2") == Seq("SELECT 1 /*/ ; */", "SELECT 2"))
    // bracketed comments nest (Spark SQL semantics)
    assert(splitSql("SELECT 1 /* a /* b */ ; c */; SELECT 2") ==
      Seq("SELECT 1 /* a /* b */ ; c */", "SELECT 2"))
  }

  test("queries on an empty store return empty results, not errors") {
    val g = GraphStore.empty(spark)
    val zc = new ZoeCompiler(g)
    val q = Zoe.start(PropValue.typed("Nope", Some("x"))).referencingVertices
      .ingoing.intersect(Zoe.start(PropValue("Edge")).referencingEdges).ingoing
    val r = zc.run(q)
    assert(r.vertices.count() == 0 && r.edges.count() == 0 && r.paths.count() == 0)
    assert(zc.extractProperties(r).count() == 0)
    assert(zc.extractPathProperties(r).count() == 0)
    assert(zc.run(VertexQuery.all).vertices.count() == 0)
    assert(zc.run(EdgeQuery.all).edges.count() == 0)
  }
}
